"""Partition-shape helpers.

``fan_out`` fixes the "tiny input, expensive stage" mismatch: a small
parquet file arrives as a single split (one row group — unsplittable),
so every downstream Arrow UDF would run on ONE core no matter how many
the cluster has. At real scale (thousands of splits) the guard makes it
a no-op — the repartition only fires when the scan's parallelism is
below the cluster's, i.e. exactly when the shuffle it adds costs less
than the cores it unlocks.

This is the Spark analogue of the reference's thread-pool fan-out for
hashing (duplicate_finder.py:220-224) — there the unit of work was one
file, here it is one partition, and the fix is to make sure there are
at least as many as there are cores.

The guard reads SCAN-LEVEL facts only (``df.inputFiles()``) — never
``df.rdd``, which would force a plan→RDD translation on every call and
report the static pre-AQE partition count anyway. The heuristic is
pre-AQE by construction: one input file may split into several tasks
(so ``len(inputFiles)`` under-counts splits and the repartition can be
slightly conservative), and a non-file source (in-memory, post-shuffle)
reports no files, in which case the fan-out is applied — harmless for
the intended use (immediately before a per-row-expensive UDF stage on
freshly scanned input) and cheaper than misjudging a one-split scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

#: post-shuffle partition size target. 128 MiB ≈ Spark's own
#: spark.sql.files.maxPartitionBytes default — small enough to sort/
#: aggregate in executor memory with headroom, large enough that task
#: overhead stays negligible.
SHUFFLE_TARGET_BYTES = 128 << 20

#: scan-bytes → in-flight-bytes expansion: parquet is column-compressed
#: (web text compresses ~2-4×) and shuffle rows carry row-format +
#: serialization overhead. 3× is deliberately round — the estimate only
#: needs the right order of magnitude because AQE coalesces an
#: overshoot for free, while an undershoot (too few, too fat
#: partitions) is what OOMs.
SHUFFLE_EXPANSION = 3.0


def shuffle_partitions_for(input_bytes: int, cores: int,
                           target_bytes: int = SHUFFLE_TARGET_BYTES,
                           expansion: float = SHUFFLE_EXPANSION,
                           ceiling: int = 65536) -> int:
    """The sizing rule (pure, unit-testable): enough partitions that an
    ``expansion``-inflated copy of the input fits ``target_bytes`` per
    partition, never fewer than the core count (parallelism floor),
    never more than ``ceiling`` (scheduler-pressure backstop; at 100 TB
    × 3 / 128 MiB ≈ 2.4M ideal partitions a real cluster would instead
    raise ``target_bytes`` — the ceiling makes the local default safe,
    not optimal, there)."""
    ideal = math.ceil(input_bytes * expansion / target_bytes)
    return max(cores, min(ideal, ceiling))


def scan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df``'s plan — for a file
    scan this is the summed file length (times the configured
    compression factor), the same statistic Catalyst uses to pick
    broadcast joins. One driver call, no data touched. Non-file plans
    (in-memory ranges, post-shuffle) report whatever the planner
    estimates; callers treat this as an order-of-magnitude input."""
    return int(df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())


def autosize_shuffle_partitions(spark: SparkSession, df: DataFrame,
                                **kw) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the scanned input size
    (VERDICT r4 #5) and return the chosen value.

    This is the one knob that must scale WITH input size: the session
    default (≈ core count) is right for interactive queries but an 8M-
    doc corpus through 32 partitions put ~600 MB per shuffle partition
    in flight and died with UNABLE_TO_ACQUIRE_MEMORY at a 16 GiB heap
    (BENCH/BASELINE.md linearity probe). With AQE on (session default)
    overshooting is self-correcting — adaptive coalescing merges small
    post-shuffle partitions — so the rule aims high and lets the
    runtime trim, exactly what initialPartitionNum is for on a real
    cluster. Call once per job after the input scan is known, before
    the first wide stage."""
    nbytes = scan_bytes(df)
    # non-file plans without stats report Catalyst's defaultSizeInBytes
    # sentinel (Long.MaxValue), which would slam shuffle.partitions to
    # the ceiling and degrade every wide stage (r5 ADVICE): treat any
    # implausibly large estimate (> 1 PiB) as unknown and keep the
    # session default.
    if nbytes > (1 << 50):
        import sys
        print(f"autosize_shuffle_partitions: size estimate {nbytes} "
              "implausible (no stats?); keeping session default",
              file=sys.stderr)
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = shuffle_partitions_for(
        nbytes, spark.sparkContext.defaultParallelism, **kw)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return n


def autosize_unless_set(spark: SparkSession, df: DataFrame) -> int | None:
    """``autosize_shuffle_partitions`` for a job's session, unless its
    SparkConf already holds ``spark.sql.shuffle.partitions`` (a
    spark-submit ``--conf``, spark-defaults or builder value): an
    explicit choice wins over the size rule. Returns the chosen value,
    or None when the explicit one was kept."""
    if spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        return None
    return autosize_shuffle_partitions(spark, df)


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``target`` partitions (default: the
    session's default parallelism) unless the scan already provides at
    least that many input files. Round-robin — no key, no skew;
    intended immediately before a per-row-expensive (UDF) stage, never
    after a partitioning the next stage relies on."""
    sc = df.sparkSession.sparkContext
    goal = target or sc.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files >= goal:
        return df
    return df.repartition(goal)
