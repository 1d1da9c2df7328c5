"""Connected components over an undirected edge set, in two regimes.

* **Driver union-find (small inputs).** In-session calls whose edge set
  (self-loops dropped) holds at most ``DRIVER_EDGE_BUDGET`` edges
  collect it as Arrow with one bounded ``limit(budget + 1)`` job and run
  union-find on the driver: path halving, with the smaller node as
  root, so every root is its component's minimum. The result comes back
  as an Arrow-built DataFrame. At this size a Spark job's fixed cost,
  not the data, sets the wall: the star rounds below spend one job
  per round plus their shuffle-stage jobs on a few hundred edges.
  Local union-find before any distributed round is the first step of
  *BTS: Load-Balanced Distributed Union-Find* (ICDE'24).
* **Star rounds (large inputs).** Above the budget, and always on the
  warehouse round-table path (``checkpoint_every`` > 0): alternating
  large-star / small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) as iterative DataFrame joins —
  O(log n) rounds, each round plain groupBy/join shuffles,
  localCheckpoint per round to cut lineage (or, every
  ``checkpoint_every``-th round, a warehouse round table). The
  in-session and round-table paths run the same loop: one round per
  convergence checksum. Convergence: a round's edge set is compared to
  the previous one by (count, sum(xxhash64(src, dst))) checksum — O(1)
  driver data per round, no exceptAll shuffle.

Both regimes give the same output: every node of a non-loop edge maps
to its component's MINIMUM node, roots to themselves, and the output
columns keep the input's node type.

This realizes the transitive grouping the reference gets implicitly from
exact hash equality (equal SHA-256 ⇒ same dict key ⇒ same group,
duplicate_finder.py:198-250): near-dup edges are not transitive, so the
closure must be computed. Node ids are urls; the minimum-url
representative makes the downstream keep-first decision (rank-1 by url,
duplicate_finder.py:309) the cluster representative for free.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

#: In-session edge sets (self-loops dropped) of at most this many edges
#: take the driver union-find path; larger ones take the star rounds.
#: 100k url pairs are a few tens of MB of driver objects, and union-find
#: over them takes well under a second.
DRIVER_EDGE_BUDGET = 100_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to
    min(Γ(u) ∪ {u}).

    The per-u minimum rides a WINDOW over the one hash exchange on u
    instead of a groupBy + join-back: the m-table is one row per NODE,
    which no broadcast threshold survives at 10^12 nodes — the join
    form degrades to a second exchange + sort-merge there, while the
    window form is one exchange + one sort everywhere (the same
    measured trade as the LSH bucket census, operators/lsh.py:40)."""
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")) \
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (nbrs.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its ≤-neighbors: connect them (and u) to the
    minimum.

    Window form (see _large_star). The self-row union of the old shape
    ("u itself is a neighbor") becomes a row_number()==1 branch over
    the SAME windowed exchange: edges arrive oriented u > v, so
    m = min(v) < u always, and the old join+filter emitted exactly one
    (u, m) edge per distinct u unconditionally — which is what the
    rank-1 branch emits, without the extra distinct + union exchange."""
    # orient edges larger → smaller
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
    w = Window.partitionBy("u")
    wo = Window.partitionBy("u").orderBy("v")
    withm = (e.withColumn("m", F.min("v").over(w))
             .withColumn("_rn", F.row_number().over(wo)))
    members = (withm.filter(F.col("v") != F.col("m"))
               .select(F.col("v").alias("src"), F.col("m").alias("dst")))
    # u != m guard: always true on loop-internal inputs (edges arrive
    # self-loop-free, so m < u), kept so a degenerate direct call with
    # a self-loop row cannot emit (u, u) — exact parity with the old
    # join + v != m filter on the synthetic self row
    self_rows = (withm.filter((F.col("_rn") == 1)
                              & (F.col("u") != F.col("m")))
                 .select(F.col("u").alias("src"), F.col("m").alias("dst")))
    return members.unionByName(self_rows).distinct()


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # decimal(38) accumulator: ANSI-safe (no long overflow) up to ~1e19 edges
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(30,0)")).alias("h")
    ).collect()[0]
    return row["n"], int(row["h"]) if row["h"] is not None else 0


def _union_find(pairs) -> dict:
    """node → its component's minimum node, over (a, b) pairs."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]   # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its set's minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _driver_components(e: DataFrame, pairs) -> DataFrame:
    """(url, cluster_id) from union-find over the collected edge pairs,
    as an Arrow-built DataFrame: a list-built one would pickle its rows
    through a Python worker on every use downstream."""
    # the node type the star path's members ∪ roots union would give
    node_type = (e.select(F.col("src").alias("url"))
                 .unionByName(e.select(F.col("dst").alias("url")))
                 .schema["url"].dataType)
    roots = _union_find(pairs)
    t = to_arrow_type(node_type)
    table = pa.table({"url": pa.array(list(roots), type=t),
                      "cluster_id": pa.array(list(roots.values()), type=t)})
    return e.sparkSession.createDataFrame(table)


def connected_components(edges: DataFrame, max_iter: int = 25,
                         warehouse=None, checkpoint_every: int = 0,
                         table_prefix: str = "cc_round",
                         gc_rounds: bool = True,
                         input_fp: str | None = None) -> DataFrame:
    """edges(src, dst) undirected → assignments (url, cluster_id) where
    cluster_id is the component's minimum url. Every node appearing in an
    edge gets a row (representatives map to themselves).

    In-session (no round table), an edge set within
    ``DRIVER_EDGE_BUDGET`` is solved by driver union-find; the rest of
    this docstring describes the star rounds that run above it.

    Resumability (SURVEY §4 "Iceberg round table"): with ``warehouse``
    (ParquetWarehouse/IcebergWarehouse) and ``checkpoint_every`` > 0,
    every that-many-th round's edge set is written to a RELIABLE
    warehouse table instead of ``localCheckpoint`` — executor-local
    blocks die with the executor, which at 10^12-doc scale means
    restarting all O(log n) rounds; a round table survives and a rerun
    resumes from the highest completed one. The round tables are
    content-addressed: the fingerprint is the canonical input edge set's
    (count, hash) checksum plus the round number, so a rerun over
    different edges can never false-resume (the algorithm is
    deterministic per input, so stale later rounds stay consistent).
    In-session default (checkpoint_every=0) keeps localCheckpoint.

    ``input_fp``: when the CALLER already holds a fingerprint that
    uniquely determines the edge set (run_resumable's config+input
    fingerprint — the edges stage is itself checkpointed under it), pass
    it to skip the up-front content checksum: a pure-resume rerun then
    costs zero passes over the edges before the first round-table probe.
    Direct callers without such a key leave it None and get the
    content-addressed (count, hash) probe.

    Round-table GC (VERDICT r3 #7): once the run CONVERGES, every round
    table except the highest completed one is dropped (``gc_rounds``,
    default on) — a long-lived warehouse no longer accumulates
    ``<prefix>_rN`` tables from every finished CC run. The kept table
    is the post-convergence edge set (retention-contract parity with
    the other stages); stale deeper-round tables left by an earlier
    longer run under the same prefix are swept too. A run that stops by
    max_iter WITHOUT converging (i.e. a crash-resume candidate) keeps
    all its round tables.
    """
    reliable = warehouse is not None and checkpoint_every > 0
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    if not reliable:
        # no up-front distinct: duplicate input edges change neither
        # star-round group minima nor the converged star graph (round
        # 1's own distinct sweeps them), so the defensive exchange here
        # bought nothing in-session. The reliable path keeps it — its
        # content-addressed fingerprint must be stable across callers
        # that pass the same edge SET with different duplicate counts.
        e = e.localCheckpoint(eager=False)
        # bounded collect over the checkpointed edges, as Arrow: one job
        # (per-partition limits, then a single-partition fetch). Under
        # the budget it holds every edge; above it, the star rounds
        # reuse the checkpoint instead of computing the edge plan again
        head = e.limit(DRIVER_EDGE_BUDGET + 1).toArrow()
        if head.num_rows <= DRIVER_EDGE_BUDGET:
            return _driver_components(
                e, zip(head.column("src").to_pylist(),
                       head.column("dst").to_pylist()))
        base_fp = ""
    elif input_fp is not None:
        e = e.distinct()
        base_fp = f"cc:{input_fp}"
    else:
        e = e.distinct()
        n0, h0 = _checksum(e)
        base_fp = f"cc:{n0}:{h0}"
    prev = None
    kept_round = 0
    converged = False
    # one star round per convergence checksum, in-session and on the
    # round-table path. eager=False: a round's localCheckpoint
    # materializes inside its checksum's job. Checking two rounds per
    # checksum saves one result job per round pair, but AQE still runs
    # every shuffle-map stage as its own job, and on a 150k-edge graph
    # the pairing measured no faster (60 vs 68 jobs, same wall).
    for i in range(1, max_iter + 1):
        if reliable and i % checkpoint_every == 0:
            prev_e = e
            e, _resumed = warehouse.checkpoint_or_compute(
                f"{table_prefix}_r{i}", f"{base_fp}:r{i}",
                lambda: _small_star(_large_star(prev_e)))
            kept_round = i
        else:
            e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if reliable and gc_rounds and converged:
        for j in range(1, max_iter + 1):
            name = f"{table_prefix}_r{j}"
            if j != kept_round and warehouse.exists(name):
                warehouse.drop(name)
    # post-convergence: star edges child→root
    if converged:
        # the converged edge set IS a star graph (fixed point of the
        # star rounds): every dst is a component root and no root ever
        # appears as a src, so the roots are exactly distinct(dst) — the
        # anti-join against distinct(src) would remove nothing. No
        # inner distinct either: the final distinct over the union
        # already dedupes the (dst, dst) rows, so the output plan is
        # one union + one exchange.
        roots = e.select(F.col("dst").alias("url"),
                         F.col("dst").alias("cluster_id"))
    else:
        roots = e.select(F.col("dst").alias("url")).distinct() \
            .join(e.select(F.col("src").alias("url")).distinct(),
                  "url", "left_anti") \
            .select("url", F.col("url").alias("cluster_id"))
    members = e.select(F.col("src").alias("url"),
                       F.col("dst").alias("cluster_id"))
    return members.unionByName(roots).distinct()
