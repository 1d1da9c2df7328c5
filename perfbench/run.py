"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_web_mix --seed 1 \\
        --seconds 12 --trace 0

Run from the repository root: the engine (``duplicate_finder_spark``)
is imported from the current directory, and all scratch data (inputs,
warehouses, Spark local dirs, the span dump) goes under
``.perfbench/`` there. One Spark session on ``local[<cores>]``, one job
in flight at a time (closed loop).

Sequence: set up the workload's inputs, compute the ground truth, run
one untimed warm-up op, set up again ``SETUP_REPS`` times
(timed, ``setup_s`` is the median), then run ops until ``--seconds``
have passed and at least ``MIN_OPS`` ops ran (so every run takes a
median over the same number of ops). Every op's decisions are checked
(recall, delete precision, and a digest that must equal every other
op's on the same input).
``--trace 1`` instead alternates untraced and traced ops and reports
per-layer metrics (``workloads.TRACED`` names the traced functions).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Details (per-op walls, sample counts) go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

SETUP_REPS = 3
MIN_OPS = 2
MIN_RECALL = 0.99
ENGINE = "duplicate_finder_spark"
LAYERS = ("minhash", "exact", "lsh.candidates", "lsh.verify", "components",
          "decisions", "crosssnap", "store", "warehouse")
REASONS = ("unique", "cluster_rep", "dup_in_batch", "dup_of_corpus")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (tests use < 1)")
    return p.parse_args(argv)


def start_spark(work: str):
    cores = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # Python workers import the engine and the benchmark from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    from duplicate_finder_spark.session import get_spark
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={"spark.driver.memory": "2g",
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(work, "sql"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp} -Xms2g -XX:-UsePerfData",
                    "spark.ui.enabled": "false"})


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from pyspark import SparkContext
    from perfbench.trace import descendants
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


class Checker:
    """Correctness gate: recall floor, and one digest per op key."""

    def __init__(self):
        self.digests: dict[int, str] = {}

    def ok(self, r) -> bool:
        first = self.digests.setdefault(r.key, r.digest)
        return r.scores["dup_pair_recall"] >= MIN_RECALL and first == r.digest


def run_ops(wl, seconds: float, trace: bool, checker: Checker):
    """Closed loop, one op in flight, until ``seconds`` have passed and
    at least ``MIN_OPS`` ops ran; with ``trace`` every untraced op is
    followed by a traced one. Returns (untraced results, traced
    (tracer, result) pairs, attempted, failed, peak rss bytes)."""
    from perfbench.trace import RssSampler, Tracer
    plain, traced = [], []
    attempted = failed = 0
    with RssSampler() as rss:
        deadline = time.perf_counter() + seconds
        while True:
            for slot in ("timed", "traced") if trace else ("timed",):
                attempted += 1
                tracer = (Tracer(wl.spark.sparkContext, f"op{attempted}")
                          if slot == "traced" else None)
                try:
                    r = wl.op(slot, tracer)
                except Exception:  # noqa: BLE001 — counted as failed
                    traceback.print_exc()
                    failed += 1
                    continue
                failed += not checker.ok(r)
                if tracer is None:
                    plain.append(r)
                else:
                    traced.append((tracer, r))
            if attempted >= MIN_OPS and time.perf_counter() >= deadline:
                break
    return plain, traced, attempted, failed, rss.peak


def latency_percentiles(walls: list[float]) -> dict:
    """p50 of the sorted ``walls``, the highest percentile with at least
    ten samples beyond it (none below eleven samples), and the count."""
    n = len(walls)
    out = {"samples": n, "p50": statistics.median(walls) if walls else None}
    if n > 10:
        out[f"p{100 * (n - 10) // n}"] = walls[n - 11]
    return out


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(plain, setup_s, peak_rss, attempted, failed) -> dict:
    walls = [r.wall for r in plain]
    return {
        "docs_per_s": metric(statistics.median(
            r.docs / r.wall for r in plain), "1/s"),
        "batch_latency_p50_s": metric(statistics.median(walls), "s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
        "write_amplification": metric(
            sum(r.bytes_written for r in plain)
            / sum(r.bytes_in for r in plain), "ratio"),
        "dup_pair_recall": metric(statistics.mean(
            r.scores["dup_pair_recall"] for r in plain), "ratio"),
        "delete_precision": metric(statistics.mean(
            r.scores["delete_precision"] for r in plain), "ratio"),
        "op_success_ratio": metric((attempted - failed) / attempted,
                                   "ratio"),
    }


#: per-layer metric -> unit; the order of BENCHMARK.json's per_layer
PER_LAYER = {
    "minhash.wall_s": "s", "minhash.docs_signed": "count",
    "minhash.docs_per_s": "1/s",
    "lsh.candidates.wall_s": "s", "lsh.candidate_pairs": "count",
    "lsh.pairs_per_doc": "ratio",
    "lsh.verify.wall_s": "s", "lsh.verified_edges": "count",
    "lsh.verify_yield": "ratio",
    "components.wall_s": "s", "components.edges_in": "count",
    "components.spark_jobs": "count", "components.clusters": "count",
    "exact.wall_s": "s", "exact.rows_out": "count",
    "decisions.wall_s": "s", "decisions.rows_out": "count",
    "crosssnap.wall_s": "s",
    **{f"crosssnap.{r}": "count" for r in REASONS},
    "store.read_wall_s": "s", "store.rows_read": "count",
    "store.commit_wall_s": "s",
    "warehouse.write_wall_s": "s", "warehouse.bytes_written": "bytes",
    "warehouse.writes": "count",
    **{f"{layer}.{k}": unit for layer in LAYERS for k, unit in (
        ("tasks", "count"), ("tasks_failed", "count"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"))},
    "pipeline.self_s": "s", "trace.overhead_s": "s",
}

#: span name -> the wall-time metric it adds to
SPAN_WALL = {"store.read": "store.read_wall_s",
             "store.commit": "store.commit_wall_s",
             "warehouse": "warehouse.write_wall_s"}


def per_layer(traced, plain) -> dict:
    """Per-op means over the traced ops. A layer the workload does not
    call, or that runs inside another layer's span, reads 0."""
    acc: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        acc[name] = acc.get(name, 0.0) + v / len(traced)

    for tracer, r in traced:
        for s in tracer.spans:
            name = s["name"]
            if name == "pipeline":
                add("pipeline.self_s", tracer.self_time(s))
                continue
            add(SPAN_WALL.get(name, f"{name}.wall_s"), tracer.duration(s))
            layer = "store" if name.startswith("store.") else name
            c = tracer.spark_counts(s)
            for k in ("tasks", "tasks_failed", "shuffle_write_bytes",
                      "spill_bytes"):
                add(f"{layer}.{k}", c[k])
            if layer == "components":
                add("components.spark_jobs", c["jobs"])
        for k, v in r.counts.items():
            add(k, v)
        add("warehouse.bytes_written", r.bytes_written)
        add("warehouse.writes", r.writes)

    def ratio(a: str, b: str) -> float:
        return acc.get(a, 0.0) / acc[b] if acc.get(b) else 0.0

    acc["minhash.docs_per_s"] = ratio("minhash.docs_signed", "minhash.wall_s")
    acc["lsh.pairs_per_doc"] = ratio("lsh.candidate_pairs",
                                     "minhash.docs_signed")
    acc["lsh.verify_yield"] = ratio("lsh.verified_edges",
                                    "lsh.candidate_pairs")
    acc["trace.overhead_s"] = (
        statistics.median(t.duration(t.spans[0]) for t, _ in traced)
        - statistics.median(r.wall for r in plain))
    return {k: metric(acc.get(k, 0.0), unit) for k, unit in PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"),
                                      args.seed, args.scale)
        # the untimed first set-up feeds the warm-up op; the timed ones
        # follow it, on a warm JVM (cold, they swing with host load)
        wl.setup()
        wl.prepare_truth()
        checker = Checker()
        warm = wl.op("warm")
        if not checker.ok(warm):
            print(f"perfbench: warm-up op failed its check: {warm.scores}",
                  file=sys.stderr)
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        plain, traced, attempted, failed, rss = run_ops(
            wl, args.seconds, bool(args.trace), checker)
        if plain and traced:
            # reads Spark's status store, so before the session stops
            traced[-1][0].dump(os.path.join(root, ".perfbench", "spans.json"))
            metrics = per_layer(traced, plain)
    finally:
        stop_spark(spark)

    walls = sorted(r.wall for r in plain)
    detail = {"workload": args.workload, "seed": args.seed,
              "setup_walls_s": setups, "warmup_wall_s": warm.wall,
              "op_walls_s": [r.wall for r in plain],
              "batch_latency_s": latency_percentiles(walls),
              "scores": [r.scores for r in plain]}
    print(json.dumps(detail), file=sys.stderr)
    if not plain or (args.trace and not traced):
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    if not args.trace:
        metrics = end_to_end(plain, statistics.median(setups), rss,
                             attempted, failed)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
