"""North-rule lifecycle evidence: the dedup job runs via real
``spark-submit --py-files dist/duplicate_finder_spark.zip jobs/dedup.py``
(SURVEY.md §3.4) — the engine code arrives ONLY through the zip, the
job checkpoints stages through the warehouse, emits the JSON summary,
and a rerun resumes from the checkpoints."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit on PATH")
def test_spark_submit_pyfiles_dedup_job(spark, tmp_path: Path) -> None:
    # input pages table from the deterministic fixture corpus
    from duplicate_finder_spark.fixtures import (corpus_to_spark,
                                                 generate_corpus)
    pages, _ = corpus_to_spark(spark, generate_corpus(n_pages=400, seed=3))
    inp = str(tmp_path / "pages")
    pages.select("url", "text").write.parquet(inp)

    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build_zip
    zip_path = build_zip(tmp_path)

    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"num_perm": 64, "lsh_bands": 16,
                               "jaccard_threshold": 0.8}))
    wh = str(tmp_path / "wh")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # engine must come from --py-files only

    def submit() -> dict:
        res = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--conf", "spark.ui.enabled=false",
             "--py-files", str(zip_path),
             str(REPO / "jobs" / "dedup.py"),
             "--input", inp, "--warehouse", wh,
             "--config", str(cfg), "--input-id", "fixture-v1"],
            capture_output=True, text=True, env=env,
            cwd=str(tmp_path), timeout=420)
        assert res.returncode == 0, res.stderr[-3000:]
        line = [ln for ln in res.stdout.splitlines()
                if ln.startswith("{")][-1]
        return json.loads(line)

    first = submit()
    assert first["rows"] > 0
    assert first["skew_ratio"] >= 1.0

    # stage tables exist with per-partition lineage manifests
    stages = [d for d in os.listdir(wh)
              if d.startswith(("signatures_", "edges_", "clusters_"))]
    assert len(stages) == 3

    # rerun with the same input-id resumes from checkpoints and agrees
    second = submit()
    assert second["rows"] == first["rows"]


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit on PATH")
def test_spark_submit_warc_input(spark, tmp_path: Path) -> None:
    """--format warc: the cluster job ingests Common-Crawl-style
    segments directly — archives → extract_text → dedup decisions."""
    import gzip

    from tests.test_sources_warc import _response

    segs = tmp_path / "segs"
    segs.mkdir()
    html = b"<html><body>duplicate body</body></html>"
    (segs / "s0.warc").write_bytes(
        _response(b"http://a.example/", html)
        + _response(b"http://b.example/", html))
    (segs / "s1.warc.gz").write_bytes(
        gzip.compress(_response(b"http://c.example/",
                                b"<html>distinct</html>")))

    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build_zip
    zip_path = build_zip(tmp_path)
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"num_perm": 32, "lsh_bands": 8}))
    wh = str(tmp_path / "wh")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         str(REPO / "jobs" / "dedup.py"),
         "--input", str(segs), "--warehouse", wh,
         "--format", "warc", "--config", str(cfg),
         "--input-id", "warc-v1"],
        capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=420)
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads([ln for ln in res.stdout.splitlines()
                          if ln.startswith("{")][-1])
    # decisions cover CLUSTERED pages only (singletons are implicit keeps)
    assert summary["rows"] == 2

    # the duplicate pair got one keep + one delete
    from duplicate_finder_spark.warehouse import get_warehouse
    decisions = get_warehouse(spark, wh).read("decisions")
    acts = {r["url"]: r["action"] for r in decisions.collect()}
    assert acts == {"http://a.example/": "keep",
                    "http://b.example/": "delete"}


def test_dedup_job_warmup_flag_parses() -> None:
    """--warmup is an opt-in benchmarking aid (untimed UDF-daemon/JIT
    warmup before t0); default stays off so production walls include
    nothing extra."""
    from jobs.dedup import parse_args
    base = ["--input", "/x", "--warehouse", "/y"]
    assert parse_args(base).warmup is False
    assert parse_args(base + ["--warmup"]).warmup is True


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="no spark-submit on PATH")
def test_spark_submit_incremental_job_two_snapshots(spark,
                                                    tmp_path: Path) -> None:
    """jobs/incremental.py end-to-end: snapshot 1 seeds the corpus
    store, snapshot 2 dedups against it — re-crawled docs drop as
    dup_of_corpus, batch-internal dups keep-first, the store snapshot
    grows by exactly the kept docs."""
    def doc(seed: str) -> str:
        return " ".join(f"{seed}{i}" for i in range(60))

    b1 = str(tmp_path / "batch1")
    spark.createDataFrame([("s1", doc("a")), ("s2", doc("b"))],
                          "url string, text string").write.parquet(b1)
    b2 = str(tmp_path / "batch2")
    spark.createDataFrame(
        [("n1", doc("a")),                       # re-crawl of s1
         ("n2", doc("c")), ("n3", doc("c")),     # new-only dup pair
         ("n4", doc("d"))],                      # unique
        "url string, text string").write.parquet(b2)

    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build_zip
    zip_path = build_zip(tmp_path)
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"num_perm": 64, "lsh_bands": 16,
                               "jaccard_threshold": 0.8}))
    wh = str(tmp_path / "wh")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)

    def submit(inp: str, batch_id: str, *extra: str) -> dict:
        res = subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--conf", "spark.ui.enabled=false",
             "--py-files", str(zip_path),
             str(REPO / "jobs" / "incremental.py"),
             "--input", inp, "--warehouse", wh,
             "--config", str(cfg), "--batch-id", batch_id, *extra],
            capture_output=True, text=True, env=env,
            cwd=str(tmp_path), timeout=420)
        assert res.returncode == 0, res.stderr[-3000:]
        return json.loads([ln for ln in res.stdout.splitlines()
                           if ln.startswith("{")][-1])

    first = submit(b1, "2026-01")
    assert first["n_new"] == 2
    assert first["by_reason"] == {"unique": 2}
    assert first["store_rows"] == 2 and first["n_store_batches"] == 1

    second = submit(b2, "2026-02")
    assert second["n_new"] == 4
    assert second["by_reason"] == {"dup_of_corpus": 1, "cluster_rep": 1,
                                   "dup_in_batch": 1, "unique": 1}
    assert second["batch_kept"] == 2  # n2 n4
    assert second["store_rows"] == 4  # s1 s2 + kept n2 n4
    assert second["n_store_batches"] == 2

    from duplicate_finder_spark.operators.minhash import SIG_COLS
    from duplicate_finder_spark.store import read_store
    from duplicate_finder_spark.warehouse import get_warehouse
    whh = get_warehouse(spark, wh)
    store = read_store(whh, spark.createDataFrame(
        [], "url string, shingles array<long>, minhash array<long>, "
            "n_shingles int, sketch array<long>, n_tokens int"), SIG_COLS)
    assert {r["url"] for r in store.select("url").collect()} == \
        {"s1", "s2", "n2", "n4"}
    dec = whh.read("incr_decisions_2026-02")
    acts = {r["url"]: (r["action"], r["reason"]) for r in dec.collect()}
    assert acts["n1"] == ("delete", "dup_of_corpus")
    assert acts["n2"] == ("keep", "cluster_rep")
    assert acts["n3"] == ("delete", "dup_in_batch")
    assert acts["n4"] == ("keep", "unique")

    # rerun of a committed batch id: idempotent (same decisions, same
    # store), no duplicate registry row — AND with the Bloom re-crawl
    # prefilter on, which must not change a single outcome
    again = submit(b2, "2026-02", "--bloom-fpp", "0.01")
    assert again["by_reason"] == second["by_reason"]
    assert again["store_rows"] == 4 and again["n_store_batches"] == 2

    # maintenance mode through the same lifecycle: fold everything into
    # one store table; the read contract is unchanged
    res = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", str(zip_path),
         str(REPO / "jobs" / "incremental.py"),
         "--warehouse", wh, "--compact", "--keep-last", "0"],
        capture_output=True, text=True, env=env,
        cwd=str(tmp_path), timeout=420)
    assert res.returncode == 0, res.stderr[-3000:]
    compacted = json.loads([ln for ln in res.stdout.splitlines()
                            if ln.startswith("{")][-1])
    assert compacted["folded"] == 2
    assert compacted["store_batches"] == 1
    assert compacted["merged_rows"] == 4
    store2 = read_store(whh, store, SIG_COLS)
    assert {r["url"] for r in store2.select("url").collect()} == \
        {"s1", "s2", "n2", "n4"}


def test_incremental_job_compact_mode_arg_contract() -> None:
    from jobs.incremental import parse_args
    a = parse_args(["--warehouse", "/y", "--compact"])
    assert a.compact is True and a.keep_last == 1
    a = parse_args(["--warehouse", "/y", "--compact", "--keep-last", "3"])
    assert a.keep_last == 3
    with pytest.raises(SystemExit):  # compact takes no batch args
        parse_args(["--warehouse", "/y", "--compact", "--batch-id", "b"])
    with pytest.raises(SystemExit):  # ingest needs input AND batch-id
        parse_args(["--warehouse", "/y", "--input", "/x"])
    with pytest.raises(SystemExit):
        parse_args(["--warehouse", "/y", "--batch-id", "b"])
