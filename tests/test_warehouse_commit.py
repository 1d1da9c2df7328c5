"""Crash injection for the warehouse's two commits: a raise at each step
of ``ParquetWarehouse.write`` (data write, manifest dump, link swap,
snapshot GC) and at the ``os.replace`` of ``write_json``. A crash before
the swap leaves the previous snapshot current, a crash in GC leaves the
new one current, and a rerun write always succeeds within ``retain``
and keeps the snapshot it supersedes for readers bound to it.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from duplicate_finder_spark.warehouse import ParquetWarehouse


class Crash(RuntimeError):
    pass


def _crash_after(real):
    """``real``, then a raise: the step's effect lands, the caller
    never sees it return."""
    def crashing(*args, **kwargs):
        real(*args, **kwargs)
        raise Crash(real.__name__)
    return crashing


def _crash_on_replace(real):
    """``os.replace`` that raises instead of swapping onto ``current``
    or a JSON document; other replaces (none expected) go through."""
    def crashing(src, dst, *args, **kwargs):
        if os.path.basename(dst) == "current" or dst.endswith(".json"):
            raise Crash("replace")
        return real(src, dst, *args, **kwargs)
    return crashing


def _crash_on_manifest(real):
    def crashing(obj, f, *args, **kwargs):
        if getattr(f, "name", "").endswith("manifest.json"):
            raise Crash("manifest")
        return real(obj, f, *args, **kwargs)
    return crashing


#: step -> (patch target, attribute, wrapper, crash lands before the swap)
STEPS = {
    "data": (DataFrameWriter, "parquet", _crash_after, True),
    "manifest": (json, "dump", _crash_on_manifest, True),
    "swap": (os, "replace", _crash_on_replace, True),
    "gc": (shutil, "rmtree", _crash_after, False),
}


def _ids(wh, name):
    return sorted(r["id"] for r in wh.read(name).collect())


def _snapshots(wh, name):
    return [e for e in os.listdir(os.path.join(wh.root, name))
            if e.startswith("snapshot-")]


@pytest.mark.parametrize("step", list(STEPS))
def test_crash_at_each_write_step(spark, tmp_path, monkeypatch, step):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    # two committed snapshots, so the third write has one to GC
    for n in (1, 2):
        wh.write(spark.range(n), "t", fingerprint=f"w{n}")
    before = (_ids(wh, "t"), wh.manifest("t").fingerprint)

    owner, attr, wrap, before_swap = STEPS[step]
    monkeypatch.setattr(owner, attr, wrap(getattr(owner, attr)))
    with pytest.raises(Crash):
        wh.write(spark.range(3), "t", fingerprint="w3")
    monkeypatch.undo()

    after = (_ids(wh, "t"), wh.manifest("t").fingerprint)
    assert after == (before if before_swap else ([0, 1, 2], "w3"))

    # a reader bound to the current snapshot outlives the rerun write
    bound = wh.read("t")
    m = wh.write(spark.range(4), "t", fingerprint="w4")
    assert (m.rows, _ids(wh, "t")) == (4, [0, 1, 2, 3])
    assert wh.manifest("t").fingerprint == "w4"
    assert len(_snapshots(wh, "t")) <= wh.retain
    assert sorted(r["id"] for r in bound.collect()) == after[0]


def test_write_json_crash_keeps_previous_value(spark, tmp_path,
                                               monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write_json("doc", [["a", 1]])
    monkeypatch.setattr(os, "replace", _crash_on_replace(os.replace))
    with pytest.raises(Crash):
        wh.write_json("doc", [["a", 1], ["b", 2]])
    monkeypatch.undo()
    assert wh.read_json("doc") == [["a", 1]]
    assert os.listdir(wh.root) == ["doc.json"]
    wh.write_json("doc", [["b", 2]])
    assert wh.read_json("doc") == [["b", 2]]
