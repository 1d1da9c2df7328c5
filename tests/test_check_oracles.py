"""tools/check_oracles.py must not pass vacuously (VERDICT r4 #2).

The gate is the repo's primary correctness ritual; a typo'd query name
(or a --flag mistaken for a positional name) used to filter every query
out and still print "all oracle checks passed" with exit 0. Now unknown
names exit nonzero BEFORE Spark starts, listing the valid names.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
CMD = [sys.executable, "tools/check_oracles.py"]


def _run(*extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(CMD + list(extra), cwd=str(REPO),
                          capture_output=True, text=True, timeout=300)


def test_unknown_name_exits_nonzero():
    p = _run("/root/testdata/sf0.001", "no_such_query_zzz")
    assert p.returncode == 2, p.stdout + p.stderr
    assert "unknown query name" in p.stdout
    assert "valid names" in p.stdout
    assert "all oracle checks passed" not in p.stdout


def test_flag_style_args_rejected():
    # the exact footgun that bit in round 4: --flags land in the name
    # filter and used to zero out the run
    p = _run("/root/testdata/sf0.001", "--sf-dir", "--only")
    assert p.returncode == 2, p.stdout + p.stderr
    assert "all oracle checks passed" not in p.stdout


def test_known_name_runs_and_reports_count():
    # one cheap real query end-to-end: the success line must carry the
    # count of queries actually run (vacuous success is impossible)
    p = _run("/root/testdata/sf0.001", "region_nation_count")
    assert p.returncode == 0, p.stdout + p.stderr
    assert "OK    region_nation_count" in p.stdout
    assert "all oracle checks passed (1 queries)" in p.stdout
