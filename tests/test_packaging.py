"""Packaging: the --py-files zip must be buildable and zipimportable
(SURVEY.md §3.4: ``spark-submit --py-files dist/engine.zip``), and the
source tree must stay flake8-shaped (≤80 cols, compileable) since the
sandbox has no flake8/mypy binaries to run."""

from __future__ import annotations

import compileall
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "duplicate_finder_spark"
#: source trees held to the compile and line-length checks
SOURCES = (PKG, REPO / "jobs", REPO / "perfbench", REPO / "tools")


def test_pyfiles_zip_builds_and_zipimports(tmp_path: Path) -> None:
    sys.path.insert(0, str(REPO / "tools"))
    from make_pyfiles_zip import build_zip
    out = build_zip(tmp_path)
    assert out.exists()
    # import the package from the zip in a clean interpreter, with the
    # repo dir masked so the zip must provide every module
    code = (
        "import sys; sys.path.insert(0, %r); "
        "sys.path = [p for p in sys.path if p not in ('', %r)]; "
        "import duplicate_finder_spark.config as c; "
        "import duplicate_finder_spark.operators.lsh; "
        "import duplicate_finder_spark.cli_args as a; "
        "print(c.parse_size('1 MiB'), "
        "a.ArgumentParserAdapter().parse(['f']).folder_path)"
    ) % (str(out), str(REPO))
    res = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=60)
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "1048576 f"


def test_source_compiles() -> None:
    for src in SOURCES:
        assert compileall.compile_dir(str(src), quiet=2, force=True), src


def test_max_line_length_80() -> None:
    """flake8 parity (max-line-length = 80, reference .flake8) without
    the flake8 binary."""
    offenders = []
    for py in sorted(p for src in SOURCES for p in src.rglob("*.py")):
        if "__pycache__" in py.parts:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if len(line) > 80:
                offenders.append(f"{py.relative_to(REPO)}:{i}")
    assert not offenders, offenders
