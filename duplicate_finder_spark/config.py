"""Pipeline configuration with the reference's normalization semantics.

Behavioral parity targets (see /root/reference, cited file:line):

* ``parse_size``      ≙ ``utils.str_file_size_to_int`` (utils.py:19-59):
  decimal units K/KB=10^3 …, binary Ki/KiB=2^10 …, bare numbers are bytes,
  ValueError on junk. Accepts unit without trailing "B" ("10M").
* ``validate_size_str`` ≙ the stricter config-layer recheck
  (duplicate_finder_config.py:159-184): the unit, when present, MUST end in
  "B" — so "10M" parses in ``parse_size`` but is rejected here (the
  documented U2/U6 divergence, tests/test_duplicate_finder_config.py:59-63).
* ``humanize_size``   ≙ ``utils.int_file_size_to_str`` (utils.py:62-86):
  binary 1024 divisor with DECIMAL labels "KB/MB/GB/TB/PB" — quirk kept for
  output parity; "Invalid size" on None/negative/non-numeric.
* ``normalize_parallelism`` ≙ thread-count defaulting
  (duplicate_finder_config.py:186-199): None/<=0 → min(32, cpu_count or 8).
* min/max size bounds keep the reference's falsy-zero quirk
  (duplicate_finder.py:145-148): a bound of 0 disables the filter.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Optional

# --- scalar size helpers (U2/U3/U6/U8) -------------------------------------

_DECIMAL = {"K": 10**3, "M": 10**6, "G": 10**9, "T": 10**12}
_BINARY = {"K": 2**10, "M": 2**20, "G": 2**30, "T": 2**40}

_SIZE_RE = re.compile(r"\s*([\d.]+)\s*([KMGT]?I?B?)?\s*", re.IGNORECASE)
# Config-layer recheck: unit must end with "B" when given (U6).
_STRICT_RE = re.compile(r"^\s*(\d*\.?\d*)\s*([KMGT]?I?B)?\s*$", re.IGNORECASE)


def _unit_multiplier(unit: str) -> int:
    """Multiplier for a normalized (upper-cased) unit suffix, or raise."""
    if unit in ("", "B"):
        return 1
    prefix = unit[0]
    rest = unit[1:]
    if prefix in _DECIMAL and rest in ("", "B"):
        return _DECIMAL[prefix]
    if prefix in _BINARY and rest in ("I", "IB"):
        return _BINARY[prefix]
    raise ValueError(f"Unknown size unit: {unit}")


def parse_size(size_str: str) -> int:
    """Parse a human size string ('2.5 GiB', '100K', '123') to bytes.

    Parity: utils.py:19-59 (incl. float('1.2.3') → ValueError propagation).
    """
    m = _SIZE_RE.fullmatch(size_str.strip())
    if not m:
        raise ValueError(f"Invalid size string: {size_str}")
    number, unit = m.group(1), (m.group(2) or "").upper()
    return int(float(number) * _unit_multiplier(unit))


def validate_size_str(size: Optional[str]) -> Optional[int]:
    """Strict config-layer size parse (duplicate_finder_config.py:159-184).

    Unlike ``parse_size``, a unit without the trailing 'B' ('10M') is
    rejected; None passes through.
    """
    if size is None:
        return None
    m = _STRICT_RE.match(size)
    if not m:
        raise ValueError(
            f"Invalid size format '{size}': must contain a valid number")
    number = m.group(1)
    if not number or number == ".":
        raise ValueError(f"Invalid number format in size '{size}'")
    try:
        return parse_size(size)
    except ValueError as e:
        raise ValueError(f"Invalid size format '{size}': {e}") from e


def humanize_size(size_bytes) -> str:
    """Bytes → '1.5 KB' with the reference's 1024-divisor/decimal-label
    quirk (utils.py:62-86). Invalid input → 'Invalid size'."""
    if (size_bytes is None
            or isinstance(size_bytes, bool)
            or not isinstance(size_bytes, (int, float))
            or size_bytes < 0):
        return "Invalid size"
    value = float(size_bytes)
    if value < 1024:
        return f"{int(value)} B"
    for label in ("KB", "MB", "GB", "TB"):
        value /= 1024
        if value < 1024:
            return f"{value:.1f} {label}"
    return f"{value / 1024:.1f} PB"


def normalize_parallelism(n: Optional[int]) -> int:
    """None/<=0 → min(32, cpu_count or 8) (duplicate_finder_config.py:186-199).

    In Spark terms this feeds ``spark.sql.shuffle.partitions`` and
    ``local[N]`` defaults rather than a thread pool.
    """
    if n is None or n <= 0:
        return min(32, os.cpu_count() or 8)
    return n


def normalize_patterns(patterns: Optional[list[str]]) -> Optional[list[str]]:
    """Strip whitespace, drop empties (duplicate_finder_config.py:149-157)."""
    if patterns is None:
        return None
    cleaned = [p.strip() for p in patterns]
    return [p for p in cleaned if p]


# --- pipeline config --------------------------------------------------------


@dataclass
class PipelineConfig:
    """Declarative config for the dedup pipeline.

    Generalizes DuplicateFinderConfig (duplicate_finder_config.py:14-126):
    the scan folder becomes a table path; glob include/exclude apply to
    ``url``; size bounds apply to ``length(text)``; thread count becomes
    shuffle parallelism; delete stays decision-first (dry-run default).
    """

    # filters (F2-F4); *_str parsed via the strict config-layer rules
    include_patterns: Optional[list[str]] = None
    exclude_patterns: Optional[list[str]] = None
    min_size_str: Optional[str] = None
    max_size_str: Optional[str] = None
    min_size: Optional[int] = None
    max_size: Optional[int] = None

    # near-dup knobs (pinned shingle/signature config per BASELINE.json)
    shingle_size: int = 3                  # word k-grams
    num_perm: int = 128                    # MinHash permutations
    lsh_bands: int = 16                    # bands (rows = num_perm // bands)
    jaccard_threshold: float = 0.8         # verify-stage cutoff
    simhash_hamming_max: int = 3
    seed: int = 42
    # signature scheme: "kperm" = classic num_perm independent
    # permutations (O(num_perm) work per shingle); "oph" = one-
    # permutation hashing with rotation densification (O(1) per
    # shingle — Li/Owen/Zhang 2012, Shrivastava/Li 2014), same
    # signature shape and LSH banding downstream
    sig_scheme: str = "kperm"

    # skew controls (north rule: explicit partitioning/shuffle/skew handling)
    hot_bucket_limit: int = 2000           # docs per LSH bucket before salting

    # verify-stage payload bound: when some doc can exceed sketch_k
    # shingles, the pair join ships a bottom-k shingle sketch instead of
    # the full (unbounded) shingle array. The sketch is derived from
    # ``shingles`` at the join, not stored with the signatures. Pairs whose
    # sketch-estimated Jaccard falls within ``verify_band`` of the threshold
    # are re-verified exactly.  Bottom-k Jaccard has stderr ≈ 1/sqrt(k)
    # (Broder 1997; Cohen & Kaplan 2007 bottom-k sketches), so the default
    # band is 3 sigma.  Docs with ≤ sketch_k shingles are verified exactly
    # (sketch == full set), so small-corpus results are bit-identical to the
    # full-array path.
    sketch_k: int = 512
    verify_band: Optional[float] = None    # None → 3 / sqrt(sketch_k)

    # decisions (D1-D3)
    delete_duplicates: bool = False
    dry_run: bool = True
    assume_yes: bool = False               # D3 confirmation gate

    # ordering of reported groups (O1/O2, O1 wins — duplicate_finder.py:251-253)
    sort_by_group_size: bool = False
    sort_by_file_size: bool = False

    # execution
    parallelism: int = 0                   # 0 → min(32, cpus)
    checkpoint_dir: Optional[str] = None   # warehouse root for resumable stages

    # derived
    rows_per_band: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self.include_patterns = normalize_patterns(self.include_patterns)
        self.exclude_patterns = normalize_patterns(self.exclude_patterns)
        self.min_size = (validate_size_str(self.min_size_str)
                         if self.min_size_str is not None else self.min_size)
        self.max_size = (validate_size_str(self.max_size_str)
                         if self.max_size_str is not None else self.max_size)
        self.parallelism = normalize_parallelism(self.parallelism)
        if self.num_perm % self.lsh_bands != 0:
            raise ValueError(
                f"num_perm={self.num_perm} not divisible by "
                f"lsh_bands={self.lsh_bands}")
        self.rows_per_band = self.num_perm // self.lsh_bands
        if self.sig_scheme not in ("kperm", "oph"):
            raise ValueError(
                f"sig_scheme must be 'kperm' or 'oph': {self.sig_scheme}")
        if self.sig_scheme == "oph" and self.num_perm & (self.num_perm - 1):
            raise ValueError(
                f"sig_scheme='oph' needs power-of-two num_perm, "
                f"got {self.num_perm}")
        if self.sketch_k <= 0:
            raise ValueError(f"sketch_k must be positive: {self.sketch_k}")
        if self.verify_band is None:
            self.verify_band = 3.0 / self.sketch_k ** 0.5
        if self.sort_by_group_size and self.sort_by_file_size:
            # O3 precedence: group-size sort wins (duplicate_finder.py:251-253)
            self.sort_by_file_size = False

    @classmethod
    def tuned(cls, jaccard_threshold: float = 0.8, num_perm: int = 128,
              recall_floor: float = 0.999, **kwargs) -> "PipelineConfig":
        """Config whose LSH band split is DERIVED from the threshold
        instead of hand-pinned: picks the cheapest (bands, rows)
        divisor split of ``num_perm`` whose s-curve miss mass meets
        ``recall_floor`` (operators/lsh.tune_lsh_bands). At the
        defaults this reproduces the shipped 32x4 @ 0.8, so
        ``PipelineConfig.tuned()`` == ``PipelineConfig(lsh_bands=32)``
        — but a user moving the threshold gets a recall-safe band
        split without re-deriving the MMDS math."""
        from duplicate_finder_spark.operators.lsh import tune_lsh_bands
        bands, _ = tune_lsh_bands(jaccard_threshold, num_perm,
                                  recall_floor=recall_floor)
        return cls(num_perm=num_perm, lsh_bands=bands,
                   jaccard_threshold=jaccard_threshold, **kwargs)
