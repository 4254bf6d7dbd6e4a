"""Small statistics and output-digest helpers shared by the workloads."""

from __future__ import annotations

import hashlib
import math
import statistics

_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(values) -> float:
    return float(statistics.median(values))


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile of ``values`` (``0 < p <= 100``)."""
    xs = sorted(values)
    return float(xs[_rank(p, len(xs)) - 1])


def tail_percentile(values, ladder=_LADDER) -> tuple[float, float]:
    """The highest percentile in ``ladder`` that still has at least ten
    samples beyond it, with its value.  Falls back to the median when
    there are too few samples for any rung."""
    n = len(values)
    best = ladder[0]
    for p in ladder:
        if n - _rank(p, n) >= 10:
            best = p
    return best, percentile(values, best)


def self_time(span: dict, children: list[dict]) -> float:
    """``span``'s duration minus the part of it its children cover
    (overlapping children are counted once)."""
    lo, hi = span["start"], span["end"]
    cuts = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in children
        if c["end"] > lo and c["start"] < hi
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in cuts:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def _canon_strings(df):
    """Columns sorted by name, every cell stringified (dtype-sensitive,
    timestamps at microseconds) — the repository's oracle convention."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.astype(str)


def frame_digest(df) -> str:
    """Order-insensitive digest of a pandas frame: row count, column
    names and the sum of per-row hashes modulo 2**64."""
    s = _canon_strings(df)
    acc = 0
    for row in zip(*(s[c] for c in s.columns)):
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
    cols = hashlib.blake2b("\x1f".join(s.columns).encode(), digest_size=4)
    return f"{len(s)}:{cols.hexdigest()}:{acc:016x}"


def spark_digest(df) -> str:
    """Order-insensitive digest of a Spark DataFrame computed by Spark:
    row count and the exact sum of per-row ``xxhash64`` over the columns
    in name order."""
    import pyspark.sql.functions as F

    cols = sorted(df.columns)
    row = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    n, h = df.agg(F.count(F.lit(1)), F.sum(row)).collect()[0]
    return f"{n}:{','.join(cols)}:{h}"
