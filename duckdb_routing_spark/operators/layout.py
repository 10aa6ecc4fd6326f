"""Storage-layout operators: Z-order (Morton) clustering keys.

100 TB posture: file-level min/max statistics only prune scans when the
data is clustered on the filter column. A lexicographic sort clusters the
FIRST column and scatters the rest; interleaving the bits of several
bucketed columns (Morton order — the technique behind Delta/Iceberg
OPTIMIZE ZORDER) bounds the per-file value range on EVERY interleaved
column at once, so selective filters on any of them prune files. The key
is exact integer arithmetic (bucket + bit-interleave), identical in Spark
and DuckDB, so the layout pipeline is value-hash oracle-able end to end.

Reference parity note: the reference engine ships no layout tooling — this
is LLM-pipeline/scale surface on top of SURVEY §2, the write-side
complement of the bucketed-join study (tools/scale_study.py --bucketed).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def minmax_bucket(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Clamp-bucket a numeric column into [0, 2^bits): the same clamped
    floor as sketch.hist_bins, so out-of-range values land in edge buckets
    instead of corrupting the key."""
    n = 1 << bits
    raw = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo)) * F.lit(float(n)))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1)).cast("long")


def morton_interleave(buckets: list[Column], bits: int = 8) -> Column:
    """Morton key from pre-bucketed non-negative ints (each < 2^bits):
    bit j of column i lands at position j * n_cols + i. Unrolled to
    bits x n_cols constant-folded bitwise terms — pure Catalyst, row-local,
    and the identical expression evaluates in DuckDB."""
    c = len(buckets)
    if c < 1:
        raise ValueError("need at least one column")
    if bits * c > 62:
        raise ValueError(f"{bits} bits x {c} cols overflows a signed 64-bit key")
    terms = [
        F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), j * c + i)
        for i, b in enumerate(buckets)
        for j in range(bits)
    ]
    return reduce(lambda a, t: a.bitwiseOR(t), terms)


def zorder_key(
    df: DataFrame, specs: list[tuple[str, float, float]], bits: int = 8, out_col: str = "zkey"
) -> DataFrame:
    """Adds a Morton clustering key built from (column, lo, hi) specs."""
    buckets = [minmax_bucket(F.col(c), lo, hi, bits) for c, lo, hi in specs]
    return df.withColumn(out_col, morton_interleave(buckets, bits))


def zorder_key_oracle_sql(
    table: str, specs: list[tuple[str, float, float]], bits: int = 8, extra_cols: str = ""
) -> str:
    """The byte-identical key derivation in portable DuckDB SQL."""
    c = len(specs)
    n = 1 << bits
    bucket_exprs = []
    for col, lo, hi in specs:
        bucket_exprs.append(
            f"CAST(least(greatest(floor((CAST({col} AS DOUBLE) - {float(lo)!r}) / "
            f"{float(hi - lo)!r} * {float(n)!r}), 0), {n - 1}) AS BIGINT)"
        )
    terms = [
        f"((({b} >> {j}) & 1) << {j * c + i})"
        for i, b in enumerate(bucket_exprs)
        for j in range(bits)
    ]
    key = " | ".join(terms)
    sel = f"{extra_cols}, " if extra_cols else ""
    return f"SELECT {sel}({key}) AS zkey FROM {table}"
