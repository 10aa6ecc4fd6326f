"""Reference answers, computed outside the timed region.

Relational and curation answers come from the registry's DuckDB oracle SQL
over the same parquet files; routing answers from an independent binary-heap
Dijkstra over the same CSR arrays the engine broadcasts.
"""

from __future__ import annotations

import heapq
import os
from contextlib import contextmanager

import duckdb
import pandas as pd
import pyarrow as pa


def canonical(table: pa.Table) -> str:
    """Order-insensitive value text of a result: columns sorted by name,
    timestamps as UTC epoch microseconds, rows sorted, floats at full
    precision (the canonical form tools/driver_emulation.py hashes)."""
    pdf = table.to_pandas()
    for c in pdf.columns:
        col = pdf[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(col):
            pdf[c] = col.astype("datetime64[us]").astype("int64")
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf.to_csv(index=False, float_format="%.17g")


@contextmanager
def duckdb_views(data_dir: str, work_dir: str):
    """A DuckDB connection with every table in `data_dir` registered under
    the name the registry oracles use."""
    from duckdb_routing_spark.session import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb-tmp')}'")
        for t in TESTDATA_TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        yield con
    finally:
        con.close()


def oracle_answers(data_dir: str, queries: dict[str, str], work_dir: str) -> dict[str, str]:
    """Canonical DuckDB answers for `{name: oracle_sql}` over `data_dir`."""
    with duckdb_views(data_dir, work_dir) as con:
        return {name: canonical(con.execute(sql).fetch_arrow_table()) for name, sql in queries.items()}


def dijkstra_ms(indptr: list, indices: list, weights_ms: list, src: int) -> dict[int, int]:
    """Binary-heap Dijkstra over CSR lists: node -> shortest travel time in
    ms, for every node reachable from `src`."""
    dist = {src: 0}
    heap = [(0, src)]
    done = set()
    while heap:
        d, u = heapq.heappop(heap)
        if u in done:
            continue
        done.add(u)
        for k in range(indptr[u], indptr[u + 1]):
            v, nd = indices[k], d + weights_ms[k]
            if nd < dist.get(v, nd + 1):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist
