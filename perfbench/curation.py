"""The operators probe: one registry query per operator module family.

The query registry (``flashml_spark.queries.QUERIES``) runs the curation
operators that no training workload reaches.  The probe writes small
seeded copies of the tables those queries read (``data.curation_tables``)
as one parquet file each and runs one query per operator module.  A
query's ``operators.<module>.query_s`` is the time to build it (some
queries run jobs while they build: a fit, a scalar ``first``) plus the
``collect`` that forces it.  Each result is then checked against the
query's DuckDB oracle with the normalisation of
``tests/conftest.py::assert_frames_match``: sorted column names, row
count, order-insensitive values with floats rounded to 6 digits.
"""

from __future__ import annotations

import math
import os
import time

import data

# operator module -> the registry query that exercises it
QUERIES = {
    # x35 (minhash dedup end to end) is the fuller dedup query, but its
    # recursive-CTE oracle alone takes ~5 s
    "dedup": "x16_minhash_lsh_bands",
    "similarity": "x240_reciprocal_nn_lsh",
    "textops": "x135_bm25_topk",
    "sketches": "x219_hll_distinct",
    "events": "x14_sessionize",
    "graph": "x164_triangle_parts",
    "quality": "x286_quality_classifier",
    "multimodal": "x255_png_roundtrip_audit",
    "binning": "x22_quantile_binning",
}


def write_tables(seed: int, out_dir: str) -> list:
    """The seeded tables as ``<out_dir>/<table>.parquet``; their names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tables = data.curation_tables(seed)
    for name, pdf in tables.items():
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(list(pdf["embedding"]), pa.list_(pa.float32())))
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return list(tables)


def _canon(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else (f"{round(v, 6):.6f}",)
    if isinstance(v, bool):
        return (str(int(v)),)
    return (str(v),)


def _normalise(rows) -> list:
    return sorted(tuple(_canon(v) for v in row) for row in rows)


def _matches(rows, columns, con, sql) -> tuple:
    oracle = con.execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()
    if sorted(columns) != sorted(o_cols):
        return False, f"columns {sorted(columns)} vs oracle {sorted(o_cols)}"
    order = sorted(o_cols)
    s_idx = [columns.index(c) for c in order]
    o_idx = [o_cols.index(c) for c in order]
    s = _normalise([tuple(r[i] for i in s_idx) for r in rows])
    o = _normalise([tuple(r[i] for i in o_idx) for r in o_rows])
    if len(s) != len(o):
        return False, f"{len(s)} rows vs oracle {len(o)}"
    bad = sum(a != b for a, b in zip(s, o))
    return bad == 0, f"{len(s)} rows, {bad} differ from the oracle"


def probe(spark, seed: int, work: str) -> tuple:
    """Run the probe; returns ``({"operators.<module>.query_s": s},
    [(check name, ok, detail)])``."""
    import duckdb

    from flashml_spark.queries import QUERIES as REGISTRY

    sf = f"{work}/curation"
    con = duckdb.connect()
    for name in write_tables(seed, sf):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    metrics, checks = {}, []
    try:
        for module, query in QUERIES.items():
            fn, sql = REGISTRY[query]
            t = time.perf_counter()
            df = fn(spark, sf)
            rows = df.collect()
            metrics[f"operators.{module}.query_s"] = time.perf_counter() - t
            ok, detail = _matches(rows, df.columns, con, sql)
            checks.append((f"operators.{module}.{query}", ok, detail))
    finally:
        con.close()
    return metrics, checks
