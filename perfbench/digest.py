"""Order-insensitive result digests and the DuckDB oracle side of the check.

The value hash is tools/verify_local.py's, imported rather than copied, so
the benchmark checks results exactly as the repository's correctness gate
does. Oracle SQL is the registry's, evaluated over the generated dataset
once and cached next to it.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def verify_local():
    """tools/verify_local.py as a module. Its import prepends a fixed
    checkout path to sys.path; undo that so this checkout's modules win."""
    saved = list(sys.path)
    try:
        from tools import verify_local as vl
    finally:
        sys.path[:] = saved
    return vl


def digest(cols: list[str], rows: list[tuple], date_cols: frozenset[str]) -> str:
    """md5 over sorted column names, row count and the value hash."""
    vh = verify_local().value_hash(list(cols), rows, date_cols)
    return hashlib.md5(json.dumps([sorted(cols), len(rows), vh]).encode()).hexdigest()


def _connect(kind: str, data_dir: str):
    import duckdb

    con = duckdb.connect()
    if kind == "text":
        # the text file as the registry's `documents` relation: doc_id is
        # the 0-based line number, exactly read_text's line_no
        import pyarrow as pa

        with open(os.path.join(data_dir, "corpus.txt"), encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        src = pa.table({"doc_id": pa.array(range(len(lines)), pa.int64()), "text": lines})
        con.register("src", src)
        con.execute("CREATE TABLE documents AS SELECT * FROM src")
        con.unregister("src")
    else:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE TABLE {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digests(kind: str, data_dir: str, jobs: list[str]) -> dict[str, dict]:
    """{job: {digest, rows, seconds}} from the registry's oracle SQL,
    cached in the dataset directory (evaluated once per dataset)."""
    import time

    from mapreduce_sm_spark.registry import load_all_operators

    cache_path = os.path.join(data_dir, "oracle.json")
    cached: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
    todo = [j for j in jobs if j not in cached]
    if todo:
        vl = verify_local()
        registry = load_all_operators().all()
        con = _connect(kind, data_dir)
        for job in todo:
            sql = registry[job].oracle
            t0 = time.perf_counter()
            odf = con.execute(sql).df()
            dates = frozenset(
                col for col, typ, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
                if typ.upper() == "DATE"
            )
            rows = vl._pd_rows(odf)
            cached[job] = {
                "digest": digest(list(odf.columns), rows, dates),
                "rows": len(rows),
                "seconds": round(time.perf_counter() - t0, 3),
            }
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cached, fh, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {j: cached[j] for j in jobs}
