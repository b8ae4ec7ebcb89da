"""DuckDB twins of a workload's queries, in the type-tagged canonical
form of ``tests/oracle_util.py``."""

from __future__ import annotations

import functools
import importlib.util
import os

from perfbench import bootstrap

ORACLE_UTIL = os.path.join(bootstrap.ROOT, "tests", "oracle_util.py")


@functools.lru_cache(maxsize=None)
def canonical_rows():
    """``tests/oracle_util.py``'s canonical form (the repo's ``tests``
    directory is not a package, so it is loaded by path)."""
    spec = importlib.util.spec_from_file_location("oracle_util", ORACLE_UTIL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_rows


def twins(data_dir: str, tables, sqls: dict[str, str]) -> dict[str, dict]:
    """Run each query's twin SQL over the generated tables; map the query
    to ``{"columns": [...], "rows": [...]}``, or to ``{"error": ...}``
    when DuckDB raised. The connection is closed before returning."""
    import duckdb

    canon = canonical_rows()
    out: dict[str, dict] = {}
    con = duckdb.connect(config={
        "threads": len(os.sched_getaffinity(0)), "memory_limit": "2GB",
        "temp_directory": os.path.join(bootstrap.TMP, "duckdb")})
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{data_dir}/{t}.parquet/*.parquet')")
        by_sql: dict[str, dict] = {}  # queries may share one twin
        for name, sql in sqls.items():
            if sql not in by_sql:
                try:
                    res = con.execute(sql)
                    cols = [c[0] for c in res.description]
                    rows = [dict(zip(cols, r)) for r in res.fetchall()]
                    by_sql[sql] = {"columns": sorted(cols),
                                   "rows": canon(rows)}
                except Exception as exc:  # reported as that query's failure
                    by_sql[sql] = {"error": repr(exc)[:300]}
            out[name] = by_sql[sql]
    finally:
        con.close()
    return out
