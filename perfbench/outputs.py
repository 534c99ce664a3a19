"""Output check: every query's result against its DuckDB oracle twin.

Both sides are hashed with ``tools/check.py`` (``canon_pandas`` then
``digest_pandas``), the same canonical form the repo's correctness gate
uses; a result matches when row count, column names and digest agree.
Oracle results are cached in ``perfbench/.cache/oracles.json``, keyed by
the query's SQL and the digests of the tables it reads, so a seed that
only reorders rows reuses them.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re

from inputs import CACHE_DIR, ROOT, load_module

ORACLE_CACHE = os.path.join(CACHE_DIR, "oracles.json")


@functools.cache
def _check():
    return load_module("graft_check", os.path.join(ROOT, "tools", "check.py"))


def result_of(pdf) -> dict:
    """The compared form of one pandas result."""
    check = _check()
    return {
        "rows": len(pdf),
        "columns": sorted(pdf.columns),
        "digest": check.digest_pandas(check.canon_pandas(pdf)),
    }


def repoint(sql: str, publications: str) -> str:
    """Aim a dblp oracle at the generated publications instead of the
    committed fixture it names by absolute path."""
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH

    return sql.replace(PUBLICATIONS_PATH, publications)


def _tables_read(sql: str, stats: dict) -> list[str]:
    return sorted(t for t in stats if re.search(rf"\b{t}\b", sql))


def oracle_results(sqls: dict[str, str], sf_dir: str, stats: dict) -> dict[str, dict]:
    """Run each oracle over the parquet files in ``sf_dir`` (one DuckDB view
    per table), through the cache."""
    import duckdb

    try:
        with open(ORACLE_CACHE) as fh:
            cache = json.load(fh)
    except FileNotFoundError:
        cache = {}
    out, con = {}, None
    try:
        for name, sql in sqls.items():
            key = hashlib.sha256(json.dumps([
                sql.replace(sf_dir, "<inputs>"),
                [stats[t]["digest"] for t in _tables_read(sql, stats)],
            ]).encode()).hexdigest()[:20]
            if key not in cache:
                if con is None:
                    con = duckdb.connect()
                    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
                    for t in stats:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
                        )
                cache[key] = result_of(con.sql(sql).df())
            out[name] = cache[key]
    finally:
        if con is not None:
            con.close()
    tmp = ORACLE_CACHE + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, sort_keys=True)
    os.replace(tmp, ORACLE_CACHE)
    return out


def sql_result(sql: str) -> dict:
    """Compared form of one DuckDB query."""
    import duckdb

    con = duckdb.connect()
    try:
        return result_of(con.sql(sql).df())
    finally:
        con.close()
