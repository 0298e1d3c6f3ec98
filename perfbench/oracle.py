"""Order-independent digests of registry queries' ``oracle_sql`` under
DuckDB, for ``query_mix``'s output check.

    python3 perfbench/oracle.py DATA_DIR QUERY... > digests.json

``DATA_DIR`` holds one ``<table>.parquet`` per registry table.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import sys

import digest

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_digests(sf_dir: str, queries: list[str]) -> dict[str, str]:
    """DuckDB digests of each query's ``oracle_sql``."""
    import duckdb

    from kinesis_spark.queries import get_registry

    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    registry = get_registry()

    def one(name: str) -> str:
        cur = con.cursor()  # one connection per thread; DuckDB drops the GIL
        cur.execute(registry[name].oracle)
        return digest.digest([c[0] for c in cur.description], cur.fetchall())

    with concurrent.futures.ThreadPoolExecutor(os.cpu_count() or 1) as pool:
        out = dict(zip(queries, pool.map(one, queries)))
    con.close()
    return out


if __name__ == "__main__":
    json.dump(oracle_digests(sys.argv[1], sys.argv[2:]), sys.stdout)
