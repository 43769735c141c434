"""Pin the DuckDB oracle digests of the ``llm_iterative`` queries.

    python3 perfbench/pin_oracles.py

Writes ``oracle_digests.json``: for each table directory under ``data/``
and each query, the oracle result's row count and strict digest, plus the
sha256 of the oracle SQL it came from.  The benchmark hashes a query's
oracle live whenever the catalog's SQL no longer matches the pinned one,
so re-pinning is only needed to keep runs fast after an oracle changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from catalog_workload import DIGESTS, QUERIES, digest, duck_connect, sql_sha  # noqa: E402

from etl_wrap_spark import catalog  # noqa: E402


def main() -> None:
    oracles = catalog.oracle_sql()
    out = {}
    for sf in sorted(os.listdir(os.path.join(HERE, "data"))):
        con = duck_connect(os.path.join(HERE, "data", sf))
        for q in sorted(QUERIES):
            rows, sha = digest(con.execute(oracles[q]).df())
            out[f"{sf}/{q}"] = {"rows": rows, "sha256": sha, "sql_sha256": sql_sha(oracles[q])}
        con.close()
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(out)} oracle digests in {DIGESTS}")


if __name__ == "__main__":
    main()
