"""Driver-contract parity probe: run selected __spark_entry__ queries
AND their DuckDB oracles side-by-side, compare sorted rows (the same
compare tests/test_oracle_parity.py performs, minus the driver's
value-hash packaging). Each line also carries ``sha256=``, the hash of
the Spark side's rows as exact ``repr`` strings, sorted: equal hashes
at two commits mean the query returned the same rows at both.

Usage: python scripts/oracle_check.py [sf_dir] [query ...]
       (no query args = every query that has an oracle entry)
"""

from __future__ import annotations

import hashlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _rows_sha256(rows: list[tuple]) -> str:
    return hashlib.sha256(
        "\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def main() -> int:
    from test_oracle_parity import _duck, _normalize

    import __spark_entry__ as E
    from json_ld_spark.plans.session import build_session

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]
    oracles = E.oracle_sql()
    queries = E.queries()
    if not names:
        names = [n for n in queries if n in oracles]

    spark = build_session(app_name="oracle-check", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = _duck(sf)
    # per-process spill directory: two concurrent probes sharing the
    # default ".tmp" corrupt each other's temp files (seen as an
    # IOException mid-sweep on the k-core oracle's spill)
    con.execute(
        f"PRAGMA temp_directory='/tmp/duckdb_spill_{os.getpid()}'"
    )

    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE")
            failures += 1
            continue
        try:
            sdf = queries[name](spark, sf)
            scols = sdf.columns
            raw = [tuple(r) for r in sdf.collect()]
            srows = _normalize(raw, scols)
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = _normalize(cur.fetchall(), ocols)
        except Exception as exc:  # surface, keep probing the rest
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            failures += 1
            continue
        schema_ok = sorted(scols) == sorted(ocols)
        rows_ok = len(srows) == len(orows)
        vals_ok = srows == orows
        status = "OK" if (schema_ok and rows_ok and vals_ok) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} "
            f"schema={'ok' if schema_ok else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"sha256={_rows_sha256(raw)}"
        )
        if not vals_ok and rows_ok and schema_ok:
            diff = [
                (a, b) for a, b in zip(srows, orows) if a != b
            ][:3]
            for a, b in diff:
                print(f"  spark : {a}\n  oracle: {b}")
        elif not rows_ok:
            sset, oset = set(srows), set(orows)
            print(f"  only-spark : {list(sset - oset)[:2]}")
            print(f"  only-oracle: {list(oset - sset)[:2]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
