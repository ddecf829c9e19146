"""Mimics the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count + order-insensitive values (columns sorted by name).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
# the round driver oracle-checks this many leading queries() entries
DRIVER_WINDOW = 50
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as entry_mod

    return entry_mod


def _oracle_query_names():
    import __spark_entry__ as entry_mod

    return sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", _oracle_query_names())
def test_query_matches_oracle(spark, contract, name):
    q = contract.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(SF_DIR)
    res = con.execute(contract.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    if a != b:
        diffs = [
            (x, y) for x, y in zip(a, b) if x != y
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_all_queries_run(spark, contract):
    """Queries without oracles must still execute and return a stable
    schema (driver rows-only check)."""
    for name, q in contract.queries().items():
        if name in contract.oracle_sql():
            continue
        df = q(spark, SF_DIR)
        n = df.count()
        assert n >= 0 and df.columns, f"{name} failed"


def test_entry_smoke(spark, contract):
    df = contract.entry(spark)
    assert df.count() > 0


def test_every_query_has_oracle_and_docs():
    """Driver-contract invariants: every queries() entry has an
    oracle_sql() twin, and every query name appears in SURVEY.md
    (the judge's coverage checklist must not drift from the code)."""
    import __spark_entry__ as E

    qs, os_ = set(E.queries()), set(E.oracle_sql())
    assert qs == os_, (sorted(qs - os_), sorted(os_ - qs))
    survey = open("SURVEY.md").read()
    missing = sorted(q for q in qs if q not in survey)
    assert not missing, f"queries not documented in SURVEY.md: {missing}"


def test_oracle_window_covers_verification_debt():
    """The driver oracle-checks only the first DRIVER_WINDOW registry
    entries. Every query outside that window must have an all-green
    row in one of the two latest CORRECTNESS records, and no query
    with a driver row may sit before one that has never had one."""
    import glob
    import json
    import re

    import __spark_entry__ as E

    paths = sorted(
        glob.glob(os.path.join(os.path.dirname(E.__file__),
                               "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    records = [json.load(open(p)) for p in paths]
    checked = {name for rec in records for name in rec}
    green = {
        name for rec in records[-2:] for name, row in rec.items()
        if not row["err"]
        and row["rows_match"] and row["schema_match"] and row["hash_match"]
    }
    order = list(E.queries())
    stale = [n for n in order[DRIVER_WINDOW:] if n not in green]
    assert not stale, f"outside the driver window without recent green: {stale}"
    flags = [n in checked for n in order]
    assert flags == sorted(flags), "a checked query precedes an unchecked one"


def test_neardup_gate_config_pin():
    """_NEARDUP_GATE_N (the corpus size whose adaptive LSH config the
    static SQL oracle replays) must equal the ACTUAL sf0.01 gate
    corpus: embeddings rows + planted twins. If the driver testdata
    ever changes shape, this fails before the oracle silently
    diverges from the Spark path's corpus-derived config."""
    import duckdb

    import __spark_entry__ as E

    n_emb, n_planted = duckdb.sql(
        "SELECT count(*),"
        f"       sum(CASE WHEN vec_id % {E._NEARDUP_PLANT_STRIDE} = 0"
        "                 THEN 1 ELSE 0 END)"
        " FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
    ).fetchone()
    assert E._NEARDUP_GATE_N == n_emb + n_planted, (
        E._NEARDUP_GATE_N, n_emb, n_planted
    )
