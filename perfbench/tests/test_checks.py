"""Each output check passes on the reference itself and fails when one
triple is dropped or one value is altered."""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

V = "https://example.org/kg/vocab#"
# rows laid out as checks.FP_COLS
REF = [
    ("conv00000001", "https://example.org/kg/turn/conv00000001/0", V + "role",
     "user", False, "http://www.w3.org/2001/XMLSchema#string", None, None),
    ("conv00000001", "https://example.org/kg/turn/conv00000001/0", V + "mentions",
     "_:conv00000001t0m0", True, None, None, None),
    ("conv00000001", "_:conv00000001t0m0", V + "score",
     "2", False, "http://www.w3.org/2001/XMLSchema#integer", None, None),
    ("conv00000002", "https://example.org/kg/conv/conv00000002",
     "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", V + "Conversation", True,
     None, None, None),
]


def dropped(rows):
    return rows[:-1]


def altered(rows):
    return [rows[0][:3] + ("assistant",) + rows[0][4:]] + rows[1:]


def moved(rows):
    # the same triple attributed to another conversation
    return [("conv00000003",) + rows[0][1:]] + rows[1:]


# --- emit_sustained: observed fingerprint vs the pure-core reference ---

def observed(rows, quarantined=0):
    n, hi, lo = checks.fingerprint(rows)
    return {"rows": len(rows) + quarantined, "quarantined": quarantined,
            "fp_n": n, "fp_hi": hi, "fp_lo": lo}


def test_emit_check_passes_on_reference():
    assert checks.check_emit(observed(REF), checks.fingerprint(REF), len(REF)) == []


@pytest.mark.parametrize("mutate", [dropped, altered, moved])
def test_emit_check_fails_on_mutation(mutate):
    bad = mutate(list(REF))
    problems = checks.check_emit(observed(bad), checks.fingerprint(REF), len(REF))
    assert problems


def test_emit_check_fails_on_quarantine():
    problems = checks.check_emit(observed(REF, quarantined=1), checks.fingerprint(REF), len(REF))
    assert any("quarantined" in p for p in problems)


def test_fingerprint_ignores_order():
    assert checks.fingerprint(REF) == checks.fingerprint(list(reversed(REF)))


# --- pipeline_docs: sink parquet vs the DuckDB oracle ---

def triple_table(rows):
    return pa.table({c: pa.array([r[i + 1] for r in rows],
                                 pa.bool_() if c == "obj_is_iri" else pa.string())
                     for i, c in enumerate(checks.TRIPLE_COLS)})


def write_sink(root, rows, lineage_count, error_rows=0):
    table = triple_table(rows).append_column("error_code", pa.array([None] * len(rows), pa.string()))
    if error_rows:
        bad = {c: pa.nulls(error_rows, table.schema.field(c).type) for c in table.column_names}
        bad["error_code"] = pa.array(["invalid value object"] * error_rows)
        table = pa.concat_tables([table, pa.table(bad, schema=table.schema)])
    os.makedirs(f"{root}/graph_triples/conv_bucket=0")
    pq.write_table(table, f"{root}/graph_triples/conv_bucket=0/part-0.parquet")
    os.makedirs(f"{root}/lineage")
    pq.write_table(pa.table({"stage": ["emit"], "triple_count": [lineage_count]}),
                   f"{root}/lineage/part-0.parquet")


def sink_problems(tmp_path, rows, lineage_count=None, error_rows=0):
    write_sink(str(tmp_path), rows,
               len(rows) if lineage_count is None else lineage_count, error_rows)
    con = duckdb.connect()
    con.register("oracle", triple_table(REF))
    problems = checks.check_sink(
        con, f"{tmp_path}/graph_triples/*/*.parquet", f"{tmp_path}/lineage/*.parquet",
        "SELECT * FROM oracle")
    return problems


def test_sink_check_passes_on_reference(tmp_path):
    assert sink_problems(tmp_path, REF) == []


@pytest.mark.parametrize("mutate", [dropped, altered])
def test_sink_check_fails_on_mutation(tmp_path, mutate):
    assert sink_problems(tmp_path, mutate(list(REF)))


def test_sink_check_fails_on_lineage_mismatch(tmp_path):
    assert any("lineage" in p for p in sink_problems(tmp_path, REF, lineage_count=len(REF) + 1))


def test_sink_check_fails_on_quarantined_rows(tmp_path):
    assert any("quarantined" in p for p in sink_problems(tmp_path, REF, error_rows=1))


# --- query results: canonical strings vs the DuckDB oracle ---

def test_rows_check_passes_on_reordered_reference():
    assert checks.check_rows(list(reversed(REF)), REF) == []


@pytest.mark.parametrize("mutate", [dropped, altered, moved])
def test_rows_check_fails_on_mutation(mutate):
    assert checks.check_rows(mutate(list(REF)), REF)


def test_rows_check_does_not_round():
    from decimal import Decimal

    assert checks.check_rows([("a", 0.1 + 0.2)], [("a", 0.3)])
    assert checks.check_rows([("a", Decimal("1.50"))], [("a", Decimal("1.5"))])
    assert checks.check_rows([("a", 1)], [("a", 1)]) == []
