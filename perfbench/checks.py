"""Output checks for the benchmark: every timed rep is compared with a
reference computed outside the timed region.

The functions here are plain Python or DuckDB and take no Spark session,
so their tests run without a JVM. Each returns a list of problems; an
empty list means the rep's output is exact.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterable, Sequence
from typing import Any

# Columns of a triple as the sink and the oracles carry them.
TRIPLE_COLS = ["subj", "pred", "obj_value", "obj_is_iri",
               "obj_datatype", "obj_language", "graph"]
# The fingerprint keys a triple by its conversation, so equal
# fingerprints mean equal per-conversation triple sets.
FP_COLS = ["conv_id"] + TRIPLE_COLS
FP_SEP = "\x1f"
FP_NULL = "\\N"


def canonical(value: Any) -> str:
    """One string per value, with no rounding: two engines agree only
    when they return the same type and the same digits."""
    if value is None:
        return FP_NULL
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return repr(value)
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonical(v) for v in value) + "]"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def _row_digest(row: Sequence[Any]) -> str:
    return hashlib.md5(
        FP_SEP.join(canonical(v) for v in row).encode("utf-8")
    ).hexdigest()


def fingerprint(rows: Iterable[Sequence[Any]]) -> tuple[int, int, int]:
    """Order-independent multiset fingerprint of rows laid out as
    ``FP_COLS``: (row count, sum of md5 bits 0-31, sum of bits 32-63).
    ``spark_fingerprint`` computes the same triple inside a Spark job."""
    n = hi = lo = 0
    for row in rows:
        d = _row_digest(row)
        n += 1
        hi += int(d[:8], 16)
        lo += int(d[8:16], 16)
    return n, hi, lo


def spark_fingerprint(selected):
    """Aggregate expressions giving ``fingerprint`` of the rows for which
    the boolean column ``selected`` holds, for use with
    ``DataFrame.observe``. Booleans cast to 'true'/'false' as in
    ``canonical``."""
    from pyspark.sql import functions as F

    digest = F.when(selected, F.md5(F.concat_ws(FP_SEP, *[
        F.coalesce(F.col(c).cast("string"), F.lit(FP_NULL)) for c in FP_COLS
    ])))

    def bits(start: int):
        return F.sum(F.conv(F.substring(digest, start, 8), 16, 10).cast("long"))

    return [F.count(digest).alias("fp_n"), bits(1).alias("fp_hi"),
            bits(9).alias("fp_lo")]


def check_emit(observed: dict, sample_fp: tuple[int, int, int],
               total_triples: int) -> list[str]:
    """``observed``: one rep's ``DataFrame.observe`` result with keys
    rows, quarantined, fp_n, fp_hi, fp_lo. ``sample_fp``: reference
    fingerprint of the sampled conversations. ``total_triples``: the
    reference triple count of the whole corpus."""
    problems = []
    if observed["quarantined"]:
        problems.append(f"{observed['quarantined']} quarantined rows")
    valid = observed["rows"] - observed["quarantined"]
    if valid != total_triples:
        problems.append(f"{valid} valid triples, reference {total_triples}")
    got = (observed["fp_n"], observed["fp_hi"] or 0, observed["fp_lo"] or 0)
    if got != tuple(sample_fp):
        problems.append(f"sample fingerprint {got}, reference {tuple(sample_fp)}")
    return problems


def check_sink(con, triples_glob: str, lineage_glob: str, oracle_sql: str) -> list[str]:
    """Compare a pipeline sink with the oracle's triples as multisets
    (DuckDB ``EXCEPT ALL`` both ways, exact values) and check that the
    lineage ``triple_count`` sums to the sink's valid triples."""
    cols = ", ".join(TRIPLE_COLS)
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW sink AS SELECT * FROM "
        f"read_parquet('{triples_glob}', hive_partitioning = true)")
    got = f"SELECT {cols} FROM sink WHERE error_code IS NULL"
    want = f"SELECT {cols} FROM ({oracle_sql})"
    problems = []
    missing = con.execute(f"SELECT count(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
    if missing or extra:
        problems.append(f"sink differs from oracle: {missing} missing, {extra} extra")
    n_valid, n_bad = con.execute(
        "SELECT count(*) FILTER (WHERE error_code IS NULL), "
        "count(*) FILTER (WHERE error_code IS NOT NULL) FROM sink").fetchone()
    if n_bad:
        problems.append(f"{n_bad} quarantined rows in the sink")
    lineage = con.execute(
        f"SELECT sum(triple_count) FROM read_parquet('{lineage_glob}')").fetchone()[0]
    if lineage != n_valid:
        problems.append(f"lineage triple_count sums to {lineage}, sink holds {n_valid}")
    return problems


def check_rows(got: Iterable[Sequence[Any]],
               want: Iterable[Sequence[Any]]) -> list[str]:
    """Multiset equality of two row sets by canonical strings."""
    g = Counter(tuple(canonical(v) for v in r) for r in got)
    w = Counter(tuple(canonical(v) for v in r) for r in want)
    if g == w:
        return []
    missing, extra = w - g, g - w
    example = next(iter(missing or extra))
    return [f"{sum(missing.values())} missing, {sum(extra.values())} extra rows "
            f"(e.g. {example})"]
