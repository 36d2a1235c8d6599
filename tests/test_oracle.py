"""Local mirror of the driver's DuckDB-oracle correctness gate.

For every registry entry: run the Spark query and the DuckDB
SQL on the same parquet tables, sort columns by name, sort rows, and compare
values EXACTLY (strings/ints) or to 1e-9 (floats). This is intentionally
stricter than needed so the driver's value-hash comparison can't surprise us.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY
from vacancy_gpt_etl_pipeline_spark.schemas import TESTDATA_TABLES

SF_DIR = "/root/testdata/sf0.001"

ORACLE_NAMES = list(REGISTRY)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = float(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _approx_eq(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, duck):
    spec = REGISTRY[name]
    sdf = spec.spark(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_norm, d_norm)):
        if not all(_approx_eq(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
            if len(mismatches) >= 3:
                break
    assert not mismatches, f"{name}: value mismatches {mismatches}"


def test_every_entry_has_an_oracle():
    missing = [
        n
        for n, s in REGISTRY.items()
        if not (isinstance(s.oracle, str) and s.oracle.strip())
    ]
    assert not missing, f"registry entries without oracle SQL: {missing}"
