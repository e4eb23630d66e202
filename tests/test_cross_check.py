from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zparse_spark.operators.constraints import cross_table_check_violations


@pytest.fixture()
def tables(spark):
    fact = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a", 5),     # violates v >= ref.lo (lo=8)
            (3, "b", 3),
            (4, "b", None),  # NULL value -> ANSI pass
            (5, "zz", 1),    # no ref row
        ],
        "id bigint, k string, v int",
    )
    ref = spark.createDataFrame(
        [("a", 8), ("b", 2), ("c", 100)], "k string, lo int"
    )
    return fact, ref


def test_basic_ansi_semantics(tables):
    fact, ref = tables
    out = cross_table_check_violations(
        fact, ref, on=["k"], predicate="v >= lo", rule_id="K1",
        fact_cols=["id"],
    )
    assert {r.id for r in out.collect()} == {2}
    rows = out.collect()
    assert rows[0].rule_id == "K1" and rows[0].detail is None


def test_on_missing_violate_vs_pass(tables):
    fact, ref = tables
    out = cross_table_check_violations(
        fact, ref, on=["k"], predicate="v >= lo", rule_id="K1",
        fact_cols=["id"], on_missing="violate",
    )
    assert {r.id for r in out.collect()} == {2, 5}


def test_null_ref_value_is_not_a_missing_row(spark):
    fact = spark.createDataFrame([(1, "a", 5)], "id bigint, k string, v int")
    ref = spark.createDataFrame([("a", None)], "k string, lo int")
    # matched row with NULL lo: predicate NULL -> pass, even under
    # on_missing='violate' (the row IS matched)
    out = cross_table_check_violations(
        fact, ref, on=["k"], predicate="v >= lo", rule_id="K1",
        fact_cols=["id"], on_missing="violate",
    )
    assert out.count() == 0


def test_detail_column_and_strategies(tables):
    fact, ref = tables
    for strat in ("auto", "broadcast", "smj"):
        out = cross_table_check_violations(
            fact, ref, on=["k"], predicate="v >= lo", rule_id="K9",
            fact_cols=["id", "k"],
            detail=F.concat(F.lit("v="), F.col("v").cast("string")),
            strategy=strat,
        )
        rows = out.collect()
        assert [(r.id, r.k, r.rule_id, r.detail) for r in rows] == [
            (2, "a", "K9", "v=5")
        ], strat


def test_pruning_reaches_the_scan(spark, tmp_path):
    # parquet scans expose ReadSchema: the unrelated wide columns must
    # not be read at all (an RDD fixture would hide this — its Scan
    # node always prints the full schema)
    fpath, rpath = str(tmp_path / "fact"), str(tmp_path / "ref")
    spark.createDataFrame(
        [(1, "a", 2, "wide")], "id bigint, k string, v int, haystack string"
    ).write.parquet(fpath)
    spark.createDataFrame(
        [("a", 3, "wide2")], "k string, lo int, junk string"
    ).write.parquet(rpath)
    out = cross_table_check_violations(
        spark.read.parquet(fpath),
        spark.read.parquet(rpath),
        on=["k"], predicate="v >= lo", rule_id="K1", fact_cols=["id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all(
        "haystack" not in ln and "junk" not in ln for ln in scans
    ), scans
    assert out.count() == 1


def test_bad_args(tables):
    fact, ref = tables
    with pytest.raises(ValueError):
        cross_table_check_violations(
            fact, ref, on=["k"], predicate="v >= lo", rule_id="K1",
            fact_cols=["id"], on_missing="bogus",
        )
    with pytest.raises(ValueError):
        cross_table_check_violations(
            fact, ref, on=["k"], predicate="v >= lo", rule_id="K1",
            fact_cols=["id"], strategy="bogus",
        )
