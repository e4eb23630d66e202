"""Data-contract loop: export(profile) -> YAML -> import -> enforce."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import make_docs

VALIDATE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "validate.py")


def _docs(spark):
    return make_docs(
        spark,
        [
            ("1", [("text", "hello", None, 0)], "p0"),
            ("2", [("text", "world!!", None, 0), ("image", "", "m1", 10)], "p0"),
            ("3", [("text", "x" * 30, None, 0)], "p1"),
        ],
    )


def _doc_level(docs):
    return docs.select(
        "partition",
        F.size("spans").alias("n_spans"),
        F.coalesce(
            F.aggregate(
                "spans", F.lit(0).cast("long"),
                lambda a, s: a + F.octet_length(F.coalesce(s["text"], F.lit(""))),
            ),
            F.lit(0),
        ).alias("total_text_bytes"),
    )


def test_contract_roundtrip_enforces_cleanly(spark):
    import yaml

    from zparse_spark.operators.rules import check_constraint_violations
    from zparse_spark.plans.contract import export_contract, import_contract

    docs = _docs(spark)
    text = export_contract(
        _doc_level(docs), numeric_cols=["n_spans", "total_text_bytes"],
        categorical_cols=["partition"],
    )
    parsed = yaml.safe_load(text)  # well-formed YAML
    assert parsed["version"] == 1 and parsed["checks"]
    checks = import_contract(text)
    assert [c.rule_id for c in checks] == [f"K{100 + i}" for i in range(len(checks))]
    # the data that produced the contract passes it
    viol = check_constraint_violations(docs, checks)
    assert viol.count() == 0
    # drifted data trips the contract: a doc with a runaway span count
    bad = _docs(spark).unionByName(
        make_docs(spark, [("9", [("text", "a", None, i * 5) for i in range(40)], "p9")])
    )
    v2 = check_constraint_violations(bad, checks)
    fired = {r.rule_id for r in v2.collect()}
    assert fired  # at least the n_spans range (and the partition domain)
    assert all(r.doc_id == "9" for r in v2.collect())


def test_contract_import_rejects_malformed(spark):
    import pytest

    from zparse_spark.plans.contract import import_contract

    with pytest.raises(ValueError):
        import_contract("just a string")
    with pytest.raises(ValueError):
        import_contract("checks:\n  - {rule_id: K1}\n")
    # unknown keys ignored (forward compatibility)
    out = import_contract(
        "version: 2\nfuture_key: x\nchecks:\n"
        "  - {rule_id: K1, level: doc, predicate: 'n_spans <= 5', owner: bob}\n"
    )
    assert len(out) == 1 and out[0].predicate == "n_spans <= 5"


def test_cli_contract_loop(tmp_path, spark):
    """--emit-contract writes a reviewable YAML; --contract enforces it
    on a later (drifted) run, violations landing in the normal sinks."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = _docs(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    cpath = str(tmp_path / "contract.yaml")
    r1 = subprocess.run(
        [_sys.executable, VALIDATE, "--documents", dpath,
         "--out", str(tmp_path / "out1"), "--emit-contract", cpath,
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r1.returncode in (0, 1), r1.stderr[-2000:]
    assert "contract written" in r1.stdout
    # second run: drifted corpus validated UNDER the contract
    bad = docs.unionByName(
        make_docs(spark, [("9", [("text", "a", None, i * 5) for i in range(40)], "p9")])
    )
    bpath = str(tmp_path / "docs2")
    bad.write.parquet(bpath)
    out2 = str(tmp_path / "out2")
    r2 = subprocess.run(
        [_sys.executable, VALIDATE, "--documents", bpath,
         "--out", out2, "--contract", cpath, "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 1, r2.stderr[-1500:]  # contract violations gate the exit
    rows = duckdb.sql(
        # the violations sink is partitioned by rules_hash= -> recurse
        f"SELECT DISTINCT rule_id, doc_id FROM read_parquet('{out2}/violations/**/*.parquet') "
        "WHERE rule_id LIKE 'K%'"
    ).fetchall()
    assert rows and all(doc == "9" for _, doc in rows)
