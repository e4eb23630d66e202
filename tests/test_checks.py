"""User CHECK constraints (K-rules): ANSI semantics, engine wiring,
verdict grid, rules_hash, and plan discipline (map-only, no Python)."""

from __future__ import annotations

import pytest

from tests.conftest import make_docs
from zparse_spark.operators.rules import CheckConstraint, check_constraint_violations
from zparse_spark.plans.engine import ValidationConfig, ValidationEngine


def _fixture(spark):
    return make_docs(
        spark,
        [
            ("d1", [("text", "hello", None, 0), ("image", None, "m1", 5)], "p0"),
            ("d2", [("text", "", None, 0)], "p0"),          # empty text span
            ("d3", [], "p1"),                                # empty spans array
            ("d4", None, "p1"),                              # NULL spans
            ("d5", [("text", "x" * 40, None, -3)], "p1"),    # negative offset
        ],
    )


K_NONEMPTY = CheckConstraint(
    "K1", "doc", "spans IS NOT NULL AND size(spans) >= 1", "document must have spans"
)
K_TEXT = CheckConstraint(
    "K2", "span", "NOT (kind = 'text' AND length(text) = 0)", "no empty text spans"
)
K_OFFSET = CheckConstraint("K3", "span", "offset >= 0")


def test_doc_level_check(spark):
    v = check_constraint_violations(_fixture(spark), [K_NONEMPTY])
    rows = {(r.doc_id, r.rule_id) for r in v.collect()}
    # d3 (empty array) and d4 (NULL spans: IS NOT NULL is definite FALSE)
    assert rows == {("d3", "K1"), ("d4", "K1")}


def test_span_level_checks_share_one_explode(spark):
    v = check_constraint_violations(_fixture(spark), [K_TEXT, K_OFFSET])
    rows = {(r.doc_id, r.rule_id, r.span_pos, r.offset) for r in v.collect()}
    assert rows == {("d2", "K2", 0, 0), ("d5", "K3", 0, -3)}
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "check constraints must be map-only"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_check_messages_keep_quotes_backslashes_and_comments(spark):
    # predicate and description text reach the message verbatim, and a
    # trailing SQL comment in the predicate stays a comment
    checks = [
        CheckConstraint("K7", "span", "kind <> 'image' -- no images"),
        CheckConstraint("K8", "doc", "n_spans <> 1", "it's a \\ 'one-span' doc"),
    ]
    got = {(r.doc_id, r.rule_id, r.message) for r in check_constraint_violations(_fixture(spark), checks).collect()}
    assert got == {
        ("d1", "K7", "check failed: kind <> 'image' -- no images"),
        ("d2", "K8", "check failed: it's a \\ 'one-span' doc"),
        ("d5", "K8", "check failed: it's a \\ 'one-span' doc"),
    }


def test_null_predicate_passes(spark):
    # ANSI CHECK: NULL result is NOT a violation — length(NULL text) is
    # NULL, so kind='image' spans never trip K2's length comparison, and
    # a predicate that is pure NULL passes outright
    v = check_constraint_violations(_fixture(spark), [CheckConstraint("K9", "span", "length(text) > 0")])
    rows = {(r.doc_id, r.span_pos) for r in v.collect()}
    assert ("d1", 1) not in rows  # image span: NULL text -> NULL -> pass
    assert ("d2", 0) in rows      # empty text -> FALSE -> violation


def test_engine_wiring_and_verdict_grid(spark):
    cfg = ValidationConfig(check_constraints=(K_NONEMPTY, K_OFFSET), enable_drift=False)
    eng = ValidationEngine(cfg)
    docs = _fixture(spark)
    viol = eng.violations(docs)
    verd = eng.verdicts(docs, viol)
    cells = {(r.partition, r.rule_id): (r.passed, r.violation_count) for r in verd.collect()}
    assert cells[("p1", "K1")] == (False, 2)
    assert cells[("p0", "K1")] == (True, 0)
    assert cells[("p1", "K3")] == (False, 1)
    kinds = {r.kind for r in viol.filter("rule_id like 'K%'").collect()}
    assert kinds == {"CheckFailed"}


def test_rules_hash_covers_checks(spark):
    base = ValidationConfig()
    with_k = ValidationConfig(check_constraints=(K_OFFSET,))
    edited = ValidationConfig(check_constraints=(CheckConstraint("K3", "span", "offset >= 1"),))
    assert base.rules_hash() != with_k.rules_hash()
    assert with_k.rules_hash() != edited.rules_hash()


def test_invalid_checks_rejected(spark):
    with pytest.raises(ValueError, match="level"):
        ValidationEngine(ValidationConfig(check_constraints=(CheckConstraint("K1", "row", "true"),)))
    for reserved in ("U1", "S9"):
        with pytest.raises(ValueError, match="collides"):
            ValidationEngine(
                ValidationConfig(check_constraints=(CheckConstraint(reserved, "doc", "true"),))
            )
    with pytest.raises(ValueError, match="duplicate"):
        ValidationEngine(
            ValidationConfig(check_constraints=(K_OFFSET, CheckConstraint("K3", "doc", "true")))
        )


def test_doc_scope_derived_columns(spark):
    # total_text_bytes and n_spans are in scope for doc-level predicates
    v = check_constraint_violations(
        _fixture(spark),
        [CheckConstraint("K5", "doc", "total_text_bytes <= 16 AND coalesce(n_spans, 0) <= 8")],
    )
    assert {r.doc_id for r in v.collect()} == {"d5"}  # 40 bytes of text


def test_checks_resume_through_manifest(spark, tmp_path):
    """K-rules are partition-decomposable: a resumed run evaluates them
    on pending partitions only, and editing a predicate invalidates the
    manifest (new rules_hash -> full revalidation)."""
    from zparse_spark.plans.manifest import Manifest, run_with_manifest

    out = str(tmp_path / "krun")
    docs = _fixture(spark)
    eng = ValidationEngine(
        ValidationConfig(
            check_constraints=(K_NONEMPTY, K_OFFSET), enable_drift=False, enable_referential=False
        )
    )
    done = run_with_manifest(eng, docs, None, out)
    assert sorted(done) == ["p0", "p1"]
    viol = Manifest(out).read_violations(spark, eng.config.rules_hash())
    k_rows = {(r.doc_id, r.rule_id) for r in viol.filter("rule_id like 'K%'").collect()}
    assert k_rows == {("d3", "K1"), ("d4", "K1"), ("d5", "K3")}
    assert run_with_manifest(eng, docs, None, out) == []  # nothing pending

    # editing the predicate changes rules_hash -> everything pending again
    eng2 = ValidationEngine(
        ValidationConfig(
            check_constraints=(K_NONEMPTY, CheckConstraint("K3", "span", "offset >= 1")),
            enable_drift=False,
            enable_referential=False,
        )
    )
    assert sorted(run_with_manifest(eng2, docs, None, out)) == ["p0", "p1"]
    viol2 = Manifest(out).read_violations(spark, eng2.config.rules_hash())
    k2 = {(r.doc_id, r.rule_id, r.span_pos) for r in viol2.filter("rule_id = 'K3'").collect()}
    # stricter predicate now also flags the offset-0 first spans
    assert ("d5", "K3", 0) in k2 and ("d1", "K3", 0) in k2


def test_cli_check_flag(tmp_path, spark):
    """validate.py --check parses ID:LEVEL:PREDICATE (predicate may
    contain colons) and the run emits K violations + verdict rows.
    Runs as a real subprocess — the CLI owns (and stops) its own
    SparkSession — and the parquet output is read back with DuckDB."""
    import subprocess
    import sys as _sys

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [
            _sys.executable, "/root/repo/validate.py",
            "--documents", dpath,
            "--out", out,
            "--check", "K1:span:offset >= 0",
            "--warn-rules", "R1",
            "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 1, proc.stderr[-2000:]  # violations exist
    # R1 is INACTIVE for this run (no --catalog): the warn-rule silently
    # demotes nothing, so the CLI must say so — keyed off the engine's
    # actual active list, not the full built-in rule set
    assert "matches no active rule" in proc.stdout and "'R1'" in proc.stdout
    import duckdb

    cells = {
        (p, r): ok
        for p, r, ok in duckdb.sql(
            f"SELECT partition, rule_id, passed FROM '{out}/verdicts/*.parquet'"
        ).fetchall()
    }
    assert cells[("p1", "K1")] is False and cells[("p0", "K1")] is True


def test_cli_no_resume_keeps_other_files(tmp_path, spark):
    """--no-resume deletes only the resume state (manifest.jsonl and the
    two violation sinks), never the rest of --out — which may be a
    working directory — and every partition re-validates."""
    import json
    import os
    import subprocess
    import sys as _sys

    from zparse_spark.plans.manifest import Manifest, run_with_manifest

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    # committed resume state under the CLI's no-flag config, plus a stale
    # sink namespace and a file the gate does not own
    run_with_manifest(ValidationEngine(ValidationConfig(enable_referential=False)), docs, None, out)
    assert Manifest(out).as_dataframe(spark).count() == 2
    os.makedirs(os.path.join(out, "violations", "rules_hash=stale"))
    with open(os.path.join(out, "keep.txt"), "w") as f:
        f.write("not the gate's")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [_sys.executable, os.path.join(root, "validate.py"), "--documents", dpath, "--out", out,
         "--no-resume", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=root,
    )
    assert proc.returncode in (0, 1), proc.stderr[-2000:]
    assert "validated partitions: 2 (resumed past 0)" in proc.stdout
    with open(os.path.join(out, "keep.txt")) as f:
        assert f.read() == "not the gate's"
    assert not os.path.exists(os.path.join(out, "violations", "rules_hash=stale"))
    # the old manifest rows are gone: only this run's two commits remain
    with open(os.path.join(out, "manifest.jsonl")) as f:
        assert sorted(json.loads(line)["partition"] for line in f) == ["p0", "p1"]


def test_spark_submit_py_files_deployment(tmp_path, spark):
    """The north rule's literal shipping mode, end to end: build
    zparse_spark.zip, copy validate.py AWAY from the repo (so the
    package can only resolve from --py-files), spark-submit with a
    user check, and read the verdict sinks back. Proves the engine has
    no hidden dependency on running from the repo checkout."""
    import shutil
    import subprocess

    from scripts.package import build

    zip_path = str(tmp_path / "zparse_spark.zip")
    build(zip_path)
    driver = str(tmp_path / "validate.py")
    shutil.copy("/root/repo/validate.py", driver)

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")

    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=2",
            "--py-files", zip_path,
            driver,
            "--documents", dpath,
            "--out", out,
            "--check", "K1:span:offset >= 0",
            "--warn-rules", "D1",
        ],
        capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),  # NOT the repo — imports must come from the zip
    )
    assert proc.returncode == 1, proc.stderr[-3000:]  # d5's K1 violation is error-severity
    import duckdb

    rollup = {
        p: (ok, ne, nw)
        for p, ok, ne, nw in duckdb.sql(
            f"SELECT partition, passed, n_error_cells, n_warn_cells "
            f"FROM '{out}/partition_verdicts/*.parquet'"
        ).fetchall()
    }
    assert rollup["p1"][0] is False and rollup["p1"][1] >= 1


def test_cli_waivers_and_overlap_flag(tmp_path, spark):
    """--waivers suppresses matched violations from the verdict grid and
    the exit code while writing them to waived_violations/; expired
    waivers don't apply. --check-span-overlap adds S9 to the grid."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    wpath = str(tmp_path / "waivers")
    spark.createDataFrame(
        [
            ("w1", "K1", None, None, "spanless docs acknowledged", "2027-01-01"),
            ("w2", "K3", None, None, "expired", "2026-01-01"),
        ],
        "waiver_id string, rule_id string, partition string, doc_id string, "
        "reason string, expires_at string",
    ).write.parquet(wpath)
    out = str(tmp_path / "out")
    args = [
        _sys.executable, "/root/repo/validate.py",
        "--documents", dpath, "--out", out,
        "--check", "K1:doc:spans IS NOT NULL AND size(spans) >= 1",
        "--check", "K3:span:offset >= 0",
        "--waivers", wpath, "--as-of", "2026-08-18",
        "--check-span-overlap",
        "--master", "local[2]",
    ]
    proc = subprocess.run(args, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    # K1 is fully waived but K3 (expired waiver) still fails d5's cell
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "waived: 2" in proc.stdout
    waived = duckdb.sql(
        f"SELECT doc_id, rule_id, waiver_id, reason FROM '{out}/waived_violations/*.parquet' ORDER BY doc_id"
    ).fetchall()
    assert waived == [
        ("d3", "K1", "w1", "spanless docs acknowledged"),
        ("d4", "K1", "w1", "spanless docs acknowledged"),
    ]
    cells = {
        (p, r): ok
        for p, r, ok in duckdb.sql(
            f"SELECT partition, rule_id, passed FROM '{out}/verdicts/*.parquet'"
        ).fetchall()
    }
    # the waived rule's cells PASS; the unwaived K3 cell fails; S9 is in
    # the grid (flag respected) and passes on this corpus
    assert cells[("p1", "K1")] is True
    assert cells[("p1", "K3")] is False
    assert cells[("p0", "S9")] is True and cells[("p1", "S9")] is True


def test_cli_sample_screening_mode(tmp_path, spark):
    """--sample-fraction runs the Wilson screening pass instead of the
    full pack: sampled_rates/ written, exit code keys on statistically
    confident breaches (fraction=1 makes the planted K1 breach
    confident; a clean corpus exits 0)."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    args = [
        _sys.executable, "/root/repo/validate.py",
        "--documents", dpath, "--out", out,
        "--check", "K1:doc:spans IS NOT NULL AND size(spans) >= 1",
        "--sample-fraction", "1.0",
        "--master", "local[2]",
    ]
    proc = subprocess.run(args, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert "statistically confident breach" in proc.stdout
    rows = duckdb.sql(
        f"SELECT rule_id, n_violating, ci_lo FROM '{out}/sampled_rates/*.parquet' "
        "WHERE partition = 'p1' AND rule_id = 'K1'"
    ).fetchall()
    assert rows and rows[0][1] == 2 and rows[0][2] > 0  # d3+d4 breach K1
    # no full-pack sinks in screening mode
    import os

    assert not os.path.exists(f"{out}/verdicts")


def test_cli_repair_flag(tmp_path, spark):
    """--repair writes the canonical repaired table + action log next to
    the validation sinks."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = _fixture(spark)
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [
            _sys.executable, "/root/repo/validate.py",
            "--documents", dpath, "--out", out, "--repair",
            "--master", "local[2]",
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode in (0, 1), proc.stderr[-2000:]
    n = duckdb.sql(f"SELECT count(*) FROM '{out}/repaired_documents/*.parquet'").fetchone()[0]
    assert n == 5  # every doc row survives (repair never drops documents)
    log = duckdb.sql(
        f"SELECT action, rule_id FROM '{out}/repair_log/*.parquet'"
    ).fetchall()
    # d5's negative offset isn't a repairable class; the fixture's only
    # canonical repairs are compaction-level — log may be empty, but the
    # sink must exist and parse
    assert isinstance(log, list)


def test_cli_profile_flag(tmp_path, spark):
    """--profile writes the discovery sinks (layout census, file-sizing
    plan, media co-occurrence) next to the validation sinks, readable
    back with DuckDB."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hello", None, 0), ("image", "", "m1", 5),
                    ("image", "", "m2", 9)], "p0"),
            ("d2", [("text", "hola", None, 0), ("image", "", "m1", 5),
                    ("image", "", "m2", 9)], "p0"),
            ("d3", None, "p1"),
        ],
    )
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    r = subprocess.run(
        [_sys.executable, "/root/repo/validate.py",
         "--documents", dpath, "--out", out,
         "--profile", "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode in (0, 1), r.stderr[-2000:]
    lay = dict(duckdb.sql(
        f"SELECT layout, n_docs FROM read_parquet('{out}/layout_profile/*.parquet')"
    ).fetchall())
    assert lay["text>image>image"] == 2 and lay["(none)"] == 1
    plan = duckdb.sql(
        f"SELECT partition, n_docs FROM read_parquet('{out}/file_sizing_plan/*.parquet') ORDER BY 1"
    ).fetchall()
    assert plan == [("p0", 2), ("p1", 1)]
    cooc = duckdb.sql(
        f"SELECT ref_a, ref_b, n_docs_both FROM read_parquet('{out}/media_cooccurrence/*.parquet')"
    ).fetchall()
    assert cooc == [("m1", "m2", 2)]


def test_cli_checksum_flag(tmp_path, spark):
    """--checksum writes a per-partition digest that a re-partitioned
    rerun of the same content reproduces bit-for-bit."""
    import subprocess
    import sys as _sys

    import duckdb

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hello", None, 0)], "p0"),
            ("d2", [("text", "hola", None, 0), ("image", "", "m1", 5)], "p0"),
            ("d3", None, "p1"),
        ],
    )
    d1, d2 = str(tmp_path / "docs1"), str(tmp_path / "docs2")
    docs.coalesce(1).write.parquet(d1)
    docs.repartition(3).write.parquet(d2)  # same content, different layout
    digests = []
    for i, dpath in enumerate((d1, d2)):
        out = str(tmp_path / f"out{i}")
        r = subprocess.run(
            [_sys.executable, "/root/repo/validate.py",
             "--documents", dpath, "--out", out,
             "--checksum", "--master", "local[2]"],
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode in (0, 1), r.stderr[-2000:]
        digests.append(set(map(tuple, duckdb.sql(
            f"SELECT partition, n_rows, xor_hash, sum_hash "
            f"FROM read_parquet('{out}/checksum/*.parquet')"
        ).fetchall())))
    assert digests[0] == digests[1]
    assert {p for p, *_ in digests[0]} == {"p0", "p1"}


def test_cli_text_audit_and_exemplars_flags(tmp_path, spark):
    """X149: --text-audit writes the three text-audit sinks over the
    rendered training text; --exemplars N writes bounded deterministic
    example violations per (partition, rule) cell. After a rerun under
    changed rules, exemplars and the Markdown report read exactly the
    rows the verdict grid counts (this rules_hash only, table-rule sink
    included), and "resumed past" counts partitions committed under
    this run's rules_hash."""
    import itertools
    import os
    import subprocess
    import sys as _sys

    import duckdb

    docs = make_docs(
        spark,
        [
            # offset regression -> S1 violations to exemplify; text mixes
            # Latin + a Cyrillic-a token for the mixed-script audit
            ("d1", [("text", "login to pаypal now", None, 5),
                    ("text", "the and is of", None, 0)], "p0"),
            ("d2", [("text", "plain ascii here", None, 0)], "p0"),
            # cross-partition duplicate id -> one U1 row in each partition
            ("d2", [("text", "plain ascii here", None, 0)], "p1"),
        ],
    )
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    out = str(tmp_path / "out")
    report = str(tmp_path / "report.md")
    validate_py = os.path.join(os.path.dirname(os.path.dirname(__file__)), "validate.py")

    def cli(*flags):
        r = subprocess.run(
            [_sys.executable, validate_py,
             "--documents", dpath, "--out", out,
             "--text-audit", "--exemplars", "2", "--master", "local[2]", *flags],
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode in (0, 1), r.stderr[-2000:]
        return r.stdout

    assert "validated partitions: 2 (resumed past 0)" in cli()
    ms = duckdb.sql(
        f"SELECT partition, n_mixed FROM read_parquet('{out}/text_audits/mixed_script/*.parquet')"
    ).fetchall()
    assert dict(ms)["p0"] == 1
    for sink in ("code_switching", "nfc"):
        rows = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{out}/text_audits/{sink}/*.parquet')"
        ).fetchone()
        assert rows[0] >= 1
    ex = duckdb.sql(
        f"SELECT rule_id, exemplar_rank, n_total FROM read_parquet('{out}/exemplars/*.parquet')"
    ).fetchall()
    assert ex and all(rk <= 2 for _, rk, _ in ex)
    assert any(rule == "S1" for rule, _, _ in ex)

    # changed rules: both partitions re-validate under a new rules_hash,
    # and the old hash's rows stay on disk in their own namespace
    rerun = ("--check-span-overlap", "--report-md", report)
    assert "validated partitions: 2 (resumed past 0)" in cli(*rerun)
    grid = dict(
        ((p, rule), n)
        for p, rule, n in duckdb.sql(
            f"SELECT partition, rule_id, violation_count "
            f"FROM read_parquet('{out}/verdicts/*.parquet') WHERE NOT passed"
        ).fetchall()
    )
    cells = duckdb.sql(
        f"SELECT DISTINCT partition, rule_id, n_total "
        f"FROM read_parquet('{out}/exemplars/*.parquet')"
    ).fetchall()
    assert {(p, rule): n for p, rule, n in cells} == grid
    assert grid[("p0", "S1")] == 1
    assert grid[("p0", "U1")] == grid[("p1", "U1")] == 1
    with open(report) as fh:
        md = fh.read()
    lines = md.splitlines()
    after = lines[lines.index("- **S1** @ `p0` — 1 violation(s)") + 1:]
    assert len(list(itertools.takewhile(lambda ln: ln.startswith("  - "), after))) == 1
    assert "validated partitions: 0 (resumed past 2)" in cli(*rerun)


def test_expectation_suite_verdicts_and_contract(spark):
    """All seven kinds verified on a hand table (dup key, null rate
    over bound, median in band, row count over, bad value, min ok, max
    over); unknown kind and unknown table raise at plan time."""
    import pytest

    from zparse_spark.operators.expectations import expectation_suite

    o = spark.createDataFrame(
        [(1, "O", 100.0), (2, "F", 250.0), (3, "X", None), (3, "O", 900.0)],
        "k long, status string, price double",
    )
    spec = [
        {"rule_id": "E1", "table": "o", "kind": "unique", "column": "k"},
        {"rule_id": "E2", "table": "o", "kind": "null_rate_max",
         "column": "price", "max_rate": 0.2},
        {"rule_id": "E3", "table": "o", "kind": "quantile_band",
         "column": "price", "p": 0.5, "lo": 100, "hi": 300},
        {"rule_id": "E4", "table": "o", "kind": "row_count_between", "lo": 1, "hi": 3},
        {"rule_id": "E5", "table": "o", "kind": "accepted_values",
         "column": "status", "values": ["O", "F"]},
        {"rule_id": "E6", "table": "o", "kind": "min_at_least",
         "column": "price", "lo": 0},
        {"rule_id": "E7", "table": "o", "kind": "max_at_most",
         "column": "price", "hi": 500},
    ]
    out = {r["rule_id"]: r for r in expectation_suite({"o": o}, spec).collect()}
    assert out["E1"]["observed"] == 1.0 and out["E1"]["passed"] is False
    assert out["E2"]["observed"] == 0.25 and out["E2"]["passed"] is False
    assert out["E3"]["observed"] == 250.0 and out["E3"]["passed"] is True
    assert out["E4"]["observed"] == 4.0 and out["E4"]["passed"] is False
    assert out["E5"]["observed"] == 1.0 and out["E5"]["passed"] is False
    assert out["E6"]["passed"] is True and out["E7"]["passed"] is False

    with pytest.raises(ValueError, match="unknown expectation kind"):
        expectation_suite({"o": o}, [{"rule_id": "X", "table": "o", "kind": "nope"}])
    with pytest.raises(ValueError, match="unknown table"):
        expectation_suite({"o": o}, [{"rule_id": "X", "table": "zz", "kind": "unique",
                                      "column": "k"}])


def test_expectation_suite_composite_unique(spark):
    """Composite-key uniqueness: (a, b) pairs duplicate once -> one
    dup row observed; rows with ANY null key part are excluded from
    both counts (the count(DISTINCT (a,b)) SQL-twin convention)."""
    from zparse_spark.operators.expectations import expectation_suite

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2), (2, None), (None, 1)],
        "a long, b long",
    )
    out = expectation_suite(
        {"t": df},
        [{"rule_id": "U", "table": "t", "kind": "unique", "column": ["a", "b"]}],
    ).collect()[0]
    assert out["column"] == "a,b"
    assert out["observed"] == 1.0 and out["passed"] is False


def test_grouped_expectation_suite_names_worst_group(spark):
    """One group with 100% nulls must fail the suite AND be named as
    worst_group while the pooled rate would pass; a healthy spec line
    on the same pass stays green. Unknown kind raises."""
    import pytest

    from zparse_spark.operators.expectations import grouped_expectation_suite

    rows = (
        [("a", "en", 100)] * 9 + [("a", None, 100)]
        + [("b", None, 500)] * 5
    )
    df = spark.createDataFrame(rows, "src string, lang string, n long")
    spec = [
        {"rule_id": "G1", "table": "t", "by": "src", "kind": "null_rate_max",
         "column": "lang", "max_rate": 0.2},
        {"rule_id": "G2", "table": "t", "by": "src", "kind": "row_count_min",
         "min_rows": 3},
        {"rule_id": "G3", "table": "t", "by": "src", "kind": "mean_between",
         "column": "n", "lo": 50.0, "hi": 600.0},
    ]
    out = {r["rule_id"]: r for r in grouped_expectation_suite({"t": df}, spec).collect()}
    g1 = out["G1"]
    assert g1["passed"] is False and g1["worst_group"] == "b"
    assert g1["worst_observed"] == 1.0 and g1["n_failing"] == 1
    assert out["G2"]["passed"] is True and out["G3"]["passed"] is True

    with pytest.raises(ValueError, match="unknown grouped"):
        grouped_expectation_suite({"t": df}, [{"rule_id": "X", "table": "t",
                                               "by": "src", "kind": "nope"}])


def test_cli_suite_flag_gates_exit_code(tmp_path, spark):
    """--suite runs flat + grouped expectations against the documents
    table and extras, writes expectations/ sinks, and a failed
    expectation fails the exit code even when every rule cell passes;
    a passing suite leaves exit 0."""
    import json as _json
    import subprocess
    import sys as _sys

    import duckdb

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "clean a", None, 0)], "p0"),
            ("d2", [("text", "clean b", None, 5)], "p0"),
        ],
    )
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    extra = spark.createDataFrame(
        [("s1", 10), ("s1", 20), ("s2", None)], "src string, v long"
    )
    epath = str(tmp_path / "extra")
    extra.write.parquet(epath)

    spec = [
        {"rule_id": "E1", "table": "documents", "kind": "unique",
         "column": "doc_id"},
        {"rule_id": "E2", "table": "extra", "kind": "row_count_between",
         "lo": 1, "hi": 2},  # 3 rows -> FAILS
        {"rule_id": "G1", "table": "extra", "by": "src",
         "kind": "null_rate_max", "column": "v", "max_rate": 0.5},  # s2 fails
    ]
    spath = str(tmp_path / "suite.json")
    with open(spath, "w") as fh:
        _json.dump(spec, fh)

    out = str(tmp_path / "out")
    r = subprocess.run(
        [_sys.executable, "/root/repo/validate.py",
         "--documents", dpath, "--out", out,
         "--suite", spath, "--suite-table", f"extra={epath}",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 1, r.stderr[-2000:]
    assert "failed expectations: 2" in r.stdout
    flat = dict(duckdb.sql(
        f"SELECT rule_id, passed FROM read_parquet('{out}/expectations/*.parquet')"
    ).fetchall())
    assert flat == {"E1": True, "E2": False}
    grp = duckdb.sql(
        f"SELECT rule_id, worst_group, passed FROM "
        f"read_parquet('{out}/expectations_grouped/*.parquet')"
    ).fetchall()
    assert grp == [("G1", "s2", False)]

    # green suite -> exit 0
    with open(spath, "w") as fh:
        _json.dump([spec[0]], fh)
    out2 = str(tmp_path / "out2")
    r2 = subprocess.run(
        [_sys.executable, "/root/repo/validate.py",
         "--documents", dpath, "--out", out2,
         "--suite", spath, "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
