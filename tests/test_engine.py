"""End-to-end pass/fail matrix test — the fixture-directory contract
(tests/fixtures_test.rs:5-37) at table scale: golden verdicts derived
from the generator's _fixture_class labels must match the engine."""

from __future__ import annotations

from pyspark.sql import functions as F

from zparse_spark.plans.engine import ValidationConfig, ValidationEngine
from zparse_spark.sources.datagen import generate_documents, generate_media_catalog


def test_verdict_matrix_matches_golden(spark):
    docs = generate_documents(spark, n_docs=400, seed=42, n_partitions=4)
    cat = generate_media_catalog(spark)
    eng = ValidationEngine()
    res = eng.validate(docs.drop("_fixture_class"), cat)

    got = {
        (r["partition"], r["rule_id"]): (r["passed"], r["violation_count"])
        for r in res.verdicts.collect()
    }

    # golden: which (partition, rule) cells must fail, from the labels
    labeled = docs.select(
        "partition", "doc_id", "_fixture_class", F.size("spans").alias("n_spans")
    ).collect()
    expect_fail = set()
    per_class_rules = {
        "offset_regression": ["S1"],
        "null_kind": ["S2"],
        # bad_kind docs violate S2 AND S8 (non-text kind with null media_ref)
        "bad_kind": ["S2", "S8"],
        "oversize_spans": ["S3"],
        "control_chars": ["S5"],
        "bad_escape": ["S6"],
        "bad_unicode": ["S7"],
        "dangling_media": ["R1"],
        "text_with_media_ref": ["S8"],
        "dup_doc_id": ["U1"],
    }
    from collections import Counter

    expected_counts: Counter = Counter()
    for r in labeled:
        for rule in per_class_rules.get(r["_fixture_class"], []):
            expect_fail.add((r["partition"], rule))
            # control_chars plants '\n' in span 0 AND '\x01' in span 1
            # (when the doc has one) — two S5 rows per doc, at line 1
            # and line 2 respectively
            n = 2 if rule == "S5" and r["n_spans"] >= 2 else 1
            expected_counts[(r["partition"], rule)] += n

    for cell, (passed, count) in got.items():
        if cell[1] in ("D1", "S4"):  # not planted at default caps
            assert passed, cell
            continue
        if cell in expect_fail:
            assert not passed, cell
            assert count == expected_counts[cell], cell
        else:
            assert passed and count == 0, cell

    # every (partition × rule) cell is present — dense grid
    n_parts = docs.select("partition").distinct().count()
    assert len(got) == n_parts * 11


def test_engine_single_rule_toggles(spark):
    docs = generate_documents(spark, n_docs=100, seed=1, n_partitions=2).drop("_fixture_class")
    eng = ValidationEngine(
        ValidationConfig(enable_uniqueness=False, enable_referential=False, enable_drift=False)
    )
    res = eng.validate(docs)
    rule_ids = {r["rule_id"] for r in res.verdicts.select("rule_id").distinct().collect()}
    assert rule_ids == {"S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8"}


def test_metrics_shape(spark):
    docs = generate_documents(spark, n_docs=100, seed=1, n_partitions=2).drop("_fixture_class")
    m = ValidationEngine().metrics(docs)
    rows = {r["partition"]: r for r in m.collect()}
    assert sum(r["n_docs"] for r in rows.values()) >= 100
    for r in rows.values():
        assert r["n_spans"] >= r["n_docs"]
        assert r["max_spans_per_doc"] >= r["avg_spans_per_doc"] >= 1.0


def test_hot_key_skew_uniqueness(spark):
    """The skew tier: one doc_id replicated 500× must still dedup
    correctly through the salted two-phase aggregate."""
    docs = generate_documents(
        spark, n_docs=50, seed=3, n_partitions=2, hot_dup_copies=500
    ).drop("_fixture_class")
    from zparse_spark.operators.rules import uniqueness_violations

    v = uniqueness_violations(docs)
    hot = v.filter(F.col("doc_id") == "0")
    assert hot.count() == 501  # original + 500 replicas, one violation row each


def test_no_python_udf_in_default_plan(spark):
    """Vectorization discipline (SURVEY.md §7.3): row-at-a-time Python
    (BatchEvalPython) is never allowed; since round 4 the default pack's
    one sanctioned Python stage is the Arrow-batched Pos line/col
    derivation (operators/rules.py::span_start_positions — measured 2.4×
    an interpreted Catalyst fold; see
    test_plans.py::test_full_pack_python_eval_contract)."""
    docs = generate_documents(spark, n_docs=10, seed=1).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    plan = ValidationEngine().violations(docs, cat)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") <= 1  # only the Pos stage


def test_referential_auto_falls_back_to_smj_for_large_catalog(spark):
    """'auto' must not force-broadcast an over-threshold catalog: the
    fused-R1 path is skipped and the standalone merge-hinted referential
    branch still finds the dangling ref."""
    from tests.conftest import make_docs

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hello", None, 0), ("image", "", "media_00001", 5)], "p0"),
            ("d2", [("text", "world", None, 0), ("image", "", "ghost_ref", 5)], "p0"),
        ],
    )
    cat = spark.range(100).selectExpr(
        "concat('media_', lpad(CAST(id AS STRING), 5, '0')) AS media_ref"
    )
    eng = ValidationEngine(
        ValidationConfig(
            enable_drift=False, enable_uniqueness=False, broadcast_max_catalog_rows=10
        )
    )
    viol = eng.violations(docs, cat)
    r1 = [(r["doc_id"], r["message"]) for r in viol.filter("rule_id = 'R1'").collect()]
    assert r1 == [("d2", "dangling media_ref: ghost_ref")]
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan


def test_auto_probe_does_bounded_work_on_huge_catalog(spark):
    """The 'auto' fuse probe must be limit(threshold+1).count(), not
    count(): with a catalog whose full count is ~2^40 rows (hours of
    work), deciding NOT to broadcast must still return immediately."""
    import time

    from tests.conftest import make_docs

    docs = make_docs(
        spark, [("d1", [("text", "hi", None, 0)], "p0")]
    )
    huge = spark.range(1 << 40).selectExpr(
        "concat('media_', id) AS media_ref"
    ).filter("media_ref IS NOT NULL")
    eng = ValidationEngine(
        ValidationConfig(
            enable_drift=False, enable_uniqueness=False, broadcast_max_catalog_rows=100
        )
    )
    t0 = time.perf_counter()
    viol = eng.violations(docs, huge)  # eager probe happens here
    assert time.perf_counter() - t0 < 30
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan  # fell back, did not fuse/broadcast


def test_r1_fused_and_standalone_smj_agree(spark):
    """The engine picks one of two R1 shapes from the catalog probe:
    fused into the span stage (catalog under broadcast_max_catalog_rows)
    or the standalone sort-merge anti-join (threshold -1, below any
    catalog's size: an empty catalog passes a threshold of 0). Both must
    emit the same R1 rows, including for an empty catalog where every
    ref dangles."""
    from tests.conftest import make_docs

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hi", None, 0), ("image", "", "media_00001", 2)], "p0"),
            ("d2", [("image", "", "ghost", 0), ("audio", "", "media_00002", 1)], "p0"),
            ("d3", [("video", "", "ghost", 0)], "p1"),
        ],
    )
    cat = spark.range(10).selectExpr(
        "concat('media_', lpad(CAST(id AS STRING), 5, '0')) AS media_ref"
    )

    def r1(catalog, threshold):
        eng = ValidationEngine(
            ValidationConfig(
                enable_uniqueness=False, enable_drift=False,
                broadcast_max_catalog_rows=threshold,
            )
        )
        viol = eng.violations(docs, catalog).filter("rule_id = 'R1'")
        plan = viol._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in viol.collect()), "SortMergeJoin" in plan

    fused, fused_smj = r1(cat, 1_000_000)
    standalone, standalone_smj = r1(cat, -1)
    assert fused == standalone and len(fused) == 2
    assert not fused_smj and standalone_smj
    # over an empty catalog the optimizer drops the anti-join either way
    empty = cat.filter("false")
    fused, _ = r1(empty, 1_000_000)
    standalone, _ = r1(empty, -1)
    assert fused == standalone and len(fused) == 4


def test_rules_hash_pinned():
    """rules_hash keys the resume manifest: a change re-validates every
    committed partition, so its value is pinned."""
    assert ValidationConfig().rules_hash() == "470f0255eda4dab5"
    assert (
        ValidationConfig(enable_media_decode=True, broadcast_max_catalog_rows=256).rules_hash()
        == "537e7a7c1d18ecd2"
    )


# py4j round trips of one violations() build below: 676 with plan
# construction in SQL text and call-site capture off, so ~1.5x headroom.
# With capture on and Column-built rules it was 6,043.
PLAN_PY4J_BUDGET = 1000


def test_plan_build_py4j_budget(spark):
    """Driver-side plan construction is a fixed cost per gate call, paid
    in py4j round trips before any data moves: count them for one
    violations() build (fused R1, default rules plus M1), catalog probe
    job included."""
    import threading

    from tests.conftest import make_docs
    from zparse_spark.multimodal import decode_verdicts

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hi", None, 0), ("image", "", "m1", 5)], "p0"),
            ("d2", [("image", "", "m2", 0)], "p1"),
        ],
    )
    cat = spark.createDataFrame([("m1",)], "media_ref string")
    pay = spark.createDataFrame(
        [("m1", "image", bytearray(b"xx"))],
        "media_ref string, media_kind string, payload binary",
    )
    eng = ValidationEngine(ValidationConfig(enable_media_decode=True))
    mv = decode_verdicts(pay)
    client = spark.sparkContext._gateway._gateway_client
    send, calls, me = client.send_command, [], threading.get_ident()

    def counting(*args, **kwargs):
        # py4j's finalizer thread sends object-release commands through
        # the same client whenever Python GC runs: not this build's calls
        if threading.get_ident() == me:
            calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        eng.violations(docs, cat, media_verdicts=mv)
    finally:
        del client.send_command
    assert len(calls) <= PLAN_PY4J_BUDGET, len(calls)
    # get_spark turns PySpark's per-op call-site capture off
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# Spark jobs and stages of one bulk gate below (violations -> parquet
# sink -> verdict grid, R1 fused, default rules): 14 jobs and 22
# stages, plus one of each as headroom.
BULK_JOB_BUDGET = 15
BULK_STAGE_BUDGET = 23


def test_bulk_gate_job_and_stage_budget(spark, tmp_path):
    """Each Spark job and stage is a fixed cost per gate call: count those
    of one bulk gate (the catalog probe, the sink write, the grid) through
    a statusTracker job group, and check none ran outside the group."""
    from zparse_spark.schema import VIOLATION_SCHEMA

    gen = generate_documents(spark, n_docs=100, seed=5, n_partitions=2).drop("_fixture_class")
    gen.write.parquet(str(tmp_path / "docs"))
    generate_media_catalog(spark).write.parquet(str(tmp_path / "catalog"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    cat = spark.read.parquet(str(tmp_path / "catalog"))
    eng = ValidationEngine()
    sink = str(tmp_path / "sink")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()  # the status store lags the scheduler
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("bulk_gate_job_budget", "bulk gate")
    try:
        eng.violations(docs, cat).write.mode("overwrite").parquet(sink)
        grid = eng.verdicts(docs, spark.read.schema(VIOLATION_SCHEMA).parquet(sink)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert len(grid) == 2 * len(eng.active_rule_ids())
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    jobs = tracker.getJobIdsForGroup("bulk_gate_job_budget")
    stages = {st for j in jobs for st in tracker.getJobInfo(j).stageIds}
    assert len(jobs) <= BULK_JOB_BUDGET, len(jobs)
    assert len(stages) <= BULK_STAGE_BUDGET, len(stages)


def test_verdict_diff_statuses(spark):
    """All five diff statuses from hand-built verdict matrices."""
    from zparse_spark.plans.engine import verdict_diff

    cols = ["partition", "rule_id", "passed", "violation_count"]
    old = spark.createDataFrame(
        [("p0", "S1", True, 0), ("p0", "S2", False, 3), ("p0", "S3", False, 2),
         ("p1", "S1", True, 0), ("p2", "S1", True, 0)],
        cols,
    )
    new = spark.createDataFrame(
        [("p0", "S1", False, 4), ("p0", "S2", True, 0), ("p0", "S3", False, 7),
         ("p1", "S1", True, 0), ("p3", "S1", True, 0)],
        cols,
    )
    got = {(r["partition"], r["rule_id"]): r["status"] for r in verdict_diff(old, new).collect()}
    assert got == {
        ("p0", "S1"): "regressed",
        ("p0", "S2"): "fixed",
        ("p0", "S3"): "changed",
        ("p2", "S1"): "removed",
        ("p3", "S1"): "appeared",
    }


def test_media_decode_rule_in_engine(spark):
    """enable_media_decode: referenced payloads that are corrupt or
    absent yield M1 rows per referencing span; the dense verdict grid
    gains the M1 cell; clean payloads pass."""
    from tests.conftest import make_docs
    from zparse_spark.functions import media_codecs
    from zparse_spark.multimodal import decode_verdicts

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hi", None, 0), ("image", "", "m_good", 5)], "p0"),
            ("d2", [("image", "", "m_bad", 0), ("image", "", "m_gone", 5)], "p0"),
        ],
    )
    good = media_codecs.bmp_encode(media_codecs.synth_image(1))
    pay = spark.createDataFrame(
        [("m_good", "image", bytearray(good)), ("m_bad", "image", bytearray(good[:20]))],
        "media_ref string, media_kind string, payload binary",
    )
    eng = ValidationEngine(
        ValidationConfig(
            enable_uniqueness=False, enable_referential=False, enable_drift=False,
            enable_media_decode=True,
        )
    )
    viol = eng.violations(docs, media_verdicts=decode_verdicts(pay))
    m1 = sorted(
        (r["doc_id"], r["span_pos"], r["message"]) for r in viol.filter("rule_id='M1'").collect()
    )
    assert m1 == [
        ("d2", 0, "media payload truncated: m_bad"),
        ("d2", 1, "media payload missing: m_gone"),
    ]
    verd = {(r["partition"], r["rule_id"]): r["passed"] for r in eng.verdicts(docs, viol).collect()}
    assert verd[("p0", "M1")] is False
    # hash changes with the flag (resume must re-validate)
    assert eng.config.rules_hash() != ValidationEngine().config.rules_hash()


def test_f1_media_kind_fd_in_engine(spark):
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

    docs = spark.createDataFrame(
        [
            ("p0", "a", [("image", None, "m1", 0)]),
            ("p0", "b", [("audio", None, "m1", 0)]),   # m1 inconsistent
            ("p1", "c", [("video", None, "m2", 0)]),
        ],
        "partition string, doc_id string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    eng = ValidationEngine(
        ValidationConfig(
            enable_uniqueness=False, enable_referential=False, enable_drift=False,
            enable_media_kind_fd=True,
        )
    )
    viol = eng.violations(docs)
    f1 = sorted(r["doc_id"] for r in viol.filter("rule_id='F1'").collect())
    assert f1 == ["a", "b"]
    verd = {(r["partition"], r["rule_id"]): r["passed"] for r in eng.verdicts(docs, viol).collect()}
    assert verd[("p0", "F1")] is False and verd[("p1", "F1")] is True
    # table-wide on resume: include_table_rules=False must NOT run F1
    assert eng.violations(docs, include_table_rules=False).filter("rule_id='F1'").count() == 0
    assert eng.table_violations(docs).filter("rule_id='F1'").count() == 2
    # hash changes with the flag (resume must re-validate)
    assert eng.config.rules_hash() != ValidationEngine().config.rules_hash()


def test_quarantine_split(spark):
    from pyspark.sql import functions as F

    from tests.conftest import make_docs
    from zparse_spark.plans.engine import quarantine_split
    from zparse_spark.schema import VIOLATION_SCHEMA

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "ok", None, 0)], "p0"),
            ("d2", [("text", "ok", None, 0)], "p0"),
            ("d2", [("text", "ok", None, 0)], "p1"),  # same id, other partition
            ("d3", [("text", "ok", None, 0)], "p1"),
        ],
    )
    viol = spark.createDataFrame(
        [
            ("p0", "d2", "S5", "InvalidToken", None, None, None, None, "m"),
            ("p1", "d3", "D1", "DriftExceeded", None, None, None, None, "m"),
            (None, None, "U1", "DuplicateKey", None, None, None, None, "table-level"),
        ],
        VIOLATION_SCHEMA,
    )
    clean, quarantined = quarantine_split(docs, viol, rule_ids=["S5", "U1"])
    # attribution is (partition, doc_id): p1's d2 copy stays clean, and
    # d3's D1 row is outside rule_ids; null doc_id rows never quarantine
    assert {(r.partition, r.doc_id) for r in quarantined.collect()} == {("p0", "d2")}
    assert {(r.partition, r.doc_id) for r in clean.collect()} == {
        ("p0", "d1"), ("p1", "d2"), ("p1", "d3")
    }
    # default rule set: every doc-attributable rule quarantines
    c2, q2 = quarantine_split(docs, viol)
    assert {(r.partition, r.doc_id) for r in q2.collect()} == {("p0", "d2"), ("p1", "d3")}
    assert c2.count() + q2.count() == docs.count()


def test_partition_verdicts_severity_policy(spark):
    from zparse_spark.plans.engine import partition_verdicts

    verd = spark.createDataFrame(
        [
            ("p0", "S1", False, 3), ("p0", "S4", False, 2), ("p0", "U1", True, 0),
            ("p1", "S1", True, 0), ("p1", "D1", False, 1),
            ("p2", "S1", True, 0), ("p2", "D1", True, 0),
        ],
        "partition string, rule_id string, passed boolean, violation_count long",
    )
    out = {r.partition: r for r in partition_verdicts(verd, warn_rules=["S4", "D1"]).collect()}
    # p0 fails on S1 (error), its S4 cell is a warning
    assert out["p0"].passed is False
    assert (out["p0"].n_error_cells, out["p0"].n_warn_cells) == (1, 1)
    # p1's only failing cell is warn-severity -> partition passes
    assert out["p1"].passed is True and out["p1"].n_warn_cells == 1
    assert out["p2"].passed is True and out["p2"].n_violations == 0
    # no policy: every failing cell is an error
    strict = {r.partition: r for r in partition_verdicts(verd).collect()}
    assert strict["p1"].passed is False and strict["p1"].n_error_cells == 1


def test_active_rule_ids_reflect_config():
    """active_rule_ids is the single source of truth for which rules a
    config evaluates — the verdict grid and the CLI's --warn-rules
    unknown-rule warning both key off it (a warn-rule naming a rule
    disabled for this run must warn, not silently no-op)."""
    from zparse_spark.operators.rules import CheckConstraint, RuleParams
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

    span = ["S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8"]
    # opt-in rules (S9, M1, F1) stay out of the default grid
    assert ValidationEngine().active_rule_ids() == span + ["U1", "R1", "D1"]

    cfg = ValidationConfig(
        enable_uniqueness=False,
        enable_media_decode=True,
        enable_media_kind_fd=True,
        check_constraints=(
            CheckConstraint("K2", "span", "offset >= 0"),
            CheckConstraint("K1", "doc", "n_spans > 0"),
        ),
    )
    assert ValidationEngine(cfg).active_rule_ids() == span + ["R1", "D1", "M1", "F1", "K1", "K2"]

    # S9 sits right after S1; M1/F1 follow D1; K ids come last, sorted
    cfg = ValidationConfig(
        params=RuleParams(check_span_overlap=True),
        enable_media_decode=True,
        enable_media_kind_fd=True,
        check_constraints=(CheckConstraint("K9", "doc", "true"), CheckConstraint("K0", "doc", "true")),
    )
    assert ValidationEngine(cfg).active_rule_ids() == (
        ["S1", "S9"] + span[1:] + ["U1", "R1", "D1", "M1", "F1", "K0", "K9"]
    )


def test_apply_waivers(spark):
    """Waiver matching: rule_id equality + NULL-as-wildcard scopes,
    expiry against as_of, deterministic min-waiver_id attribution when
    several waivers match, and identical duplicate violations each
    emitting their own waived row."""
    from zparse_spark.plans.engine import apply_waivers

    vrow = lambda part, doc, rule: (part, doc, rule, "K", None, None, None, None, "m")  # noqa: E731
    violations = spark.createDataFrame(
        [
            vrow("p0", "d1", "S8"),   # waived by rule-wide w1
            vrow("p1", "d2", "S8"),   # waived by w1 (and w4: min id wins)
            vrow("p1", "d2", "S8"),   # identical duplicate row — also waived
            vrow("p0", "d3", "S2"),   # kept: w2 scopes S2 to p1
            vrow("p1", "d4", "S2"),   # waived by partition-scoped w2
            vrow("p0", "d5", "S5"),   # kept: w3 expired before as_of
            vrow("p0", None, "D1"),   # table-level NULL doc: wildcard-only match
        ],
        "partition string, doc_id string, rule_id string, kind string, "
        "span_pos int, offset long, line int, col int, message string",
    )
    waivers = spark.createDataFrame(
        [
            ("w1", "S8", None, None, "known media-stripped batch", None),
            ("w2", "S2", "p1", None, "vendor kind backlog", "2026-12-31"),
            ("w3", "S5", None, None, "expired amnesty", "2026-01-01"),
            ("w4", "S8", "p1", "d2", "narrower duplicate waiver", None),
            ("w5", "D1", None, "dX", "doc-scoped never matches NULL doc", None),
        ],
        "waiver_id string, rule_id string, partition string, doc_id string, "
        "reason string, expires_at string",
    )
    kept, waived = apply_waivers(violations, waivers, as_of="2026-08-18")
    assert kept.columns == violations.columns
    assert sorted(
        ((r["partition"], r["doc_id"] or "", r["rule_id"]) for r in kept.collect())
    ) == [
        ("p0", "", "D1"),  # w5 is doc-scoped, NULL doc never equals it
        ("p0", "d3", "S2"),
        ("p0", "d5", "S5"),
    ]
    got = sorted(
        (r["partition"], r["doc_id"], r["rule_id"], r["waiver_id"]) for r in waived.collect()
    )
    assert got == [
        ("p0", "d1", "S8", "w1"),
        ("p1", "d2", "S8", "w1"),  # w1 < w4 — deterministic attribution
        ("p1", "d2", "S8", "w1"),  # the duplicate row survives as its own row
        ("p1", "d4", "S2", "w2"),
    ]
    reasons = {r["waiver_id"]: r["reason"] for r in waived.collect()}
    assert reasons == {"w1": "known media-stripped batch", "w2": "vendor kind backlog"}
    # kept ∪ waived partitions the violation set
    assert kept.count() + waived.count() == violations.count()


def test_sampled_validation(spark):
    """Rate estimation contract: fraction=1.0 degenerates to exact
    counts (p_hat = k/n, Wilson bounds match the closed form), table
    rules are excluded from the grid, and an empty sample yields NULL
    estimates instead of a fabricated rate."""
    import math

    from tests.conftest import make_docs
    from zparse_spark.plans.engine import sampled_validation

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "\x01", None, 0)], "p0"),   # S5
            ("d2", [("text", "ok", None, 0)], "p0"),
            ("d3", [("text", "ok", None, 0)], "p0"),
            ("d4", [("text", "ok", None, 0)], "p0"),
        ],
    )
    eng = ValidationEngine(ValidationConfig(enable_drift=False, enable_referential=False))
    out = sampled_validation(docs, eng, fraction=1.0, seed=3).collect()
    rules = {r["rule_id"] for r in out}
    assert "U1" not in rules and "D1" not in rules and "S5" in rules
    cell = {r["rule_id"]: r for r in out}["S5"]
    assert (cell["n_total_docs"], cell["n_sampled"], cell["n_violating"]) == (4, 4, 1)
    z, n, k = 1.96, 4.0, 1.0
    p = k / n
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)) / denom
    assert cell["p_hat"] == round(p, 6)
    assert cell["ci_lo"] == round(max(0.0, center - half), 6)
    assert cell["ci_hi"] == round(min(1.0, center + half), 6)
    assert cell["est_violating_docs"] == round(p * 4.0, 6)
    # clean rule: k=0 still yields a defined (0, upper>0) interval
    s2 = {r["rule_id"]: r for r in out}["S2"]
    assert s2["p_hat"] == 0.0 and s2["ci_lo"] == 0.0 and s2["ci_hi"] > 0.0
    # empty sample: counts are zero, estimates NULL
    none = sampled_validation(docs, eng, fraction=0.0, seed=3).collect()
    assert all(r["n_sampled"] == 0 and r["p_hat"] is None and r["ci_lo"] is None for r in none)


def test_sampled_validation_feeds_m1_its_verdicts(spark):
    """Screening with M1 on: the payload verdicts reach M1, so at
    fraction=1.0 its cells count exactly the docs with a bad or missing
    payload (d2 has two bad refs and counts once)."""
    from tests.conftest import make_docs
    from zparse_spark.functions import media_codecs
    from zparse_spark.multimodal import decode_verdicts
    from zparse_spark.plans.engine import sampled_validation

    docs = make_docs(
        spark,
        [
            ("d1", [("image", "", "m_good", 0)], "p0"),
            ("d2", [("image", "", "m_bad", 0), ("image", "", "m_gone", 5)], "p0"),
            ("d3", [("image", "", "m_gone", 0)], "p1"),
            ("d4", [("text", "ok", None, 0)], "p1"),
        ],
    )
    good = media_codecs.bmp_encode(media_codecs.synth_image(1))
    pay = spark.createDataFrame(
        [("m_good", "image", bytearray(good)), ("m_bad", "image", bytearray(good[:20]))],
        "media_ref string, media_kind string, payload binary",
    )
    eng = ValidationEngine(
        ValidationConfig(
            enable_uniqueness=False, enable_referential=False, enable_drift=False,
            enable_media_decode=True,
        )
    )
    out = sampled_validation(docs, eng, fraction=1.0, seed=3, media_verdicts=decode_verdicts(pay))
    m1 = {
        r["partition"]: (r["n_total_docs"], r["n_sampled"], r["n_violating"])
        for r in out.filter("rule_id = 'M1'").collect()
    }
    assert m1 == {"p0": (2, 2, 1), "p1": (2, 2, 1)}


def _dangling_doc(spark):
    from tests.conftest import make_docs

    return make_docs(spark, [("d1", [("image", None, "m_dangling", 0)], "p0")])


def test_validate_refuses_referential_without_catalog(spark):
    """R1 on and no catalog: the one-shot gate raises instead of
    reporting an R1 cell that passes without R1 having run."""
    import pytest

    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    with pytest.raises(ValueError, match="media_catalog is None"):
        eng.validate(_dangling_doc(spark))


def test_sampled_validation_refuses_missing_rule_inputs(spark):
    """The screening tier refuses the same way: R1 on without a catalog,
    and M1 on without payload verdicts."""
    import pytest

    from zparse_spark.plans.engine import sampled_validation

    docs = _dangling_doc(spark)
    with pytest.raises(ValueError, match="media_catalog is None"):
        sampled_validation(docs, ValidationEngine(ValidationConfig(enable_drift=False)), 1.0)
    m1 = ValidationEngine(
        ValidationConfig(enable_referential=False, enable_drift=False, enable_media_decode=True)
    )
    with pytest.raises(ValueError, match="media_verdicts is None"):
        sampled_validation(docs, m1, 1.0)
