"""Resume semantics: a rerun validates only uncommitted partitions and
produces no duplicate violations (SURVEY.md §5.2 item 5); table-wide
rules re-evaluate over the full table into their own sink; sinks are
namespaced by rules_hash; the manifest is a driver-local JSONL file and
a URI path is refused."""

from __future__ import annotations

import os

from zparse_spark.plans.engine import ValidationConfig, ValidationEngine
from zparse_spark.plans.manifest import Manifest, run_with_manifest
from zparse_spark.sources.datagen import generate_documents, generate_media_catalog


def test_resume_skips_committed_partitions(spark, tmp_path):
    out = str(tmp_path / "run1")
    docs = generate_documents(spark, n_docs=200, seed=5, n_partitions=4).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))

    first = run_with_manifest(eng, docs, cat, out)
    assert sorted(first) == sorted(
        r["partition"] for r in docs.select("partition").distinct().collect()
    )

    # a FRESH Manifest object (new driver) sees the commits
    m = Manifest(out)
    assert m.committed_partitions(spark, eng.config.rules_hash()) == set(first)
    assert m.as_dataframe(spark).count() == len(first)

    # second run: nothing pending
    second = run_with_manifest(eng, docs, cat, out)
    assert second == []

    # violations written exactly once per partition (both sinks combined)
    viol = Manifest(out).read_violations(spark, eng.config.rules_hash())
    base = eng.violations(docs, cat)
    assert viol.count() == base.count()


def test_partial_manifest_resumes_remainder(spark, tmp_path):
    out = str(tmp_path / "run2")
    docs = generate_documents(spark, n_docs=200, seed=5, n_partitions=4).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    rh = eng.config.rules_hash()

    parts = sorted(r["partition"] for r in docs.select("partition").distinct().collect())
    m = Manifest(out)
    m.commit_many([(parts[0], rh, 0, 0)])  # pretend partition 0 already done

    done = run_with_manifest(eng, docs, cat, out)
    assert sorted(done) == parts[1:]


def test_rules_hash_invalidates_resume(spark, tmp_path):
    out = str(tmp_path / "run3")
    m = Manifest(out)
    m.commit_many([("p000", "stale_hash", 1, 0)])
    eng = ValidationEngine()
    assert m.committed_partitions(spark, eng.config.rules_hash()) == set()


def test_resume_runs_table_rules_over_full_table(spark, tmp_path):
    """A doc_id duplicated across a COMMITTED and a PENDING partition
    must flag BOTH copies on resume: U1 runs table-wide into its own
    sink (violations_table), which is never partition-filtered — the
    committed partition's row is no longer silently lost (round-2
    ADVICE)."""
    from tests.conftest import make_docs

    out = str(tmp_path / "run4")
    span = [("text", "hello world", None, 0)]
    docs = make_docs(
        spark,
        [("a", span, "p0"), ("dup", span, "p0"), ("b", span, "p1"), ("dup", span, "p1")],
    )
    eng = ValidationEngine(ValidationConfig(enable_drift=False, enable_referential=False))
    m = Manifest(out)
    m.commit_many([("p0", eng.config.rules_hash(), 2, 0)])  # p0 committed before the dup landed in p1

    done = run_with_manifest(eng, docs, None, out)
    assert done == ["p1"]
    viol = m.read_violations(spark, eng.config.rules_hash())
    u1 = sorted(
        (r["partition"], r["doc_id"]) for r in viol.filter("rule_id = 'U1'").collect()
    )
    assert u1 == [("p0", "dup"), ("p1", "dup")]


def test_crash_rerun_does_not_duplicate_violations(spark, tmp_path):
    """Simulate dying between the violations write and the manifest
    commit: the rerun re-validates the partition and must REPLACE its
    violation files (dynamic overwrite), not append a second copy."""
    out = str(tmp_path / "run5")
    docs = generate_documents(spark, n_docs=200, seed=5, n_partitions=4).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    rh = eng.config.rules_hash()

    run_with_manifest(eng, docs, cat, out)
    expected = Manifest(out).read_violations(spark, rh).count()

    os.remove(os.path.join(out, "manifest.jsonl"))  # crash: data written, commits lost
    rerun = run_with_manifest(eng, docs, cat, out)
    assert len(rerun) == 4
    got = Manifest(out).read_violations(spark, rh).count()
    assert got == expected


def test_torn_manifest_tail_revalidates_last_partition(spark, tmp_path):
    """A crash mid-append leaves a torn last line in manifest.jsonl. The
    resume skips it, so that partition re-validates; the next commit cuts
    the fragment off instead of gluing its row onto it; the readback
    equals a full run. An unparseable line that is not the last one is
    corruption and still raises."""
    import json

    import pytest

    out = str(tmp_path / "run8")
    docs = generate_documents(spark, n_docs=200, seed=5, n_partitions=4).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    rh = eng.config.rules_hash()

    first = run_with_manifest(eng, docs, cat, out)
    path = os.path.join(out, "manifest.jsonl")
    with open(path, "rb") as f:
        data = f.read()
    torn = json.loads(data.splitlines()[-1])["partition"]
    with open(path, "wb") as f:
        f.write(data[:-20])  # the last row lost its tail mid-write

    assert run_with_manifest(eng, docs, cat, out) == [torn]
    m = Manifest(out)
    assert m.committed_partitions(spark, rh) == set(first)
    full = eng.violations(docs, cat)
    got = m.read_violations(spark, rh).select(*full.columns)
    assert got.count() == full.count()
    assert got.exceptAll(full).count() == 0 and full.exceptAll(got).count() == 0
    assert run_with_manifest(eng, docs, cat, out) == []

    with open(path) as f:
        lines = f.readlines()
    lines[0] = lines[0][:10] + "\n"
    with open(path, "w") as f:
        f.writelines(lines)
    with pytest.raises(ValueError):
        m.committed_partitions(spark, rh)


def test_uri_manifest_path_is_refused(spark, tmp_path, monkeypatch):
    """The manifest is read and written with local file I/O while Spark
    would write the sinks to the URI's filesystem: the local readback
    would find no sink and pass every cell. Refused before any job runs,
    and no local directory named after the scheme appears."""
    import pytest

    from tests.conftest import make_docs

    monkeypatch.chdir(tmp_path)
    docs = make_docs(spark, [("a", [("text", "hi", None, 0)], "p0")])
    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    sc = spark.sparkContext
    sc.setJobGroup("uri_manifest_path", "run_with_manifest")
    try:
        with pytest.raises(ValueError, match="driver-local"):
            run_with_manifest(eng, docs, None, "s3a://b/run")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("uri_manifest_path") == []
    assert os.listdir(tmp_path) == []


def test_referential_without_catalog_is_refused(spark, tmp_path):
    """R1 on and no catalog: every partition would commit with R1
    passing, under the same rules_hash a run with the catalog uses, so
    that run would skip them and never report a dangling media_ref.
    Refused before any job runs, and nothing is written."""
    import pytest

    from tests.conftest import make_docs

    out = str(tmp_path / "run10")
    docs = make_docs(spark, [("d1", [("image", None, "m_dangling", 0)], "p0")])
    eng = ValidationEngine(ValidationConfig(enable_drift=False))
    sc = spark.sparkContext
    sc.setJobGroup("referential_no_catalog", "run_with_manifest")
    try:
        with pytest.raises(ValueError, match="media_catalog is None"):
            run_with_manifest(eng, docs, None, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("referential_no_catalog") == []
    assert not os.path.exists(out)


# Spark jobs of one resume below (one committed partition, one appended):
# 15 with one groupBy of the pending docs giving both the partitions to
# validate and their doc counts, so one job of headroom; 17 when a
# distinct() found the partitions and a second groupBy of the pending
# docs counted them at readback.
RESUME_JOB_BUDGET = 16


def test_run_with_manifest_job_budget(spark, tmp_path):
    """Each Spark job is a fixed cost per resume: count the jobs of one
    run_with_manifest through a statusTracker job group."""
    out = str(tmp_path / "run9")
    docs = generate_documents(spark, n_docs=100, seed=5, n_partitions=2).drop("_fixture_class")
    cat = generate_media_catalog(spark)
    eng = ValidationEngine()
    parts = sorted(r["partition"] for r in docs.select("partition").distinct().collect())
    assert run_with_manifest(eng, docs.filter(docs.partition == parts[0]), cat, out) == parts[:1]

    sc = spark.sparkContext
    sc.setJobGroup("resume_job_budget", "run_with_manifest")
    try:
        assert run_with_manifest(eng, docs, cat, out) == parts[1:]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("resume_job_budget")
    assert len(jobs) <= RESUME_JOB_BUDGET, len(jobs)


def test_rules_hash_change_does_not_mix_stale_violations(spark, tmp_path):
    """After a rule change every partition re-validates under the new
    hash; readback for the new hash must contain ONLY new-rule rows even
    though the old namespace still holds the old files (round-2 ADVICE:
    previously a partition with zero new-rule violations kept stale
    files in the shared directory)."""
    from zparse_spark.operators.rules import RuleParams

    out = str(tmp_path / "run7")
    docs = generate_documents(spark, n_docs=200, seed=5, n_partitions=4).drop("_fixture_class")
    cat = generate_media_catalog(spark)

    strict = ValidationEngine(
        ValidationConfig(params=RuleParams(max_spans=1), enable_drift=False)
    )  # every multi-span doc violates S3
    lax = ValidationEngine(ValidationConfig(enable_drift=False))
    assert strict.config.rules_hash() != lax.config.rules_hash()

    run_with_manifest(strict, docs, cat, out)
    n_strict = Manifest(out).read_violations(spark, strict.config.rules_hash()).count()
    assert n_strict > 0

    run_with_manifest(lax, docs, cat, out)
    lax_viol = Manifest(out).read_violations(spark, lax.config.rules_hash())
    assert lax_viol.filter("rule_id = 'S3'").count() == 0  # no stale strict rows
    # the strict namespace is untouched
    assert Manifest(out).read_violations(spark, strict.config.rules_hash()).count() == n_strict


def test_violation_rate_regressions(spark):
    from zparse_spark.plans.manifest import violation_rate_regressions

    rows = [
        # p0: 1% -> 5% under the same rules: flags (delta .04 > .01, 5x > 2x)
        ("p0", "h1", "done", 1000, 10, "2026-08-01T00:00:00Z"),
        ("p0", "h1", "done", 1000, 50, "2026-08-02T00:00:00Z"),
        # p1: 1% -> 1.5%: ratio < 2 -> no flag
        ("p1", "h1", "done", 1000, 10, "2026-08-01T00:00:00Z"),
        ("p1", "h1", "done", 1000, 15, "2026-08-02T00:00:00Z"),
        # p2: 0 -> 0.5%: below min_delta=0.01 -> noise floor, no flag
        ("p2", "h1", "done", 1000, 0, "2026-08-01T00:00:00Z"),
        ("p2", "h1", "done", 1000, 5, "2026-08-02T00:00:00Z"),
        # p3: first-ever run cannot regress
        ("p3", "h1", "done", 1000, 900, "2026-08-02T00:00:00Z"),
        # p4: jump under a CHANGED rule set -> flagged with rules_changed
        ("p4", "h1", "done", 1000, 10, "2026-08-01T00:00:00Z"),
        ("p4", "h2", "done", 1000, 100, "2026-08-02T00:00:00Z"),
        # p5: three runs; only latest-vs-previous is judged (5% -> 1%: recovery)
        ("p5", "h1", "done", 1000, 50, "2026-08-01T00:00:00Z"),
        ("p5", "h1", "done", 1000, 10, "2026-08-02T00:00:00Z"),
    ]
    m = spark.createDataFrame(
        rows,
        "partition string, rules_hash string, status string, n_docs long, "
        "n_violations long, ts string",
    )
    out = {r.partition: r for r in violation_rate_regressions(m).collect()}
    assert set(out) == {"p0", "p4"}
    p0 = out["p0"]
    assert (p0.prev_rate, p0.rate_now, p0.delta) == (0.01, 0.05, 0.04)
    assert p0.rules_changed is False
    assert out["p4"].rules_changed is True
