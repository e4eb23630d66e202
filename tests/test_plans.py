"""Physical-plan discipline tests: the optimizations SURVEY.md §4 says
come free from Catalyst must actually appear in the executed plans —
pushdown, pruning, broadcast joins, whole-stage codegen, no Python in
the default path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zparse_spark.operators.rules import referential_violations, span_rule_violations
from zparse_spark.plans.engine import ValidationEngine
from zparse_spark.sources.datagen import generate_documents, generate_media_catalog


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    generate_documents(spark, n_docs=400, seed=13, n_partitions=4).drop(
        "_fixture_class"
    ).write.parquet(path)
    return path


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_filter_pushed_to_scan(spark, docs_path):
    docs = spark.read.parquet(docs_path).filter(F.col("partition") == "p001")
    viol = span_rule_violations(docs)
    plan = plan_of(viol)
    assert "PushedFilters: [IsNotNull(partition), EqualTo(partition,p001)]" in plan


def test_column_pruning_reaches_scan(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    metrics = ValidationEngine().metrics(docs)
    plan = plan_of(metrics)
    # metrics touches partition+spans only: doc_id must be pruned out
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and all("doc_id" not in l for l in scan_lines)


def test_referential_broadcast_join(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    cat = generate_media_catalog(spark)
    plan = plan_of(referential_violations(docs, cat, strategy="broadcast"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_referential_smj_hint(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    cat = generate_media_catalog(spark)
    plan = plan_of(referential_violations(docs, cat, strategy="smj"))
    assert "SortMergeJoin" in plan


def test_span_rules_map_only_no_shuffle(spark, docs_path):
    """The span pack must be a single narrow stage: no Exchange in the
    plan, one scan and one posexplode of ``spans``, checks in codegen."""
    from zparse_spark.operators.rules import RuleParams

    docs = spark.read.parquet(docs_path)
    plan = plan_of(span_rule_violations(docs, RuleParams()))
    assert "Exchange" not in plan
    # executedPlan.toString renders WholeStageCodegen stages as "*(n)"
    assert "*(" in plan
    assert plan.count("FileScan") == 1
    assert plan.count("posexplode(") == 1


def test_full_pack_python_eval_contract(spark, docs_path):
    """The default pack's ONLY Python stage is the Arrow-batched Pos
    derivation (never row-at-a-time BatchEvalPython)."""
    docs = spark.read.parquet(docs_path)
    cat = generate_media_catalog(spark)
    default_plan = plan_of(ValidationEngine().violations(docs, cat))
    assert default_plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in default_plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_ivf_topk_plan_discipline(spark, sf_dir):
    """IVF: the probe side must broadcast (corpus is never shuffled for
    the join); the arrow impl is Arrow-batched (ArrowEvalPython), never
    row-at-a-time (BatchEvalPython); the expr impl is Python-free."""
    from zparse_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    expr_plan = plan_of(ivf_topk(emb, q, k=5, impl="expr"))
    assert "BroadcastHashJoin" in expr_plan or "BroadcastExchange" in expr_plan
    assert "BatchEvalPython" not in expr_plan and "ArrowEvalPython" not in expr_plan

    arrow_plan = plan_of(ivf_topk(emb, q, k=5, impl="arrow"))
    assert "ArrowEvalPython" in arrow_plan
    assert "BatchEvalPython" not in arrow_plan


def test_decorrelation_plans(spark, sf_dir):
    """The correlated EXISTS / NOT EXISTS flagships must decorrelate to
    semi/anti joins — never a CartesianProduct, and the anti join keeps
    the outer-column comparison as a join condition."""
    from zparse_spark.queries import all_queries

    qs = all_queries()
    p4 = plan_of(qs["tpch_q4_exists"](spark, sf_dir))
    assert "CartesianProduct" not in p4
    assert "LeftSemi" in p4

    p21 = plan_of(qs["tpch_q21_lite"](spark, sf_dir))
    assert "CartesianProduct" not in p21
    assert "LeftSemi" in p21 and "LeftAnti" in p21


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    """The materialized IVF index must be probed via partition pruning:
    the scan's PartitionFilters carry the cell IN (...) predicate and
    only the probed cell directories are read."""
    from zparse_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    idx = str(tmp_path / "ivf_index")
    cents = write_ivf_index(emb, idx, nlist=16)
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")

    out = ivf_topk_indexed(spark, idx, q, k=5, nprobe=2, nlist=16, centroids=cents)
    plan = plan_of(out)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and any("cell" in l for l in scan)
    # at most nq*nprobe = 6 of 16 cells survive pruning
    import re

    m = re.search(r"cell#\d+ IN \(([^)]*)\)", plan)
    assert m and len(m.group(1).split(",")) <= 6

    # results identical to the unindexed operator on the same codebook
    base = ivf_topk(emb, q, k=5, nprobe=2, nlist=16, centroids=cents)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))


def test_corpus_ops_plan_discipline(spark, docs_path):
    """Round-4 corpus ops keep their scale shapes: hash_sample is a
    map-only pushed-down filter (zero exchanges, pruned scan);
    boilerplate strip and the contamination gate broadcast their small
    sides (no sort-merge join); nothing drops to Python."""
    from zparse_spark.operators.filtering import (
        boilerplate_lines,
        contamination_flags,
        hash_sample,
        strip_boilerplate,
    )

    d = spark.read.parquet(docs_path).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.coalesce(F.col("spans")[0]["text"], F.lit("")).alias("text"),
    )
    sample_plan = plan_of(hash_sample(d.select("doc_id"), 0.3))
    assert "Exchange" not in sample_plan and "EvalPython" not in sample_plan

    strip_plan = plan_of(strip_boilerplate(d, boilerplate_lines(d, min_docs=5)))
    assert "SortMergeJoin" not in strip_plan and "EvalPython" not in strip_plan
    assert "BroadcastHashJoin" in strip_plan

    cont_plan = plan_of(
        contamination_flags(d, d.filter(F.col("doc_id").cast("long") % 97 == 0))
    )
    assert "SortMergeJoin" not in cont_plan and "EvalPython" not in cont_plan
    assert "BroadcastHashJoin" in cont_plan


def test_new_drift_and_repetition_plan_discipline(spark, docs_path):
    """KS drift never sorts the data rows globally (windows partition by
    group; the only unpartitioned window runs over the n_bins-row global
    CDF) and broadcasts the bin grid + global side. repetition_signals
    is exactly one Arrow batch eval, no shuffle. drift_scores (PSI+KL)
    stays HOF/codegen — no Python eval anywhere."""
    from zparse_spark.functions.text import repetition_signals
    from zparse_spark.operators.rules import drift_scores
    from zparse_spark.operators.stats import ks_drift_scores

    docs = spark.read.parquet(docs_path)

    ks = ks_drift_scores(
        docs.select(
            F.col("partition").alias("grp"),
            F.size(F.coalesce(F.col("spans"), F.array())).cast("double").alias("v"),
        ),
        "v",
        "grp",
        lo=0.0,
        hi=16.0,
        n_bins=16,
    )
    ks_plan = plan_of(ks)
    assert "EvalPython" not in ks_plan
    assert "BroadcastExchange" in ks_plan
    # every Sort with a global Exchange partner would show as
    # 'Exchange rangepartitioning' — the global-sort shape KS must avoid
    assert "rangepartitioning" not in ks_plan

    rep = docs.select(
        "doc_id",
        repetition_signals(F.coalesce(F.col("spans")[0]["text"], F.lit(""))).alias("s"),
    )
    rep_plan = plan_of(rep)
    assert rep_plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in rep_plan

    drift_plan = plan_of(drift_scores(docs))
    assert "EvalPython" not in drift_plan


def test_round4_final_ops_plan_discipline(spark, docs_path):
    """FD check: pure-JVM (no Python eval), no global sort (the example
    window partitions by the determinant), and the violating-key semi
    join broadcasts the small counts side. snapshot_diff: the full-outer
    join carries only (id, fingerprint) — the plan must not reference
    payload columns after the scans. heavy_hitters: exactly one
    MapInPandas (the per-partition MG sketch); the recount side joins
    the candidate set as a broadcast."""
    from zparse_spark.operators.canonical import snapshot_diff
    from zparse_spark.operators.rules import functional_dependency_violations
    from zparse_spark.operators.stats import heavy_hitters

    docs = spark.read.parquet(docs_path)

    fd = functional_dependency_violations(
        docs.select("partition", F.col("doc_id").alias("y")), "partition", "y"
    )
    fd_plan = plan_of(fd)
    assert "EvalPython" not in fd_plan
    assert "rangepartitioning" not in fd_plan

    diff = snapshot_diff(docs, docs)
    diff_plan = plan_of(diff)
    assert "EvalPython" not in diff_plan
    # the join shuffles on the bare id (the md5 fingerprint is computed
    # below the Exchange, so only (id, 16-byte hash) rides the wire)
    assert "hashpartitioning(_id" in diff_plan

    hh = heavy_hitters(docs.select(F.col("partition").alias("v")), "v", k=4)
    hh_plan = plan_of(hh)
    assert hh_plan.count("MapInPandas") == 1
    assert "BroadcastExchange" in hh_plan


def test_vocabulary_plan_discipline(spark, docs_path):
    """top_n compiles to TakeOrderedAndProject (never a global Sort of
    the vocabulary); the tf+count-distinct aggregate stays multi-phase
    JVM aggregation; no Python eval anywhere."""
    from zparse_spark.functions.text import build_vocabulary

    docs = spark.read.parquet(docs_path).select(
        "doc_id", F.coalesce(F.col("spans")[0]["text"], F.lit("")).alias("text")
    )
    vocab = build_vocabulary(docs, min_df=2, top_n=50)
    plan = plan_of(vocab)
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan
    assert "EvalPython" not in plan
    # no global sort: rangepartitioning would betray a full-vocabulary sort
    assert "rangepartitioning" not in plan


def test_continuation_ops_plan_discipline(spark, docs_path):
    """K-rules: map-only (no Exchange) and Python-free even with several
    doc+span checks stacked. cap_per_group: exactly one hash-partition
    Exchange, no rangepartitioning (rank, not global sort).
    quarantine_split: both outputs JVM-only; the violation-key side
    joins back without a range sort. iqr_outliers: two aggregation
    passes, fences via BroadcastExchange, no Python."""
    from zparse_spark.operators.filtering import cap_per_group
    from zparse_spark.operators.rules import CheckConstraint, check_constraint_violations
    from zparse_spark.operators.stats import iqr_outliers
    from zparse_spark.plans.engine import quarantine_split

    docs = spark.read.parquet(docs_path)

    checks = check_constraint_violations(
        docs,
        [
            CheckConstraint("K1", "doc", "total_text_bytes <= 1000"),
            CheckConstraint("K2", "span", "offset >= 0"),
            CheckConstraint("K3", "span", "kind IS NOT NULL"),
        ],
    )
    kp = plan_of(checks)
    assert "Exchange" not in kp and "EvalPython" not in kp

    cap = cap_per_group(
        docs.select("doc_id", "partition", F.size("spans").alias("q")), "partition", 3, "q"
    )
    cp = plan_of(cap)
    assert cp.count("Exchange") == 1
    assert "rangepartitioning" not in cp and "EvalPython" not in cp

    viol = check_constraint_violations(docs, [CheckConstraint("K2", "span", "offset >= 0")])
    clean, quar = quarantine_split(docs, viol)
    for df in (clean, quar):
        p = plan_of(df)
        assert "EvalPython" not in p and "rangepartitioning" not in p

    iqr = iqr_outliers(
        docs.select("partition", F.size("spans").cast("double").alias("v")), "v", ["partition"]
    )
    ip = plan_of(iqr)
    assert "BroadcastExchange" in ip and "EvalPython" not in ip


def test_round5_closing_ops_plan_discipline(spark, docs_path):
    """Round-5 closing family stays JVM-side and shuffle-disciplined:
    upsample (map-only), volume trend / anomalies (one full-data
    aggregate Exchange before the tiny grid), conjunctive search (no
    Python), layout census (no explode of spans into the shuffle),
    media co-occurrence (distinct reduction before the pair join)."""
    import datetime as dt

    from zparse_spark.functions.text import conjunctive_search
    from zparse_spark.operators.canonical import media_cooccurrence, span_layout_profile
    from zparse_spark.operators.filtering import upsample_by_weight
    from zparse_spark.operators.stats import timeseries_anomalies, volume_trend

    docs = spark.read.parquet(docs_path)

    up = upsample_by_weight(
        docs.select("doc_id", F.lit(1.5).alias("w")), "w", key_col="doc_id"
    )
    p = plan_of(up)
    assert "Exchange" not in p and "EvalPython" not in p  # map-only

    ev = spark.createDataFrame(
        [(i, i % 5, dt.datetime(2024, 1, 1 + i % 9), "view") for i in range(40)],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    for op in (volume_trend, timeseries_anomalies):
        p = plan_of(op(ev))
        assert "EvalPython" not in p, op.__name__

    p = plan_of(conjunctive_search(
        docs.select("doc_id", F.lit("scan merge window").alias("text")),
        ["scan", "merge", "window"],
    ))
    assert "EvalPython" not in p
    # the term filter lands BEFORE the aggregate's shuffle: only the
    # one groupBy(doc) Exchange plus AQE artifacts, never a join chain
    assert p.count("SortMergeJoin") == 0 and p.count("BroadcastHashJoin") == 0

    p = plan_of(span_layout_profile(docs))
    assert "EvalPython" not in p and "Generate" not in p  # no explode

    p = plan_of(media_cooccurrence(docs))
    assert "EvalPython" not in p


def test_session_continuation_ops_plan_discipline(spark, docs_path):
    """This session's operators stay JVM-side and shuffle-disciplined:
    edit-distance join (no cartesian, no Python, verified via built-in
    levenshtein), checksum (partial aggregation both sides of one tiny
    exchange), interval overlap (equi-join only — the count-once
    filter means no distinct/dedup exchange downstream of the join),
    key gaps (no single-partition window over the full keyspace: the
    stitch window sees only the bin summary), BM25 (query-term filter
    BEFORE the tf aggregate; no join of un-aggregated streams),
    cross-table check (pruned inputs, one join, map-stage predicate)."""
    from zparse_spark.functions.text import bm25_search
    from zparse_spark.operators.asof import interval_overlap_join
    from zparse_spark.operators.checksum import table_checksum
    from zparse_spark.operators.editdist import bounded_edit_distance_join
    from zparse_spark.operators.rules import cross_table_check_violations
    from zparse_spark.operators.stats import key_gaps

    docs = spark.read.parquet(docs_path).select(
        "doc_id", F.col("partition").alias("part")
    )

    p = plan_of(
        bounded_edit_distance_join(docs, "doc_id", "part", k=1)
    )
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p

    p = plan_of(table_checksum(docs, group_cols=["part"]))
    assert "EvalPython" not in p
    # partial + final HashAggregate around exactly one content exchange
    assert p.count("HashAggregate") >= 2

    iv = docs.select(
        "doc_id",
        (F.length("part") * 10).cast("long").alias("s"),
        (F.length("part") * 10 + 5).cast("long").alias("e"),
    )
    p = plan_of(interval_overlap_join(iv, "doc_id", "s", "e", bin_width=4))
    assert "CartesianProduct" not in p and "EvalPython" not in p
    # count-once filter replaces dedup: no aggregate downstream of the join
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p

    keys = docs.select((F.crc32("doc_id") % 10000).alias("k"))
    p = plan_of(key_gaps(keys, "k", bin_size=64))
    # two windows: both partitioned (never 'Window [...]' without a
    # partition spec over the raw keys) — assert no global-sort window
    # by checking every Sort is preceded by hashpartitioning on _b/group
    assert "EvalPython" not in p
    # the raw-key lag window (ordered by _k) must be PARTITIONED by the
    # bin column — only the tiny bin-summary stitch may run global
    key_windows = [
        ln for ln in p.splitlines() if "Window" in ln and "lag(_k#" in ln
    ]
    assert key_windows and all(", [_b#" in ln for ln in key_windows), key_windows

    p = plan_of(bm25_search(docs.select("doc_id", F.col("part").alias("text")), ["p001"]))
    assert "EvalPython" not in p

    ref = docs.groupBy("part").agg(F.count(F.lit(1)).alias("n"))
    p = plan_of(
        cross_table_check_violations(
            docs.withColumn("v", F.length("doc_id")),
            ref,
            on=["part"],
            predicate="v < n",
            rule_id="K1",
            fact_cols=["doc_id"],
        )
    )
    assert "EvalPython" not in p


def test_bloom_wor_rrf_plan_discipline(spark, docs_path):
    """The newest operators keep the plan shapes their docstrings claim:
    Bloom probe = broadcast hash joins only (the pruned side is never
    shuffled, never hits Python); weighted WOR without strata compiles
    to TakeOrdered (partial per-partition top-n), with strata to a
    window over hashpartitioning on the stratum — never a global sort
    of the corpus; RRF fusion never touches more than the bounded
    top-k inputs and stays Python-free."""
    from zparse_spark.functions.text import rrf_fuse
    from zparse_spark.operators.filtering import weighted_sample_wor
    from zparse_spark.operators.rules import bloom_bitmap, bloom_prune

    docs = spark.read.parquet(docs_path).select(
        "doc_id", F.col("partition").alias("part")
    )

    keys = docs.select(F.col("doc_id").alias("k")).limit(50)
    bm = bloom_bitmap(keys, "k", n_words=64, n_hashes=3)
    p = plan_of(bloom_prune(docs.select(F.col("doc_id").alias("k")), "k", bm, 64, 3))
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" in p
    # the pruned (big) side must not be exchanged for the probe: every
    # Exchange in the plan is a broadcast or feeds the tiny bitmap agg,
    # never a hashpartitioning of the probed stream by the probe keys
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p

    wor = weighted_sample_wor(
        docs.withColumn("w", F.length("part").cast("long") + 1), 10, "w"
    )
    p = plan_of(wor)
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p

    wor_s = weighted_sample_wor(
        docs.withColumn("w", F.length("part").cast("long") + 1),
        10,
        "w",
        strata_col="part",
    )
    p = plan_of(wor_s)
    assert "EvalPython" not in p
    assert "hashpartitioning(part" in p  # rank rides the stratum hash
    assert "rangepartitioning" not in p  # never a global sort

    l1 = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    l2 = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    p = plan_of(rrf_fuse({"a": l1, "b": l2}, top_k=5))
    assert "EvalPython" not in p


def test_session3_ops_plan_discipline(spark, docs_path):
    """Session-3 operators keep their claimed shapes: the
    join-cardinality forecast never executes the predicted join (no
    join of the two FULL inputs — only histogram-sized sides after
    partial aggregation); the as-of referential check broadcasts the
    dimension and keeps the window predicate in codegen (no Python, no
    SMJ unless hinted); sampled_audit's hash filter reaches the scan
    stage and the plan is Python-free; distinctive_terms does exactly
    ONE explode of the corpus (the token-occurrence lower bound) and
    everything downstream is grid-sized; nfc_audit's only Python is
    the single declared ArrowEvalPython stage."""
    import datetime as dt

    from zparse_spark.functions.text import distinctive_terms, nfc_audit
    from zparse_spark.operators.rules import asof_referential_violations
    from zparse_spark.operators.stats import join_cardinality_profile, sampled_audit

    docs = spark.read.parquet(docs_path)

    # join-cardinality forecast: partial_count before every exchange
    # (map-side combine on both histogram sides), no Python
    left = docs.select(F.col("doc_id").alias("k"))
    right = docs.select((F.col("doc_id") % 7).alias("k"))
    p = plan_of(join_cardinality_profile(left, "k", right, "k"))
    assert "EvalPython" not in p
    assert p.count("partial_count") >= 2

    # as-of referential: broadcast dim by default, codegen predicate
    dim = spark.createDataFrame(
        [("1", dt.date(2020, 1, 1), None)], "k string, vf date, vt date"
    )
    fact = docs.select(
        F.col("doc_id").cast("string").alias("k"),
        F.lit(dt.date(2021, 1, 1)).alias("ts"),
    )
    p = plan_of(asof_referential_violations(fact, "k", "ts", dim, "k", "vf", "vt"))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "EvalPython" not in p

    # sampled_audit: the md5 sample filter lands in the scan stage
    # (Filter directly over the FileScan, before any exchange) and the
    # whole plan is Python-free
    p = plan_of(sampled_audit(docs, "partition", "size(spans) >= 0", 0.25))
    assert "EvalPython" not in p
    assert "Filter" in p.split("Exchange")[-1]  # filter below the agg exchange

    # distinctive_terms: the corpus explode runs exactly ONCE — the
    # grid is eagerly checkpointed before the 4-way fan-out, so the
    # downstream plan must contain NO Generate (it would re-explode
    # the corpus; measured pre-fix the lazy fan-out ran the explode 4
    # times, ReuseExchange collapsing only 3 of 7 scans) and no Python
    flat = docs.select("doc_id", F.col("partition").alias("grp")).withColumn(
        "text", F.concat_ws(" ", F.lit("a b c"), F.col("doc_id").cast("string"))
    )
    p = plan_of(distinctive_terms(flat, "grp", "text", min_count=1))
    assert "Generate" not in p
    assert "Scan ExistingRDD" in p  # reads the checkpointed grid
    assert "EvalPython" not in p

    # nfc_audit: exactly one ArrowEvalPython, nothing row-at-a-time
    p = plan_of(nfc_audit(flat, "text", "grp", "doc_id"))
    assert p.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p


def test_winnowing_plan_no_joins_one_exchange_pair(spark):
    """Winnowing pairs must never contain a JOIN operator: the corpus is
    fingerprinted once and pairs come from inverted-index buckets, so
    the plan is scan -> explode -> Exchange(fp) -> Exchange(pair) with
    no self-join re-evaluating the md5 ladder."""
    from zparse_spark.operators.dedup import winnowing_pairs

    df = spark.createDataFrame([(1, "alpha beta gamma delta")], ["doc_id", "text"])
    plan = plan_of(winnowing_pairs(df))
    assert "Join" not in plan
    # fingerprint bucket groupBy + pair groupBy: exactly two shuffles
    assert plan.count("Exchange") == 2


def test_skipping_audit_broadcasts_zone_maps(spark):
    """The audit is a broadcast range join on bounded tables — a
    SortMergeJoin here would mean the zone maps went through a full
    shuffle, wrong at any scale."""
    from zparse_spark.operators.layout import skipping_audit

    zm = spark.createDataFrame(
        [("a", 0, 0.0, 1.0, 10)], ["layout", "file_id", "mn", "mx", "n_rows"]
    )
    probes = spark.createDataFrame([(0.5,)], ["p"])
    plan = plan_of(skipping_audit(zm, probes))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chi2_contingency_exchange_reused(spark):
    """After execution, AQE must REUSE the contingency-table shuffle for
    the margins/total branches (the data is grouped once, not re-read
    per branch)."""
    from zparse_spark.operators.stats import chi2_independence

    df = spark.createDataFrame([("x", "u"), ("x", "v"), ("y", "u")] * 5, ["a", "b"])
    out = chi2_independence(df, "a", "b")
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or final.count("LocalTableScan") <= 4


def test_global_rank_queries_never_single_partition_corpus(spark):
    """r6 (r5 verdict item 2): the three queries that rank a corpus-
    sized domain must never push it through Exchange SinglePartition.
    corpus_zipf_anchors / stats_hill_tail_index bound the frame with
    orderBy().limit(k) (TakeOrderedAndProject) BEFORE ranking;
    stats_score_agreement ranks via value-bucketed windows, so the only
    single-partition exchanges left are over bounded aggregate frames
    (per-value counts, the 1-row moment agg) — never a frame carrying
    doc_id."""
    import io
    import contextlib
    import re

    from zparse_spark.queries import all_queries

    qs = all_queries()
    sf_dir = "/root/testdata/sf0.001"

    def formatted(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    for name in ("corpus_zipf_anchors", "stats_hill_tail_index"):
        plan = formatted(qs[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert "Exchange SinglePartition" not in plan.replace(
            "Arguments: SinglePartition", "Exchange SinglePartition"
        ) or "SinglePartition" not in plan, name

    plan = formatted(qs["stats_score_agreement"](spark, sf_dir))
    # every SinglePartition exchange must feed from a bounded frame:
    # its Input list never carries doc_id (the corpus grain)
    blocks = re.split(r"\n\n", plan)
    for b in blocks:
        if "SinglePartition" in b and "Input" in b:
            assert "doc_id" not in b, b
