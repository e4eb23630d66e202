

def test_assign_splits_deterministic_and_stable(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import assign_splits

    docs = spark.range(1000).select(F.col("id").cast("string").alias("doc_id"))
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in assign_splits(docs, w, seed=3).collect()}
    # exactly one label per row; rough proportions
    from collections import Counter

    c = Counter(a.values())
    assert sum(c.values()) == 1000 and 700 < c["train"] < 900
    # corpus growth never moves an existing key between splits
    bigger = spark.range(5000).select(F.col("id").cast("string").alias("doc_id"))
    b = {r["doc_id"]: r["split"] for r in assign_splits(bigger, w, seed=3).collect()}
    assert all(b[k] == v for k, v in a.items())
    # repartitioning doesn't change assignments (pure function of key)
    c2 = {
        r["doc_id"]: r["split"]
        for r in assign_splits(docs.repartition(13), w, seed=3).collect()
    }
    assert c2 == a
    import pytest

    with pytest.raises(ValueError):
        assign_splits(docs, {"train": 0.5, "val": 0.2})


def test_rebalance_mixture(spark):
    from collections import Counter

    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import rebalance_mixture

    # 800 en / 100 de / 100 other; target 50/50 en/de -> de is the
    # bottleneck (keeps all 100), en keeps ~100, other dropped
    rows = (
        [(f"e{i}", "en") for i in range(800)]
        + [(f"d{i}", "de") for i in range(100)]
        + [(f"x{i}", "xx") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = rebalance_mixture(df, "lang", {"en": 0.5, "de": 0.5}, seed=1)
    c = Counter(r["lang"] for r in out.collect())
    assert c["de"] == 100          # bottleneck keeps everything
    assert "xx" not in c           # non-target dropped
    assert 70 < c["en"] < 130      # ~100 in expectation (hash variance)
    # deterministic: same seed, same set, any partitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in rebalance_mixture(
            df.repartition(7), "lang", {"en": 0.5, "de": 0.5}, seed=1
        ).collect()
    )
    assert a == b
    # empty target intersection -> empty result
    assert rebalance_mixture(df, "lang", {"fr": 1.0}).count() == 0


def test_rebalance_mixture_zero_share_drops(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import rebalance_mixture

    df = spark.createDataFrame(
        [("a", "en"), ("b", "en"), ("c", "de")], "doc_id string, lang string"
    )
    out = rebalance_mixture(df, "lang", {"en": 1.0, "de": 0.0}, seed=2)
    assert sorted(r["doc_id"] for r in out.collect()) == ["a", "b"]


def test_cap_per_group_deterministic(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import cap_per_group

    rows = [(i, f"s{i % 3}", float(100 - i % 7)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, q double").repartition(5)
    kept = cap_per_group(df, "source", 4, "q")
    assert kept.groupBy("source").count().agg(F.max("count")).collect()[0][0] == 4
    # deterministic: same set on re-run and after repartition
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in cap_per_group(df.repartition(11), "source", 4, "q").collect()}
    assert a == b
    # within each group the kept docs are the max-q ones, doc_id-asc ties
    for s in ("s0", "s1", "s2"):
        grp = sorted(
            [(r.q, r.doc_id) for r in df.filter(F.col("source") == s).collect()],
            key=lambda t: (-t[0], t[1]),
        )
        expect = {d for _, d in grp[:4]}
        assert {r.doc_id for r in kept.filter(F.col("source") == s).collect()} == expect


def test_cap_per_group_preserves_caller_rk_column(spark):
    from zparse_spark.operators.filtering import cap_per_group

    df = spark.createDataFrame(
        [(1, "a", 5.0, 99), (2, "a", 4.0, 98), (3, "a", 3.0, 97)],
        "doc_id long, source string, q double, _rk long",
    )
    out = cap_per_group(df, "source", 2, "q")
    assert "_rk" in out.columns
    assert {(r.doc_id, r._rk) for r in out.collect()} == {(1, 99), (2, 98)}


def test_split_into_windows_contract(spark):
    """Window/stride arithmetic on a hand corpus: counts, overlap
    content, short last window, exact-fit boundary (no empty trailing
    window), sub-window doc, empty/NULL drop, stride validation."""
    import pytest

    from zparse_spark.operators.filtering import split_into_windows

    toks = lambda n, p="t": " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            ("d10", toks(10)),     # 10 tokens, window 4 stride 3 -> starts 0,3,6,9
            ("d8", toks(8)),       # exact multiple-ish: starts 0,3,6 (6: 2 tokens)
            ("d3", toks(3)),       # single short window
            ("d4", toks(4)),       # exactly one full window, no second
            ("empty", "   "),
            ("null", None),
        ],
        "doc_id string, text string",
    )
    out = split_into_windows(docs, window=4, stride=3)
    rows = {(r["doc_id"], r["window_pos"]): r for r in out.collect()}
    assert {k for k in rows if k[0] == "d10"} == {("d10", p) for p in range(4)}
    assert rows[("d10", 0)]["window_text"] == "t0 t1 t2 t3"
    assert rows[("d10", 1)]["window_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert rows[("d10", 3)]["window_text"] == "t9" and rows[("d10", 3)]["n_tokens"] == 1
    assert rows[("d8", 2)]["n_tokens"] == 2
    assert {k[1] for k in rows if k[0] == "d3"} == {0} and rows[("d3", 0)]["n_tokens"] == 3
    # window covers the doc exactly: start=3 < n=4 still yields the 1-token tail
    assert {k[1] for k in rows if k[0] == "d4"} == {0, 1}
    assert not any(k[0] in ("empty", "null") for k in rows)
    with pytest.raises(ValueError):
        split_into_windows(docs, window=4, stride=0)
    with pytest.raises(ValueError):
        split_into_windows(docs, window=4, stride=5)
    # plan discipline: map-only
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_upsample_by_weight(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import upsample_by_weight
    from zparse_spark.plans.engine import hash_unit

    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0), (3, -1.0), (4, 0.5), (5, 3.7), (6, 99.0)],
        "doc_id long, wt double",
    )
    out = upsample_by_weight(df, "wt", key_col="doc_id", seed=3, max_copies=4)
    counts = {
        r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # integer weight -> exactly w copies; zero/negative -> dropped
    assert counts[1] == 2 and 2 not in counts and 3 not in counts
    # fractional weight -> floor or floor+1, decided by the hash coin
    coin4 = df.sparkSession.range(1).select(
        (hash_unit(F.lit("4"), 3) < F.lit(0.5)).alias("c")
    ).collect()[0].c
    assert counts.get(4, 0) == (1 if coin4 else 0)
    coin5 = df.sparkSession.range(1).select(
        (hash_unit(F.lit("5"), 3) < F.lit(3.7 - 3.0)).alias("c")
    ).collect()[0].c
    assert counts[5] == 3 + (1 if coin5 else 0)
    # clamp: runaway weight bounded at max_copies
    assert counts[6] == 4
    # copy_no runs 1..n and the multiset is deterministic across re-runs
    again = {
        r.doc_id: r.n
        for r in upsample_by_weight(df, "wt", key_col="doc_id", seed=3, max_copies=4)
        .groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert again == counts
    copy_nos = sorted(
        r.copy_no for r in out.filter(F.col("doc_id") == 1).collect()
    )
    assert copy_nos == [1, 2]


def test_shuffle_assign_deterministic_permutation(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import shuffle_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = shuffle_assign(df, n_shards=8, seed=3)
    b = shuffle_assign(df.repartition(7), n_shards=8, seed=3)
    rows_a = {(r.doc_id): (r.shard, r.pos) for r in a.collect()}
    rows_b = {(r.doc_id): (r.shard, r.pos) for r in b.collect()}
    # pure function of (key, seed): partitioning cannot move anything
    assert rows_a == rows_b and len(rows_a) == 200
    # every shard's positions are a contiguous 1..k ranking
    from collections import defaultdict

    by_shard = defaultdict(list)
    for sh, pos in rows_a.values():
        by_shard[sh].append(pos)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_shard.values())
    # a different seed is a genuinely different permutation
    c = {r.doc_id: (r.shard, r.pos) for r in shuffle_assign(df, n_shards=8, seed=4).collect()}
    assert c != rows_a
    # plan: no global sort — rank rides the shard hash partitioning
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# weighted_sample_wor (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------


def _wor_input(spark, n=400):
    from pyspark.sql import functions as F

    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), 9) + 1).cast("long").alias("w"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
    )


def test_wor_matches_reference_formula(spark):
    """The selected set equals a brute-force pandas evaluation of the
    exact same clock formula — pinning hash, normalizer, rounding and
    tiebreak, not just 'some weighted sample'."""
    import hashlib
    import math

    from zparse_spark.operators.filtering import weighted_sample_wor

    df = _wor_input(spark)
    got = sorted(
        r.doc_id for r in weighted_sample_wor(df, 25, "w", "doc_id", seed=7).collect()
    )
    rows = [(r.doc_id, r.w) for r in df.collect()]
    mx = float(max(w for _, w in rows))
    clocks = []
    for k, w in rows:
        hv = int(hashlib.md5(f"{k}:7".encode()).hexdigest()[:8], 16)
        u = (hv + 0.5) / 2**32
        clocks.append((round((0.0 - math.log(u)) * mx / w, 6), k))
    want = sorted(k for _, k in sorted(clocks)[:25])
    assert got == want


def test_wor_deterministic_and_seed_sensitive(spark):
    from zparse_spark.operators.filtering import weighted_sample_wor

    df = _wor_input(spark)
    a = sorted(r.doc_id for r in weighted_sample_wor(df, 30, "w", seed=1).collect())
    b = sorted(r.doc_id for r in weighted_sample_wor(df, 30, "w", seed=1).collect())
    c = sorted(r.doc_id for r in weighted_sample_wor(df, 30, "w", seed=2).collect())
    assert a == b
    assert a != c


def test_wor_strata_counts_and_weight_bias(spark):
    from zparse_spark.operators.filtering import weighted_sample_wor

    df = _wor_input(spark)
    out = weighted_sample_wor(df, 40, "w", seed=5, strata_col="g")
    counts = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    assert counts == {"a": 40, "b": 40}
    # weight-proportional bias: across seeds, the mean weight of the
    # selected set must sit clearly above the population mean (~5.0)
    sel_w = []
    for seed in range(6):
        sel_w += [
            r.w for r in weighted_sample_wor(df, 40, "w", seed=seed).collect()
        ]
    assert sum(sel_w) / len(sel_w) > 5.8


def test_wor_excludes_nonpositive_weights_and_validates_n(spark):
    import pytest
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import weighted_sample_wor

    df = _wor_input(spark).withColumn(
        "w", F.when(F.col("doc_id") < 390, F.lit(0)).otherwise(F.col("w"))
    )
    out = weighted_sample_wor(df, 50, "w", seed=0)
    ids = sorted(r.doc_id for r in out.collect())
    assert len(ids) == 10 and all(i >= 390 for i in ids)
    with pytest.raises(ValueError):
        weighted_sample_wor(df, 0, "w")


def test_sample_negatives_properties(spark):
    """X138: no self-pairs, no duplicate negatives per key, exactly k
    negatives when arcs are big enough, repartition-invariant pairing,
    different seeds re-mix, tiny arcs degrade to all-mates."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import sample_negatives

    df = spark.createDataFrame([(f"d{i:03d}",) for i in range(200)], "doc_id string")
    out = sample_negatives(df, "doc_id", k=3, seed=1, n_buckets=4).collect()
    pairs = [(r["doc_id"], r["neg_rank"], r["negative_id"]) for r in out]
    assert all(d != n for d, _, n in pairs)
    per_key: dict = {}
    for d, rank, n in pairs:
        per_key.setdefault(d, []).append((rank, n))
    # arcs average 50 members >> k+1: every key gets exactly k distinct negatives
    assert all(len(v) == 3 for v in per_key.values())
    assert all(len({n for _, n in v}) == 3 for v in per_key.values())
    assert all(sorted(r for r, _ in v) == [0, 1, 2] for v in per_key.values())

    # pure function of (data, seed): repartitioned input pairs identically
    out2 = sample_negatives(df.repartition(13), "doc_id", k=3, seed=1, n_buckets=4).collect()
    assert sorted(pairs) == sorted(
        (r["doc_id"], r["neg_rank"], r["negative_id"]) for r in out2
    )

    # another seed re-mixes the ring
    out3 = sample_negatives(df, "doc_id", k=3, seed=2, n_buckets=4).collect()
    assert sorted(pairs) != sorted(
        (r["doc_id"], r["neg_rank"], r["negative_id"]) for r in out3
    )

    # 3 keys, k=5: each key gets its 2 arc-mates, never itself
    tiny = spark.createDataFrame([("a",), ("b",), ("c",)], "doc_id string")
    t = sample_negatives(tiny, "doc_id", k=5, seed=0, n_buckets=1).collect()
    got: dict = {}
    for r in t:
        got.setdefault(r["doc_id"], set()).add(r["negative_id"])
    assert got == {"a": {"b", "c"}, "b": {"a", "c"}, "c": {"a", "b"}}


def test_dsir_fit_score_contract(spark):
    import hashlib
    import math

    from pyspark.sql import functions as F

    from zparse_spark.operators.filtering import dsir_fit, dsir_score

    # target (en) docs speak "alpha"; the rest speak "omega"; one probe
    # doc of each pure profile plus a mixed one
    rows = (
        [(i, "alpha beta alpha", "en") for i in range(8)]
        + [(100 + i, "omega gamma omega", "de") for i in range(8)]
        + [(200, "alpha alpha alpha alpha", "de"), (201, "omega omega omega omega", "en"),
           (202, "alpha omega", "fr")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model, default = dsir_fit(df, F.col("lang") == "en", n_buckets=64)
    out = dsir_score(
        df, model, default, n_buckets=64, keep_cols=("lang",), top_k=100
    ).collect()
    by_id = {r["doc_id"]: r for r in out}

    # the target-profile probe outranks the mixed probe which outranks
    # the anti-target probe, regardless of the probes' own langs
    assert (
        by_id[200]["avg_lmr_nats"]
        > by_id[202]["avg_lmr_nats"]
        > by_id[201]["avg_lmr_nats"]
    )

    # exactness: recompute doc 202's integer sum from the model by hand
    lut = dict(model)

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64

    expected = sum(lut.get(bucket(t), default) for t in ["alpha", "omega"])
    assert by_id[202]["sum_lmr"] == expected
    assert by_id[202]["n_tokens"] == 2

    # model values are the quantized definition: check "alpha"'s bucket
    # (alpha: tf 20 total, 16 in target; corpus totals below)
    raw_total = sum(len(t.split()) for _, t, _ in rows)
    tgt_total = sum(len(t.split()) for _, t, l in rows if l == "en")
    # alpha tokens: 8 docs x 2 + 4 + 1 = 21 raw; in en: 8 x 2 = 16
    a_raw, a_tgt = 21, 16
    want = round(
        (math.log(a_tgt + 1) - math.log(tgt_total + 64)
         - math.log(a_raw + 1) + math.log(raw_total + 64)) * 1_000_000
    )
    assert abs(lut[bucket("alpha")] - want) <= 1

    # unseen-bucket default only used off-corpus; scoring a foreign doc
    foreign = spark.createDataFrame(
        [(900, "zzz_unseen_token", "en")], "doc_id long, text string, lang string"
    )
    f_out = dsir_score(foreign, model, default, n_buckets=64).collect()
    if bucket("zzz_unseen_token") not in lut:
        assert f_out[0]["sum_lmr"] == default


def test_split_leakage_pairs_flags_cross_split_only(spark):
    """Only pairs straddling a split boundary survive; pair columns are
    preserved and the split labels attached."""
    from zparse_spark.operators.filtering import split_leakage_pairs

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.8), (5, 6, 0.7)], ["id_a", "id_b", "jaccard"]
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"), (5, "val"), (6, "train")],
        ["doc_id", "split"],
    )
    out = split_leakage_pairs(pairs, splits).collect()
    got = {(r["id_a"], r["id_b"]): (r["split_a"], r["split_b"]) for r in out}
    assert got == {(1, 2): ("train", "test"), (5, 6): ("val", "train")}
    assert all(abs(r["jaccard"]) > 0 for r in out)


def test_chunk_documents_exact_blocks(spark):
    """17 tokens at max 8 -> chunks of 8/8/1, order preserved,
    reassembly equals the normalized token stream; empty/null docs emit
    zero chunks."""
    from zparse_spark.operators.filtering import chunk_documents

    text = " ".join(f"t{i}" for i in range(17))
    d = spark.createDataFrame(
        [("a", "  " + text.replace(" t9", "   t9") + " "), ("e", ""), ("n", None)],
        "doc_id string, text string",
    )
    out = sorted(
        chunk_documents(d, max_tokens=8).collect(), key=lambda r: r["chunk_id"]
    )
    assert [r["doc_id"] for r in out] == ["a", "a", "a"]
    assert [r["n_tokens"] for r in out] == [8, 8, 1]
    assert " ".join(r["chunk_text"] for r in out) == text


def test_corpus_filter_arrow_matches_expr(spark):
    """r6: the fused Arrow annotator (annotate_corpus_text) must equal
    the pure-JVM expression path on every column, including the exact
    rounded quality double and the lang tie order — edge rows included
    (empty / whitespace-only / null text, unicode whitespace, markers
    at edges, adjacent markers, punctuation-only)."""
    from zparse_spark.operators.filtering import corpus_filter

    rows = [
        (1, "the cat sat on the mat for a while"),
        (2, ""),
        (3, None),
        (4, "   "),
        (5, "\t\nder die und das\n"),
        (6, "of the of the of the"),
        (7, "el que la los " * 30),
        (8, "!!!???...###"),
        (9, "THE AND IS OF SHOUTING TEXT"),
        (10, "word joined nbsp le les des est"),
        (11, "a" * 500),
        (12, "theisof"),
        (13, " the and is of "),
        (14, "the.and, is; of"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = corpus_filter(df, impl="arrow").orderBy("doc_id").collect()
    b = corpus_filter(df, impl="expr").orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        for c in ("tokens", "quality", "lang_guess", "reject_reason", "kept"):
            assert ra[c] == rb[c], (ra["doc_id"], c, ra[c], rb[c])
