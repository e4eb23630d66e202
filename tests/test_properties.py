"""Property-based tests (Hypothesis) — the engine analog of the
reference's proptest suite (tests/property_tests.rs:121-156: roundtrip
parse∘serialize = id, never-panic)."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import make_docs
from zparse_spark.operators.canonical import canonicalize_spans, span_fingerprint
from zparse_spark.operators.rules import RuleParams, span_rule_violations

KINDS = ["text", "image", "audio", "video", "table", "code"]

span_st = st.tuples(
    st.sampled_from(KINDS),
    st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=12),
    st.one_of(st.none(), st.text(alphabet="mr0123456789_", min_size=1, max_size=8)),
    st.integers(min_value=0, max_value=10_000),
)
doc_st = st.lists(span_st, min_size=0, max_size=8)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(spans=doc_st)
@_settings
def test_canonicalize_idempotent_and_order_insensitive(spark, spans):
    """canonicalize∘shuffle = canonicalize; fingerprint invariant under
    permutation (parse∘serialize = id analog for the span invariant)."""
    docs = make_docs(spark, [("d", spans, "p0")])
    rev = make_docs(spark, [("d", list(reversed(spans)), "p0")])
    fp = lambda df: df.select(span_fingerprint(F.col("spans")).alias("f")).collect()[0]["f"]  # noqa: E731
    assert fp(docs) == fp(rev)
    once = canonicalize_spans(docs)
    twice = canonicalize_spans(once)
    assert fp(once) == fp(twice) == fp(docs)


@given(spans=doc_st)
@_settings
def test_rules_never_raise_and_positions_in_range(spark, spans):
    """Never-panic: arbitrary span content flows through the rule pack;
    every reported span_pos is a valid index and offsets echo the data."""
    docs = make_docs(spark, [("d", spans, "p0")])
    rows = span_rule_violations(docs, RuleParams(max_spans=4, max_text_bytes=64)).collect()
    for r in rows:
        if r["span_pos"] is not None:
            assert 0 <= r["span_pos"] < len(spans)
            assert r["offset"] == spans[r["span_pos"]][3]
        assert r["rule_id"] in {"S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8"}


# span texts for the line/col contract: newlines, carriage returns,
# astral-plane characters (one code point, two UTF-16 units), control
# characters, empty and null texts
lc_text_st = st.one_of(
    st.none(),
    st.text(alphabet=st.sampled_from(["a", " ", "\n", "\r", "\x01", "\U0001F600"]), max_size=6),
)
lc_span_st = st.tuples(
    st.sampled_from(["text", "image"]),
    lc_text_st,
    st.sampled_from([None, "m1", "ghost"]),
    st.integers(min_value=0, max_value=50),
)
# each doc ends in a planted control-character span, so S5 always fires
# at the end of the full prefix
lc_docs_st = st.lists(
    st.lists(lc_span_st, max_size=6).map(lambda sp: sp + [("text", "\x02", None, 99)]),
    min_size=1,
    max_size=3,
)


def _start(texts):
    """(line, col) where the next span starts after ``texts``."""
    prefix = "".join(t or "" for t in texts)
    nl = prefix.rfind("\n")
    return 1 + prefix.count("\n"), len(prefix) - nl if nl >= 0 else len(prefix) + 1


@given(docs=lc_docs_st)
@_settings
def test_line_col_equals_prefix_fold(spark, docs):
    """Every positioned violation's (line, col) is the start of its span
    in the concatenated texts of the earlier spans; doc-level (S3/S4) and
    referential (R1) rows carry no position."""
    df = make_docs(spark, [(f"d{i}", spans, "p0") for i, spans in enumerate(docs)])
    cat = spark.createDataFrame([("m1",)], "media_ref string")
    rows = span_rule_violations(
        df, RuleParams(max_spans=3, max_text_bytes=8), media_catalog=cat
    ).collect()
    assert {r["doc_id"] for r in rows if r["rule_id"] == "S5"} == {f"d{i}" for i in range(len(docs))}
    for r in rows:
        if r["rule_id"] in ("S3", "S4", "R1"):
            assert r["line"] is None and r["col"] is None, r
        else:
            texts = [s[1] for s in docs[int(r["doc_id"][1:])]]
            assert (r["line"], r["col"]) == _start(texts[: r["span_pos"]]), r


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=200
    )
)
@_settings
def test_tdigest_quantiles_bounded(spark, vals):
    """Sketch invariants: quantiles lie within [min, max] and are
    monotone in p."""
    import numpy as np

    from zparse_spark.operators.stats import _compress, _quantile_from_centroids

    v = np.asarray(vals, dtype=float)
    m, w = _compress(v, np.ones_like(v), delta=50)
    qs = [_quantile_from_centroids(m, w, p) for p in (0.1, 0.5, 0.9)]
    assert all(v.min() - 1e-9 <= q <= v.max() + 1e-9 for q in qs)
    assert qs == sorted(qs)
    assert math.isclose(w.sum(), len(v))


@given(raw=st.text(max_size=12))
@_settings
def test_infer_cell_type_total(spark, raw):
    """The typing cascade is total: every string lands in exactly one of
    the five types, and quoted always yields string."""
    from zparse_spark.functions.inference import infer_cell_type

    df = spark.createDataFrame([(raw, False), (raw, True)], ["raw", "quoted"])
    got = [
        r["t"]
        for r in df.select(infer_cell_type(F.col("raw"), F.col("quoted")).alias("t")).collect()
    ]
    assert got[0] in {"null", "bool", "long", "double", "string"}
    assert got[1] == "string"


vec_st = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=8,
    max_size=8,
)


@given(st.lists(vec_st, min_size=2, max_size=10, unique_by=tuple))
@_settings
def test_ivf_full_probe_equals_brute_force(spark, vecs):
    """Probing every cell IS brute force: identical (query, corpus)
    top-k sets. (Note: top-k at nprobe=1 is NOT a subset of top-k at
    nprobe=nlist — dropping strong candidates promotes weaker ones into
    the k cut — so only the full-probe identity is a law.)"""
    from zparse_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    k = 3
    full = {
        (r["query_id"], r["corpus_id"])
        for r in ivf_topk(emb, q, k=k, nprobe=4, nlist=4, dim=8, impl="expr").collect()
    }
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in brute_force_topk(emb, q, k=k).collect()
    }
    assert full == exact


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=20),
                min_size=1, max_size=8))
@_settings
def test_hot_bucket_cap_only_shrinks(spark, texts):
    """cap_hot_buckets is a filter: capped output rows ⊆ uncapped rows,
    and non-hot buckets pass through untouched."""
    from zparse_spark.operators.dedup import cap_hot_buckets

    df = spark.createDataFrame(
        [(str(i), t[:1] or "a") for i, t in enumerate(texts)], ["_id", "bucket"]
    )
    uncapped = {(r["_id"], r["bucket"]) for r in df.collect()}
    capped = {
        (r["_id"], r["bucket"])
        for r in cap_hot_buckets(df, ["bucket"], id_col="_id", max_bucket=2).collect()
    }
    assert capped <= uncapped
    from collections import Counter

    sizes = Counter(b for _, b in uncapped)
    for _id, b in uncapped:
        if sizes[b] <= 2:
            assert (_id, b) in capped  # non-hot buckets never lose rows


# --- funnel greedy fold == brute-force maximum ordered chain ------------

_FUNNEL_STEPS = ["view", "click", "purchase"]
event_st = st.tuples(
    st.integers(min_value=0, max_value=40),  # timestamp seconds (ties likely)
    st.sampled_from(_FUNNEL_STEPS + ["error", "signup"]),
)
stream_st = st.lists(event_st, min_size=0, max_size=12)


def _brute_depth(events):
    """Maximum achievable funnel depth by exhaustive DP over the
    time-ordered stream (strictly-later semantics, any subsequence)."""
    evs = sorted(events)  # (ts, type); equal-ts order irrelevant: strict >
    best = 0
    # state: for each depth d, the MIN timestamp of the d-th match over
    # all valid chains (optimal substructure: smaller last-ts is never
    # worse for extending)
    min_last = {0: -1}
    for ts, et in evs:
        for d in sorted(min_last, reverse=True):
            if (
                d < len(_FUNNEL_STEPS)
                and et == _FUNNEL_STEPS[d]
                and ts > min_last[d]
            ):
                if d + 1 not in min_last or ts < min_last[d + 1]:
                    min_last[d + 1] = ts
                    best = max(best, d + 1)
    return best


@given(stream=stream_st)
@_settings
def test_funnel_depth_equals_brute_force(spark, stream):
    import datetime as dt

    from zparse_spark.operators.funnel import funnel_match_depth

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, 1, base + dt.timedelta(seconds=ts), et)
        for i, (ts, et) in enumerate(stream)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {r.user_id: r.depth for r in funnel_match_depth(df, _FUNNEL_STEPS).collect()}
    want = _brute_depth(stream)
    # users with no candidate events produce no row at all
    assert got.get(1, 0 if want == 0 else -1) == want


_key_st = st.text(alphabet="abx0", min_size=0, max_size=5)


@given(keys=st.lists(_key_st, min_size=2, max_size=9, unique=True))
@_settings
def test_edit_distance_join_equals_brute_force(spark, keys):
    """Deletion-neighborhood candidates + levenshtein verify ≡ the
    quadratic definition for ANY key set (tiny alphabet forces dense
    near-collisions — the adversarial regime for candidate pruning)."""
    import itertools

    from zparse_spark.operators.editdist import bounded_edit_distance_join

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[len(b)]

    rows = [(str(i), k) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "id string, k string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in bounded_edit_distance_join(df, "id", "k", k=1).collect()
    }
    want = {
        (min(ia, ib), max(ia, ib), lev(ka, kb))
        for (ia, ka), (ib, kb) in itertools.combinations(rows, 2)
        if lev(ka, kb) <= 1
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.one_of(st.none(), st.text(alphabet="ab\x00\x01", max_size=3)),
        ),
        min_size=1,
        max_size=12,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@_settings
def test_table_checksum_invariant_under_permutation(spark, rows, seed):
    """The digest is a pure function of the row MULTISET — any
    permutation and any partitioning produce identical digests, and
    the separator/sentinel framing survives adversarial cell contents
    (cells containing the framing bytes themselves)."""
    import random

    from zparse_spark.operators.checksum import table_checksum

    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = spark.createDataFrame(rows, "i int, s string")
    b = spark.createDataFrame(shuffled, "i int, s string").repartition(3)
    ra = table_checksum(a).collect()[0]
    rb = table_checksum(b).collect()[0]
    assert (ra.n_rows, ra.xor_hash, ra.sum_hash) == (rb.n_rows, rb.xor_hash, rb.sum_hash)
