"""Per-rule unit tests: exact violation rows incl. position contract.

Mirrors the reference's error-kind + error-position assertions
(crates/zparse/tests/json_parser_tests.rs:380-454 asserts both the
ErrorKind and the exact Pos) — here we assert (rule_id, kind, span_pos,
offset) for every planted breach.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_docs
from zparse_spark.operators.rules import (
    RuleParams,
    drift_violations,
    referential_violations,
    span_rule_violations,
    uniqueness_violations,
)

T = lambda text, off: ("text", text, None, off)  # noqa: E731
M = lambda ref, off, kind="image": (kind, "", ref, off)  # noqa: E731


def rows(df):
    return sorted(
        (r["doc_id"], r["rule_id"], r["kind"], r["span_pos"], r["offset"])
        for r in df.collect()
    )


def test_s1_offset_regression(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T("a", 0), T("b", 5), T("c", 9)], "p0"),
            ("bad", [T("a", 0), T("b", 0), T("c", 9)], "p0"),  # equal → regression at pos 1
            ("bad2", [T("a", 5), T("b", 3), T("c", 9)], "p0"),  # decrease at pos 1
        ],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S1"))
    assert got == [
        ("bad", "S1", "InvalidArray", 1, 0),
        ("bad2", "S1", "InvalidArray", 1, 3),
    ]


def test_s2_kind_domain(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T("a", 0), M("m1", 1)], "p0"),
            ("nullk", [(None, "a", None, 0)], "p0"),
            ("badk", [("blob", "a", None, 0)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S2"))
    assert got == [
        ("badk", "S2", "InvalidToken", 0, 0),
        ("nullk", "S2", "InvalidToken", 0, 0),
    ]


def test_s3_max_spans_and_unlimited(spark):
    docs = make_docs(spark, [("big", [T(str(i), i) for i in range(10)], "p0")])
    got = rows(span_rule_violations(docs, RuleParams(max_spans=5)))
    assert got == [("big", "S3", "MaxDepthExceeded", None, None)]
    # 0 = unlimited, like the reference Config (json/parser.rs Config docs)
    assert span_rule_violations(docs, RuleParams(max_spans=0)).count() == 0


def test_s4_max_text_bytes(spark):
    docs = make_docs(
        spark,
        [
            ("big", [T("x" * 100, 0), T("y" * 100, 1)], "p0"),
            ("small", [T("x", 0)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs, RuleParams(max_text_bytes=150)))
    assert got == [("big", "S4", "MaxSizeExceeded", None, None)]
    # multi-byte UTF-8 counts bytes, not chars (octet_length)
    docs2 = make_docs(spark, [("utf", [T("é" * 80, 0)], "p0")])  # 160 bytes
    assert (
        span_rule_violations(docs2, RuleParams(max_text_bytes=150)).count() == 1
    )


def test_s5_control_chars(spark):
    docs = make_docs(
        spark,
        [("ok", [T("clean text", 0)], "p0"), ("bad", [T("a\x01b", 0), T("c\nd", 3)], "p0")],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S5"))
    # \n is also a raw control char, as in strict JSON strings
    assert got == [
        ("bad", "S5", "InvalidToken", 0, 0),
        ("bad", "S5", "InvalidToken", 1, 3),
    ]


def test_s6_bad_escape(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T(r"valid \n \t \\ \" \/ A", 0)], "p0"),
            ("bad", [T(r"oops \q here", 0)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S6"))
    assert got == [("bad", "S6", "InvalidEscapeSequence", 0, 0)]


def test_s7_bad_unicode(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T(r"pair 😀 and bmp é", 0)], "p0"),
            ("badhex", [T(r"\uDZZZ", 0)], "p0"),
            ("lonehigh", [T(r"\uD800 alone", 0)], "p0"),
            ("lonelow", [T(r"\uDC00 alone", 0)], "p0"),
            # escaped backslash + literal 'u...': the first backslash
            # consumes the second, so there is NO \u escape here — the
            # lexer accepts it and S7 must too (consuming grammar, not a
            # bad-substring search)
            ("escbackslash", [T(r"fine \\uZZZZ and \\uD800 too", 0)], "p0"),
            ("okpair", [T("pair \\uD83D\\uDE00 and bmp \\u00e9 ok", 0)], "p0"),
            # trailing lone backslash is S6's unterminated-escape, not S7
            ("trailing", [T("dangling \\u0041 then \\", 0)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S7"))
    assert got == [
        ("badhex", "S7", "InvalidUnicodeEscape", 0, 0),
        ("lonehigh", "S7", "InvalidUnicodeEscape", 0, 0),
        ("lonelow", "S7", "InvalidUnicodeEscape", 0, 0),
    ]


def test_s8_text_media_exclusivity(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T("a", 0), M("m", 1)], "p0"),
            ("textref", [("text", "a", "m1", 0)], "p0"),
            ("mediamissing", [("image", "", None, 0)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs).filter(F.col("rule_id") == "S8"))
    assert got == [
        ("mediamissing", "S8", "Expected", 0, 0),
        ("textref", "S8", "Expected", 0, 0),
    ]


def test_u1_uniqueness(spark):
    docs = make_docs(
        spark,
        [
            ("a", [T("x", 0)], "p0"),
            ("a", [T("y", 0)], "p1"),  # dup across partitions
            ("b", [T("z", 0)], "p0"),
        ],
    )
    got = rows(uniqueness_violations(docs))
    assert got == [
        ("a", "U1", "DuplicateKey", None, None),
        ("a", "U1", "DuplicateKey", None, None),
    ]


def test_r1_referential(spark):
    docs = make_docs(
        spark,
        [
            ("ok", [T("a", 0), M("known", 1)], "p0"),
            ("bad", [T("a", 0), M("ghost", 1)], "p0"),
            ("bad2", [M("ghost2", 0)], "p1"),
        ],
    )
    cat = spark.createDataFrame([("known", "image", 10)], ["media_ref", "media_kind", "bytes"])
    # empty catalog: every ref dangles; wrong catalog: zero overlap with
    # the refs, so every ref dangles too
    empty = cat.filter(F.lit(False))
    wrong = spark.range(64).selectExpr("concat('w', id) AS media_ref")
    every_ref = [
        ("bad", "R1", "DanglingMediaRef", 1, 1),
        ("bad2", "R1", "DanglingMediaRef", 0, 0),
        ("ok", "R1", "DanglingMediaRef", 1, 1),
    ]
    cases = [
        (cat, [("bad", "R1", "DanglingMediaRef", 1, 1), ("bad2", "R1", "DanglingMediaRef", 0, 0)]),
        (empty, every_ref),
        (wrong, every_ref),
    ]
    for catalog, want in cases:
        for strategy in ("auto", "broadcast", "smj"):
            assert rows(referential_violations(docs, catalog, strategy)) == want, strategy
    # a removed strategy must fail loudly, not fall through to a plain join
    with pytest.raises(ValueError, match="unknown strategy"):
        referential_violations(docs, cat, "distinct")


def test_d1_drift(spark):
    # normal partitions share a 50/50 text/image mix (so their PSI vs the
    # global stays small); p_drift is all-image → PSI blows past 0.25
    normal = [(f"n{i}", [T("a", 0), M(f"n{i}m", 1)], f"p{i % 3}") for i in range(30)]
    drifted = [(f"d{i}", [M(f"m{i}", 0), M(f"m{i}x", 1)], "p_drift") for i in range(10)]
    docs = make_docs(spark, normal + drifted)
    got = drift_violations(docs).collect()
    assert [r["partition"] for r in got] == ["p_drift"]
    assert got[0]["rule_id"] == "D1" and got[0]["kind"] == "DriftExceeded"


def test_d1_drift_kl_metric(spark):
    import math

    from zparse_spark.operators.rules import RuleParams, drift_scores

    normal = [(f"n{i}", [T("a", 0), M(f"n{i}m", 1)], f"p{i % 3}") for i in range(30)]
    drifted = [(f"d{i}", [M(f"m{i}", 0), M(f"m{i}x", 1)], "p_drift") for i in range(10)]
    docs = make_docs(spark, normal + drifted)

    # hand-compute KL for p_drift: p = (text 0/20+eps, image 20/20+eps,
    # audio eps, video eps) vs global q = (30/80, 50/80, 0, 0)+eps —
    # same eps floor and term order as the operator
    eps = 1e-4
    p = [0 / 20 + eps, 20 / 20 + eps, eps, eps]
    q = [30 / 80 + eps, 50 / 80 + eps, eps, eps]
    want = sum(pk * math.log(pk / qk) for pk, qk in zip(p, q))
    scores = {r["partition"]: r for r in drift_scores(docs).collect()}
    assert abs(scores["p_drift"]["kl"] - want) < 1e-9
    # normal partitions sit far below the drifted one (their ~0.03 KL
    # comes from the drifted docs shifting the GLOBAL mix, not from
    # their own 50/50 composition)
    assert all(r["kl"] < 0.05 for k, r in scores.items() if k != "p_drift")
    assert scores["p_drift"]["kl"] > 0.3

    # kl_threshold=None (default) never changes which rows fire; setting
    # it fires KL alongside PSI and names both metrics in the message
    got = drift_violations(docs, RuleParams(kl_threshold=0.3)).collect()
    assert [r["partition"] for r in got] == ["p_drift"]
    assert "PSI " in got[0]["message"] and "KL " in got[0]["message"]
    # a KL-only firing: PSI threshold too high to fire, KL fires alone
    got_kl = drift_violations(
        docs, RuleParams(psi_threshold=1e9, kl_threshold=0.3)
    ).collect()
    assert [r["partition"] for r in got_kl] == ["p_drift"]
    assert got_kl[0]["message"].startswith("KL ")


def test_empty_and_null_spans_do_not_crash(spark):
    docs = make_docs(spark, [("empty", [], "p0"), ("none", None, "p0")])
    assert span_rule_violations(docs).count() == 0


def test_s9_span_overlap(spark):
    """Opt-in extent-overlap rule: offsets strictly increase (S1 clean)
    but a span starts before the previous one's extent (offset +
    char-length of text) ends — the class S1 cannot see. Boundary
    touch (offset == prev_end) is legal; empty/NULL previous text never
    overlaps; char (not byte) length is the extent measure."""
    p = RuleParams(check_span_overlap=True)
    docs = make_docs(
        spark,
        [
            # "abcde" spans [0,5); next at 3 overlaps, at 5 touches (ok)
            ("ov", [T("abcde", 0), T("x", 3)], "p0"),
            ("touch", [T("abcde", 0), T("x", 5)], "p0"),
            # empty prev text: extent is a point, never overlaps
            ("emptyprev", [T("", 0), T("x", 1)], "p0"),
            # NULL prev text coalesces to '' — no overlap, no crash
            ("nullprev", [("text", None, None, 0), T("x", 1)], "p0"),
            # multibyte: "éé" is 2 CHARS (4 utf-8 bytes) → extent [0,2);
            # offset 2 touches — byte semantics would flag it
            ("mb", [T("éé", 0), T("x", 2)], "p0"),
            # regression ALSO overlaps: S1 and S9 both fire at pos 1
            ("regr", [T("abc", 5), T("x", 2)], "p0"),
        ],
    )
    got = rows(span_rule_violations(docs, p).filter(F.col("rule_id") == "S9"))
    assert got == [
        ("ov", "S9", "InvalidArray", 1, 3),
        ("regr", "S9", "InvalidArray", 1, 2),
    ]
    msg = {
        r["doc_id"]: r["message"]
        for r in span_rule_violations(docs, p).filter("rule_id = 'S9'").collect()
    }
    assert msg["ov"] == "span overlap: offset 3 < prev end 5"
    # S1 still fires only on the true regression
    s1 = rows(span_rule_violations(docs, p).filter(F.col("rule_id") == "S1"))
    assert s1 == [("regr", "S1", "InvalidArray", 1, 2)]
    # line/col ride along like any span rule (prev texts: "abcde" → col 6)
    lc = span_rule_violations(docs, p).filter("rule_id = 'S9' and doc_id = 'ov'").first()
    assert (lc["line"], lc["col"]) == (1, 6)
    # default params: rule off, zero S9 rows, schema unchanged
    off = span_rule_violations(docs)
    assert off.filter("rule_id = 'S9'").count() == 0
    assert off.columns == span_rule_violations(docs, p).columns


def test_s9_active_rule_ids_and_hash(spark):
    """Engine wiring: S9 joins the verdict grid only when opted in, and
    flipping the flag changes rules_hash so resume never mixes runs."""
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

    base = ValidationConfig()
    ov = ValidationConfig(params=RuleParams(check_span_overlap=True))
    assert "S9" not in ValidationEngine(base).active_rule_ids()
    ids = ValidationEngine(ov).active_rule_ids()
    assert ids.index("S9") == ids.index("S1") + 1
    assert base.rules_hash() != ov.rules_hash()


def test_line_col_positions(spark):
    """Pos contract (error.rs:8-18 prints offset:line:col) over the
    canonical reconstruction: each span-level violation reports the
    1-based (line, col) where the violating span STARTS in the
    concatenation of span texts — newlines in earlier spans advance the
    line and reset the column."""
    docs = make_docs(
        spark,
        [
            # span texts: "ab\ncd" (5 chars, 1 nl) | "xyz" | "\x01"
            # span 2 starts after "ab\ncdxyz": line 2, col 6+1? no —
            # after span0 (ends 'cd', col 3) span1 starts line 2 col 3,
            # span2 starts at line 2, col 3+3=6... planted control char
            ("d1", [T("ab\ncd", 0), T("xyz", 6), T("\x01", 10)], "p0"),
            # no newlines anywhere: col accumulates, line stays 1
            ("d2", [T("abcd", 0), T("\x01", 5)], "p0"),
            # violating span directly after a newline: col resets to 1
            ("d3", [T("ab\n", 0), T("\x01", 4)], "p0"),
        ],
    )
    got = sorted(
        (r["doc_id"], r["span_pos"], r["line"], r["col"])
        for r in span_rule_violations(docs).filter("rule_id = 'S5'").collect()
    )
    assert got == [
        ("d1", 0, 1, 1),   # the '\n' inside span 0 is itself a control char
        ("d1", 2, 2, 6),   # after "ab\ncdxyz": line 2 (one nl), col 3+3
        ("d2", 1, 1, 5),   # after "abcd": line 1, col 5
        ("d3", 0, 1, 1),
        ("d3", 1, 2, 1),   # prefix ends with '\n': column resets
    ]
    # doc/table-level rows stay position-free
    limits = RuleParams(max_spans=2, max_text_bytes=0)
    s3 = span_rule_violations(docs, limits).filter("rule_id = 'S3'").collect()
    assert s3 and all(r["line"] is None and r["col"] is None for r in s3)


def test_functional_dependency_violations(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.rules import functional_dependency_violations

    rows = (
        [("cat1", "image"), ("cat1", "video"), ("cat2", "audio"), ("cat2", "audio")]
        + [("hot", f"k{i:02d}") for i in range(20)]      # 20 variants
        + [(None, "x"), ("cat3", None)]                   # skipped groups
    )
    df = spark.createDataFrame(rows, "ref string, kind string").repartition(5)
    got = {
        r["ref"]: (r["n_variants"], r["variants"])
        for r in functional_dependency_violations(df, "ref", "kind", max_examples=3).collect()
    }
    # cat2 consistent -> absent; null determinant/dependent skipped;
    # hot key: exact count 20 but examples bounded at max_examples=3
    assert got == {
        "cat1": (2, "image,video"),
        "hot": (20, "k00,k01,k02"),
    }


def test_functional_dependency_non_string_dependent(spark):
    """Y is advertised as any atomic type — an int dependent must work
    (the variants reassembly needs array<string>, so the op casts in the
    initial projection; pre-fix this failed at analysis time)."""
    from zparse_spark.operators.rules import functional_dependency_violations

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 7), ("b", 7), ("c", None)],
        "src string, code int",
    )
    got = {
        r["src"]: (r["n_variants"], r["variants"])
        for r in functional_dependency_violations(df, "src", "code").collect()
    }
    assert got == {"a": (2, "1,2")}


def test_media_kind_consistency_f1(spark):
    from zparse_spark.operators.rules import media_kind_consistency_violations

    docs = spark.createDataFrame(
        [
            ("p0", "a", [("image", None, "m1", 0), ("text", "x", None, 5)]),
            ("p0", "b", [("audio", None, "m1", 0)]),   # m1 also image -> F1
            ("p1", "c", [("video", None, "m2", 0)]),   # m2 consistent
            ("p1", "d", [("video", None, "m2", 0)]),
        ],
        "partition string, doc_id string, "
        "spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    got = sorted(
        (r["partition"], r["doc_id"], r["rule_id"], r["kind"], r["span_pos"], r["message"])
        for r in media_kind_consistency_violations(docs).collect()
    )
    # every occurrence of m1 is flagged, with the sorted variant list
    assert got == [
        ("p0", "a", "F1", "InconsistentMediaKind", 0,
         "inconsistent media kind: m1 -> audio,image"),
        ("p0", "b", "F1", "InconsistentMediaKind", 0,
         "inconsistent media kind: m1 -> audio,image"),
    ]


def test_aggregate_reconciliation_hand_case(spark):
    """Tolerance math: key 1 exact (pass), key 2 off by 10% (fails
    rel_tol=0.05), key 3 off by 0.5 absolute (passes abs_tol=1.0),
    key 4 only in child and key 5 only in parent (both dropped — R1's
    job, not a tolerance violation)."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.constraints import aggregate_reconciliation

    child = spark.createDataFrame(
        [(1, 60.0), (1, 40.0), (2, 110.0), (3, 10.5), (4, 7.0)], "k long, v double"
    ).repartition(3)
    parent = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 10.0), (5, 1.0)], "k long, p double"
    )
    out = aggregate_reconciliation(
        child, parent, "k", "k", F.sum("v"), "p", rel_tol=0.05, abs_tol=1.0
    ).collect()
    assert [(r["key"], r["child_value"], r["parent_value"]) for r in out] == [
        (2, 110.0, 100.0)
    ]
    assert out[0]["abs_err"] == 10.0 and out[0]["rel_err"] == 0.1


def test_aggregate_reconciliation_zero_parent(spark):
    """parent_value 0 with nonzero child violates any rel_tol (abs_err >
    0); rel_err is NULL (no scale), never a divide-by-zero."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.constraints import aggregate_reconciliation

    child = spark.createDataFrame([(1, 2.0)], "k long, v double")
    parent = spark.createDataFrame([(1, 0.0)], "k long, p double")
    r = aggregate_reconciliation(child, parent, "k", "k", F.sum("v"), "p", rel_tol=0.5).collect()
    assert len(r) == 1 and r[0]["abs_err"] == 2.0 and r[0]["rel_err"] is None


def test_fd_confidence_majority_and_ties(spark):
    """x1: 3×a + 1×b -> confidence 0.75, majority a. x2: 2-2 tie ->
    majority breaks to MIN dependent. x3: perfect FD -> filtered out at
    min_confidence. NULL determinant skipped; NULL dependent is a real
    variant."""
    from zparse_spark.operators.constraints import fd_confidence

    rows = (
        [("x1", "a")] * 3 + [("x1", "b")]
        + [("x2", "zz")] * 2 + [("x2", "aa")] * 2
        + [("x3", "c")] * 5
        + [(None, "q")]
        + [("x4", None), ("x4", None), ("x4", "d")]
    )
    df = spark.createDataFrame(rows, "x string, y string").repartition(4)
    out = {r["determinant"]: r for r in fd_confidence(df, "x", "y", 0.99).collect()}
    assert set(out) == {"x1", "x2", "x4"}  # x3 perfect, None skipped
    assert out["x1"]["majority_value"] == "a" and out["x1"]["confidence"] == 0.75
    assert out["x1"]["n_variants"] == 2 and out["x1"]["group_count"] == 4
    assert out["x2"]["majority_value"] == "aa" and out["x2"]["confidence"] == 0.5
    assert out["x4"]["majority_value"] == "NULL" and out["x4"]["majority_count"] == 2


def test_transition_violations_hand_case(spark):
    """State-machine legality per user: out-of-machine pairs flagged,
    first event unconstrained, (ts, tiebreak) ordering deterministic
    under ties, users independent."""
    from datetime import datetime

    from zparse_spark.operators.constraints import transition_violations

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    events = spark.createDataFrame(
        [
            (1, 10, t(1), "view"),
            (1, 11, t(2), "click"),      # view->click ok
            (1, 12, t(3), "signup"),     # click->signup VIOLATION
            (2, 20, t(1), "signup"),     # first event: unconstrained
            (2, 21, t(2), "error"),
            (2, 22, t(3), "signup"),     # error->signup ok
            # tie on ts: event_id orders 30 before 31 -> view->signup bad
            (3, 31, t(5), "signup"),
            (3, 30, t(5), "view"),
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    allowed = [("view", "click"), ("error", "signup"), ("signup", "error")]
    got = sorted(
        (r["user_id"], r["event_id"], r["prev_type"], r["event_type"])
        for r in transition_violations(events, allowed).collect()
    )
    assert got == [
        (1, 12, "click", "signup"),
        (3, 31, "view", "signup"),
    ]


def test_rule_cooccurrence_hand_case(spark):
    from zparse_spark.operators.constraints import rule_cooccurrence

    rows = [
        # doc 1 fails S2+S4 (plus a second S2 row that must dedup)
        ("p0", "1", "S2"), ("p0", "1", "S2"), ("p0", "1", "S4"),
        # doc 2 fails S2 only; doc 3 fails S4+R1
        ("p0", "2", "S2"), ("p1", "3", "S4"), ("p1", "3", "R1"),
    ]
    viol = spark.createDataFrame(rows, "partition string, doc_id string, rule_id string")
    out = {(r.rule_a, r.rule_b): r for r in rule_cooccurrence(viol, n_docs=10).collect()}
    s24 = out[("S2", "S4")]
    assert (s24.n_a, s24.n_b, s24.n_both) == (2, 2, 1)
    assert abs(s24.jaccard - round(1 / 3, 6)) < 1e-9
    assert abs(s24.lift - round(1 * 10 / 4, 6)) < 1e-9
    r4 = out[("R1", "S4")]
    assert (r4.n_a, r4.n_b, r4.n_both) == (1, 2, 1)
    # S2/R1 never co-fire -> no row (pairs observed on >=1 common doc)
    assert ("R1", "S2") not in out and ("S2", "R1") not in out


def test_drift_scores_empty_partition_no_crash(spark):
    """A partition whose docs carry NO spans is data, not a crash: ANSI
    mode made c/0 abort the whole job before the zero-span guard. The
    empty partition's shares floor to eps -> large positive PSI (it IS
    maximal drift) and the run completes."""
    from zparse_spark.operators.rules import RuleParams, drift_scores

    from tests.conftest import make_docs

    docs = make_docs(
        spark,
        [
            ("1", [("text", "a", None, 0), ("image", "", "m1", 5)], "p0"),
            ("2", [("text", "b", None, 0)], "p0"),
            ("3", None, "pempty"),
            ("4", [], "pempty"),
        ],
    )
    out = {r.partition: r for r in drift_scores(docs, RuleParams()).collect()}
    assert set(out) == {"p0", "pempty"}
    assert out["pempty"].psi > out["p0"].psi > 0 or out["pempty"].psi > 0
    import math

    assert math.isfinite(out["pempty"].psi) and math.isfinite(out["pempty"].kl)


def test_conditional_fd_scopes_to_condition(spark):
    from pyspark.sql import functions as F

    from zparse_spark.operators.constraints import conditional_fd_violations
    from zparse_spark.operators.rules import functional_dependency_violations

    rows = [
        # scope in ("a" rows): k1 has 2 variants, k2 has 1
        ("a", "k1", "x"), ("a", "k1", "y"), ("a", "k2", "x"),
        # out-of-scope rows would add a THIRD k1 variant and violate k2
        ("b", "k1", "z"), ("b", "k2", "y"),
        # NULL condition column -> outside the scope, like SQL WHERE
        (None, "k1", "w"),
    ]
    df = spark.createDataFrame(rows, "scope string, x string, y string")
    out = {r.x: r for r in conditional_fd_violations(
        df, F.col("scope") == "a", "x", "y").collect()}
    assert set(out) == {"k1"}
    assert out["k1"].n_variants == 2 and out["k1"].variants == "x,y"
    # the same check unscoped sees all variants — CFD is a real refinement
    glob = {r.x: r for r in functional_dependency_violations(df, "x", "y").collect()}
    assert glob["k1"].n_variants == 4 and glob["k2"].n_variants == 2
    # SQL-string condition spelling is equivalent
    out2 = {r.x: r.n_variants for r in conditional_fd_violations(
        df, "scope = 'a'", "x", "y").collect()}
    assert out2 == {"k1": 2}


def test_asof_referential_violation_classes(spark):
    import datetime as dt

    from zparse_spark.operators.constraints import asof_referential_violations

    d = dt.date
    dim = spark.createDataFrame(
        [
            # k=good: contiguous v1/v2, v2 open-ended
            ("good", d(2020, 1, 1), d(2021, 1, 1)),
            ("good", d(2021, 1, 1), None),
            # k=gap: hole in all of 2021
            ("gap", d(2020, 1, 1), d(2021, 1, 1)),
            ("gap", d(2022, 1, 1), None),
            # k=ovl: second version starts before the first ends
            ("ovl", d(2020, 1, 1), d(2021, 1, 1)),
            ("ovl", d(2020, 12, 1), None),
        ],
        "k string, valid_from date, valid_to date",
    )
    fact = spark.createDataFrame(
        [
            ("good", d(2020, 6, 1)),
            ("good", d(2021, 1, 1)),   # boundary: half-open -> v2 only
            ("gap", d(2021, 6, 1)),    # in the hole
            ("gap", d(2021, 6, 1)),    # duplicate fact -> n_facts=2
            ("ovl", d(2020, 12, 15)),  # covered twice
            ("missing", d(2020, 6, 1)),
            (None, d(2020, 6, 1)),     # NULL key out of scope
            ("good", None),            # NULL ts out of scope
        ],
        "k string, ts date",
    )
    out = {
        (r.key, r.ts): r
        for r in asof_referential_violations(
            fact, "k", "ts", dim, "k"
        ).collect()
    }
    assert set(out) == {
        ("gap", d(2021, 6, 1)),
        ("ovl", d(2020, 12, 15)),
        ("missing", d(2020, 6, 1)),
    }
    g = out[("gap", d(2021, 6, 1))]
    assert g.violation == "no_valid_version" and g.n_facts == 2 and g.n_versions == 0
    o = out[("ovl", d(2020, 12, 15))]
    assert o.violation == "ambiguous_version" and o.n_versions == 2
    m = out[("missing", d(2020, 6, 1))]
    assert m.violation == "unmatched_key" and m.n_versions == 0
    # clean resolutions (incl. the half-open boundary) emit nothing
    with __import__("pytest").raises(ValueError):
        asof_referential_violations(fact, "k", "ts", dim, "k", strategy="nope")


def test_violation_exemplars_bounded_and_repartition_invariant(spark):
    """X136: per (partition, rule) at most n exemplars, n_total is the
    full count, and the selected exemplar SET is identical under any
    input partitioning (pure function of the data, not of shuffles)."""
    from pyspark.sql import functions as F

    from zparse_spark.operators.rules import violation_exemplars

    rows = [
        ("p0", f"d{i}", "S1", "InvalidArray", i % 5, 10 * i, None, None, f"m{i}")
        for i in range(20)
    ] + [
        ("p1", f"d{i}", "U1", "DuplicateKey", None, None, None, None, "dup")
        for i in range(2)
    ]
    schema = (
        "partition string, doc_id string, rule_id string, kind string,"
        "span_pos int, offset long, line int, col int, message string"
    )
    v1 = spark.createDataFrame(rows, schema)
    out1 = violation_exemplars(v1, n=3).collect()
    by_cell: dict = {}
    for r in out1:
        by_cell.setdefault((r["partition"], r["rule_id"]), []).append(r)
    assert len(by_cell[("p0", "S1")]) == 3
    assert all(r["n_total"] == 20 for r in by_cell[("p0", "S1")])
    assert sorted(r["exemplar_rank"] for r in by_cell[("p0", "S1")]) == [1, 2, 3]
    assert len(by_cell[("p1", "U1")]) == 2  # fewer rows than n -> all kept
    assert all(r["n_total"] == 2 for r in by_cell[("p1", "U1")])

    v2 = spark.createDataFrame(list(reversed(rows)), schema).repartition(7)
    out2 = violation_exemplars(v2, n=3).collect()
    key = lambda r: (r["partition"], r["rule_id"], r["doc_id"], r["exemplar_rank"])
    assert sorted(map(key, out1)) == sorted(map(key, out2))


def test_media_refcounts_and_orphans(spark):
    """Catalog entries keep zero counts (orphans = GC shortlist);
    multi-span and multi-doc references accumulate; refs outside the
    catalog never appear (that's R1's direction, not this one)."""
    from zparse_spark.operators.constraints import media_refcounts, orphan_media

    docs = spark.createDataFrame(
        [
            ("d1", [("text", "a", None, 0), ("image", None, "m1", 1)]),
            ("d2", [("image", None, "m1", 0), ("video", None, "m2", 1)]),
            ("d3", [("image", None, "mX", 0)]),  # dangling: R1's problem
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    cat = spark.createDataFrame([("m1",), ("m2",), ("m3",)], ["media_ref"])
    got = {r["media_ref"]: r["n_refs"] for r in media_refcounts(docs, cat).collect()}
    assert got == {"m1": 2, "m2": 1, "m3": 0}
    assert [r["media_ref"] for r in orphan_media(docs, cat).collect()] == ["m3"]


@pytest.mark.parametrize(
    "query",
    [
        "span_pack_violations",
        "span_pack_overlap",
        "span_pack_check_constraints",
        "span_pack_drift",
        "span_pack_verdicts",
    ],
)
def test_span_pack_full_rows_match_duckdb_twin(spark, sf_dir, query):
    """Every column of every violation row — messages and line/col
    included — equals the DuckDB ``oracle_sql()`` twin's, under the
    oracle gate's own normalization (scripts/check_oracles.py). The same
    holds for D1's per-partition PSI/KL scores and for the verdict grid
    with D1 on, where the planted ``pdrift`` partition must fail D1."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_oracles import value_hash

    sdf = entry.queries()[query](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    res = duckdb.connect().execute(entry.oracle_sql()[query])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert srows and len(srows) == len(orows)
    assert value_hash(sdf.columns, srows) == value_hash(ocols, orows)
    if query == "span_pack_verdicts":
        assert ("pdrift", "D1", False) in {r[:3] for r in srows}


def _plan_nodes(plan, name: str) -> int:
    """Nodes called ``name`` in a JVM logical/physical plan tree (a
    node's name can appear more than once in its ``toString()``)."""
    children = plan.children()
    return (plan.nodeName() == name) + sum(
        _plan_nodes(children.apply(i), name) for i in range(children.size())
    )


def _docs_null_partition(spark, rows):
    """``make_docs`` with a nullable ``partition``, so a row may carry None."""
    from pyspark.sql import types as T

    from zparse_spark.schema import DOCUMENTS_SCHEMA

    schema = T.StructType(
        [*DOCUMENTS_SCHEMA.fields[:2], T.StructField("partition", T.StringType())]
    )
    data = [
        (d, [tuple(s) for s in spans] if spans is not None else None, p) for d, spans, p in rows
    ]
    return spark.createDataFrame(data, schema)


def test_m1_classifies_each_payload_once(spark):
    """M1's rows for every verdict shape, with and without the missing
    branch, and one decode (MapInPandas) per plan: the missing branch
    reuses the verdict frame's one left join instead of reading it again."""
    from zparse_spark.functions import media_codecs
    from zparse_spark.multimodal import decode_verdicts
    from zparse_spark.operators.rules import media_payload_violations

    docs = _docs_null_partition(
        spark,
        [
            ("d1", [T("hi", 0), M("m_ok", 2)], "p0"),
            ("d2", [M("m_bad", 0)], "p0"),
            ("d3", [M("m_dup", 4)], "p0"),
            ("d4", [M("m_mixed", 0)], "p1"),
            ("d5", [M("m_null", 0)], "p1"),
            ("d6", [T("x", 0), M("m_gone", 1)], "p1"),
            ("d7", [M("m_bad", 0), M("m_gone", 3)], None),
        ],
    )
    verdicts = spark.createDataFrame(
        [
            ("m_ok", True, None),
            ("m_bad", False, "truncated"),
            ("m_dup", False, "truncated"),
            ("m_dup", False, "bad_magic"),
            ("m_mixed", True, None),
            ("m_mixed", False, "unsupported_variant"),
            ("m_null", None, None),
            (None, False, "bad_magic"),
        ],
        "media_ref string, ok boolean, error_kind string",
    )

    def m1(check_missing):
        return sorted(
            (tuple(r) for r in media_payload_violations(docs, verdicts, check_missing).collect()),
            key=repr,
        )

    def row(part, doc, pos, off, what, ref):
        return (part, doc, "M1", "MediaDecodeFailed", pos, off, None, None,
                f"media payload {what}: {ref}")

    bad = [
        row("p0", "d2", 0, 0, "truncated", "m_bad"),
        row("p0", "d3", 0, 4, "bad_magic", "m_dup"),
        row("p0", "d3", 0, 4, "truncated", "m_dup"),
        row("p1", "d4", 0, 0, "unsupported_variant", "m_mixed"),
        row(None, "d7", 0, 0, "truncated", "m_bad"),
    ]
    missing = [
        row("p1", "d6", 1, 1, "missing", "m_gone"),
        row(None, "d7", 1, 3, "missing", "m_gone"),
    ]
    assert m1(False) == sorted(bad, key=repr)
    assert m1(True) == sorted(bad + missing, key=repr)

    good = media_codecs.bmp_encode(media_codecs.synth_image(1))
    pay = spark.createDataFrame(
        [("m_ok", "image", bytearray(good)), ("m_bad", "image", bytearray(good[:20]))],
        "media_ref string, media_kind string, payload binary",
    )
    m1_plan = media_payload_violations(docs, decode_verdicts(pay))._jdf.queryExecution()
    assert _plan_nodes(m1_plan.optimizedPlan(), "MapInPandas") == 1


def test_d1_one_scan_and_bit_identical_to_python_fold(spark, tmp_path):
    """drift_scores reads spans.kind once (one FileScan) and its PSI/KL
    are the exact doubles of a left-to-right fold over exact counts:
    null/empty spans, an all-empty partition, null and out-of-domain
    kinds and a null partition included."""
    import functools
    import operator

    from zparse_spark.operators.rules import RuleParams, drift_scores

    rows_in = [
        ("a1", [T("a", 0), M("m1", 1), ("code", "c", None, 2)], "pa"),
        ("a2", [T("b", 0), T("c", 1), ("table", "t", None, 2)], "pa"),
        ("a3", None, "pa"),
        ("a4", [], "pa"),
        ("b1", [M("m2", 0, "video"), M("m3", 1, "audio"), (None, "n", None, 2)], "pb"),
        ("b2", [("weird", "w", None, 0), T("d", 1)], "pb"),
        ("e1", None, "pempty"),
        ("e2", [], "pempty"),
        ("e3", [("weird", "w", None, 0)], "pempty"),
        ("n1", [T("e", 0), T("f", 1), M("m4", 2)], None),
    ]
    path = str(tmp_path / "docs")
    _docs_null_partition(spark, rows_in).write.parquet(path)
    docs = spark.read.parquet(path)

    # Spark's ln is java.lang.StrictMath.log; the fold calls the same
    # function so the comparison is of the arithmetic, not of two libms
    ln = spark.sparkContext._jvm.java.lang.StrictMath.log
    kinds = RuleParams().kind_domain
    counts: dict = {}
    for _, spans, part in rows_in:
        c = counts.setdefault(part, dict.fromkeys(kinds, 0))
        for s in spans or []:
            if s[0] in c:
                c[s[0]] += 1
    g = {k: sum(c[k] for c in counts.values()) for k in kinds}
    g_tot = sum(g.values())

    def fold(c):
        eps = RuleParams().drift_epsilon
        tot = sum(c.values())
        pk = [(c[k] / tot if tot > 0 else 0.0) + eps for k in kinds]
        qk = [(g[k] / g_tot if g_tot > 0 else 0.0) + eps for k in kinds]
        psi = functools.reduce(operator.add, [(p - q) * ln(p / q) for p, q in zip(pk, qk)])
        kl = functools.reduce(operator.add, [p * ln(p / q) for p, q in zip(pk, qk)])
        return psi.hex(), kl.hex()

    want = {part: fold(c) for part, c in counts.items()}
    for params in (RuleParams(), RuleParams(kl_threshold=0.05)):
        scores = drift_scores(docs, params)
        # the plan as built, before AQE's runtime exchange reuse can fold
        # a second scan of the same table into the first
        plan = scores._jdf.queryExecution().executedPlan().toString()
        assert sum(line.lstrip(" :+-").startswith("FileScan") for line in plan.splitlines()) == 1
        got = {r["partition"]: (r["psi"].hex(), r["kl"].hex()) for r in scores.collect()}
        assert got == want
