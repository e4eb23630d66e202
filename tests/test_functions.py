"""Scalar-function tests: the T5 micro-fixture matrix (FIXTURES.md) for
the CSV inference cascade, TOML ints, datetime cascade, text analysis,
and the pandas-UDF exact validator's agreement with the JVM rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zparse_spark.functions.inference import (
    infer_cell_type,
    parse_datetime_any,
    parse_int_any,
    try_cast_cascade,
)
from zparse_spark.functions.text import (
    _scan_text,
    doc_fingerprint,
    lang_guess,
    quality_score,
    rolling_hash,
    token_count,
)

# FIXTURES.md T5 matrix (mirrors csv.rs:7-34, yaml/parser.rs:509-524,
# tests/csv_tests.rs:270-278)
T5 = [
    ("", False, "null"),
    ("null", False, "null"),
    ("NULL", False, "null"),
    ("Null", False, "null"),
    ("true", False, "bool"),
    ("TRUE", False, "bool"),
    ("false", False, "bool"),
    ("42", False, "long"),
    ("-7", False, "long"),
    ("2.5", False, "double"),
    ("1e9", False, "double"),
    ("inf", False, "string"),
    ("nan", False, "string"),
    ("-inf", False, "string"),
    ("hello", False, "string"),
    ("001", True, "string"),  # quoted stays string
    ("42", True, "string"),
    ("1.0", False, "double"),  # not long: integral grammar required
]


def test_infer_cell_type_matrix(spark):
    df = spark.createDataFrame([(r, q, e) for r, q, e in T5], ["raw", "quoted", "expected"])
    got = df.select("raw", "quoted", "expected", infer_cell_type(F.col("raw"), F.col("quoted")).alias("t")).collect()
    for r in got:
        assert r["t"] == r["expected"], (r["raw"], r["quoted"], r["t"])


def test_try_cast_cascade_values(spark):
    df = spark.createDataFrame([("42",), ("2.5",), ("true",), ("x",)], ["raw"])
    rows = {r["raw"]: r["v"] for r in df.select("raw", try_cast_cascade(F.col("raw")).alias("v")).collect()}
    assert rows["42"]["long_v"] == 42 and rows["42"]["type"] == "long"
    assert rows["2.5"]["double_v"] == 2.5
    assert rows["true"]["bool_v"] is True
    assert rows["x"]["string_v"] == "x"


def test_parse_int_any_radix(spark):
    cases = [("0xFF", 255), ("0o17", 15), ("0b101", 5), ("1_000_000", 1000000),
             ("-0x10", -16), ("12", 12), ("zz", None)]
    df = spark.createDataFrame([(c,) for c, _ in cases], ["raw"])
    got = {r["raw"]: r["v"] for r in df.select("raw", parse_int_any(F.col("raw")).alias("v")).collect()}
    for raw, want in cases:
        assert got[raw] == want, (raw, got[raw])


def test_parse_datetime_any_cascade(spark):
    cases = [
        ("2024-01-02T03:04:05Z", "2024-01-02 03:04:05"),
        ("2024-01-02T03:04:05+02:00", "2024-01-02 01:04:05"),
        ("2024-01-02 03:04:05", "2024-01-02 03:04:05"),
        ("2024-01-02", "2024-01-02 00:00:00"),
        ("not a date", None),
        ("2024-13-99", None),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], ["raw"])
    got = {r["raw"]: r["v"] for r in df.select("raw", parse_datetime_any(F.col("raw")).alias("v")).collect()}
    for raw, want in cases:
        s = got[raw].strftime("%Y-%m-%d %H:%M:%S") if got[raw] else None
        assert s == want, (raw, s)


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("   ",), ("one",)], ["t"])
    got = [r["n"] for r in df.select(token_count(F.col("t")).alias("n")).collect()]
    assert got == [3, 0, 0, 1]
    bp = df.select(token_count(F.col("t"), "bpeish").alias("n")).collect()
    assert bp[0]["n"] == 3


def test_quality_and_lang_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is fine",),
         ("el que la los gato",),
         ("!!! ??? $$$",),
         ("THE THE THE",)],
        ["t"],
    )
    rows = df.select(
        quality_score(F.col("t")).alias("q"),
        lang_guess(F.col("t")).alias("lang"),
        doc_fingerprint(F.col("t")).alias("fp"),
    ).collect()
    assert 0.0 <= rows[0]["q"] <= 1.0 and rows[0]["q"] > rows[2]["q"]  # prose beats punct salad
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "es"
    assert rows[2]["lang"] == "und"
    assert len(rows[0]["fp"]) == 32  # md5 hex


def test_fingerprint_normalization_and_rolling_hash(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("world hello",)], ["t"]
    )
    fps = [r["fp"] for r in df.select(doc_fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1]  # case/whitespace-insensitive
    assert fps[0] != fps[2]  # order-sensitive
    rhs = [r["h"] for r in df.select(rolling_hash(F.col("t")).alias("h")).collect()]
    assert rhs[0] == rhs[1] and rhs[0] != rhs[2]


# exact scanner (the pandas-UDF core) vs reference semantics
@pytest.mark.parametrize(
    "s,want",
    [
        ("plain text", None),
        (r"ok \n \t \" \\ \/", None),
        (r"pair 😀 ok", None),
        (r"bad \q", "InvalidEscapeSequence"),
        ("ctrl \x01", "InvalidToken"),
        (r"hex \uZZZZ", "InvalidUnicodeEscape"),
        (r"lone \uD800 high", "InvalidUnicodeEscape"),
        (r"lone \uDC00 low", "InvalidUnicodeEscape"),
        ("trailing \\", "InvalidEscapeSequence"),
        (r"𐀀", None),  # valid pair
        (None, None),
    ],
)
def test_scan_text_exact(s, want):
    assert _scan_text(s) == want


def test_udf_agrees_with_jvm_rules(spark):
    """The Arrow UDF and the JVM regex rules must agree on every planted
    fixture class (vectorization-discipline escape hatch, SURVEY.md §2.6)."""
    from zparse_spark.functions.text import validate_text_udf
    from zparse_spark.operators.rules import span_rule_violations
    from zparse_spark.sources.datagen import generate_documents

    docs = generate_documents(spark, n_docs=300, seed=11, n_partitions=2)
    flat_text = docs.select(
        "doc_id", F.explode(F.col("spans")).alias("s")
    ).select("doc_id", F.col("s.text").alias("text"))
    udf_bad = {
        (r["doc_id"], r["kind"])
        for r in flat_text.select("doc_id", validate_text_udf(F.col("text")).alias("kind"))
        .filter(F.col("kind").isNotNull())
        .collect()
    }
    jvm_bad = {
        (r["doc_id"], r["kind"])
        for r in span_rule_violations(docs.drop("_fixture_class"))
        .filter(F.col("rule_id").isin("S5", "S6", "S7"))
        .collect()
    }
    assert udf_bad == jvm_bad


def test_special_float_fork_toml_vs_csv(spark):
    """TOML accepts exactly inf/+inf/-inf/nan/+nan/-nan as floats
    (lexer/toml.rs:504-511); CSV/YAML keep every inf/nan spelling a
    string (csv.rs:24-28, yaml/parser.rs:509-524)."""
    from zparse_spark.functions.inference import infer_cell_type

    cells = ["inf", "+inf", "-inf", "nan", "+nan", "-nan", "INF", "Infinity", "1.5"]
    df = spark.createDataFrame([(c,) for c in cells], ["raw"])
    strict = {r["raw"]: r["t"] for r in df.select("raw", infer_cell_type(F.col("raw")).alias("t")).collect()}
    toml = {
        r["raw"]: r["t"]
        for r in df.select(
            "raw", infer_cell_type(F.col("raw"), allow_special_floats=True).alias("t")
        ).collect()
    }
    for c in ["inf", "+inf", "-inf", "nan", "+nan", "-nan"]:
        assert strict[c] == "string"
        assert toml[c] == "double"
    for mode in (strict, toml):
        assert mode["INF"] == "string" and mode["Infinity"] == "string"
        assert mode["1.5"] == "double"


def test_corpus_filter_reasons_first_match(spark):
    from zparse_spark.operators.filtering import corpus_filter, filter_report
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            ("short", "tiny text"),                                   # 2 tokens -> too_short
            ("ok", "the cat and the dog sat on the mat in the sun " * 3),
            ("yelling", "AAAA BBBB CCCC DDDD " * 10),                 # quality gate
            ("german", "der die und das " + "wort " * 20),            # wrong_lang
        ],
        ["doc_id", "text"],
    )
    ann = corpus_filter(docs, min_tokens=5, min_quality=0.3, langs=("en",))
    got = {r["doc_id"]: (r["kept"], r["reject_reason"]) for r in ann.collect()}
    assert got["short"] == (False, "too_short")
    assert got["ok"] == (True, None)
    assert got["yelling"][0] is False
    assert got["german"] == (False, "wrong_lang")
    rep = {r["outcome"]: r["n"] for r in filter_report(ann).collect()}
    assert rep["kept"] == 1 and sum(rep.values()) == 4


def test_token_budget_pack_equals_naive_global_window(spark):
    """The bucketed two-phase pack must equal the naive single global
    running-sum filter exactly — including order ties, a doc that
    exactly exhausts the budget, and the first overflowing doc cutting
    off everything after it (prefix semantics)."""
    import random

    from pyspark.sql import Window

    from zparse_spark.operators.filtering import token_budget_pack

    rng = random.Random(7)
    rows = [(i, rng.randint(1, 50), round(rng.random(), 3)) for i in range(500)]
    rows += [(1000, 25, rows[0][2]), (1001, 25, rows[0][2])]  # quality ties
    df = spark.createDataFrame(rows, "doc_id long, tokens long, quality double")
    for budget in (0, 37, 1000, 10**9):
        got = token_budget_pack(df, budget=budget, n_buckets=16)
        w = Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        naive = df.withColumn("cum_tokens", F.sum("tokens").over(w)).filter(
            F.col("cum_tokens") <= budget
        )
        a = sorted(map(tuple, got.select("doc_id", "cum_tokens").collect()))
        b = sorted(map(tuple, naive.select("doc_id", "cum_tokens").collect()))
        assert a == b, budget


def test_token_budget_pack_has_no_global_sort(spark):
    """Scale contract: the only unpartitioned window runs over the tiny
    per-bucket aggregate, never over the row stream — the row-level
    cumulative window must be hash-partitioned by bucket."""
    from zparse_spark.operators.filtering import token_budget_pack

    df = spark.range(10000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), 40) + 1).alias("tokens"),
        (F.pmod(F.col("id") * 37, 1000) / 1000.0).alias("quality"),
    )
    plan = (
        token_budget_pack(df, budget=5000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # row-level window partitioned by _bkt => its exchange is
    # hashpartitioning(_bkt...), and no single-partition exchange feeds
    # a Window over the full row stream
    assert "hashpartitioning(_bkt" in plan


def test_hash_sample_is_deterministic_and_partition_invariant(spark):
    """The keep set must be a pure function of (key, seed): identical
    across repeated runs and across repartitionings (df.sample is
    neither), disjoint-ish across seeds, and close to the requested
    rate."""
    from zparse_spark.operators.filtering import hash_sample, stratified_hash_sample

    df = spark.range(4000).select(F.col("id").alias("doc_id"),
                                  (F.pmod(F.col("id"), 3)).cast("string").alias("g"))
    a = {r["doc_id"] for r in hash_sample(df, 0.3, seed=1).collect()}
    b = {r["doc_id"] for r in hash_sample(df.repartition(13), 0.3, seed=1).collect()}
    assert a == b and 0.25 < len(a) / 4000 < 0.35
    c = {r["doc_id"] for r in hash_sample(df, 0.3, seed=2).collect()}
    assert c != a  # independent selection per seed
    strat = stratified_hash_sample(df, "g", {"0": 0.5, "1": 0.1}, key_col="doc_id",
                                   seed=1, default_fraction=0.0)
    rates = {r["g"]: r["n"] for r in
             strat.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_per = 4000 / 3
    assert 0.4 < rates["0"] / n_per < 0.6
    assert 0.05 < rates["1"] / n_per < 0.16
    assert "2" not in rates


def test_strip_boilerplate_order_and_full_strip(spark):
    """Stripping preserves original line order, keeps unshared lines
    untouched, and drops documents whose every line was boilerplate."""
    from zparse_spark.operators.filtering import boilerplate_lines, strip_boilerplate

    docs = spark.createDataFrame(
        [
            ("a", "unique a1\nshared X\nunique a2\nshared Y"),
            ("b", "shared X\nunique b1\nshared Y"),
            ("c", "shared X\nshared Y"),  # fully boilerplate -> drops out
        ],
        "doc_id string, text string",
    )
    bl = boilerplate_lines(docs, min_docs=2)
    assert {r["line"] for r in bl.collect()} == {"shared X", "shared Y"}
    out = {r["doc_id"]: (r["text_clean"], r["n_lines_kept"])
           for r in strip_boilerplate(docs, bl).collect()}
    assert out == {"a": ("unique a1\nunique a2", 2), "b": ("unique b1", 1)}


def test_redact_pii_matrix(spark):
    from zparse_spark.functions.text import pii_counts, redact_pii

    rows = [
        ("a@b.io and c.d-e_f@mail.example.org", "<EMAIL> and <EMAIL>", (2, 0, 0)),
        ("ip 192.168.0.1 end", "ip <IPV4> end", (0, 1, 0)),
        ("call +44 20 7946-0958 now", "call <PHONE> now", (0, 0, 1)),
        ("clean text, no identifiers", "clean text, no identifiers", (0, 0, 0)),
        (None, "", (0, 0, 0)),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "t string")
    got = df.select(
        redact_pii(F.col("t")).alias("r"), pii_counts(F.col("t")).alias("c")
    ).collect()
    by_r = {(r["r"], (r["c"]["email"], r["c"]["ipv4"], r["c"]["phone"])) for r in got}
    assert by_r == {(r, c) for _, r, c in rows}


def test_corpus_pipeline_v2_composes_as_one_lazy_plan(spark):
    """The round-4 corpus ops compose end to end without intermediate
    actions: boilerplate strip → PII redaction → admission filter →
    token-budget pack → deterministic sample, one lazy plan, one
    collect. Verifies the pieces agree on schemas and the planted
    artifacts flow through (boilerplate gone, PII masked, budget
    respected)."""
    from zparse_spark.functions.text import redact_pii
    from zparse_spark.operators.filtering import (
        boilerplate_lines,
        corpus_filter,
        hash_sample,
        strip_boilerplate,
        token_budget_pack,
    )

    base = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog and it is a fine day "
                  "for training data in the sun "),
            F.col("id").cast("string"),
            F.lit(" mail me at u"), F.col("id").cast("string"),
            F.lit("@x.org\nSHARED FOOTER LINE"),
        ).alias("text"),
    )
    bl = boilerplate_lines(base, min_docs=50)
    stripped = strip_boilerplate(base, bl).withColumnRenamed("text_clean", "text")
    clean = stripped.select("doc_id", redact_pii(F.col("text")).alias("text"))
    admitted = corpus_filter(clean).filter(F.col("kept"))
    packed = token_budget_pack(
        admitted.select("doc_id", "tokens", "quality"), budget=1500
    )
    sampled = hash_sample(packed, 0.5, key_col="doc_id", seed=3)
    rows = sampled.collect()
    assert 0 < len(rows) < 200
    assert max(r["cum_tokens"] for r in rows) <= 1500
    texts = {r["doc_id"]: r for r in clean.collect()}
    assert all("SHARED FOOTER" not in t["text"] for t in texts.values())
    assert all("<EMAIL>" in t["text"] for t in texts.values())


def test_word_occurrences_equals_hof_filter(spark):
    """The codegen regexp form must count exactly what the interpreted
    split+filter counted — adjacent hits, multi-space separators, tabs/
    newlines, leading/trailing whitespace, repeats, empty/null."""
    from zparse_spark.functions.text import _STOPWORDS, word_occurrences

    cases = [
        "of the of the", "  the   a  ", "x\tthe\ny is", "", None,
        "theater is not the", "a a a a", "to in is it for on", "no hits here?",
        "of", " of ", "A THE (case) the",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    lowered = F.lower(F.trim(F.coalesce(F.col("t"), F.lit(""))))
    words = F.split(lowered, "\\s+")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    hof = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    out = df.select(
        F.col("t"), hof.alias("old"), word_occurrences(lowered, _STOPWORDS).alias("new")
    ).collect()
    for r in out:
        assert r["old"] == r["new"], (r["t"], r["old"], r["new"])


def test_repetition_signals_matrix(spark):
    """Gopher-style repetition signals: line duplication (all copies
    counted, char mass weighted), top word/bigram shares, and the
    degenerate empty/null/one-word rows — Spark UDF vs a hand model."""
    from zparse_spark.functions.text import repetition_signals

    cases = {
        # 4 lines, 'dup' twice: dup_line_frac=2/4, chars 3*2/(3*2+1+2)
        "dup\ndup\na\nbb": (0.5, 6 / 9, 0.5, 1 / 3),
        # no repetition anywhere
        "one two three": (0.0, 0.0, 1 / 3, 1 / 2),
        # all-same word: top word 1.0, bigram 'x x' 1.0
        "x x x x": (0.0, 0.0, 1.0, 1.0),
        # empty lines and space-only lines are dropped before counting
        "a\n\n   \na": (1.0, 1.0, 1.0, 1.0),
        "": (0.0, 0.0, 0.0, 0.0),
        "solo": (0.0, 0.0, 1.0, 0.0),
        None: (0.0, 0.0, 0.0, 0.0),
    }
    df = spark.createDataFrame([(k,) for k in cases], "t string")
    got = {
        r["t"]: (
            r["s"]["dup_line_frac"],
            r["s"]["dup_char_frac"],
            r["s"]["top_word_frac"],
            r["s"]["top_bigram_frac"],
        )
        for r in df.select("t", repetition_signals(F.col("t")).alias("s")).collect()
    }
    for text, want in cases.items():
        for g, w in zip(got[text], want):
            assert abs(g - w) < 1e-12, (text, got[text], want)


def test_build_vocabulary(spark):
    from zparse_spark.functions.text import build_vocabulary

    docs = spark.createDataFrame(
        [
            ("a", "the cat sat on the mat"),
            ("b", "the dog sat"),
            ("c", "  The   CAT  "),     # case-fold + multi-space
            ("d", ""),                   # empty -> skipped
            ("e", None),                 # null -> skipped
        ],
        "doc_id string, text string",
    )
    got = {
        r["token"]: (r["tf"], r["df"])
        for r in build_vocabulary(docs, min_df=2).collect()
    }
    # 'the': tf 4 (2+1+1... a has 2, b 1, c 1) df 3; 'cat' tf 2 df 2; 'sat' tf 2 df 2
    assert got == {"the": (4, 3), "cat": (2, 2), "sat": (2, 2)}
    top1 = build_vocabulary(docs, min_df=2, top_n=1).collect()
    assert [(r["token"], r["tf"], r["df"]) for r in top1] == [("the", 4, 3)]


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from zparse_spark.functions.text import tfidf_top_terms

    # 3 docs: 'x' appears in all (idf = ln(4/4) = 0 -> score 0),
    # 'y' in doc 0 only (tf=2), 'z' in docs 1 and 2
    docs = spark.createDataFrame(
        [(0, "x y y"), (1, "x z"), (2, "x z z z"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(docs, top_k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["token"], r["tf"], r["df"], r["score"]) for r in rows}
    idf1 = round(2 * math.log(4.0 / 2.0), 6)  # y: tf=2, df=1, N=3
    idf2 = round(1 * math.log(4.0 / 3.0), 6)  # z in doc 1: tf=1, df=2
    assert got[(0, 1)] == ("y", 2, 1, idf1)
    assert got[(0, 2)] == ("x", 1, 3, 0.0)
    assert got[(1, 1)] == ("z", 1, 2, idf2)
    # null/blank docs contribute nothing anywhere
    assert {k[0] for k in got} == {0, 1, 2}


def test_tfidf_min_df_prunes_rare_terms(spark):
    from zparse_spark.functions.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(0, "common rare"), (1, "common")], "doc_id long, text string"
    )
    rows = tfidf_top_terms(docs, top_k=5, min_df=2).collect()
    assert {r["token"] for r in rows} == {"common"}


def test_unicode_signals_hand_built(spark):
    from zparse_spark.functions.text import unicode_signals

    docs = spark.createDataFrame(
        [
            (0, "plain ascii"),
            (1, "bad �� transcode"),
            (2, "ctrl\x07 and tab\t newline\n cr\r kept"),
            (3, "caf\u00e9 composed"),  # precomposed: non-ascii, NFC-stable
            (4, "cafe\u0301 decomposed"),  # combining acute: NFC recomposes
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in unicode_signals(docs).collect()}
    assert (rows[0]["n_replacement"], rows[0]["n_control"], rows[0]["n_non_ascii"], rows[0]["nfc_changed"]) == (0, 0, 0, 0)
    assert rows[1]["n_replacement"] == 2 and rows[1]["n_non_ascii"] == 2
    # \t \n \r are NOT control signals; \x07 is
    assert rows[2]["n_control"] == 1
    assert (rows[3]["n_non_ascii"], rows[3]["nfc_changed"]) == (1, 0)
    assert (rows[4]["n_non_ascii"], rows[4]["nfc_changed"]) == (1, 1)
    assert all(rows[5][c] is None for c in ("n_replacement", "n_control", "n_non_ascii", "nfc_changed"))


def test_pmi_collocations_hand_case(spark):
    """Corpus engineered so 'new york' is a perfect collocation (every
    'new' is followed by 'york') while 'the cat' pairs two independent
    frequent words: PMI(new york) >> PMI(the cat), and counts are
    exact. min_count prunes pairs below threshold."""
    import math

    from zparse_spark.functions.text import pmi_collocations

    docs = [(i, "new york " + "the cat " * 3) for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    out = {(r["w1"], r["w2"]): r for r in pmi_collocations(df, min_count=4, top_n=None).collect()}
    # tokens per doc: new york the cat the cat the cat -> 8 tokens, 7 bigrams
    # unigrams: new 4, york 4, the 12, cat 12 (N1=32); bigrams N2=28
    ny = out[("new", "york")]
    assert ny["c_xy"] == 4
    assert ny["pmi"] == round(math.log((4 / 28) / ((4 / 32) * (4 / 32))), 6)
    tc = out[("the", "cat")]
    assert tc["c_xy"] == 12
    assert tc["pmi"] == round(math.log((12 / 28) / ((12 / 32) * (12 / 32))), 6)
    assert ny["pmi"] > tc["pmi"]
    # 'york the' occurs once per doc = 4 times -> present; 'cat the' 8; 'cat new' 0
    assert ("cat", "new") not in out and out[("york", "the")]["c_xy"] == 4


def test_pmi_collocations_single_token_docs(spark):
    """One-token docs produce zero bigrams (slice length 0, never a
    negative-length error) and don't crash the totals."""
    from zparse_spark.functions.text import pmi_collocations

    df = spark.createDataFrame(
        [(1, "solo"), (2, "alpha beta"), (3, "alpha beta")], "doc_id long, text string"
    )
    out = pmi_collocations(df, min_count=2, top_n=None).collect()
    assert [(r["w1"], r["w2"], r["c_xy"]) for r in out] == [("alpha", "beta", 2)]


def test_extract_urls_and_domains(spark):
    from zparse_spark.functions.text import extract_urls, url_domain

    rows = spark.createDataFrame(
        [
            ("a", "see https://a.example.com/p/1 and http://b.org end"),
            ("b", "no urls here"),
            ("c", None),
            ("d", "tight(https://c.net/x)paren"),   # greedy to whitespace
            ("e", "https://just-host.io"),
        ],
        "doc_id string, text string",
    )
    got = {
        r["doc_id"]: r["urls"]
        for r in rows.select("doc_id", extract_urls(F.col("text")).alias("urls")).collect()
    }
    assert got["a"] == ["https://a.example.com/p/1", "http://b.org"]
    assert got["b"] == [] and got["c"] == []
    assert got["d"] == ["https://c.net/x)paren"]  # documented greedy contract
    assert got["e"] == ["https://just-host.io"]
    doms = (
        rows.select(F.explode(extract_urls(F.col("text"))).alias("url"))
        .select(url_domain(F.col("url")).alias("d"))
        .collect()
    )
    assert sorted(r["d"] for r in doms) == ["a.example.com", "b.org", "c.net", "just-host.io"]


def test_unigram_logprob_scores(spark):
    from zparse_spark.functions.text import unigram_logprob_scores

    # corpus: "a a b" and "z" -> model: a tf=2, b tf=1, z tf=1, T=4
    df = spark.createDataFrame(
        [(1, "A a b"), (2, "z"), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logprob_scores(df).collect()}
    import math

    assert set(out) == {1, 2}  # null/blank docs score nothing
    lp = lambda tf: round(math.log(tf / 4) * 1e6)
    exp1 = round((2 * lp(2) + 1 * lp(1)) / (3 * 1e6), 6)
    assert out[1].n_tokens == 3 and abs(out[1].avg_logprob - exp1) < 1e-9
    exp2 = round(lp(1) / 1e6, 6)
    assert out[2].n_tokens == 1 and abs(out[2].avg_logprob - exp2) < 1e-9
    # the common-token doc outscores the rare-token doc
    assert out[1].avg_logprob > out[2].avg_logprob


def test_conjunctive_search(spark):
    from zparse_spark.functions.text import conjunctive_search

    df = spark.createDataFrame(
        [
            (1, "Scan the merge window scan"),   # all 3, score 4 (scan twice)
            (2, "scan merge"),                   # missing 'window'
            (3, "window   MERGE\tscan extra"),   # whitespace/case robust
            (4, None),
            (5, "scan scan scan"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.score for r in conjunctive_search(df, ["scan", "merge", "window"]).collect()}
    assert out == {1: 4, 3: 3}


def test_strip_markup(spark):
    from zparse_spark.functions.text import strip_markup

    cases = [
        # script/style BODIES vanish, including '<' inside code
        ("<p>a</p><script>if (x < 1) alert('hi')</script><p>b</p>", "a b"),
        ("<style>h1 { color: red }</style>text", "text"),
        ("<!-- secret -->shown", "shown"),
        # entity decode order: &amp;lt; is a literal escape, not a tag
        ("&amp;lt;kept&amp;gt;", "&lt;kept&gt;"),
        ("&lt;b&gt;bold&lt;/b&gt;", "<b>bold</b>"),
        ("a&nbsp;&nbsp;b &quot;q&#39;s&quot;", "a b \"q's\""),
        ("no markup at all", "no markup at all"),
        ("  <div> spaced   out </div>  ", "spaced out"),
        (None, ""),
        # malformed nesting degrades, never errors
        ("<p>unclosed <b>tag", "unclosed tag"),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)], "i long, t string")
    got = {r.i: r.c for r in df.select("i", strip_markup(df.t).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_nfc_audit_flags_decomposed_text(spark):
    from zparse_spark.functions.text import nfc_audit

    rows = [
        (1, "p", "café"),          # composed: already NFC
        (2, "p", "café"),         # decomposed: NOT NFC
        (3, "p", "plain ascii"),
        (9, "p", "é again"),      # NOT NFC, larger id than 2
        (4, "q", None),                 # NULL text: out of scope
        (5, "q", "ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = {r.partition: r for r in nfc_audit(df).collect()}
    p = out["p"]
    assert p.n_docs == 4 and p.n_non_nfc == 2
    assert p.non_nfc_rate == 0.5 and p.example_doc_id == "2"
    q = out["q"]
    assert q.n_docs == 1 and q.n_non_nfc == 0 and q.example_doc_id is None


def test_distinctive_terms_hand_formula(spark):
    import math

    from zparse_spark.functions.text import distinctive_terms

    df = spark.createDataFrame(
        [("A", "cat cat cat dog"), ("B", "dog dog bird bird")],
        "grp string, text string",
    )
    out = distinctive_terms(
        df, "grp", "text", top_n=3, alpha=0.5, min_count=1
    ).collect()
    rows = {(r.grp, r.token): r for r in out}
    # hand-computed Monroe et al. for (A, 'cat'):
    # vocab=3, N=8, n_A=4, a0=1.5; y_g=3, y_rest=0
    delta = math.log(3.5 / (4 + 1.5 - 3 - 0.5)) - math.log(0.5 / (4 + 1.5 - 0 - 0.5))
    z = delta / math.sqrt(1 / 3.5 + 1 / 0.5)
    r = rows[("A", "cat")]
    assert r.n_in_group == 3 and r.n_in_rest == 0
    assert r.log_odds == round(delta, 6) and r.z == round(z, 6)
    assert r.rank == 1  # most distinctive for A
    assert rows[("B", "bird")].rank == 1  # and bird for B
    # min_count prunes: with min_count=3 'bird' (2 occurrences) is gone
    pruned = distinctive_terms(df, "grp", "text", min_count=3).collect()
    assert not any(r.token == "bird" for r in pruned)


def test_mixed_script_audit_flags_homoglyph_tokens(spark):
    """X141: a token mixing Latin+Cyrillic (or Greek) flags; pure
    Cyrillic text does NOT (separate scripts in separate tokens are
    legitimate multilingual text); NULL text out of scope."""
    from zparse_spark.functions.text import mixed_script_audit

    rows = [
        ("p1", "d1", "login to pаypal now"),          # Cyrillic а inside Latin token
        ("p1", "d2", "привет мир hello world"),             # scripts in separate tokens: clean
        ("p1", "d3", None),
        ("p2", "d4", "Ηello there"),                   # Greek Η + Latin
        ("p2", "d5", "plain ascii text"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id string, text string")
    out = {r["partition"]: r for r in mixed_script_audit(df).collect()}
    assert out["p1"]["n_docs"] == 2 and out["p1"]["n_mixed"] == 1
    assert out["p1"]["example_doc_id"] == "d1"
    assert out["p2"]["n_mixed"] == 1 and out["p2"]["example_doc_id"] == "d4"


def test_code_switching_audit_hand_case(spark):
    """X147: a doc with 2 en lines + 1 de line (33% minority) is mixed;
    a doc with 7 en + 1 de (12.5% < 25%) is not; all-und docs are out
    of scope (no classified lines)."""
    from zparse_spark.functions.text import code_switching_audit

    mixed_doc = "the cat and dog\nthe end of it\nder die und das"
    mostly_en = "\n".join(["the cat and dog"] * 7 + ["der die und das"])
    unclassified = "zzz qqq\nrrr www"
    rows = [
        ("p1", "d1", mixed_doc),
        ("p1", "d2", mostly_en),
        ("p1", "d3", unclassified),
        ("p2", "d4", "el que la los\nthe and is of"),  # 50/50 -> mixed
    ]
    df = spark.createDataFrame(rows, "source string, doc_id string, text string")
    out = {r["partition"]: r for r in code_switching_audit(df).collect()}
    assert out["p1"]["n_docs"] == 2  # d3 has no classified lines
    assert out["p1"]["n_mixed"] == 1 and out["p1"]["example_doc_id"] == "d1"
    assert out["p2"]["n_mixed"] == 1 and out["p2"]["example_doc_id"] == "d4"


def test_char_bigram_lm_catches_scrambled_text(spark):
    """Scrambling a document's characters preserves its unigram-char
    multiset but destroys its bigrams: the unigram screen is blind to
    it, the bigram screen craters. Ten normal docs + one that is a
    normal doc's text reversed per-word and concatenated oddly."""
    from zparse_spark.functions.text import char_bigram_logprob_scores

    base = "the quick brown fox jumps over the lazy dog and runs home"
    scrambled = "eht kciuq nworb xof spmuj revo eht yzal god dna snur emoh"
    rows = [(i, base) for i in range(10)] + [(99, scrambled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in char_bigram_logprob_scores(df).collect()}
    normal = out[0]["avg_logprob"]
    assert out[99]["avg_logprob"] < normal  # reversed bigrams are rare pairs
    assert out[99]["n_bigrams"] == out[0]["n_bigrams"]


def test_char_bigram_lm_short_and_null_docs_excluded(spark):
    from zparse_spark.functions.text import char_bigram_logprob_scores

    rows = [(1, "hello world"), (2, "x"), (3, None), (4, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ids = {r["doc_id"] for r in char_bigram_logprob_scores(df).collect()}
    assert ids == {1}


def test_readability_scores_hand_checked(spark):
    """'the cat sat.' = 3 words, 1 sentence, 3 syllable groups:
    flesch = 206.835 - 1.015*3 - 84.6*1. Empty text scores NULL with
    zero words; missing sentence punctuation floors sentences at 1."""
    from zparse_spark.functions.text import readability_scores

    rows = [(1, "The cat sat."), (2, ""), (3, "no punctuation here"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability_scores(df).collect()}
    assert out[1]["n_words"] == 3 and out[1]["n_sentences"] == 1
    assert out[1]["n_syllables"] == 3
    assert out[1]["flesch"] == round(206.835 - 1.015 * 3 - 84.6 * 1.0, 4)
    assert out[2]["n_words"] == 0 and out[2]["flesch"] is None
    assert out[3]["n_sentences"] == 1  # floored
    assert 4 not in out  # null text excluded


def test_vocab_growth_curve_nested_and_beta(spark):
    """Prefixes are nested (V, T, n_docs all monotone non-decreasing),
    the final row covers the whole corpus exactly (T = total tokens,
    V = exact distinct vocabulary), and beta is NULL on the first row
    and ~ln-ratio between rows where both V and T strictly grow."""
    import math

    from zparse_spark.functions.text import vocab_growth_curve

    rows = [
        (i, f"tok{i} tok{i % 7} shared common word{i % 31} filler text here")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_growth_curve(df, fractions=(0.25, 0.5, 1.0), seed=0).collect()
    assert [r["fraction"] for r in out] == [0.25, 0.5, 1.0]
    for a, b in zip(out, out[1:]):
        assert a["n_docs"] <= b["n_docs"]
        assert a["n_tokens"] <= b["n_tokens"]
        assert a["n_vocab"] <= b["n_vocab"]
    last = out[-1]
    assert last["n_docs"] == 200
    assert last["n_tokens"] == 200 * 8
    # exact vocabulary: tok0..tok199 (tok0..tok6 shared with the mod-7
    # forms), word0..word30, + 5 literals
    vocab = set()
    for _, t in rows:
        vocab.update(t.split())
    assert last["n_vocab"] == len(vocab)
    assert out[0]["beta"] is None
    mid = out[1]
    if mid["beta"] is not None:
        expect = math.log(mid["n_vocab"] / out[0]["n_vocab"]) / math.log(
            mid["n_tokens"] / out[0]["n_tokens"]
        )
        assert abs(mid["beta"] - round(expect, 6)) < 1e-9


def test_vocab_growth_curve_beta_separates_template_from_ids(spark):
    """The signal the curve exists for: a template flood (same tokens
    repeated) drives beta toward 0; unique-id spill keeps beta at ~1."""
    from zparse_spark.functions.text import vocab_growth_curve

    template = spark.createDataFrame(
        [(i, "the same nav footer terms privacy") for i in range(300)],
        "doc_id long, text string",
    )
    ids = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f") for i in range(300)],
        "doc_id long, text string",
    )
    bt = vocab_growth_curve(template, fractions=(0.5, 1.0)).collect()[-1]["beta"]
    bi = vocab_growth_curve(ids, fractions=(0.5, 1.0)).collect()[-1]["beta"]
    assert bt is None or bt < 0.1  # V stops growing -> beta NULL or ~0
    assert bi is not None and bi > 0.95
