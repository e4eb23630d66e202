"""Text-analysis functions for training-data pipelines, JVM-first.

Everything here is a column expression except ``validate_text_udf`` —
the Arrow pandas_udf fallback that implements the reference's exact
sequential escape/unicode scanner (lexer/json.rs:86-262) for cases the
JVM regex approximation can't express (escaped-backslash-before-\\u
pathologies). The default rule pack uses the JVM path; this UDF is the
documented precision escape hatch and its agreement with the JVM rules
is tested.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# valbench/run.py imports the gate's line/col UDF from here; it lives in operators.rules
from zparse_spark.operators.rules import span_start_positions  # noqa: F401

# --------------------------------------------------------------------------
# token counting — whitespace tokens and a BPE-ish word/punct regex
# --------------------------------------------------------------------------


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token count. 'whitespace': split on \\s+; 'bpeish': count
    word-pieces + digits + punctuation runs (a cheap stand-in for a BPE
    pre-tokenizer)."""
    if mode == "whitespace":
        trimmed = F.trim(F.coalesce(text, F.lit("")))
        return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
            F.size(F.split(trimmed, "\\s+"))
        )
    if mode == "bpeish":
        # one token per word / number / single punctuation mark
        return F.size(
            F.filter(
                F.split(
                    F.regexp_replace(
                        F.coalesce(text, F.lit("")), "([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])", "$1"
                    ),
                    "",
                ),
                lambda s: F.trim(s) != "",
            )
        )
    raise ValueError(f"unknown mode {mode!r}")


# --------------------------------------------------------------------------
# quality scoring — length / punctuation / uppercase / stopword ratios
# --------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")


def word_occurrences(lowered: Column, words: tuple[str, ...]) -> Column:
    """Occurrences of any of ``words`` as whole \\s-delimited tokens —
    the codegen form of `size(filter(split(t), w -> w IN set))`. The
    trailing boundary is a LOOKAHEAD so adjacent hits ("of the") both
    count; Java regex supports it (the DuckDB oracle twins keep their
    list_filter formulation — equal semantics, not shared strings).
    Measured 6-8 s → sub-second per 100k docs vs the interpreted HOF
    filter (the same trap dedup.py:176 documents for signatures)."""
    pat = "(^|\\s)(" + "|".join(words) + ")(?=\\s|$)"
    return F.size(F.regexp_extract_all(lowered, F.lit(pat), F.lit(0)))


_PUNCT_CHARS = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"  # == regex [!-/:-@\[-`{-~]
_UPPER_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _char_class_count(t: Column, chars: str) -> Column:
    """Count of characters from ``chars`` — length minus the translate()
    that deletes them. A plain char map: measured ~10× the regex
    char-class scan (2.8 s → 0.3 s per 100k docs for the punctuation
    class), identical count because the sets are identical."""
    return F.length(t) - F.length(F.translate(t, chars, ""))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs, high
    punctuation density, shouting, and stopword-free word salad."""
    t = F.coalesce(text, F.lit(""))
    n = F.greatest(F.length(t), F.lit(1))
    punct = _char_class_count(t, _PUNCT_CHARS) / n
    upper = _char_class_count(t, _UPPER_CHARS) / n
    lowered = F.lower(F.trim(t))
    n_words = F.greatest(F.size(F.split(lowered, "\\s+")), F.lit(1))
    stop_hits = word_occurrences(lowered, _STOPWORDS)
    stop_ratio = stop_hits / n_words
    len_score = F.least(F.length(t) / F.lit(200.0), F.lit(1.0))
    return F.round(
        F.greatest(
            F.least(
                0.4 * len_score
                + 0.2 * (1 - F.least(punct * 5, F.lit(1.0)))
                + 0.2 * (1 - F.least(upper * 5, F.lit(1.0)))
                + 0.2 * F.least(stop_ratio * 5, F.lit(1.0)),
                F.lit(1.0),
            ),
            F.lit(0.0),
        ),
        6,
    )


# --------------------------------------------------------------------------
# language ID — deterministic stopword-hit heuristic (n-gram-lite)
# --------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "and", "is", "of"),
    "es": ("el", "la", "que", "los"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "les", "des", "est"),
}


def lang_guess(text: Column) -> Column:
    """Deterministic language guess by marker-word hits; 'und' when no
    marker fires. SQL-expressible on the oracle side (same CASE).
    Four small word_occurrences passes — measured FASTER (2.7 s vs
    4.5 s per 100k docs) than one 16-word alternation pass: Java regex
    per-position cost grows superlinearly with alternation width, so
    several narrow scans beat one wide one.

    The input is trimmed before lowering so the expression tree is
    IDENTICAL to quality_score's ``lowered`` — when both annotators sit
    in one projection (corpus_filter), codegen subexpression
    elimination computes the lower+trim once. Whole-token matches are
    unaffected by edge whitespace (the pattern accepts ^/$ as
    boundaries), so every count is unchanged."""
    lowered = F.lower(F.trim(F.coalesce(text, F.lit(""))))
    scores = {
        lang: word_occurrences(lowered, marks) for lang, marks in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reverse order so earlier langs win ties (when chains short-circuit)
    for lang in reversed(list(_LANG_MARKERS)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), lang).otherwise(out)
    return out


# --------------------------------------------------------------------------
# fused corpus annotator — tokens + quality + lang in ONE Arrow pass
# --------------------------------------------------------------------------

# Java \s is ASCII-only; Python/RE2 \s is unicode-aware, so the class is
# spelled out to keep the split identical to Spark's split(col, "\\s+")
_JAVA_WS_RE = "[ \\t\\n\\x0B\\f\\r]+"
_PUNCT_RE = "[!-/:-@\\[-`{-~]"  # same set as _PUNCT_CHARS
_UPPER_RE = "[A-Z]"


def _java_round6(x: float) -> float:
    """Spark's round(double, 6): BigDecimal.valueOf (shortest decimal
    repr — Python repr produces the same digits) + HALF_UP (= decimal
    ROUND_HALF_UP, away from zero)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


# explicit StructType, NOT a DDL string: a string returnType is parsed
# through the ACTIVE SparkSession at decoration time, which would make
# `import zparse_spark.functions` crash before a session exists
_ANNOTATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.IntegerType()),
        T.StructField("quality", T.DoubleType()),
        T.StructField("lang_guess", T.StringType()),
    ]
)


@pandas_udf(_ANNOTATE_SCHEMA)
def annotate_corpus_text(texts: pd.Series) -> pd.DataFrame:
    """token_count + quality_score + lang_guess fused into ONE
    Arrow-vectorized pass (guide §4.2): tokenize once with RE2
    (split_pattern_regex on the Java-\\s class), count stopword/marker
    hits via is_in + bincount over the flattened token array, count
    char classes with RE2, and replicate quality_score's double
    arithmetic IEEE-op-for-op (including Spark's BigDecimal rounding
    via _java_round6). The expression path evaluates nine separate
    Java-regex scans per row; this runs the whole annotate in C++ and
    numpy — measured 7.2 s → 1.8 s per 100k docs (r6) with
    bit-identical output on every row (tokens, quality AND lang_guess
    verified cell-for-cell; whole-token marker counting is exactly the
    lookahead regex's semantics, and Spark's split keeps leading/
    trailing empty pieces like Arrow's).

    Semantics notes pinned by the identity check: F.trim strips 0x20
    only (not Python str.strip); Java \\s is ASCII-only; lowercasing
    never changes whitespace-class membership, so the lowered split has
    the same piece structure as the trimmed one."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    stop = sorted(_STOPWORDS)
    s = pa.Array.from_pandas(texts.fillna(""))
    n = len(texts)
    n_chars = pc.utf8_length(s).to_numpy(zero_copy_only=False)
    trimmed = pc.utf8_trim(s, characters=" ")
    trimmed_len = pc.utf8_length(trimmed).to_numpy(zero_copy_only=False)
    lowered = pc.utf8_lower(trimmed)
    pieces = pc.split_pattern_regex(lowered, _JAVA_WS_RE)
    flat = pc.list_flatten(pieces)
    parents = pc.list_parent_indices(pieces).to_numpy(zero_copy_only=False)

    def count_in(words) -> "np.ndarray":
        mask = pc.is_in(flat, value_set=pa.array(sorted(words))).to_numpy(
            zero_copy_only=False
        )
        return np.bincount(parents[mask], minlength=n)

    stop_hits = count_in(stop)
    langc = {k: count_in(v) for k, v in _LANG_MARKERS.items()}
    punct_n = pc.count_substring_regex(s, _PUNCT_RE).to_numpy(zero_copy_only=False)
    upper_n = pc.count_substring_regex(s, _UPPER_RE).to_numpy(zero_copy_only=False)
    split_sizes = pc.list_value_length(pieces).to_numpy(zero_copy_only=False)
    tokens = np.where(trimmed_len == 0, 0, split_sizes)
    # quality_score's exact double arithmetic, same op order
    nq = np.maximum(n_chars, 1).astype(np.float64)
    punct = punct_n.astype(np.float64) / nq
    upper = upper_n.astype(np.float64) / nq
    n_words = np.where(trimmed_len == 0, 1, np.maximum(split_sizes, 1)).astype(
        np.float64
    )
    stop_ratio = stop_hits.astype(np.float64) / n_words
    len_score = np.minimum(n_chars.astype(np.float64) / 200.0, 1.0)
    q = (
        0.4 * len_score
        + (1.0 - np.minimum(punct * 5.0, 1.0)) * 0.2
        + (1.0 - np.minimum(upper * 5.0, 1.0)) * 0.2
        + np.minimum(stop_ratio * 5.0, 1.0) * 0.2
    )
    q = np.maximum(np.minimum(q, 1.0), 0.0)
    quality = np.fromiter(
        (_java_round6(float(x)) for x in q), dtype=np.float64, count=n
    )
    best = np.maximum.reduce([langc[k] for k in _LANG_MARKERS])
    lang = np.full(n, "und", dtype=object)
    for k in reversed(list(_LANG_MARKERS)):  # same when-chain tie order
        sel = (langc[k] > 0) & (langc[k] == best)
        lang[sel] = k
    return pd.DataFrame(
        {"tokens": tokens.astype("int32"), "quality": quality, "lang_guess": lang}
    )


# --------------------------------------------------------------------------
# URL / domain extraction — provenance profiling for web corpora
# --------------------------------------------------------------------------

# greedy-to-whitespace URL grammar, deliberately lookaround-free so the
# same pattern runs under Java regex AND RE2 (DuckDB) — trailing
# punctuation is kept by design (documented, not a bug: stripping it is
# locale/scheme-specific and belongs to the caller)
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/\S*)?"
_DOMAIN_PATTERN = r"https?://([^/\s]+)"


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in a text column, in order, as array<string> —
    one codegen regexp pass, no Python."""
    return F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(URL_PATTERN), 0)


def url_domain(url: Column) -> Column:
    """Host part of a URL (scheme stripped, first path slash exclusive);
    empty string for non-URLs — pair with a NULLIF/filter at the call
    site when absent-vs-malformed matters."""
    return F.regexp_extract(url, _DOMAIN_PATTERN, 1)


# --------------------------------------------------------------------------
# document fingerprinting
# --------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """Whitespace-collapse + lowercase — the canonical text form for
    exact-dup detection."""
    return F.lower(F.trim(F.regexp_replace(F.coalesce(text, F.lit("")), "\\s+", " ")))


def doc_fingerprint(text: Column, algo: str = "md5") -> Column:
    """Stable content fingerprint of normalized text. md5 for oracle
    parity (DuckDB has md5); xxhash64 for cheap 8-byte joins at scale."""
    norm = normalize_text(text)
    if algo == "md5":
        return F.md5(norm)
    if algo == "xxhash64":
        return F.xxhash64(norm)
    raise ValueError(f"unknown algo {algo!r}")


def rolling_hash(text: Column, base: int = 31, mod: int = 2_147_483_647) -> Column:
    """Polynomial rolling hash over whitespace tokens, mod a Mersenne
    prime (2^31−1) so the accumulator never overflows under ANSI
    arithmetic — the order-sensitive fingerprint variant: same tokens,
    different order → different hash."""
    words = F.split(normalize_text(text), " ")
    return F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(acc * base + F.pmod(F.xxhash64(w), F.lit(mod)), F.lit(mod)),
    )


# --------------------------------------------------------------------------
# exact escape/unicode validation — the Arrow pandas_udf precision path
# --------------------------------------------------------------------------

_ESCAPES = set('"\\/bfnrtu')
_HEX = set("0123456789abcdefABCDEF")


def _scan_text(s: str | None) -> str | None:
    """Sequential scanner mirroring the reference string lexer
    (lexer/json.rs:86-262): returns the first error kind or None.
    Python-level per string, but Arrow-batched per 10k rows."""
    if s is None:
        return None
    i, n = 0, len(s)
    pending_low = False  # expecting a low surrogate
    while i < n:
        ch = s[i]
        if ord(ch) < 0x20:
            return "InvalidToken"
        if ch != "\\":
            if pending_low:
                return "InvalidUnicodeEscape"
            i += 1
            continue
        if i + 1 >= n:
            return "InvalidEscapeSequence"
        e = s[i + 1]
        if e not in _ESCAPES:
            return "InvalidEscapeSequence"
        if e != "u":
            if pending_low:
                return "InvalidUnicodeEscape"
            i += 2
            continue
        hexs = s[i + 2 : i + 6]
        if len(hexs) < 4 or any(c not in _HEX for c in hexs):
            return "InvalidUnicodeEscape"
        cp = int(hexs, 16)
        if pending_low:
            if 0xDC00 <= cp <= 0xDFFF:
                pending_low = False
            else:
                return "InvalidUnicodeEscape"
        elif 0xD800 <= cp <= 0xDBFF:
            pending_low = True
        elif 0xDC00 <= cp <= 0xDFFF:
            return "InvalidUnicodeEscape"
        i += 6
    if pending_low:
        return "InvalidUnicodeEscape"
    return None


@pandas_udf(T.StringType())
def validate_text_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized exact validator: error-kind string or NULL."""
    return texts.map(_scan_text)


# ---------------------------------------------------------------------------
# PII-style redaction (training-data scrub). Patterns are deliberately
# lookaround/backreference-free so the SAME strings run under Java regex
# (Spark) and RE2 (DuckDB) — the cross-engine contract established by
# the JSONC stripper.
# ---------------------------------------------------------------------------

PII_PATTERNS = {
    # order is the contract: emails first (an address contains dots a
    # later pattern must not see), then IPs, then phones
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
    "phone": "\\+[0-9][0-9 -]{6,14}[0-9]",
}


def pii_counts(text: Column) -> Column:
    """struct<email:int, ipv4:int, phone:int> match counts per doc —
    the monitoring artifact (how much PII the scrub is removing)."""
    t = F.coalesce(text, F.lit(""))
    return F.struct(
        *[
            F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0))).alias(k)
            for k, p in PII_PATTERNS.items()
        ]
    )


def redact_pii(text: Column, impl: str = "arrow") -> Column:
    """Replace each PII class with its typed placeholder (<EMAIL> /
    <IPV4> / <PHONE>), applied in PII_PATTERNS order.

    impl='arrow' (default): Arrow-batched pandas UDF running the same
    patterns through pyarrow.compute.replace_substring_regex (RE2) —
    measured 5.2× the chained Java regexp_replace (0.59 s vs 3.09 s per
    100k ~650-char docs, r6) because RE2's DFA scan beats Java's
    backtracking engine on these lookaround-free patterns. Output is
    bit-identical (verified cell-for-cell on the planted corpus; the
    patterns are deliberately RE2∩Java-safe, and the DuckDB oracle twin
    runs the SAME strings under RE2). impl='expr' keeps the pure-JVM
    codegen chain for Python-less clusters."""
    if impl == "expr":
        out = F.coalesce(text, F.lit(""))
        for k, p in PII_PATTERNS.items():
            out = F.regexp_replace(out, p, f"<{k.upper()}>")
        return out

    @pandas_udf("string")
    def _redact(s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        arr = pa.Array.from_pandas(s.fillna(""))
        for k, p in PII_PATTERNS.items():
            arr = pc.replace_substring_regex(arr, pattern=p, replacement=f"<{k.upper()}>")
        return arr.to_pandas()

    return _redact(text)


# ---------------------------------------------------------------------------
# Repetition signals (Gopher/MassiveText-style quality rules): documents
# dominated by repeated lines or a single n-gram are boilerplate/spam.
# ---------------------------------------------------------------------------


# ASCII-equivalent of DuckDB's regexp '\s+' (RE2) for the corpus contract
_WS_RE = re.compile(r"\s+")


def _repetition_row(text: str | None) -> tuple[float, float, float, float]:
    from collections import Counter

    if not text:
        return (0.0, 0.0, 0.0, 0.0)
    # lines: strip SPACES only (DuckDB trim() parity), drop empties
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    dup_line_frac = dup_char_frac = 0.0
    if lines:
        lc = Counter(lines)
        n_lines = len(lines)
        char_mass = sum(len(ln) * c for ln, c in lc.items())
        dup_line_frac = sum(c for c in lc.values() if c > 1) / n_lines
        if char_mass:
            dup_char_frac = (
                sum(len(ln) * c for ln, c in lc.items() if c > 1) / char_mass
            )
    words = [w for w in _WS_RE.split(text.lower()) if w]
    top_word_frac = top_bigram_frac = 0.0
    if words:
        wc = Counter(words)
        top_word_frac = max(wc.values()) / len(words)
        if len(words) > 1:
            bc = Counter(
                words[i] + " " + words[i + 1] for i in range(len(words) - 1)
            )
            top_bigram_frac = max(bc.values()) / (len(words) - 1)
    return (dup_line_frac, dup_char_frac, top_word_frac, top_bigram_frac)


_REP_SCHEMA = (
    "struct<dup_line_frac:double,dup_char_frac:double,"
    "top_word_frac:double,top_bigram_frac:double>"
)


def repetition_signals(text: Column) -> Column:
    """Gopher-style repetition quality signals per document, as
    ``struct<dup_line_frac, dup_char_frac, top_word_frac,
    top_bigram_frac>`` (all in [0,1]):

    - ``dup_line_frac``: fraction of non-empty lines whose content
      occurs more than once in the doc (all copies counted);
    - ``dup_char_frac``: fraction of line character mass in those
      repeated lines;
    - ``top_word_frac`` / ``top_bigram_frac``: share of the most
      frequent word / adjacent word-bigram among all words / bigrams.

    Arrow-batched pandas UDF: per-doc Counter folds are inherently
    sequential and would be interpreted HOF lambdas in Catalyst (the
    measured 2.4× trap — see span_start_positions). Map-only stage, no
    shuffle; every fraction is a single integer-ratio division, so the
    DuckDB oracle twin (group-by-count formulation) matches bitwise.
    """

    @pandas_udf(_REP_SCHEMA)
    def _rep(texts: pd.Series) -> pd.DataFrame:
        rows = [_repetition_row(t) for t in texts]
        return pd.DataFrame(
            rows,
            columns=[
                "dup_line_frac",
                "dup_char_frac",
                "top_word_frac",
                "top_bigram_frac",
            ],
        )

    return _rep(text)


def build_vocabulary(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    top_n: int | None = None,
):
    """Corpus vocabulary with exact term frequency (total occurrences)
    and document frequency (docs containing) per whitespace token — the
    precursor every tokenizer/IDF/stopword-induction step needs.

    Scale shape (100 TB): the explode shuffles one row per token
    OCCURRENCE — that is the problem's lower bound, not an
    implementation artifact (tf needs every occurrence counted).
    tf+df ride ONE groupBy: count(*) plus count(DISTINCT doc) — Spark
    plans the distinct via the two-phase expand (partial per-token
    doc-distinct map-side, merge reduce-side), so per-task state is
    bounded by the partition's distinct (token, doc) pairs, not the
    corpus's. ``min_df`` prunes the singleton tail AFTER the aggregate
    (at web scale most of the token DOMAIN is hapax junk — typos,
    ids, binary spill — so the filter drops most output rows but no
    shuffle: the agg already reduced occurrences to one row per
    token). ``top_n`` (deterministic total order: df desc, tf desc,
    token asc) turns the result into a TakeOrdered — no global sort of
    the full vocabulary.

    Measured (r4, 1M×600-char docs, local[32], median-of-3): 6.1 s ≈
    163k docs/s ≈ 16M token-occurrence rows/s through the distinct agg.
    """
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    agg = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("_doc").alias("df"),
    )
    out = agg.filter(F.col("df") >= min_df)
    if top_n is not None:
        out = out.orderBy(
            F.col("df").desc(), F.col("tf").desc(), F.col("token").asc()
        ).limit(top_n)
    return out.select("token", "tf", "df")


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    min_df: int = 1,
):
    """Top-``top_k`` TF-IDF terms per document — the classic keyword /
    topical-signature extractor (salient-term indexing, near-dup
    explanation, per-source drift inspection). Smoothed idf:
    ``ln((1 + N) / (1 + df))`` with N = docs carrying at least one
    token; ``score = tf * idf`` rounded to 6 decimals, and the rounded
    value drives the rank so the per-doc top-k is a deterministic,
    engine-portable set (ties broken token asc).

    Scale shape (100 TB): two aggregates over the exploded token
    stream — tf on (doc, token), df on token — both with map-side
    partial combine; N rides the df pass as a one-row aggregate
    cross-joined back (Catalyst broadcasts the single row). The
    tf→df join is an equi-join on token: both sides are ALREADY
    aggregates (one row per (doc,token) / per token), so the join
    input is the reduced domain, not the occurrence stream; AQE
    broadcasts the df side when ``min_df`` prunes it small enough.
    The per-doc top-k window partitions on the document id —
    thousands of rows per key at most (a doc's distinct tokens), no
    global sort anywhere.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    tf = toks.groupBy("_doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = toks.groupBy("token").agg(F.countDistinct("_doc").alias("df"))
    if min_df > 1:
        docfreq = docfreq.filter(F.col("df") >= min_df)
    n_docs = toks.agg(F.countDistinct("_doc").alias("_n"))
    scored = (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.lit(1.0) + F.col("_n")) / (F.lit(1.0) + F.col("df"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("_doc").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
        .select(
            F.col("_doc").alias(id_col),
            F.col("_rk").alias("rank"),
            "token",
            "tf",
            "df",
            "score",
        )
    )


def unicode_signals(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Encoding-health signals per document — the corpus-ingest
    counterpart of the reference's UTF-8 enforcement (zParse rejects
    invalid UTF-8 at the lexer, src/lexer/cursor.rs; a table engine
    ingests already-decoded strings, so the damage shows up as
    REPLACEMENT CHARACTERs, stray C0 controls, and un-normalized
    composition instead of hard errors):

    - ``n_replacement``  U+FFFD count (lossy transcode happened upstream)
    - ``n_control``      C0 controls except tab/LF/CR, plus DEL
    - ``n_non_ascii``    code points above 0x7F (mojibake spike signal)
    - ``nfc_changed``    1 if NFC normalization alters the string

    Counts are pure JVM expressions (length deltas under
    regexp_replace — map-only, codegen). NFC has no JVM builtin, so it
    is the one Arrow pandas UDF: pandas ``Series.str.normalize`` (the
    ICU path CPython ships) against the original, returning a boolean
    — the 100 TB shape stays map-only with one scalar boolean crossing
    Arrow per doc. NULL text yields NULL signals (passthrough, not 0 —
    absent is not healthy).
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)

    def _count_removed(pattern: str) -> Column:
        return (F.length(t) - F.length(F.regexp_replace(t, pattern, ""))).cast("long")

    @pandas_udf("boolean")
    def _nfc_changed(texts: pd.Series) -> pd.Series:
        mask = texts.notna()
        out = pd.Series([None] * len(texts), dtype="object")
        out[mask] = texts[mask].str.normalize("NFC") != texts[mask]
        return out

    return df.select(
        F.col(id_col),
        _count_removed("\uFFFD").alias("n_replacement"),
        _count_removed("[\x01-\x08\x0B\x0C\x0E-\x1F\x7F]").alias("n_control"),
        _count_removed("[^\x00-\x7F]").alias("n_non_ascii"),
        _nfc_changed(t).cast("int").alias("nfc_changed"),
    )


def pmi_collocations(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int | None = 50,
):
    """Top bigram collocations by pointwise mutual information — the
    classic corpus-analysis companion to ``build_vocabulary`` (phrase
    induction, tokenizer-merge candidates, boilerplate phrase mining).
    PMI = ln( p(w1,w2) / (p(w1)·p(w2)) ) with unigram probabilities
    over token occurrences (N1) and bigram probabilities over adjacent
    pairs (N2).  Same whitespace tokenization as build_vocabulary.

    Rank determinism: the 6-decimal ROUNDED pmi drives the ordering
    (ties → w1, w2 asc; the pair is unique) so the top-n SET is
    engine-portable, the same contract as tfidf_top_terms.

    Scale shape (100 TB): bigrams are map-side arrays_zip over two
    slices of the token array — ONE explode per doc for bigrams, one
    for unigrams, each followed by a map-side-combined count.
    ``min_count`` prunes the bigram tail BEFORE the two unigram joins
    (at web scale almost all distinct bigrams are rare junk), so the
    joins run on the frequent-pair set against the vocabulary table;
    the N1/N2 totals are broadcast one-row aggregates.  top_n is a
    TakeOrdered, never a global sort.
    """
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("t"))
    )
    uni = toks.select(F.explode("t").alias("w")).filter(F.col("w") != "")
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n1 = uc.agg(F.sum("c").alias("n1"))

    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    n2 = pairs.agg(F.count(F.lit(1)).alias("n2"))
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    j = (
        bc.join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy") / F.col("n2"))
            / ((F.col("c1") / F.col("n1")) * (F.col("c2") / F.col("n1")))
        ),
        6,
    )
    out = j.select("w1", "w2", "c_xy", pmi.alias("pmi"))
    if top_n is not None:
        out = out.orderBy(
            F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
        ).limit(top_n)
    return out


def unigram_logprob_scores(df, text_col: str = "text", id_col: str = "doc_id"):
    """CCNet-style language-model quality score: mean unigram
    log-probability of a document under the corpus's own unigram model.
    Gibberish, OCR noise and boilerplate-of-rare-ids score sharply low
    while ordinary prose clusters high — the classic cheap LM filter
    (CCNet uses a KenLM 5-gram; the unigram degenerates to the same
    pipeline shape with no external model artifact).

    Cross-engine determinism: a double SUM over a document's tokens is
    addition-order-dependent, and Spark's partial aggregation order is
    not stable — so per-token log-probs are quantized ONCE to integer
    micro-nats (round(ln(tf/T)·1e6) as BIGINT) and the per-doc
    aggregation is exact integer arithmetic; the only float ops left
    are one libm ln per DISTINCT token and the final display division.

    Scale shape (100 TB): occurrences reduce to distinct (doc, token)
    pairs in the first map-side-combining groupBy (the problem's lower
    bound); the unigram model is one more groupBy on the already-reduced
    pair table; scoring joins pairs⋈model on token (model is vocab-sized
    — AQE broadcasts it when it fits) and the final per-doc aggregate
    rides one shuffle on the doc key. No Python anywhere.
    """
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    doc_tok = toks.groupBy("_doc", "token").agg(F.count(F.lit(1)).alias("c"))
    model = doc_tok.groupBy("token").agg(F.sum("c").alias("tf"))
    total = model.agg(F.sum("tf").alias("_total"))
    model = model.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(F.log(F.col("tf") / F.col("_total")) * 1e6)
        .cast("long")
        .alias("ulp6"),
    )
    return (
        doc_tok.join(model, "token")
        .groupBy("_doc")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("ulp6")).alias("_s"),
        )
        .select(
            F.col("_doc").alias(id_col),
            "n_tokens",
            F.round(F.col("_s") / (F.col("n_tokens") * 1e6), 6).alias("avg_logprob"),
        )
    )


def conjunctive_search(df, terms, text_col: str = "text", id_col: str = "doc_id"):
    """Conjunctive (AND-of-terms) document search via posting-list
    intersection — the retrieval counterpart of build_vocabulary's
    index side: a doc matches iff it contains EVERY query term; score
    is the summed term frequency (ties broken downstream by id). The
    corpus-side tokenization is byte-identical to
    build_vocabulary/tfidf_top_terms, so an index built by one is
    queryable by the other.

    Scale shape: the term filter lands BEFORE the shuffle — the
    exploded token stream drops to the query terms' own postings (for
    k query terms that is k posting lists, a vanishing fraction of the
    corpus), then ONE groupBy(doc) counts distinct matched terms and
    sums tf; HAVING n = k is the intersection. Never a per-term join
    chain (k−1 shuffles), never a contains() scan per term (k full
    scans with no pruning).
    """
    from pyspark.sql import functions as F

    terms = [t.lower() for t in terms]
    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token").isin(terms))
    )
    return (
        toks.groupBy("_doc")
        .agg(
            F.countDistinct("token").alias("_n_terms"),
            F.count(F.lit(1)).alias("score"),
        )
        .filter(F.col("_n_terms") == len(set(terms)))
        .select(F.col("_doc").alias(id_col), "score")
    )


def strip_markup(col):
    """HTML/markup → training text, the web-corpus ingest step (what a
    crawl dump needs before any quality/dedup stage sees it): drop
    <script>/<style> subtrees wholesale (their CONTENT is code, not
    prose — tag-only stripping would leak it into the corpus), remove
    remaining tags and comments, decode the five core entities plus
    numeric escapes for them, collapse whitespace runs and trim.

    Engine-portable by construction: every pattern is lookaround-free
    and valid under BOTH Java regex and RE2 (the queries_span.py
    discipline), so the DuckDB twin applies the identical chain — and
    the whole thing is a map-only codegen regexp_replace cascade, no
    Python, no shuffle.

    Deliberately NOT a parser: malformed nesting degrades to leaving
    text in place rather than erroring (collect-don't-abort); documents
    needing DOM fidelity should route through from_xml_lines instead.
    """
    from pyspark.sql import functions as F

    c = F.coalesce(col, F.lit(""))
    # (?is) case-insensitive + dotall: script/style blocks span lines
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "'"),
        ("&amp;", "&"),  # LAST: decoding it earlier would double-decode
    ):
        c = F.regexp_replace(c, ent, ch)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def bm25_search(
    df,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 ranked retrieval for one conjunctive-ish bag of query terms
    over the corpus: top-``top_k`` documents by Okapi BM25 (Robertson/
    Sparck Jones idf with the +1 floor, Lucene-style), columns
    ``doc_id, rank, score, n_hit`` (n_hit = how many distinct query
    terms the doc contains).

    Determinism contract (engine-portable, same as tfidf_top_terms):
    every per-term contribution is rounded to 6 decimals BEFORE the
    per-doc sum, the sum is rounded again, and the final ordering is
    (rounded score desc, doc_id asc) — so the top-k SET is a pure
    function of the data, not of float summation order.

    Scale shape (100 TB): the token stream is filtered to the literal
    query terms BEFORE any aggregation — a pushed-down isin over the
    exploded stream, so tf/df aggregate only matching occurrences
    (thousands of rows per term, not the corpus). Doc lengths and the
    corpus-size/avgdl one-row aggregate come from one groupBy over the
    full stream (map-side combined; this is the same pass a vocabulary
    build already pays). Final ranking is a TakeOrdered of the scored
    doc set — never a global sort of the corpus.
    """
    from pyspark.sql import functions as F

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    # one full-stream pass: per-doc length
    dl = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("dl").alias("_avgdl")
    )
    hits = toks.filter(F.col("token").isin(terms))
    tf = hits.groupBy("_doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = hits.groupBy("token").agg(F.countDistinct("_doc").alias("df"))

    scored = (
        tf.join(F.broadcast(docfreq), "token")
        .join(dl, "_doc")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.round(
                F.col("_idf")
                * (F.col("tf") * (F.lit(k1) + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
                ),
                6,
            ),
        )
    )
    per_doc = scored.groupBy("_doc").agg(
        F.round(F.sum("_contrib"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_hit"),
    )
    ranked = per_doc.orderBy(F.col("score").desc(), F.col("_doc").asc()).limit(top_k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("score").desc(), F.col("_doc").asc())
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        F.col("_doc").alias(id_col), "rank", "score", "n_hit"
    )


def rrf_fuse(
    rankings: "dict[str, object]",
    id_col: str = "doc_id",
    k: int = 60,
    top_k: int = 10,
):
    """Reciprocal-rank fusion of N retrieval systems (Cormack/Clarke/
    Buettcher's RRF): each system contributes ``1/(k + rank)`` for the
    documents it ranked, absent documents contribute 0, and the fused
    ordering is the rounded sum descending. RRF is the standard
    score-free way to combine lexical (BM25) and dense (embedding)
    retrieval — it needs only RANKS, so the incomparable score scales
    of the two systems never meet.

    ``rankings``: ordered dict name → DataFrame with (id_col, rank);
    output carries ``{name}_rank`` per system (NULL = not retrieved),
    ``rrf`` and ``fused_rank``.

    Determinism contract: ranks are integers, each contribution is one
    IEEE double division, and the fused sum adds contributions in dict
    order — bit-identical on any engine — then rounds to 6 decimals;
    ties break on id ascending (same discipline as bm25_search).

    Scale shape: inputs are already top-k lists (bounded — k·systems
    rows total), so the full-outer join chain, the sort, and the
    trailing row_number window all run on bounded data; fusing never
    touches the corpus."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    fused = None
    for name, rdf in rankings.items():
        side = rdf.select(
            F.col(id_col), F.col("rank").cast("int").alias(f"{name}_rank")
        )
        fused = side if fused is None else fused.join(side, id_col, "full_outer")
    contribs = [
        F.coalesce(F.lit(1.0) / (F.lit(int(k)) + F.col(f"{n}_rank")), F.lit(0.0))
        for n in rankings
    ]
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    ranked = (
        fused.withColumn("rrf", F.round(score, 6))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    return ranked.withColumn("fused_rank", F.row_number().over(w))


def nfc_flag(text: Column) -> Column:
    """TRUE iff the string is already in Unicode NFC form (NULL for
    NULL input) — an Arrow-vectorized pandas_udf over unicodedata's
    normalizer, the package's blessed path for semantics Spark has no
    built-in for. Mojibake and decomposed combining marks (e + U+0301
    vs é) make byte-level dedup/fingerprinting silently miss matches,
    so corpus hygiene needs this audited, not assumed."""

    @pandas_udf(T.BooleanType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: None if v is None else unicodedata.normalize("NFC", v) == v
        )

    return _nfc(text)


def nfc_audit(
    df,
    text_col: str = "text",
    partition_col: str = "source",
    id_col: str = "doc_id",
):
    """Per-partition Unicode normalization audit: how many documents
    are NOT in NFC form, the rate, and the smallest offending doc id
    (a deterministic example to pull). NULL texts are out of scope
    (they belong to not-null checks).

    Scale shape: the NFC test is one Arrow-batched map stage fused with
    the scan; the groupBy is partition-count-bounded. Cross-engine
    oracle: DuckDB's ``nfc_normalize(text) <> text`` computes the same
    flag, so the audit is value-verified against an independent
    normalizer implementation (utf8proc vs CPython's unicodedata)."""
    from pyspark.sql import functions as F

    flagged = df.filter(F.col(text_col).isNotNull()).select(
        F.col(partition_col).alias("partition"),
        F.col(id_col).cast("string").alias("_id"),
        (~nfc_flag(F.col(text_col))).alias("_bad"),
    )
    return flagged.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_bad").cast("int")).alias("n_non_nfc"),
        F.round(
            F.sum(F.col("_bad").cast("int")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("non_nfc_rate"),
        F.min(F.when(F.col("_bad"), F.col("_id"))).alias("example_doc_id"),
    )


def distinctive_terms(
    df,
    group_col: str,
    text_col: str = "text",
    top_n: int = 5,
    alpha: float = 0.5,
    min_count: int = 10,
):
    """What vocabulary makes each group DISTINCTIVE — log-odds ratio
    with a Dirichlet prior and its z-score (Monroe, Colaresi & Quinn,
    "Fightin' Words", Political Analysis 16(4), 2008): for each
    (group, token), the smoothed log-odds of the token in the group vs
    in the REST of the corpus, standardized by the delta's approximate
    variance 1/(y_g+α) + 1/(y_rest+α). Raw frequency ranks surface
    stopwords; pure lift surfaces hapax noise; the prior + variance
    standardization is the standard fix, and it's exactly the
    diagnostic a training-data curator reads per source ("what does
    this source over-represent?").

    Tokens with fewer than ``min_count`` total occurrences are dropped
    BEFORE ranking (the z-score of a 3-occurrence token is noise).
    Ranking is deterministic cross-engine: z rounded to 6 decimals
    desc, then token asc.

    Scale shape (100 TB): one token-occurrence explode into a
    groupBy(group, token) — the same lower-bound shuffle as
    build_vocabulary — then EVERYTHING runs on the (group × vocab)
    grid: token totals are a second map-side-combined groupBy, corpus
    totals a 1-row broadcast, per-group totals a groups-bounded
    broadcast, and the final rank a per-group window on the grid.
    No full-data second pass, no global sort.

    The grid is materialized once with ``localCheckpoint(eager=True)``
    before fan-out: it feeds FOUR downstream branches (token totals,
    corpus totals, per-group totals, the scored join), and measured on
    the lazy plan Spark's ReuseExchange only collapsed 3 of the 7
    resulting corpus scans — the explode ran four times over the full
    corpus. Checkpointing the grid (|groups|×|vocab| rows, orders of
    magnitude smaller than token occurrences) pins the corpus scan and
    explode to exactly one execution; the plan-discipline test asserts
    Generate appears once in the executed fan-out.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    grid = (
        toks.groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("y_g"))
        .localCheckpoint(eager=True)
    )
    tok_tot = grid.groupBy("token").agg(F.sum("y_g").alias("y_w")).filter(
        F.col("y_w") >= min_count
    )
    totals = tok_tot.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("y_w").alias("n_total")
    )
    # group token mass restricted to the min_count vocabulary, so the
    # denominators and the rest-side masses add up over the SAME domain
    grp_tot = (
        grid.join(F.broadcast(tok_tot.select("token")), "token")
        .groupBy("grp")
        .agg(F.sum("y_g").alias("n_grp"))
    )
    g = (
        grid.join(F.broadcast(tok_tot), "token")
        .join(F.broadcast(grp_tot), "grp")
        .crossJoin(F.broadcast(totals))
    )
    a = float(alpha)
    y_g = F.col("y_g").cast("double")
    y_r = (F.col("y_w") - F.col("y_g")).cast("double")
    n_g = F.col("n_grp").cast("double")
    n_r = (F.col("n_total") - F.col("n_grp")).cast("double")
    a0 = F.lit(a) * F.col("vocab").cast("double")
    delta = F.log(
        (y_g + F.lit(a)) / (n_g + a0 - y_g - F.lit(a))
    ) - F.log((y_r + F.lit(a)) / (n_r + a0 - y_r - F.lit(a)))
    var = F.lit(1.0) / (y_g + F.lit(a)) + F.lit(1.0) / (y_r + F.lit(a))
    scored = g.select(
        F.col("grp").alias(group_col),
        "token",
        F.col("y_g").alias("n_in_group"),
        (F.col("y_w") - F.col("y_g")).alias("n_in_rest"),
        F.round(delta, 6).alias("log_odds"),
        F.round(delta / F.sqrt(var), 6).alias("z"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("z").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
    )


# token-level mixed-script pattern: one \S+ run containing BOTH a Latin
# letter and a Cyrillic/Greek one (either order). Literal codepoint
# ranges, so the same class means the same thing to Java regex and RE2.
_MIXED_SCRIPT_RE = (
    "[A-Za-z][^\\s]*[Ͱ-ϿЀ-ӿ]"
    "|[Ͱ-ϿЀ-ӿ][^\\s]*[A-Za-z]"
)


def mixed_script_flag(text_col):
    """True when any single whitespace-delimited token mixes Latin with
    Cyrillic or Greek letters — the homoglyph-spoofing signature
    ('pаypal' with a Cyrillic а) that survives NFC normalization
    (X132 can't see it: the string IS normalized) and PII redaction.
    Pure regexp — codegen, no Python."""
    from pyspark.sql import functions as F

    return text_col.rlike(_MIXED_SCRIPT_RE)


def mixed_script_audit(
    df,
    text_col: str = "text",
    partition_col: str = "source",
    id_col: str = "doc_id",
):
    """X141: per-partition homoglyph / mixed-script audit — the
    security companion of the NFC audit: documents whose tokens mix
    Latin with Cyrillic/Greek codepoints are the classic spoofing and
    SEO-spam signature a training corpus wants quantified per source
    (a source whose rate jumps is injecting confusables). Reports
    count, rate, and the smallest offending doc id per partition.

    Scale shape: ONE map-only rlike fused with the scan (no explode —
    the token quantifier lives inside the regex), partition-bounded
    groupBy. The char-class ranges are literal codepoints, so the
    DuckDB RE2 twin evaluates the identical predicate."""
    from pyspark.sql import functions as F

    flagged = df.filter(F.col(text_col).isNotNull()).select(
        F.col(partition_col).alias("partition"),
        F.col(id_col).cast("string").alias("_id"),
        mixed_script_flag(F.col(text_col)).alias("_bad"),
    )
    from zparse_spark.functions.numeric import round_duck

    return flagged.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_bad").cast("int")).alias("n_mixed"),
        # round_duck, not F.round: the r5 driver gate hashed this red on
        # a last-ulp divergence between Spark's and DuckDB's round(x,6)
        round_duck(
            F.sum(F.col("_bad").cast("int")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("mixed_rate"),
        F.min(F.when(F.col("_bad"), F.col("_id"))).alias("example_doc_id"),
    )


def retrieval_ndcg(
    df,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 10,
):
    """X144: retrieval-quality evaluation of bm25_search — nDCG@k and
    MRR@k against a deterministic relevance judgment (grade = number of
    DISTINCT query terms a document contains, judged over the WHOLE
    corpus, independent of the scorer's ranking). The search-quality
    seat in the monitoring family next to similarity_lsh_recall (X26):
    rank-quality regressions (tokenizer change, k1/b retune, corpus
    shift) show up as an nDCG drop long before users do.

      DCG@k  = sum over ranked top-k of (2^grade - 1) / log2(rank + 1)
      IDCG@k = the same sum over the k best grades in the corpus
      nDCG   = DCG / IDCG;  MRR = 1 / first rank with grade >= 2

    Determinism: integer grades and ranks; each summand rounded to 6
    decimals before the sum (house contract), one trailing division.

    Scale shape: the judgment table is the SAME pushed isin + groupBy
    the scorer pays (docs matching >= 1 term — thousands, not the
    corpus); IDCG's global window runs on that bounded table only.
    Output: one row (n_ranked, dcg, idcg, ndcg, mrr).
    """
    from pyspark.sql import Window, functions as F

    ranking = bm25_search(df, query_terms, text_col, id_col, top_k)
    terms = sorted({t.lower() for t in query_terms})
    toks = (
        df.filter(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .select(
            F.col(id_col).alias("_doc"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    grades = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("_doc")
        .agg(F.countDistinct("token").alias("grade"))
    )
    gain = lambda g, r: F.round((F.pow(F.lit(2.0), g) - 1.0) / F.log2(r + F.lit(1.0)), 6)
    topk = ranking.join(grades, ranking[id_col] == grades["_doc"]).select(
        F.col("rank"), F.col("grade")
    )
    dcg = topk.agg(
        F.count(F.lit(1)).alias("n_ranked"),
        F.round(F.sum(gain(F.col("grade"), F.col("rank"))), 6).alias("dcg"),
        F.min(F.when(F.col("grade") >= 2, F.col("rank"))).alias("_first_good"),
    )
    # TakeOrdered(top_k) first, then rank the bounded result: the ideal
    # ranking only needs ranks <= top_k, and a bare global row_number
    # would sort the whole judged set through one partition (the r6
    # single-partition-window sweep; same fix as corpus_zipf_anchors)
    w = Window.orderBy(F.col("grade").desc(), F.col("_doc").asc())
    ideal = (
        grades.orderBy(F.col("grade").desc(), F.col("_doc").asc())
        .limit(top_k)
        .withColumn("_irank", F.row_number().over(w))
        .filter(F.col("_irank") <= top_k)
        .agg(F.round(F.sum(gain(F.col("grade"), F.col("_irank"))), 6).alias("idcg"))
    )
    return dcg.crossJoin(ideal).select(
        "n_ranked",
        "dcg",
        "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        F.round(F.lit(1.0) / F.col("_first_good"), 6).alias("mrr"),
    )


def code_switching_audit(
    df,
    text_col: str = "text",
    partition_col: str = "source",
    id_col: str = "doc_id",
    min_minor_share: float = 0.25,
):
    """X147: code-switching / language-mix audit per partition — docs
    whose LINES classify into more than one language with a substantial
    minority share (>= min_minor_share of classified lines) are mixed-
    language documents: concatenation artifacts, template text wrapping
    foreign content, or scraped boilerplate — all of which poison
    per-language training mixtures even when the doc-LEVEL language id
    looks confident (the majority language wins the doc vote; the
    minority lines ride along unseen — this looks at the line votes).

    Line classification reuses lang_guess (deterministic marker-word
    heuristic, SQL-expressible); 'und' lines don't vote. Reports
    n_docs (docs with >= 1 classified line), n_mixed, rate, smallest
    mixed doc id.

    Scale shape: one explode per LINE (not token) immediately reduced
    to per-(doc, lang) conditional counts in a single groupBy(doc) with
    map-side combine; the mix decision is integer arithmetic on 4
    counts per doc; final partition groupBy is partition-bounded.
    """
    from pyspark.sql import functions as F

    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(partition_col).alias("partition"),
            F.col(id_col).cast("string").alias("_id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
        )
        .filter(F.trim(F.col("_line")) != "")
        .select("partition", "_id", lang_guess(F.col("_line")).alias("_g"))
    )
    per_doc = lines.groupBy("partition", "_id").agg(
        *[
            F.sum((F.col("_g") == lang).cast("long")).alias(f"_c_{lang}")
            for lang in _LANG_MARKERS
        ]
    )
    cnts = [F.col(f"_c_{lang}") for lang in _LANG_MARKERS]
    classified = sum(cnts[1:], cnts[0])
    dominant = F.greatest(*cnts)
    mixed = (classified > 0) & (
        (classified - dominant) >= classified * F.lit(min_minor_share)
    )
    flagged = per_doc.select(
        "partition", "_id", classified.alias("_n"), mixed.alias("_mixed")
    ).filter(F.col("_n") > 0)
    from zparse_spark.functions.numeric import round_duck

    return flagged.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_mixed").cast("long")).alias("n_mixed"),
        # round_duck, not F.round: the r5 driver gate hashed this red on
        # a last-ulp divergence between Spark's and DuckDB's round(x,6)
        round_duck(
            F.sum(F.col("_mixed").cast("long")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("mixed_rate"),
        F.min(F.when(F.col("_mixed"), F.col("_id"))).alias("example_doc_id"),
    )


def char_bigram_logprob_scores(df, text_col: str = "text", id_col: str = "doc_id"):
    """Character-bigram LM quality score: mean joint-bigram
    log-probability of a document under the corpus's own char-2-gram
    model — the CONTEXT-sensitive sibling of unigram_logprob_scores.
    The unigram screen cannot see scrambled or transposed text (same
    token multiset = same score); impossible character PAIRS ("qx",
    "zt", digit-letter mash) crater the bigram score immediately, so
    this is the cheap OCR-garble / mojibake / random-string detector.

    Same determinism contract as the unigram: per-bigram log-probs
    quantize once to integer micro-nats (round(ln(tf/T)·1e6) BIGINT),
    per-doc aggregation is exact integer arithmetic, one libm ln per
    DISTINCT bigram (≤ alphabet², so the model table is tiny and
    always broadcastable).

    Scale shape: occurrences reduce to distinct (doc, bigram) pairs in
    the first map-combined groupBy — a document has at most ~1k
    distinct char bigrams regardless of length, so the pair table is
    bounded by docs×1k, far below token-level pair tables. No Python.
    """
    from pyspark.sql import functions as F

    s = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_doc"),
            F.lower(F.trim(F.col(text_col))).alias("_s"),
        )
        .filter(F.length("_s") >= 2)
    )
    grams = s.select(
        "_doc",
        F.explode(
            F.expr("transform(sequence(1, length(_s) - 1), i -> substring(_s, i, 2))")
        ).alias("g"),
    )
    dg = grams.groupBy("_doc", "g").agg(F.count(F.lit(1)).alias("c"))
    model = dg.groupBy("g").agg(F.sum("c").alias("tf"))
    total = model.agg(F.sum("tf").alias("_total"))
    model = model.crossJoin(F.broadcast(total)).select(
        "g",
        F.round(F.log(F.col("tf") / F.col("_total")) * 1e6).cast("long").alias("ulp6"),
    )
    return (
        dg.join(F.broadcast(model), "g")
        .groupBy("_doc")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("ulp6")).alias("_s2"),
        )
        .select(
            F.col("_doc").alias(id_col),
            "n_bigrams",
            F.round(F.col("_s2") / (F.col("n_bigrams") * 1e6), 6).alias("avg_logprob"),
        )
    )


def readability_scores(df, text_col: str = "text", id_col: str = "doc_id"):
    """Flesch-style readability per document from three exact integer
    counts — words (whitespace runs), sentences ([.!?]+ runs, floored
    at 1), and vowel-group syllable proxies ([aeiouy]+ runs per word)
    — the classic corpus-quality filter signal (very low = legalese /
    run-on OCR; implausibly high = word salad of short tokens; both
    are cut candidates a length filter misses).

    score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Every count is an exact integer from regexp matching, the two
    ratios and the final affine combination are plain IEEE arithmetic
    on those integers — deterministic cross-engine at round-4. Pure
    codegen expressions (regexp_count), no explode, no Python: the
    whole scorer is a map-only projection.
    """
    from pyspark.sql import functions as F

    s = F.lower(F.trim(F.col(text_col)))
    words = F.when(s == "", F.lit(0)).otherwise(
        F.regexp_count(s, F.lit(r"\S+"))
    )
    sentences = F.greatest(F.regexp_count(s, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(s, F.lit(r"[aeiouy]+"))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.when(words > 0, F.round(score, 4)).alias("flesch"),
    )


def vocab_growth_curve(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    fractions: tuple = (0.1, 0.25, 0.5, 0.75, 1.0),
    seed: int = 0,
):
    """Heaps'-law vocabulary-growth curve: distinct-vocabulary size V
    and total token count T at nested deterministic corpus prefixes,
    plus the implied Heaps exponent beta = ln(V_j/V_{j-1}) /
    ln(T_j/T_{j-1}) between consecutive prefixes.

    Why a validation engine wants it: vocabulary growth is the one
    corpus-health signal the per-doc scorers (LM quality, Zipf anchors,
    repetition) cannot see — natural text grows V ~ T^beta with beta in
    roughly 0.4-0.6; template/boilerplate floods push beta toward 0
    (same tokens repeated), while id/binary spill pushes it toward 1
    (every token new). A drifting beta between ingest batches is an
    early sign the NEW data is a different kind of text than the old.

    "Prefix" is NOT a global sort: doc j belongs to prefix f iff
    hash_unit(doc_id, seed) < f — the same engine-portable md5 idiom as
    hash_sample (filtering.py:141), so each prefix is a uniform sample
    nested inside the next and the whole curve is a pure function of
    the keys. Scale shape (100 TB): one explode to token occurrences
    (the tf lower bound, same as build_vocabulary text.py:420), ONE
    map-side-combined groupBy(term) carrying min(u) — first occurrence
    along the prefix order — plus one tiny groupBy for per-prefix token
    totals; V_j and T_j then come from interval-bucketing those two
    BOUNDED tables (|terms| rows reduced to |fractions| rows map-side)
    and a cumulative sum over the <=|fractions|-row result. No global
    sort, no per-doc rank shuffle, nothing quadratic.

    Tokenization matches build_vocabulary / the DuckDB twin exactly:
    whitespace split of lower(trim(text)), empty tokens dropped.

    Output: (fraction, n_docs, n_tokens, n_vocab, beta) one row per
    fraction, beta NULL on the first row and whenever a ratio
    degenerates (V or T not strictly growing).

    Reference parity: the reference's parsers validate one document at
    a time (crates/zparse/src/json/parser.rs); corpus-level curves are
    the table-level surface this engine adds on top of that contract.
    """
    from pyspark.sql import functions as F

    from zparse_spark.plans.engine import hash_unit

    fr = sorted(set(float(f) for f in fractions))
    if not fr or fr[-1] > 1.0 or fr[0] <= 0.0:
        raise ValueError("fractions must be in (0, 1], non-empty")

    u = hash_unit(id_col, seed)
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            u.alias("_u"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    # _bucket(i) = the FIRST fraction that contains this u; interval
    # bucketing reduces both unbounded tables to |fractions| rows before
    # anything global happens.
    def _bucket(col):
        expr = F.lit(None).cast("double")
        for f in reversed(fr):
            expr = F.when(col < F.lit(f), F.lit(f)).otherwise(expr)
        return expr

    # per-term first occurrence u -> vocab increment lands in ONE bucket
    vocab_inc = (
        toks.groupBy("token")
        .agg(F.min("_u").alias("_first_u"))
        .select(_bucket(F.col("_first_u")).alias("fraction"))
        .groupBy("fraction")
        .agg(F.count(F.lit(1)).alias("_v_inc"))
    )
    # per-prefix token totals + doc counts, same bucketing (docs counted
    # once via the distinct-u trick is wrong under collisions; count
    # docs from the base table instead)
    tok_inc = (
        toks.select(_bucket(F.col("_u")).alias("fraction"))
        .groupBy("fraction")
        .agg(F.count(F.lit(1)).alias("_t_inc"))
    )
    doc_inc = (
        df.select(_bucket(u).alias("fraction"))
        .groupBy("fraction")
        .agg(F.count(F.lit(1)).alias("_d_inc"))
    )
    grid = df.sparkSession.createDataFrame(
        [(f,) for f in fr], "fraction double"
    )
    from pyspark.sql import Window

    w = Window.orderBy("fraction").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        grid.join(vocab_inc, "fraction", "left")
        .join(tok_inc, "fraction", "left")
        .join(doc_inc, "fraction", "left")
        .select(
            "fraction",
            F.sum(F.coalesce(F.col("_d_inc"), F.lit(0))).over(w).alias("n_docs"),
            F.sum(F.coalesce(F.col("_t_inc"), F.lit(0))).over(w).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_v_inc"), F.lit(0))).over(w).alias("n_vocab"),
        )
    )
    wl = Window.orderBy("fraction")
    pv = F.lag("n_vocab").over(wl)
    pt = F.lag("n_tokens").over(wl)
    beta = F.when(
        pv.isNotNull()
        & (pv > 0)
        & (pt > 0)
        & (F.col("n_vocab") > pv)
        & (F.col("n_tokens") > pt),
        F.round(
            F.log(F.col("n_vocab").cast("double") / pv.cast("double"))
            / F.log(F.col("n_tokens").cast("double") / pt.cast("double")),
            6,
        ),
    )
    return curve.select("fraction", "n_docs", "n_tokens", "n_vocab", beta.alias("beta"))
