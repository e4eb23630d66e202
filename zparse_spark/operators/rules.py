"""The rule pack: zParse's strict-parser contract, table-scale.

Every *span/doc-level* rule is declared as data — a ``DeclaredRule``
row (id, kind, level, description, violation SQL, message SQL,
positioned) in ``span_rules`` — and ONE compiler (``_compile_rules``)
turns the active rows into plain JVM column expressions over a map-side
posexplode of the spans array. User CHECK constraints (K-rules) are rows
of the same shape and go through the same compiler. The scale decisions:

- **Explode without shuffle, checks inside codegen.** posexplode is a
  narrow Generate — no Exchange anywhere in the span-rule plan (asserted
  in tests/test_plans.py). Rule predicates over the exploded rows are
  ordinary columns, so they run inside whole-stage codegen; the earlier
  higher-order-function formulation (filter/transform lambdas over the
  array) was measured ~25% slower because Spark interprets HOF lambdas.
  The monotonicity rule needs no window: each span is zipped with its
  predecessor's offset (a shifted copy of spans.offset) before exploding.
  Doc-level limits (S3/S4) ride the same explode as per-doc scalars and
  fire on the first span row — the whole pack is ONE scan + ONE Generate.
- **No per-row Python in the rules.** The escape/unicode/control-char
  grammars from the reference lexer (crates/zparse/src/lexer/json.rs:86-262)
  are compiled to Java regexes evaluated JVM-side. The ONE stage that
  leaves the JVM is the Pos line/col derivation,
  ``zparse_spark.functions.text.span_start_positions`` — an Arrow-batched
  pandas UDF (the vectorized Python path of the CIDR 2022 paper), because
  its running fold is exactly what Catalyst interprets worst (measured
  2.4× against a Catalyst ``aggregate`` fold, since removed). It is the
  engine's only line/col implementation. ``validate_text_udf`` in
  ``zparse_spark.functions.text`` is the exact Python lexer the regex
  path is tested against (tests/test_functions.py), not an engine path.

Table-level rules (uniqueness, referential, drift) are the operators the
reference *couldn't* have (single-thread, single buffer) and are where
shuffle strategy matters; see each function's docstring.

Reference parity map (file:line in /root/reference):
  S1 offset monotonicity   ← event-order state machine  json/parser.rs:356-381
  S2 kind domain           ← InvalidToken               lexer/json.rs:69-77
  S3 max spans             ← MaxDepthExceeded           json/parser.rs:432-445
  S4 max text bytes        ← MaxSizeExceeded            json/parser.rs:127-136
  S5 control chars         ← string lexing              lexer/json.rs:146-155
  S6 invalid escapes       ← InvalidEscapeSequence      lexer/json.rs:133-140
  S7 invalid \\u escapes    ← InvalidUnicodeEscape       lexer/json.rs:220-262
  S8 text/media exclusivity← Expected{expected,found}    error.rs:54
  U1 doc_id uniqueness     ← DuplicateKey               toml/parser.rs:918-924
  R1 media_ref referential ← close-tag-must-match-open  xml/parser.rs:125-134
  D1 span-kind drift       ← (north_star extension)
  line/col on violations   ← Pos{offset,line,col}       error.rs:7-18 (display
      "offset:line:col", tests/error_tests.rs:4-7); derived for span-level
      rules from the canonical text reconstruction, see span_rule_violations
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zparse_spark.schema import ErrorKind, SPAN_KIND_DOMAIN, union_violations


@dataclass(frozen=True)
class DeclaredRule:
    """A rule as data: SQL the compiler (``_compile_rules``) turns into
    columns. ``violation_sql`` is a boolean over one row of the rule's
    frame (NULL counts as not fired); ``message_sql`` is a string over
    the same columns, evaluated on violating rows only. ``level='doc'``
    rows carry no span_pos/offset; ``positioned`` rows carry the span's
    (line, col)."""

    rule_id: str
    kind: str
    level: str  # 'span' | 'doc' | 'table'
    description: str
    violation_sql: str
    message_sql: str
    positioned: bool


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_double(x: float) -> str:
    """``x`` as a Spark SQL DOUBLE literal, the same double ``F.lit(x)``
    makes (a bare ``0.25`` would parse as DECIMAL)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _violation_rows(frame: DataFrame, rule_id: str, kind: str, message_sql: str,
                    grain: str = "span") -> DataFrame:
    """``frame`` projected to the nine ``VIOLATION_SCHEMA`` columns in one
    SQL select, for a rule emitted outside ``_compile_rules``: constant
    rule_id/kind, NULL line/col, ``message_sql`` over ``frame``. ``grain``
    says which keys ``frame`` carries: 'span' (doc_id, span_pos, offset),
    'doc' (doc_id) or 'partition' (none; the rest are NULL)."""
    null = "CAST(NULL AS {}) AS {}".format
    at_doc, at_span = grain in ("span", "doc"), grain == "span"
    return frame.selectExpr(
        "`partition`",
        "doc_id" if at_doc else null("STRING", "doc_id"),
        f"{_sql_str(rule_id)} AS rule_id",
        f"{_sql_str(kind)} AS kind",
        "span_pos" if at_span else null("INT", "span_pos"),
        "`offset`" if at_span else null("BIGINT", "`offset`"),
        null("INT", "line"),
        null("INT", "col"),
        f"{message_sql} AS message",
    )


# --------------------------------------------------------------------------
# configuration (the reference's per-parser Config, json/parser.rs:14-23)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class RuleParams:
    """Limits + domains. 0 = unlimited, like the reference Config. Every
    field is part of rules_hash via RuleParams' repr."""

    max_spans: int = 128  # analog of max_depth (default 128, json/parser.rs:9)
    max_text_bytes: int = 10 * 1024 * 1024  # analog of max_size 10 MiB
    kind_domain: tuple[str, ...] = SPAN_KIND_DOMAIN
    # lenient flags, mirroring Config.with_comments / with_trailing_commas
    # (json/parser.rs:20-23): strict mode demands strictly increasing
    # offsets; lenient tolerates ties (the JSONC-style relaxation)
    allow_equal_offsets: bool = False
    # opt-in S9: span EXTENTS must not overlap — offset must be >= the
    # previous span's offset + char length of its text. Strictly
    # stronger than S1's start-order check; off by default because
    # extent semantics only bind when offsets are character positions
    # in the canonical reconstruction (the input_hint leaves offset an
    # opaque ordering key).
    check_span_overlap: bool = False
    psi_threshold: float = 0.25
    # probability floor for PSI's zero buckets; 1e-4 keeps a kind that is
    # merely absent-by-chance in a small partition from exploding the score
    drift_epsilon: float = 1e-4
    # optional second drift metric: KL(partition ‖ global) with the same
    # eps floor. None = PSI-only (the historical D1); setting it changes
    # rule semantics and therefore rules_hash
    kl_threshold: float | None = None


# --------------------------------------------------------------------------
# span-level rules S1..S9 — declared as data, compiled into one map stage
# --------------------------------------------------------------------------

# Java-regex grammars distilled from the reference lexer:
# raw control characters are illegal inside strings (lexer/json.rs:146-155)
_CONTROL_CHARS = "[\\x00-\\x1F]"
# escape set \" \\ \/ \b \f \n \r \t \uXXXX (lexer/json.rs:117-144).
# Validity must CONSUME two-char escapes (in `\\x` the second backslash
# belongs to the first escape), so we anchor a full-match grammar and
# negate it rather than searching for a bad pair: text is valid iff it is
# a sequence of (non-backslash | complete escape). A trailing lone
# backslash fails the grammar too (the reference's unterminated-escape).
_VALID_ESCAPES = '^(?:[^\\\\]|\\\\["\\\\/bfnrtu])*$'
# \u escape validity as a CONSUMING full-match grammar, like S6: text is
# unicode-valid iff it is a sequence of (non-backslash | two-char escape
# that is not \u — this consumes \\ so an escaped backslash followed by a
# literal 'u' never false-positives | \u + non-surrogate hex4 | full
# surrogate pair \uD800-DBFF\uDC00-DFFF | trailing lone backslash, which
# is S6's unterminated-escape, not a unicode problem). Malformed hex and
# lone surrogates fail the match (lexer/json.rs:220-262). Deliberately
# lookaround-free: the same pattern runs under Java regex AND RE2
# (DuckDB), so the rule is oracle-checkable cross-engine.
_VALID_UNICODE = (
    "^(?:[^\\\\]"
    "|\\\\$"
    "|\\\\[^u]"
    "|\\\\u(?:[0-9a-cA-Ce-fE-F][0-9a-fA-F]{3}|[dD][0-7][0-9a-fA-F]{2})"
    "|\\\\u[dD][89abAB][0-9a-fA-F]{2}\\\\u[dD][c-fC-F][0-9a-fA-F]{2}"
    ")*$"
)


def span_rules(p: RuleParams, fused_ref: bool = False) -> list[DeclaredRule]:
    """The built-in span pack as data: the rows active under ``p``, in
    emission order. S9 is active with ``check_span_overlap``, S3/S4 with
    a cap above 0, and R1 when ``fused_ref`` (a broadcast catalog joined
    into the span stage). SQL reads the exploded frame of
    ``span_rule_violations``: kind, text, media_ref, offset, prev_offset,
    prev_end (S9 only), span_pos, n_spans, total_bytes, _cat_hit (R1 only).

    The S5–S7 regexes are raw SQL literals (``r'…'``), so the pattern
    text is exactly the Java regex ``Column.rlike`` would get. The cheap
    ``contains`` gates skip the anchored full-match regexes on the
    (overwhelmingly common) backslash-free text; for S7 the gate doubles
    as a semantic filter — every S7 failure needs a literal ``\\u``, and
    pure-S6 problems (trailing backslash, ``\\q``) never contain one."""
    kind = "coalesce(kind, '<null>')"
    domain = ", ".join(_sql_str(k) for k in p.kind_domain)
    rows = [
        DeclaredRule(
            "S1", ErrorKind.INVALID_ARRAY, "span", "offset strictly increasing within doc",
            f"span_pos >= 1 AND `offset` {'<' if p.allow_equal_offsets else '<='} prev_offset",
            "concat('offset regression: ', CAST(`offset` AS STRING),"
            " ' <= prev ', CAST(prev_offset AS STRING))",
            True,
        ),
    ]
    if p.check_span_overlap:
        rows.append(DeclaredRule(
            "S9", ErrorKind.INVALID_ARRAY, "span",
            "span extent (offset + text length) must not overlap the next span",
            "span_pos >= 1 AND `offset` < prev_end",
            "concat('span overlap: offset ', CAST(`offset` AS STRING),"
            " ' < prev end ', CAST(prev_end AS STRING))",
            True,
        ))
    rows.append(DeclaredRule(
        "S2", ErrorKind.INVALID_TOKEN, "span", "span kind in domain",
        f"kind IS NULL OR NOT array_contains(array({domain}), kind)",
        f"concat('kind not in domain: ', {kind})",
        True,
    ))
    # S3/S4 document-level limits fire once per doc, on the first span row
    # (span_pos/offset null in the emitted violation — the reference's
    # error-at-opener position lifted to error-at-document); a doc that
    # could violate them always has at least one span.
    if p.max_spans > 0:
        rows.append(DeclaredRule(
            "S3", ErrorKind.MAX_DEPTH_EXCEEDED, "doc", "span count under cap",
            f"span_pos = 0 AND n_spans > {p.max_spans}",
            f"concat('span count ', CAST(n_spans AS STRING), ' > max {p.max_spans}')",
            False,
        ))
    if p.max_text_bytes > 0:
        rows.append(DeclaredRule(
            "S4", ErrorKind.MAX_SIZE_EXCEEDED, "doc", "total text bytes under cap",
            f"span_pos = 0 AND total_bytes > {p.max_text_bytes}",
            f"concat('text bytes ', CAST(total_bytes AS STRING), ' > max {p.max_text_bytes}')",
            False,
        ))
    rows += [
        DeclaredRule(
            "S5", ErrorKind.INVALID_TOKEN, "span", "no raw control chars in text",
            f"text RLIKE r'{_CONTROL_CHARS}'",
            "'control character in text'",
            True,
        ),
        DeclaredRule(
            "S6", ErrorKind.INVALID_ESCAPE_SEQUENCE, "span", "escape sequences valid",
            f"contains(text, '\\\\') AND NOT text RLIKE r'{_VALID_ESCAPES}'",
            "'invalid escape sequence'",
            True,
        ),
        DeclaredRule(
            "S7", ErrorKind.INVALID_UNICODE_ESCAPE, "span", "\\u escapes valid incl. surrogates",
            f"contains(text, '\\\\u') AND NOT text RLIKE r'{_VALID_UNICODE}'",
            "'invalid unicode escape'",
            True,
        ),
        DeclaredRule(
            "S8", ErrorKind.EXPECTED, "span", "media_ref iff non-text kind",
            "(kind = 'text' AND media_ref IS NOT NULL) OR (kind != 'text' AND media_ref IS NULL)",
            "CASE WHEN kind = 'text' THEN 'expected media_ref=null for kind=text'"
            f" ELSE concat('expected media_ref for kind=', {kind}) END",
            True,
        ),
    ]
    if fused_ref:
        rows.append(DeclaredRule(
            "R1", ErrorKind.DANGLING_MEDIA_REF, "table", "media_ref exists in catalog",
            "media_ref IS NOT NULL AND _cat_hit IS NULL",
            "concat('dangling media_ref: ', media_ref)",
            False,
        ))
    return rows


def _compile_rules(frame: DataFrame, rules: list[DeclaredRule]) -> DataFrame:
    """Declared rules over one frame → violation rows, in ONE pass: a
    pre-filter on "any rule fired", a per-row array of fired items, its
    explode, and the messages built after the explode.

    - The pre-filter runs BEFORE the item-array build: the struct
      construction, array_compact (a RuntimeReplaceable filter HOF,
      interpreted) and the second Generate cost ~2 s per 1M clean rows
      that emit nothing. The disjunction re-tests each predicate once per
      row — comparisons plus the gated regexes, far cheaper than building
      throwaway arrays — and the explode then runs on actual violations
      only. Output rows are identical: the filter keeps exactly the rows
      whose item array is non-empty.
    - The items are deliberately message-free: building messages inside
      the lazy ``when(cond, item)`` looks free, but codegen's
      common-subexpression elimination hoists the shared string concats
      OUT of the lazy branches — measured 2× on the whole write-shaped
      pass at 16M docs. Messages are one CASE over the exploded rule_id,
      evaluated on violations only; columns no message reads (the span
      text among them) are pruned before the explode.

    The plan is built from SQL text (a handful of py4j calls), not from
    hundreds of Column calls, each a driver→JVM round trip.
    """
    fires = [f"coalesce(({r.violation_sql}), false)" for r in rules]

    def field(on: bool, col: str, dtype: str) -> str:
        return f"CAST({col if on else 'NULL'} AS {dtype})"

    def item(r: DeclaredRule) -> str:
        at_span = r.level != "doc"
        return (
            f"named_struct('rule_id', {_sql_str(r.rule_id)}, 'kind', {_sql_str(r.kind)},"
            f" 'span_pos', {field(at_span, 'span_pos', 'INT')},"
            f" 'offset', {field(at_span, '`offset`', 'BIGINT')},"
            f" 'line', {field(r.positioned, 'line', 'INT')},"
            f" 'col', {field(r.positioned, 'col', 'INT')})"
        )

    items = ", ".join(f"CASE WHEN {f} THEN {item(r)} END" for f, r in zip(fires, rules))
    message = " ".join(f"WHEN {_sql_str(r.rule_id)} THEN {r.message_sql}" for r in rules)
    return (
        frame.filter(" OR ".join(fires))
        .selectExpr("*", f"explode(array_compact(array({items}))) AS _v")
        .selectExpr(
            "`partition`",
            "doc_id",
            "_v.rule_id AS rule_id",
            "_v.kind AS kind",
            "_v.span_pos AS span_pos",
            "_v.`offset` AS `offset`",
            "_v.line AS line",
            "_v.col AS col",
            f"CASE _v.rule_id {message} END AS message",
        )
    )


# Every built-in rule id, in verdict-grid order: the span pack with S9 next
# to its S1 sibling, then the table/media rules. Opt-in ids stay out of the
# default grid: S9 binds only when offsets are character positions in the
# canonical reconstruction (the input_hint leaves offset an opaque ordering
# key), M1 needs a payload table, and F1 would grow the grid of callers
# whose manifests never evaluated it.
RULE_IDS = tuple(r.rule_id for r in span_rules(RuleParams(check_span_overlap=True))) + (
    "U1", "R1", "D1", "M1", "F1",
)
OPT_IN_RULE_IDS = frozenset({"S9", "M1", "F1"})


def span_rule_violations(
    docs: DataFrame,
    params: RuleParams | None = None,
    media_catalog: DataFrame | None = None,
) -> DataFrame:
    """Evaluate the active ``span_rules`` rows in ONE narrow map stage —
    no shuffle anywhere.

    Span rules (S1/S2/S5-S9): the spans array is zipped with its own
    shifted offsets (prev_offset — so the monotonicity rule needs no
    window/shuffle) and the per-span (line, col), posexploded, and every
    predicate is a plain column expression inside whole-stage codegen.

    Doc-level limits (S3/S4): computed per document BEFORE the explode
    (they are properties of the whole array) and checked on the first
    span row.

    Fused referential (R1): when ``media_catalog`` is passed, the
    exploded frame takes a broadcast left join against the catalog keys
    and R1 becomes one more codegen check — saving the separate
    referential branch's full scan + explode. Only valid for a
    broadcastable catalog; the engine falls back to the standalone
    SMJ-based ``referential_violations`` otherwise.
    """
    from zparse_spark.functions.text import span_start_positions

    p = params or RuleParams()
    spans = F.col("spans")

    def shifted(values: Column, dtype: str) -> Column:
        # [null, v0, .., v(n-2)]. arrays_zip pads to the longer side, so
        # the shifted array must be EMPTY (not [null]) when spans is empty
        # or the zip would fabricate a row.
        return F.when(
            F.coalesce(F.size(spans), F.lit(0)) > 0,
            F.concat(
                F.array(F.lit(None).cast(dtype)),
                F.slice(values, 1, F.greatest(F.size(spans) - 1, F.lit(0))),
            ),
        ).otherwise(F.array().cast(f"array<{dtype}>"))

    zip_cols = [
        spans.alias("s"),
        shifted(F.col("spans.offset"), "int").alias("prev_offset"),
        # (line, col) where each span STARTS in the canonical
        # reconstruction (span texts concatenated in array order) — the
        # reference Pos contract (error.rs:8-18) at table scale, from the
        # Arrow-batched UDF over the pruned spans.text array
        span_start_positions(F.col("spans.text")).alias("p"),
    ]
    if p.check_span_overlap:
        # shifted extent ends (prev offset + char length of prev text) —
        # same shape as prev_offset, so S9 needs no window/shuffle either
        ends = F.transform(
            spans,
            lambda s: s["offset"].cast("long")
            + F.length(F.coalesce(s["text"], F.lit(""))).cast("long"),
        )
        zip_cols.append(shifted(ends, "long").alias("prev_end"))
    # doc-level scalars (S3/S4 inputs) ride along the explode so the whole
    # pack needs exactly ONE scan and ONE Generate
    n_spans = F.coalesce(F.size(spans), F.lit(0))
    total_bytes = F.aggregate(
        F.coalesce(spans, F.array()),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.octet_length(s["text"]), F.lit(0)),
    )
    # Two-step select: the per-doc scalars must be computed BELOW the
    # Generate. A single select puts every non-generator column in the
    # projection ABOVE the Generate (ExtractGenerator), where the
    # interpreted total-bytes aggregate re-runs once per EXPLODED SPAN
    # instead of once per doc (r6 plan audit: `aggregate(coalesce(spans,
    # []), ...)` in the post-Generate Project) — ~|spans| duplicated
    # folds per doc. The pre-projection pins them per doc (the Generate
    # between the projections blocks CollapseProject from re-inlining).
    # The zip itself stays INLINE in posexplode: aliasing it to a column
    # makes InferFiltersFromGenerate add a `size(zip) > 0` filter on the
    # bare attribute, which pushdown re-expands below the pre-projection
    # — duplicating the zip AND the Arrow line/col stage at the scan
    # (observed: 4 ArrowEvalPython nodes). With the PythonUDF visible
    # inside the generator expression the rule skips the inference.
    pre = docs.select(
        "partition",
        "doc_id",
        "spans",
        n_spans.alias("n_spans"),
        total_bytes.alias("total_bytes"),
    )
    ex = pre.select(
        "partition",
        "doc_id",
        "n_spans",
        "total_bytes",
        F.posexplode(F.arrays_zip(*zip_cols)).alias("span_pos", "z"),
    ).select(
        "partition",
        "doc_id",
        "span_pos",
        "n_spans",
        "total_bytes",
        F.col("z.s.kind").alias("kind"),
        F.col("z.s.text").alias("text"),
        F.col("z.s.media_ref").alias("media_ref"),
        F.col("z.s.offset").alias("offset"),
        F.col("z.prev_offset").alias("prev_offset"),
        *([F.col("z.prev_end").alias("prev_end")] if p.check_span_overlap else []),
        F.col("z.p.line").alias("line"),
        F.col("z.p.col").alias("col"),
    )
    if media_catalog is not None:
        # broadcast hash join is a streaming pass over the exploded rows
        # (build side = catalog keys); R1 fires when a non-null media_ref
        # found no catalog hit
        cat_keys = F.broadcast(
            media_catalog.select("media_ref").distinct().withColumn("_cat_hit", F.lit(True))
        )
        ex = ex.join(cat_keys, "media_ref", "left")
    return _compile_rules(ex, span_rules(p, fused_ref=media_catalog is not None))


# --------------------------------------------------------------------------
# table-level rules
# --------------------------------------------------------------------------


def uniqueness_violations(docs: DataFrame) -> DataFrame:
    """U1: doc_id must be unique table-wide (DuplicateKey lifted from
    toml/parser.rs:918-924).

    Shuffle strategy: ONE ``groupBy(doc_id).count()``. A count aggregate
    needs no salting against hot keys — map-side partial aggregation
    collapses a pathological doc_id (FIXTURES.md plants ×1000; at 10^12
    scale think ×10^8) to at most one ``(key, local_count)`` row per
    input task before anything shuffles, so the reducer for the hot key
    receives ≤ #tasks rows, not #duplicates. (When the partial-agg hash
    map overflows on high-cardinality tasks, Spark falls back to
    sort-based aggregation, which still combines.) Round 1 shipped a
    two-phase salted variant; measured at 16M unique keys / 32 cores it
    shuffles |docs| rows twice and ran 2.99 s vs 1.94 s for this
    single-phase form — salting solves a problem count aggregates don't
    have, at the price of doubling shuffle volume (the former
    ``n_salts`` knob is gone with it). The hot-key guard that still
    matters is on the emit join below, where AQE skew-join splitting
    spreads a duplicated key's violation rows.

    Violations are emitted per duplicated *row* by joining the dup keys
    back (AQE broadcasts the dup-key side when small; skew-join splits
    otherwise). The scan prunes to (doc_id, partition) — nothing here
    touches ``spans``, so no text bytes move.
    """
    dups = (
        docs.select("doc_id")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return _violation_rows(
        docs.join(dups, "doc_id"), "U1", ErrorKind.DUPLICATE_KEY,
        "concat('doc_id appears ', CAST(n AS STRING), ' times')", grain="doc",
    )


def _media_spans(docs: DataFrame, *extra: str) -> DataFrame:
    """The media spans R1, M1 and F1 check: (partition, doc_id, span_pos,
    offset, media_ref, *extra), one row per span with a non-null ref;
    ``extra`` names further span fields (F1 takes ``kind``).

    GetArrayStructFields projections (spans.media_ref / spans.offset) are
    visible to nested-schema pruning, so the parquet scan reads ONLY those
    subfields — a HOF over F.col("spans") would force the full struct (all
    text bytes) through the reader. posexplode keeps the span_pos position
    contract; text spans are filtered right after.
    """
    fields = ("media_ref", *extra, "offset")
    zipped = F.arrays_zip(*(F.col(f"spans.{f}").alias(f) for f in fields))
    return (
        docs.select("partition", "doc_id", F.posexplode(zipped).alias("span_pos", "x"))
        .filter(F.col("x.media_ref").isNotNull())
        .select(
            "partition",
            "doc_id",
            F.col("span_pos").cast("int").alias("span_pos"),
            F.col("x.offset").cast("long").alias("offset"),
            F.col("x.media_ref").alias("media_ref"),
            *(F.col(f"x.{f}").alias(f) for f in extra),
        )
    )


def referential_violations(
    docs: DataFrame,
    media_catalog: DataFrame,
    strategy: str = "auto",
) -> DataFrame:
    """R1: every non-null spans.media_ref must exist in the catalog
    (referential pairing generalizing xml/parser.rs:125-134).

    Scale shape: prune the array *before* exploding — only media spans
    (sparse) are generated, so the explode output is a fraction of total
    spans — then one anti-join against the distinct catalog keys.
    ``strategy='broadcast'`` forces a broadcast of the catalog, 'smj'
    hints a shuffle merge for a catalog too big to broadcast, and 'auto'
    lets AQE decide. ``ValidationEngine`` runs this standalone form only
    as 'smj': a catalog small enough to broadcast is fused into the span
    stage instead (``span_rule_violations(media_catalog=...)``).
    """
    if strategy not in ("auto", "broadcast", "smj"):
        raise ValueError(f"unknown strategy {strategy!r}")
    refs = _media_spans(docs)
    cat = media_catalog.select("media_ref").distinct()
    if strategy == "broadcast":
        cat = F.broadcast(cat)
    elif strategy == "smj":
        cat = cat.hint("merge")
    # line/col null by design: this branch's scan prunes to (media_ref,
    # offset) — deriving line/col would read every text byte
    return _violation_rows(
        refs.join(cat, "media_ref", "left_anti"), "R1", ErrorKind.DANGLING_MEDIA_REF,
        "concat('dangling media_ref: ', media_ref)",
    )


def media_payload_violations(
    docs: DataFrame, payload_verdicts: DataFrame, check_missing: bool = True
) -> DataFrame:
    """M1: every referenced media payload must exist and decode.

    ``payload_verdicts`` is the output of ``multimodal.decode_verdicts``
    (media_ref, ok, error_kind) — decode classification runs ONCE per
    payload row, never per referencing span. The rule itself is the R1
    shape: prune the scan to (spans.media_ref, spans.offset), explode
    only media spans, and join against the bad-ref set (undecodable ∪
    referenced-but-absent), which is sparse in practice — AQE broadcasts
    it. Referenced-but-absent needs one distinct over referenced refs
    plus an anti-join against the payload key set — a shuffle of the
    payload KEYS (not payloads) on media_ref; when the payload table is
    authoritative-complete (ingest guarantees a row per ref), pass
    ``check_missing=False`` to skip that whole branch and keep the rule
    broadcast-only.
    """
    refs = _media_spans(docs)
    undecodable = payload_verdicts.filter(~F.col("ok")).select("media_ref", "error_kind")
    bad = undecodable
    if check_missing:
        missing = (
            refs.select("media_ref")
            .distinct()
            .join(payload_verdicts.select("media_ref"), "media_ref", "left_anti")
            .withColumn("error_kind", F.lit("missing"))
        )
        bad = undecodable.unionByName(missing)
    return _violation_rows(
        refs.join(bad, "media_ref"), "M1", ErrorKind.MEDIA_DECODE_FAILED,
        "concat('media payload ', error_kind, ': ', media_ref)",
    )


def drift_scores(docs: DataFrame, params: RuleParams | None = None) -> DataFrame:
    """D1's raw score: (partition, psi) for every partition — the
    pre-threshold surface, exposed so the oracle gate can compare the
    actual PSI values (not just the fired/not-fired verdict).

    Scale shape: per-doc kind counts are computed in the map stage with
    higher-order functions (no explode), so the shuffle input is
    |docs| × |kinds| tiny rows → groupBy(partition, kind) → the global
    side is a broadcast-sized |kinds| table.

    Built from SQL text: the per-kind terms are a few hundred expression
    nodes, and as Column calls each would be a driver→JVM round trip.
    Sums fold left to right over the kind domain, the order the DuckDB
    twin (queries_span.py) mirrors, and every double literal carries a
    ``D`` suffix (a bare ``0.0`` is a DECIMAL in Spark SQL).
    """
    p = params or RuleParams()
    eps = _sql_double(p.drift_epsilon)
    kinds = list(p.kind_domain)
    # per-doc counts per kind in ONE pass. The kinds array is projected
    # with GetArrayStructFields (spans.kind) BEFORE the aggregate so
    # nested-schema pruning reaches the scan: a HOF over the spans struct
    # would read every text byte just to count kinds (measured 6x
    # anti-scaling at 32 cores from the wasted decode bandwidth).
    domain = ", ".join(_sql_str(k) for k in kinds)
    zero = ", ".join("CAST(0 AS BIGINT)" for _ in kinds)
    counts = (
        f"aggregate(coalesce(_kinds, array()), array({zero}), (acc, k0) ->"
        f" zip_with(acc, array({domain}), (c, k) -> c + CASE WHEN k0 = k THEN 1 ELSE 0 END))"
    )
    c, g = [f"`c_{k}`" for k in kinds], [f"`g_{k}`" for k in kinds]
    per_doc = (
        docs.selectExpr("`partition`", "spans.kind AS _kinds")
        .selectExpr("`partition`", f"{counts} AS _counts")
        .selectExpr(
            "`partition`",
            *[f"element_at(_counts, {j + 1}) AS `_c_{k}`" for j, k in enumerate(kinds)],
        )
    )
    per_part = (
        per_doc.groupBy("partition")
        .agg(*[F.expr(f"sum(`_c_{k}`) AS {ck}") for k, ck in zip(kinds, c)])
        .selectExpr("*", f"0 + {' + '.join(c)} AS _tot")
    )
    glob = per_part.selectExpr(
        *[f"sum({ck}) AS {gk}" for ck, gk in zip(c, g)], "sum(_tot) AS g_tot"
    )
    psi_terms, kl_terms = [], []
    for ck, gk in zip(c, g):
        # zero-span guard (ANSI mode makes x/0 a job-killer, and a
        # partition of span-less docs is DATA, not a reason to abort —
        # collect-don't-abort): an empty partition's shares floor to
        # eps across every kind, which reads as maximal drift and
        # flags the partition instead of crashing the run
        pk = f"(CASE WHEN _tot > 0 THEN {ck} / _tot ELSE 0.0D END + {eps})"
        qk = f"(CASE WHEN g_tot > 0 THEN {gk} / g_tot ELSE 0.0D END + {eps})"
        psi_terms.append(f"(({pk} - {qk}) * ln({pk} / {qk}))")
        # KL(p‖q) with the same eps floor — asymmetric by design: it
        # penalizes mass the partition has that the global lacks, the
        # direction that flags an over-represented kind in one shard
        kl_terms.append(f"({pk} * ln({pk} / {qk}))")
    return per_part.crossJoin(F.broadcast(glob)).selectExpr(
        "`partition`", f"{' + '.join(psi_terms)} AS psi", f"{' + '.join(kl_terms)} AS kl"
    )


def drift_violations(docs: DataFrame, params: RuleParams | None = None) -> DataFrame:
    """D1: per-partition span-kind frequency must not drift from the
    global distribution — thresholded ``drift_scores`` projected into
    violation rows. PSI is always enforced (psi > psi_threshold); KL is
    additionally enforced when ``params.kl_threshold`` is set (the
    north-star names both metrics). One violation row per partition
    regardless of which metric(s) fired; the message names each."""
    p = params or RuleParams()

    def metric(name: str, col: str, threshold: float) -> tuple[str, str]:
        return (
            f"{col} > {_sql_double(threshold)}",
            f"concat('{name} ', CAST(round({col}, 6) AS STRING), {_sql_str(f' > {threshold}')})",
        )

    fired, msg = metric("PSI", "psi", p.psi_threshold)
    if p.kl_threshold is not None:
        kl_fired, kl_msg = metric("KL", "kl", p.kl_threshold)
        msg = (
            f"concat_ws('; ', CASE WHEN {fired} THEN {msg} END,"
            f" CASE WHEN {kl_fired} THEN {kl_msg} END)"
        )
        fired = f"{fired} OR {kl_fired}"
    return _violation_rows(
        drift_scores(docs, p).filter(fired), "D1", ErrorKind.DRIFT_EXCEEDED, msg,
        grain="partition",
    )


def functional_dependency_violations(
    df: DataFrame,
    determinant: str | list[str],
    dependent: str,
    max_examples: int = 8,
) -> DataFrame:
    """F1: functional-dependency check X → Y — every determinant value
    must map to exactly ONE dependent value (catalog consistency: the
    same ``media_ref`` must always carry the same ``media_kind``; the
    same source the same license tag, …). Generalizes the reference's
    duplicate-key rule (a TOML/YAML table is the degenerate case where
    X is the key path and Y its value — ``map.rs`` keeps last-write and
    zParse flags the re-assignment) from one document's key space to a
    whole table's column space.

    Returns one row per violating determinant value: the determinant
    column(s), ``n_variants`` (exact distinct-Y count) and ``variants``
    (the first ``max_examples`` distinct Y values, sorted, joined with
    ','). Null Y values are ignored (profile contract, like null_rate);
    null X groups are skipped (SQL GROUP BY would keep them, but a null
    determinant cannot "determine" anything — documented divergence).

    Scale shape (100 TB): NO unbounded per-key state anywhere —
    1. distinct (X, Y) pairs: the only full-data shuffle, map-side
       partial distinct, volume = distinct pairs not rows;
    2. exact variant counts: groupBy(X) over the distinct-pair table;
    3. example values: row_number window over the pairs SEMI-JOINED to
       the violating keys first — the window input is violation-sparse,
       and the collect_list after ``rk <= max_examples`` holds at most
       ``max_examples`` elements per key regardless of how pathological
       a key is (a collect_set in the count pass would buffer ALL
       variants of a hot key — the OOM this shape exists to avoid).
    """
    xs = [determinant] if isinstance(determinant, str) else list(determinant)
    # dependent cast to string in the initial projection: the variants
    # reassembly (array_join over array_sort(collect_list)) requires
    # array<string>, and Y is advertised as any atomic type (license
    # tags, int codes, …) — without the cast a non-string Y fails at
    # analysis time. Null check runs BEFORE the cast semantics matter:
    # cast preserves nullness for atomic types.
    pairs = (
        df.select(*[F.col(c) for c in xs], F.col(dependent).cast("string").alias("_y"))
        .filter(F.col("_y").isNotNull())
        .na.drop(subset=xs)
        .distinct()
    )
    counts = (
        pairs.groupBy(*xs)
        .agg(F.count(F.lit(1)).alias("n_variants"))
        .filter(F.col("n_variants") > 1)
    )
    from pyspark.sql import Window

    sparse = pairs.join(counts.select(*xs), xs, "left_semi")
    w = Window.partitionBy(*xs).orderBy(F.col("_y").asc())
    examples = (
        sparse.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_examples)
        .groupBy(*xs)
        .agg(
            F.array_join(F.array_sort(F.collect_list("_y")), ",").alias("variants")
        )
    )
    return counts.join(examples, xs).select(*xs, "n_variants", "variants")


def conditional_fd_violations(
    df: DataFrame,
    condition,
    determinant: str | list[str],
    dependent: str,
    max_examples: int = 8,
) -> DataFrame:
    """Conditional functional dependency (Bohannon et al.'s CFD — the
    standard strengthening of X31's FD in the data-quality literature):
    X → Y must hold only on the rows satisfying ``condition``. The real
    catalogs FDs describe are usually conditional — "within source
    'wiki', every domain has one license tag" holds where the global
    domain → license FD is legitimately violated by other sources —
    so a global FD either misses the rule (never checked) or drowns in
    false positives (checked everywhere). ``condition`` is a Column or
    SQL boolean string.

    Semantics: exactly ``functional_dependency_violations`` on
    σ_condition(df) — rows where the condition is NULL are outside the
    scope, matching SQL WHERE. The filter lands BEFORE the distinct-
    pair shuffle, so the only full-data cost is the (pushed-down)
    predicate scan: at 100 TB a selective condition makes the CFD
    strictly cheaper than the global FD it refines.
    """
    pred = F.expr(condition) if isinstance(condition, str) else condition
    return functional_dependency_violations(
        df.filter(pred), determinant, dependent, max_examples
    )


def media_kind_consistency_violations(
    docs: DataFrame, max_examples: int = 4
) -> DataFrame:
    """F1: the same ``media_ref`` must be referenced with the same span
    kind everywhere in the table — a ref that one document embeds as
    ``image`` and another as ``audio`` means the catalog entry and at
    least one referent disagree about what the asset IS. The span-level
    application of ``functional_dependency_violations`` (X31), attributed
    back to every offending occurrence so the output keys by
    (partition, doc_id, rule_id) like every other rule.

    Scale shape: nested-pruned projection of (media_ref, kind, offset)
    only — no text bytes through the scan — then the FD core runs on
    distinct (ref, kind) pairs and the violating-ref set (violation-
    sparse, carries the preformatted variant list) broadcasts back onto
    the occurrence stream map-only.
    line/col are null by design: deriving them would drag every text
    byte through this branch's scan (same trade as R1).
    """
    occ = _media_spans(docs, "kind")
    bad = functional_dependency_violations(
        occ, "media_ref", "kind", max_examples=max_examples
    )
    return _violation_rows(
        occ.join(F.broadcast(bad), "media_ref"), "F1", ErrorKind.INCONSISTENT_MEDIA_KIND,
        "concat('inconsistent media kind: ', media_ref, ' -> ', variants)",
    )


# --------------------------------------------------------------------------
# declarative CHECK constraints (K-rules) — user-supplied SQL predicates
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CheckConstraint:
    """A user-declared CHECK constraint: a boolean Spark-SQL expression a
    row must satisfy, SQL-standard semantics (NULL result PASSES — only a
    definite FALSE is a violation, exactly like ``CHECK`` in ANSI SQL).

    This is the open end of the rule pack: the built-in S/U/R/D/M/F rules
    are the reference's closed error enum (error.rs:48-64) lifted to
    tables, while CheckConstraints let a user bolt domain rules onto the
    same engine — same violation schema, same verdict grid, same
    rules_hash/resume discipline — without touching engine code. The
    predicate compiles as SQL text (``_compile_rules``) into the same
    whole-stage-codegen map stage as the built-in rules: declarative in, Catalyst out, no
    Python anywhere.

    ``level``:
      'doc'  — predicate over one document row; columns in scope:
               ``doc_id, partition, spans, n_spans, total_text_bytes``
               (the latter two derived, so common limits need no lambdas).
      'span' — predicate over one exploded span occurrence; in scope:
               ``doc_id, partition, span_pos, kind, text, media_ref,
               offset, n_spans``.
    """

    rule_id: str
    level: str  # 'doc' | 'span'
    predicate: str
    description: str = ""


_RESERVED_RULE_IDS = frozenset(RULE_IDS)


def _validate_checks(checks: tuple[CheckConstraint, ...] | list[CheckConstraint]) -> None:
    seen: set[str] = set()
    for c in checks:
        if c.level not in ("doc", "span"):
            raise ValueError(f"CheckConstraint {c.rule_id!r}: level must be 'doc' or 'span', got {c.level!r}")
        if c.rule_id in _RESERVED_RULE_IDS:
            raise ValueError(f"CheckConstraint rule_id {c.rule_id!r} collides with a built-in rule")
        if c.rule_id in seen:
            raise ValueError(f"duplicate CheckConstraint rule_id {c.rule_id!r}")
        seen.add(c.rule_id)


def check_constraint_violations(
    docs: DataFrame, checks: tuple[CheckConstraint, ...] | list[CheckConstraint]
) -> DataFrame:
    """Evaluate user CHECK constraints → violation rows.

    Each constraint becomes a ``DeclaredRule`` row
    (``violation_sql = NOT coalesce(<pred>, true)``, a constant
    ``check failed: …`` message, no position) and goes through the same
    compiler as the built-in span pack. Scale shape: pure map stages — no
    Exchange, no Python — and ONE scan per level, not one per constraint:
    k span checks share one posexplode + one Generate and k doc checks
    share one derived-scalar projection (``total_text_bytes`` computed
    once, not k times). A union of k filtered branches was the first
    implementation — each branch re-ran its own scan/explode, which is
    exactly the k-scan cost this formulation avoids.

    A FALSE predicate emits a violation row; NULL passes (ANSI CHECK),
    so authors write ``x IS NOT NULL AND <cond>`` when null itself
    should violate.

    line/col are null by design: a user predicate has no single text
    position; span-level rows carry (span_pos, offset) like R1/F1.
    """
    _validate_checks(checks)
    rules = {
        level: [
            DeclaredRule(
                c.rule_id, ErrorKind.CHECK_FAILED, c.level, c.description,
                # newlines keep a trailing `--` comment in the predicate
                # from swallowing the closing parenthesis
                f"NOT coalesce((\n{c.predicate}\n), true)",
                _sql_str(f"check failed: {c.description or c.predicate}"),
                False,
            )
            for c in checks
            if c.level == level
        ]
        for level in ("doc", "span")
    }
    parts: list[DataFrame] = []
    if rules["doc"]:
        base = docs.select(
            "partition",
            "doc_id",
            "spans",
            F.size(F.col("spans")).alias("n_spans"),  # null spans -> null (predicate sees SQL null)
            F.aggregate(
                F.coalesce(F.col("spans"), F.array()),
                F.lit(0).cast("long"),
                lambda a, s: a + F.coalesce(F.octet_length(s["text"]), F.lit(0)),
            ).alias("total_text_bytes"),
        )
        parts.append(_compile_rules(base, rules["doc"]))
    if rules["span"]:
        ex = docs.select(
            "partition",
            "doc_id",
            F.size(F.col("spans")).alias("n_spans"),
            F.posexplode(F.col("spans")).alias("span_pos", "s"),
        ).select(
            "partition",
            "doc_id",
            "n_spans",
            F.col("span_pos").cast("int").alias("span_pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").cast("long").alias("offset"),
        )
        parts.append(_compile_rules(ex, rules["span"]))

    return union_violations(docs.sparkSession, parts)


def aggregate_reconciliation(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    child_value,
    parent_value: str,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> DataFrame:
    """Parent↔child aggregate reconciliation (K-rule family member the
    CHECK predicates can't express — it needs a cross-table aggregate):
    does the parent's stored summary column equal the aggregate of its
    child rows within tolerance?  The classic instance is a fact/summary
    ledger check: ``orders.o_totalprice`` vs
    ``sum(l_extendedprice·(1−l_discount)·(1+l_tax))`` of the order's
    lineitems.  The reference validates one document's internal
    consistency (e.g. declared sizes vs actual, json/parser.rs:127-136);
    this is the table-level generalization where "declared" lives in a
    different table than "actual".

    ``child_value`` is a Column aggregate expression evaluated under
    ``child.groupBy(child_key)``.  Returns ONLY violating keys:
    (key, child_value, parent_value, abs_err, rel_err) with
    |child−parent| > abs_tol + rel_tol·|parent|.  Keys missing from
    either side are R1's job (referential), not a tolerance violation —
    the inner join drops them by design.

    Cross-engine determinism contract: child_value is rounded to 2
    decimals BEFORE the error/threshold math, so the keep-set and every
    emitted value derive from the identical rounded double in Spark and
    the SQL twin (raw float-sum last-ulp drift cannot flip the verdict
    unless the true value sits within ~1e-13 of a rounding boundary).

    Scale shape (100 TB): the child aggregate is ONE shuffle with
    map-side combine (partial sums), reducing the child to parent
    cardinality; the join is then key-to-key SMJ (or broadcast under
    AQE when the violating side is small) — never a row-level child ×
    parent join.  Output is violation-sparse.  No Python anywhere.
    """
    agg = child.groupBy(F.col(child_key).alias("key")).agg(
        F.round(child_value, 2).alias("child_value")
    )
    par = parent.select(
        F.col(parent_key).alias("key"),
        F.col(parent_value).cast("double").alias("parent_value"),
    )
    j = agg.join(par, "key", "inner")
    abs_err = F.abs(F.col("child_value") - F.col("parent_value"))
    return (
        j.filter(
            abs_err
            > F.lit(abs_tol) + F.lit(rel_tol) * F.abs(F.col("parent_value"))
        )
        .select(
            "key",
            "child_value",
            F.round("parent_value", 2).alias("parent_value"),
            F.round(abs_err, 2).alias("abs_err"),
            F.round(
                abs_err / F.nullif(F.abs(F.col("parent_value")), F.lit(0.0)), 6
            ).alias("rel_err"),
        )
    )


def fd_confidence(
    df: DataFrame,
    determinant: str,
    dependent: str,
    min_confidence: float = 0.99,
) -> DataFrame:
    """Approximate functional dependency X → Y: for each determinant
    value, confidence = count of the MAJORITY dependent value / group
    size (TANE's g3-style measure).  ``functional_dependency_violations``
    enumerates every violating pair for an FD that must hold exactly;
    this is the profiling companion for FDs that mostly hold ("same
    source ⇒ same lang, 99% of the time") — it returns the determinant
    groups BELOW ``min_confidence`` with their majority value, so the
    output names what the exception looks like, not just that one
    exists.

    Ties for majority break to the MIN dependent string (deterministic
    cross-engine).  NULL determinants are skipped (no identity to
    check); NULL dependents count as the string 'NULL' — a determinant
    that maps to null half the time is a real inconsistency.

    Scale shape (100 TB): groupBy(X, Y) with map-side combine reduces
    to the distinct-pair table; the majority pick and confidence are a
    window + filter on that reduced table (bounded by distinct pairs,
    not rows); output is violation-sparse.
    """
    from pyspark.sql import Window

    pairs = (
        df.filter(F.col(determinant).isNotNull())
        .select(
            F.col(determinant).cast("string").alias("x"),
            F.coalesce(F.col(dependent).cast("string"), F.lit("NULL")).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    w = Window.partitionBy("x")
    wr = Window.partitionBy("x").orderBy(F.col("n_xy").desc(), F.col("y").asc())
    g = (
        pairs.withColumn("n_x", F.sum("n_xy").over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(w))
        .withColumn("_rk", F.row_number().over(wr))
    )
    return (
        g.filter(F.col("_rk") == 1)
        .select(
            F.col("x").alias("determinant"),
            F.col("y").alias("majority_value"),
            F.col("n_xy").alias("majority_count"),
            F.col("n_x").alias("group_count"),
            F.col("n_variants").alias("n_variants"),
            F.round(F.col("n_xy") / F.col("n_x"), 6).alias("confidence"),
        )
        .filter(F.col("confidence") < F.lit(min_confidence))
    )


def transition_violations(
    events: DataFrame,
    allowed: list[tuple[str, str]],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sequence-constraint validation: within each user's event stream
    (ordered by time, ties broken by ``tiebreak_col`` so the order —
    and therefore the violation set — is deterministic under any
    partitioning), every consecutive (prev → next) event-type pair must
    be in the ``allowed`` set; a user's first event is unconstrained.
    The state-machine generalization of the monotonicity window checks
    — the reference's parser-state legality (json/parser.rs state
    transitions) lifted to event tables.

    Scale shape: ONE shuffle on ``user_col`` for the lag window (the
    same partitioning sessionization uses — share it when composing);
    the allowed set is a literal array in the plan (codegen `IN`),
    sized for hand-curated machines (10s-100s of pairs), never a join.
    """
    from pyspark.sql import Window

    pair_lits = F.array(*[F.lit(f"{a}\x1f{b}") for a, b in allowed])
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    prev = F.lag(type_col).over(w)
    # pair is built from the materialized column, not the window expr —
    # a window function may not appear inside a WHERE clause
    pair = F.concat_ws("\x1f", F.col("_prev_type"), F.col(type_col))
    return (
        events.withColumn("_prev_type", prev)
        .filter(F.col("_prev_type").isNotNull() & ~F.array_contains(pair_lits, pair))
        .select(
            user_col,
            tiebreak_col,
            ts_col,
            F.col("_prev_type").alias("prev_type"),
            type_col,
        )
    )


def rule_cooccurrence(violations: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Which rules fire TOGETHER on the same document — the X92
    discipline (missingness co-occurrence) applied to the violation
    table itself: correlated rules mean one root cause (a producer
    emitting truncated docs trips S2+S4+R1 at once), and triage wants
    the failure DOMAIN, not len(rules) separate tickets. ``lift``
    (vs independence over the n_docs universe, when given) and
    ``jaccard`` of the per-rule doc sets quantify it; pairs are
    emitted for every rule pair observed on ≥1 common doc.

    Scale shape: violations reduce to the distinct (partition, doc_id,
    rule_id) table first — violation rows per doc can be huge, the
    distinct is grid-bounded per doc by the rule count; the pair
    self-join keys on the doc (per-doc fan-out ≤ rules², a constant);
    per-rule doc counts ride one more groupBy on the reduced table.
    """
    d = violations.select("partition", "doc_id", "rule_id").distinct()
    per_rule = d.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.partition").eqNullSafe(F.col("b.partition")))
            & (F.col("a.doc_id").eqNullSafe(F.col("b.doc_id")))
            & (F.col("a.rule_id") < F.col("b.rule_id")),
        )
        .groupBy(
            F.col("a.rule_id").alias("rule_a"), F.col("b.rule_id").alias("rule_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        pairs.join(per_rule.withColumnRenamed("rule_id", "rule_a"), "rule_a")
        .withColumnRenamed("n", "n_a")
        .join(per_rule.withColumnRenamed("rule_id", "rule_b"), "rule_b")
        .withColumnRenamed("n", "n_b")
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("n_both")
    sel = [
        "rule_a",
        "rule_b",
        "n_a",
        "n_b",
        "n_both",
        F.when(uni > 0, F.round(F.col("n_both") / uni, 6)).alias("jaccard"),
    ]
    if n_docs is not None:
        sel.append(
            F.when(
                (F.col("n_a") * F.col("n_b")) > 0,
                F.round(F.col("n_both") * F.lit(int(n_docs)) / (F.col("n_a") * F.col("n_b")), 6),
            ).alias("lift")
        )
    return out.select(*sel)


def cross_table_check_violations(
    fact: DataFrame,
    ref: DataFrame,
    on: list[str],
    predicate: str,
    rule_id: str,
    fact_cols: list[str],
    detail: Column | None = None,
    strategy: str = "auto",
    on_missing: str = "pass",
) -> DataFrame:
    """K-rule CHECK constraints across a JOIN: evaluate ``predicate``
    (a SQL boolean over fact ∪ ref columns) on each fact row joined to
    its reference row, and emit a violation row per definite-FALSE
    (ANSI CHECK: NULL passes — including every column the predicate
    reads on a fact row with NO reference match, unless
    ``on_missing='violate'``, which emits a row for unmatched facts;
    dangling keys as such are R1/referential_violations' job).

    Output: ``fact_cols + [rule_id, detail]`` (detail NULL unless
    given).

    Scale shape: both sides are projected to exactly the columns the
    check reads BEFORE the join (explicit column pruning — ``ref`` may
    be a 400-column dimension; the join input is ``on`` + the predicate
    columns only). ``strategy='broadcast'`` forces a broadcast of the
    pruned reference, 'smj' leaves it to sort-merge, 'auto' lets
    AQE/Catalyst pick from the pruned size. The predicate itself is an
    F.expr map stage on the join output — one scan each side, one
    join, zero Python.

    Reference parity: the reference validates values against their
    SCHEMA context one document at a time (typed-value rules,
    toml/parser.rs, json/validator semantics); this is the relational
    lift — a row validated against its referenced row's values.
    """
    if on_missing not in ("pass", "violate"):
        raise ValueError(f"on_missing must be 'pass' or 'violate', got {on_missing!r}")
    if strategy not in ("auto", "broadcast", "smj"):
        raise ValueError(f"unknown strategy {strategy!r}")

    import re as _re

    pred_cols = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", predicate))
    fact_need = sorted(
        {c for c in fact.columns if c in pred_cols or c in fact_cols or c in on}
    )
    ref_need = sorted({c for c in ref.columns if c in pred_cols or c in on})
    f = fact.select(*fact_need)
    r = ref.select(*ref_need)
    if strategy == "broadcast":
        r = F.broadcast(r)
    elif strategy == "smj":
        r = r.hint("merge")

    # _matched marker: ref cols are NULL either way for unmatched
    # facts, so the predicate alone can't tell a missing ref from a
    # NULL ref value — the join marker can.
    joined = f.join(r.withColumn("_matched", F.lit(1)), on=on, how="left")
    fails = ~F.coalesce(F.expr(predicate), F.lit(True))
    if on_missing == "violate":
        fails = fails | F.col("_matched").isNull()
    out = joined.filter(fails).select(
        *fact_cols,
        F.lit(rule_id).alias("rule_id"),
        (detail if detail is not None else F.lit(None).cast("string")).alias("detail"),
    )
    return out


def asof_referential_violations(
    fact: DataFrame,
    fact_key: str,
    fact_ts: str,
    dim: DataFrame,
    dim_key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    strategy: str = "broadcast",
) -> DataFrame:
    """Temporal (SCD2) referential integrity: every fact row must
    resolve to EXACTLY ONE dimension version whose half-open validity
    window ``[valid_from, valid_to)`` covers the fact's timestamp
    (``valid_to IS NULL`` = open-ended current version). Plain R1
    answers "does the key exist"; at web scale catalogs are versioned,
    and the three corruptions R1 cannot see are exactly the classes
    this emits:

    - ``unmatched_key`` — the key has no dimension rows at all;
    - ``no_valid_version`` — the key exists but no version covers the
      timestamp (a validity GAP: versions were retired or loaded with
      holes);
    - ``ambiguous_version`` — more than one version covers it (window
      OVERLAP: the exactly-once resolution every as-of join silently
      assumes is broken, and picking "the" version is load-order luck).

    Facts with a NULL key or NULL timestamp are out of scope (they
    belong to not-null checks, mirroring how SQL joins treat NULL keys)
    — documented, not silent: they simply cannot match any window.

    Output: one row per violating DISTINCT (key, ts) pair —
    ``(key:string, ts, n_facts, n_versions, violation)`` where
    ``n_facts`` is how many fact rows share the pair and ``n_versions``
    how many windows covered it (0 for gaps, ≥2 for overlaps).

    Scale shape (100 TB facts, versioned catalog): the fact side is
    first reduced to DISTINCT (key, ts) with a map-side-combined count
    — the only fact-sized shuffle, and it's the same reduction an as-of
    join would pay. The dimension joins that reduced table on the key
    equi-condition with the window predicate evaluated in codegen;
    ``strategy='broadcast'`` (default — catalogs are small next to
    facts) makes the whole check exchange-free past the reduction,
    ``'smj'`` hints sort-merge for a dimension too big to ship.
    Per-pair version counting is a second groupBy on the already
    distinct-pair-sized table. Reference parity: generalizes the R1
    dangling-ref contract (convert.rs media_ref lookups) to versioned
    catalogs; exactly-once resolution mirrors the parser's duplicate-key
    rejection (toml/parser.rs:88-122) lifted to time windows.
    """
    if strategy not in ("broadcast", "smj"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    pairs = (
        fact.select(
            F.col(fact_key).cast("string").alias("key"),
            F.col(fact_ts).alias("ts"),
        )
        .filter(F.col("key").isNotNull() & F.col("ts").isNotNull())
        .groupBy("key", "ts")
        .agg(F.count(F.lit(1)).alias("n_facts"))
    )
    d = dim.select(
        F.col(dim_key).cast("string").alias("key"),
        F.col(valid_from).alias("_vf"),
        F.col(valid_to).alias("_vt"),
    )
    if strategy == "broadcast":
        d = F.broadcast(d)
    else:
        d = d.hint("merge")
    covers = (F.col("_vf") <= F.col("ts")) & (
        F.col("_vt").isNull() | (F.col("ts") < F.col("_vt"))
    )
    joined = pairs.join(d, "key", "left")
    resolved = joined.groupBy("key", "ts", "n_facts").agg(
        F.max(F.col("_vf").isNotNull().cast("int")).alias("_key_exists"),
        F.sum(covers.cast("int")).alias("_n_cover"),
    )
    return (
        resolved.withColumn(
            "violation",
            F.when(F.col("_key_exists") == 0, F.lit("unmatched_key"))
            .when(F.coalesce(F.col("_n_cover"), F.lit(0)) == 0, F.lit("no_valid_version"))
            .when(F.col("_n_cover") > 1, F.lit("ambiguous_version")),
        )
        .filter(F.col("violation").isNotNull())
        .select(
            "key",
            "ts",
            "n_facts",
            F.coalesce(F.col("_n_cover"), F.lit(0)).cast("bigint").alias("n_versions"),
            "violation",
        )
    )


def violation_exemplars(
    violations: DataFrame,
    n: int = 3,
    keys: tuple[str, ...] = ("partition", "rule_id"),
) -> DataFrame:
    """X136: bounded, DETERMINISTIC exemplar violations per group — the
    report surface between "show me the count" (partition_verdicts) and
    "dump every row" (violations): each (partition, rule) cell keeps its
    total plus at most ``n`` concrete example rows a human can read.

    Exemplar choice is a pure function of the data, never of partitioning
    or arrival order: rows rank by md5(doc_id ':' span_pos) — the same
    engine-portable sampler as hash_sample — with (doc_id, span_pos,
    message) tiebreak, so re-runs, resumed jobs, and the DuckDB twin
    select the IDENTICAL exemplars (a LIMIT-per-group would be
    nondeterministic under Spark's unordered shuffles).

    Scale shape: ONE window partitioned by the group keys (never a
    global sort; the heavy (partition, rule) cells are exactly the ones
    the engine already shuffles for verdicts), count rides the same
    window frame, and the <=n filter drops everything else before any
    collect. At 10^12 docs the output is |partitions| x |rules| x n rows
    — constant-bounded, safe to sink or broadcast into a report.
    """
    from pyspark.sql import Window

    h = F.md5(
        F.concat_ws(
            ":",
            F.col("doc_id"),
            F.coalesce(F.col("span_pos").cast("string"), F.lit("-1")),
        )
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        h.asc(),
        F.col("doc_id").asc(),
        F.coalesce(F.col("span_pos"), F.lit(-1)).asc(),
        F.col("message").asc(),
    )
    wc = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        violations.withColumn("exemplar_rank", F.row_number().over(w))
        .withColumn("n_total", F.count(F.lit(1)).over(wc))
        .filter(F.col("exemplar_rank") <= n)
    )


def media_refcounts(
    docs: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Reverse referential check: reference counts per CATALOG entry,
    zero meaning orphan — R1 asks "does every span's media_ref exist?";
    this asks the storage question "does every catalog payload still
    have a referent?" (GC candidates, the audit an Iceberg
    expire/cleanup pass needs before deleting blobs).

    Scale shape: the doc side collapses FIRST — explode spans, filter
    non-null refs, ONE map-side-combined groupBy(ref) whose output is
    bounded by |catalog|, never by corpus size; the catalog then LEFT
    joins that compact count table (orphans keep n_refs = 0). The
    corpus is scanned once; nothing doc-sized ever shuffles twice.
    """
    refs = (
        docs.select(F.explode(spans_col).alias("_s"))
        .select(F.col(f"_s.{ref_col}").alias(ref_col))
        .filter(F.col(ref_col).isNotNull())
        .groupBy(ref_col)
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    return (
        catalog.select(ref_col)
        .distinct()
        .join(refs, ref_col, "left")
        .select(ref_col, F.coalesce(F.col("n_refs"), F.lit(0)).alias("n_refs"))
    )


def orphan_media(
    docs: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Catalog entries no span references (n_refs = 0): the deletion
    shortlist. See ``media_refcounts`` for the plan shape."""
    return (
        media_refcounts(docs, catalog, spans_col, ref_col)
        .filter(F.col("n_refs") == 0)
        .select(ref_col)
    )
