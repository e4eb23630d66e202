"""Canonical schemas + error taxonomy for the validation engine.

The documents schema is fixed by the task's ``input_hint``:
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``
plus a ``partition`` column (checkpoint/verdict granularity).

The error-kind taxonomy mirrors the reference's closed 15-kind enum
(/root/reference/crates/zparse/src/error.rs:48-64) extended with
table-level kinds the distributed setting introduces (DuplicateDocId →
reuses DuplicateKey, DanglingMediaRef, DriftExceeded). The violation-row
position contract ``(span_pos, offset)`` is the table-scale analog of the
reference ``Pos { offset, line, col }`` (error.rs:8-12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class ErrorKind:
    """Stable string forms, as the reference exposes at its WASM/JS
    boundary (crates/zparse-wasm/src/lib.rs:61-79)."""

    INVALID_ESCAPE_SEQUENCE = "InvalidEscapeSequence"
    INVALID_UNICODE_ESCAPE = "InvalidUnicodeEscape"
    UNTERMINATED_STRING = "UnterminatedString"
    INVALID_NUMBER = "InvalidNumber"
    INVALID_TOKEN = "InvalidToken"
    EXPECTED = "Expected"
    TRAILING_COMMA = "TrailingComma"
    MISSING_COMMA = "MissingComma"
    DUPLICATE_KEY = "DuplicateKey"
    INVALID_KEY = "InvalidKey"
    INVALID_DATETIME = "InvalidDatetime"
    INVALID_INLINE_TABLE = "InvalidInlineTable"
    INVALID_ARRAY = "InvalidArray"
    MAX_DEPTH_EXCEEDED = "MaxDepthExceeded"
    MAX_SIZE_EXCEEDED = "MaxSizeExceeded"
    # table-level extensions (north_star)
    DANGLING_MEDIA_REF = "DanglingMediaRef"
    DRIFT_EXCEEDED = "DriftExceeded"
    MEDIA_DECODE_FAILED = "MediaDecodeFailed"
    INCONSISTENT_MEDIA_KIND = "InconsistentMediaKind"
    CHECK_FAILED = "CheckFailed"

    ALL = frozenset(
        {
            INVALID_ESCAPE_SEQUENCE,
            INVALID_UNICODE_ESCAPE,
            UNTERMINATED_STRING,
            INVALID_NUMBER,
            INVALID_TOKEN,
            EXPECTED,
            TRAILING_COMMA,
            MISSING_COMMA,
            DUPLICATE_KEY,
            INVALID_KEY,
            INVALID_DATETIME,
            INVALID_INLINE_TABLE,
            INVALID_ARRAY,
            MAX_DEPTH_EXCEEDED,
            MAX_SIZE_EXCEEDED,
            DANGLING_MEDIA_REF,
            DRIFT_EXCEEDED,
            MEDIA_DECODE_FAILED,
            INCONSISTENT_MEDIA_KIND,
            CHECK_FAILED,
        }
    )


# Span-kind domain for the interleaved documents table (FIXTURES.md T1).
SPAN_KIND_DOMAIN = ("text", "image", "audio", "video", "table", "code")
MEDIA_KIND_DOMAIN = ("image", "audio", "video", "table", "code")

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), True),
        T.StructField("partition", T.StringType(), False),
    ]
)

MEDIA_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_kind", T.StringType(), True),
        T.StructField("bytes", T.LongType(), True),
    ]
)

# One violation row per detected breach — the reference's
# ``Error { kind, span, message }`` (error.rs:94-98) lifted to a table.
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), True),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("span_pos", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        # 1-based position of the violating span's START in the document's
        # canonical text reconstruction (span texts concatenated in array
        # order) — the table-scale analog of the reference's Pos line/col
        # (error.rs:8-18 prints offset:line:col). Null for doc/table-level
        # rules and for rules whose pruned scan never reads text (R1/M1):
        # deriving positions there would push every text byte through a
        # scan that otherwise reads two subfields.
        T.StructField("line", T.IntegerType(), True),
        T.StructField("col", T.IntegerType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)


def union_violations(spark: SparkSession, parts: list[DataFrame]) -> DataFrame:
    """``parts`` (violation frames) unioned by name, left to right; an
    empty ``VIOLATION_SCHEMA`` frame when there are none."""
    if not parts:
        return spark.createDataFrame([], VIOLATION_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Per-(partition, rule) pass/fail — analog of the valid/invalid fixture
# directory contract (tests/fixtures_test.rs:5-37).
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("violation_count", T.LongType(), False),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType(), False),
        T.StructField("rules_hash", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_violations", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
