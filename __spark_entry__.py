"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship — full validation-engine pass (span rules +
uniqueness + referential + drift) over the sf0.001 documents table
lifted to the interleaved span schema; returns the dense
(partition × rule) verdict matrix.

``queries`` / ``oracle_sql``: the gate's DuckDB twins, each a Spark
query and its SQL reimplementation — see ``zparse_spark/queries_span.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# make the package importable regardless of the caller's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: validate the interleaved sf0.001 documents table —
    the FULL interleaved text+media contract: span rules, uniqueness,
    referential (fused broadcast), drift, M1 (every referenced media
    payload decodes — real BMP/WAV/ZVID codecs classify the synthesized
    payload table covering the catalog keyspace), AND F1 (every
    media_ref carries one consistent span kind table-wide)."""
    from zparse_spark.multimodal import decode_verdicts, synthesize_codec_payloads
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine
    from zparse_spark.sources.interleave import derive_media_catalog, interleave_documents
    from zparse_spark.sources.readers import load_documents

    flat = load_documents(spark, "/root/testdata/sf0.001")
    # 8 partitions at sf0.001 keeps ≥60 docs per partition so the D1
    # drift score reflects distribution, not small-sample noise
    docs = interleave_documents(flat, n_partitions=8)
    catalog = derive_media_catalog(spark)
    # payloads for the same media_NNNNN keyspace the interleaver draws from
    payloads = synthesize_codec_payloads(spark, n_media=4096)
    engine = ValidationEngine(
        ValidationConfig(enable_media_decode=True, enable_media_kind_fd=True)
    )
    result = engine.validate(docs, catalog, media_verdicts=decode_verdicts(payloads))
    return result.verdicts


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from zparse_spark.queries_span import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from zparse_spark.queries_span import ORACLES

    return dict(ORACLES)
