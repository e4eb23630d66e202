"""Streaming validation: the same rule pack over a file stream via
foreachBatch, and the watermark-windowed violation-rate operator."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from zparse_spark.plans.engine import ValidationConfig, ValidationEngine
from zparse_spark.schema import DOCUMENTS_SCHEMA
from zparse_spark.sources.datagen import generate_documents, generate_media_catalog
from zparse_spark.streaming.validate_stream import validate_stream, violation_rate_windows


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    docs = generate_documents(spark, n_docs=300, seed=21, n_partitions=2).drop("_fixture_class")
    docs.write.parquet(src)
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    q = validate_stream(stream, cat, out, engine=eng, trigger_once=True)
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/violations")
    want = eng.violations(spark.read.parquet(src), cat)
    # same violation multiset (batch_id column aside)
    assert got.count() == want.count()
    key = ["partition", "doc_id", "rule_id", "span_pos"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_violation_rate_windows_with_watermark(spark, tmp_path):
    # memory-source stream of violation rows with event times
    rows = [
        ("2024-01-01 10:01:00", "S1"),
        ("2024-01-01 10:05:00", "S1"),
        ("2024-01-01 10:12:00", "S2"),
        ("2024-01-01 10:03:00", "S1"),  # late but inside watermark
    ]
    src = str(tmp_path / "viol_src")
    spark.createDataFrame(rows, ["ts_s", "rule_id"]).select(
        F.to_timestamp("ts_s").alias("ts"), "rule_id"
    ).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, rule_id string").parquet(src)
    agg = violation_rate_windows(stream, window_duration="10 minutes", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("viol_rates")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].strftime("%H:%M"), r["rule_id"]): r["n_violations"]
        for r in spark.sql("select * from viol_rates").collect()
    }
    assert got == {("10:00", "S1"): 3, ("10:10", "S2"): 1}


def test_stream_is_resumable_from_checkpoint(spark, tmp_path):
    """availableNow + checkpoint: a second start with no new data
    processes nothing (offsets committed) — the streaming resume
    contract."""
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    docs = generate_documents(spark, n_docs=100, seed=22, n_partitions=2).drop("_fixture_class")
    docs.write.parquet(src)
    cat = generate_media_catalog(spark)
    eng = ValidationEngine(ValidationConfig(enable_drift=False))

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src)
    q1 = validate_stream(stream, cat, out, engine=eng)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/violations").count()

    q2 = validate_stream(
        spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(src), cat, out, engine=eng
    )
    q2.awaitTermination(120)
    time.sleep(1)
    n2 = spark.read.parquet(f"{out}/violations").count()
    assert n1 == n2  # nothing reprocessed


def test_dedup_stream_drops_redelivered_docs(spark, tmp_path):
    """Duplicate doc_ids re-delivered within the watermark window come
    out exactly once; the dedup state is watermark-bounded."""
    from zparse_spark.streaming.validate_stream import dedup_stream

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    docs = (
        generate_documents(spark, n_docs=200, seed=31, n_partitions=2)
        .drop("_fixture_class")
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.crc32("doc_id") % 600))
    )
    dup = docs.filter(F.crc32("doc_id") % 2 == 0)  # re-deliver half
    docs.unionAll(dup).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = dedup_stream(stream, out, delay="1 hour")
    q.awaitTermination(120)

    got = spark.read.parquet(f"{out}/deduped")
    assert got.count() == 200
    assert got.select("doc_id").distinct().count() == 200


def test_compaction_removes_post_watermark_redelivery(spark, tmp_path):
    """The documented handoff, end-to-end: a doc re-delivered AFTER its
    dedup state expired slips into the sink twice (watermark semantics,
    not a bug); compact_dedup_sink then leaves exactly one copy — the
    FIRST arrival."""
    from zparse_spark.streaming.validate_stream import compact_dedup_sink, dedup_stream

    src = str(tmp_path / "csrc")
    out = str(tmp_path / "cout")
    t0 = 1_700_000_000

    def docs_at(ids_ts):
        return spark.createDataFrame(
            [(i, f"text of {i}", ts) for i, ts in ids_ts], ["doc_id", "text", "_ts"]
        ).select("doc_id", "text", F.timestamp_seconds(F.col("_ts")).alias("ts"))

    def run_batch(rows):
        docs_at(rows).write.mode("append").parquet(src)
        schema = "doc_id string, text string, ts timestamp"
        q = dedup_stream(
            spark.readStream.schema(schema).parquet(src), out, delay="1 hour"
        )
        q.awaitTermination(120)

    # batch 1: A and B arrive at t0
    run_batch([("A", t0), ("B", t0)])
    # batch 2: C at t0+3h advances the watermark to t0+2h (> A's expiry)
    run_batch([("C", t0 + 3 * 3600)])
    # batch 3: A re-delivered at t0+2.5h — state expired, slips through
    run_batch([("A", t0 + 2 * 3600 + 1800)])

    sink = spark.read.parquet(f"{out}/deduped")
    assert sink.filter("doc_id = 'A'").count() == 2  # the gap is real

    compacted = compact_dedup_sink(spark, out)
    assert compacted.count() == 3
    a_rows = compacted.filter("doc_id = 'A'").collect()
    assert len(a_rows) == 1
    # first arrival wins: the surviving copy carries the ORIGINAL ts
    assert int(a_rows[0]["ts"].timestamp()) == t0


def test_stream_media_rule(spark, tmp_path):
    """M1 in the streaming path: a static payload-verdict frame joins
    each microbatch (stream-static), flagging spans whose payload is
    corrupt or absent."""
    from tests.conftest import make_docs
    from zparse_spark.functions import media_codecs
    from zparse_spark.multimodal import decode_verdicts
    from zparse_spark.plans.engine import ValidationConfig
    from zparse_spark.streaming.validate_stream import validate_stream

    src = str(tmp_path / "msrc")
    out = str(tmp_path / "mout")
    docs = make_docs(
        spark,
        [
            ("d1", [("text", "hi", None, 0), ("image", "", "m_ok", 5)], "p0"),
            ("d2", [("image", "", "m_bad", 0)], "p0"),
        ],
    )
    docs.write.parquet(src)
    good = media_codecs.bmp_encode(media_codecs.synth_image(0))
    pay = spark.createDataFrame(
        [("m_ok", "image", bytearray(good)), ("m_bad", "image", bytearray(good[:10]))],
        "media_ref string, media_kind string, payload binary",
    )
    eng = ValidationEngine(
        ValidationConfig(
            enable_uniqueness=False, enable_referential=False, enable_drift=False,
            enable_media_decode=True,
        )
    )
    q = validate_stream(
        spark.readStream.schema(docs.schema).parquet(src), None, out,
        engine=eng, media_verdicts=decode_verdicts(pay),
    )
    q.awaitTermination(120)
    viol = spark.read.parquet(f"{out}/violations")
    rows = [(r["doc_id"], r["rule_id"]) for r in viol.collect()]
    assert ("d2", "M1") in rows and all(d != "d1" for d, _ in rows)


def test_compaction_ingest_order_precedence(spark, tmp_path):
    """The stronger keep rule for arrival-order consumers: the stream
    stamps ``_ingest_batch`` per micro-batch; compaction with
    ``order_cols=('_ingest_batch',)`` keeps the FIRST ARRIVAL even when
    a later-arriving copy carries an EARLIER event time. Within ONE
    stream that inversion cannot occur — the watermark that expired the
    id's dedup state also floors any re-delivery's event time above the
    first copy's — so the scenario is a multi-writer sink: a backfill
    job appends a recovered copy of A (stamping its own, higher, ingest
    order) whose event time predates the stream's copy. The default
    min-event-time rule resurrects the backfill copy; ingest-order
    precedence keeps the stream's."""
    from zparse_spark.streaming.validate_stream import compact_dedup_sink, dedup_stream

    src = str(tmp_path / "isrc")
    out = str(tmp_path / "iout")
    t0 = 1_700_000_000

    def run_batch(rows):
        spark.createDataFrame(
            [(i, v, ts) for i, v, ts in rows], ["doc_id", "val", "_ts"]
        ).select(
            "doc_id", "val", F.timestamp_seconds(F.col("_ts")).alias("ts")
        ).write.mode("append").parquet(src)
        schema = "doc_id string, val string, ts timestamp"
        q = dedup_stream(
            spark.readStream.schema(schema).parquet(src), out, delay="1 hour",
            stamp_ingest_order=True,
        )
        q.awaitTermination(120)

    # stream: A and B arrive at t0+2h, then C at t0+6h (watermark moves on)
    run_batch([("A", "first", t0 + 2 * 3600), ("B", "first", t0 + 2 * 3600)])
    run_batch([("C", "first", t0 + 6 * 3600)])
    sink = spark.read.parquet(f"{out}/deduped")
    # stamped, monotonically increasing across runs (exact ids are a
    # checkpoint detail — availableNow may commit bookkeeping batches)
    stamps = {r["_ingest_batch"] for r in sink.collect()}
    assert len(stamps) == 2 and min(stamps) == 0 and max(stamps) > 0

    # backfill writer: re-delivers A with an EARLIER event time, stamping
    # its own ingest order AFTER every stream batch (batch 1000)
    spark.createDataFrame(
        [("A", "backfill-copy", t0)], ["doc_id", "val", "_ts"]
    ).select(
        "doc_id", "val", F.timestamp_seconds(F.col("_ts")).alias("ts"),
        F.lit(1000).alias("_ingest_batch"),
    ).write.mode("append").partitionBy("_ingest_batch").parquet(f"{out}/deduped")

    sink = spark.read.parquet(f"{out}/deduped")
    assert sink.filter("doc_id = 'A'").count() == 2  # the duplicate is real
    # default event-time rule: the backfill copy (earlier ts) wins
    ev = compact_dedup_sink(spark, out).filter("doc_id = 'A'").collect()
    assert len(ev) == 1 and ev[0]["val"] == "backfill-copy"
    # ingest-order precedence: the first arrival wins
    io = (
        compact_dedup_sink(spark, out, order_cols=("_ingest_batch",))
        .filter("doc_id = 'A'")
        .collect()
    )
    assert len(io) == 1 and io[0]["val"] == "first"
    assert int(io[0]["ts"].timestamp()) == t0 + 2 * 3600


def test_checksum_stream_equals_batch_digest(spark, tmp_path):
    """The incrementally merged digest after N microbatches equals
    table_checksum of all rows seen — regardless of batch boundaries —
    and a restart over the same source is a no-op (idempotent merge)."""
    from zparse_spark.operators.checksum import table_checksum
    from zparse_spark.streaming.validate_stream import checksum_stream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, f"g{i % 3}", f"text-{i}") for i in range(90)]
    df = spark.createDataFrame(rows, "id bigint, g string, t string")
    # three separate files -> maxFilesPerTrigger=1 forces 3 microbatches
    for j in range(3):
        df.filter(F.col("id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("id bigint, g string, t string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = checksum_stream(stream, state, group_cols=["g"], checkpoint=ckpt)
    q.awaitTermination(120)

    got = {
        r.g: (r.n_rows, r.xor_hash, r.sum_hash)
        for r in spark.read.parquet(state).collect()
    }
    want = {
        r.g: (r.n_rows, r.xor_hash, r.sum_hash)
        for r in table_checksum(df, group_cols=["g"]).collect()
    }
    assert got == want
    assert max(
        r._last_batch for r in spark.read.parquet(state).collect()
    ) >= 1  # really ran >1 microbatch

    # restart: same checkpoint, no new files -> digest unchanged
    stream2 = (
        spark.readStream.schema("id bigint, g string, t string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = checksum_stream(stream2, state, group_cols=["g"], checkpoint=ckpt)
    q2.awaitTermination(120)
    got2 = {
        r.g: (r.n_rows, r.xor_hash, r.sum_hash)
        for r in spark.read.parquet(state).collect()
    }
    assert got2 == want


def test_cms_stream_equals_batch_sketch(spark, tmp_path):
    """X148: the incrementally folded CMS after N microbatches is
    cell-identical to cms_sketch over all rows seen, restart is a
    no-op, and estimates off the streamed state equal batch estimates."""
    from zparse_spark.operators.stats import cms_estimate, cms_sketch
    from zparse_spark.streaming.validate_stream import cms_stream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, f"u{i % 17}") for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, v string")
    for j in range(3):
        df.filter(F.col("id") % 3 == j).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    W, D = 8, 3
    q = cms_stream(stream, "v", state, width=W, depth=D, checkpoint=ckpt)
    q.awaitTermination(120)

    got = {
        (r["d"], r["bucket"]): r["n"]
        for r in spark.read.parquet(state).drop("_last_batch").collect()
    }
    want = {
        (r["d"], r["bucket"]): r["n"]
        for r in cms_sketch(df, "v", width=W, depth=D).collect()
    }
    assert got == want

    # restart over the same source: replayed batches are no-ops
    stream2 = (
        spark.readStream.schema("id bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = cms_stream(stream2, "v", state, width=W, depth=D, checkpoint=ckpt)
    q2.awaitTermination(120)
    got2 = {
        (r["d"], r["bucket"]): r["n"]
        for r in spark.read.parquet(state).drop("_last_batch").collect()
    }
    assert got2 == want

    # estimates off the streamed state match batch estimates
    est_stream = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(
            spark.read.parquet(state).drop("_last_batch"), df, "v", W, D
        ).collect()
    }
    est_batch = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(cms_sketch(df, "v", W, D), df, "v", W, D).collect()
    }
    assert est_stream == est_batch


def test_suite_stream_state_equals_batch_and_restart_noop(spark, tmp_path):
    """X222: the monoid-folded suite state after N microbatches equals
    the batch per-group aggregate over all rows seen; a restart over
    the same source replays batches as no-ops (idempotent guard)."""
    from zparse_spark.streaming.validate_stream import suite_stream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        (f"g{i % 4}", None if i % 4 == 2 else "en", float(i % 13))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, lang string, val double")
    for j in range(3):
        df.filter(F.crc32(F.concat("g", F.col("val").cast("string"))) % 3 == j) \
          .coalesce(1).write.mode("append").parquet(src)
    full = spark.read.parquet(src)

    def run():
        stream = (
            spark.readStream.schema("g string, lang string, val double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = suite_stream(stream, "g", "val", "lang", state, checkpoint=ckpt)
        q.awaitTermination(120)

    run()
    got = {
        r["g"]: (r["n"], r["c_nonnull"], r["c_value"], r["s_value"], r["mn"], r["mx"])
        for r in spark.read.parquet(state).drop("_last_batch").collect()
    }
    want = {
        r["g"]: (r["n"], r["c"], r["cv"], r["s"], r["mn"], r["mx"])
        for r in full.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("lang").alias("c"),
            F.count("val").alias("cv"),
            F.sum("val").alias("s"),
            F.min("val").alias("mn"),
            F.max("val").alias("mx"),
        ).collect()
    }
    assert got == want
    run()  # restart: every batch replayed, guard makes them no-ops
    got2 = {
        r["g"]: (r["n"], r["c_nonnull"], r["c_value"], r["s_value"], r["mn"], r["mx"])
        for r in spark.read.parquet(state).drop("_last_batch").collect()
    }
    assert got2 == want
