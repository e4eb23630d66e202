from __future__ import annotations

from pyspark.sql import functions as F


def test_payload_synthesis_deterministic(spark):
    """Codec payloads are a pure function of the id: two runs agree, and
    each payload equals the local encoder's bytes for its kind."""
    from zparse_spark.functions import media_codecs
    from zparse_spark.multimodal import synthesize_codec_payloads

    pay = synthesize_codec_payloads(spark, n_media=6)
    a = {r["media_ref"]: bytes(r["payload"]) for r in pay.collect()}
    b = {r["media_ref"]: bytes(r["payload"]) for r in pay.collect()}
    assert a == b and len(a) == 6
    assert a["media_00000"] == media_codecs.bmp_encode(media_codecs.synth_image(0))
    assert a["media_00001"] == media_codecs.wav_encode(*media_codecs.synth_audio(1))
    assert a["media_00002"] == media_codecs.zvid_encode(*media_codecs.synth_video(2))


def test_decode_verdicts_classification(spark):
    from zparse_spark.multimodal import decode_verdicts, synthesize_codec_payloads
    from zparse_spark.functions.media_codecs import classify_payload

    pay = synthesize_codec_payloads(spark, n_media=12)
    rows = {r["media_ref"]: r for r in decode_verdicts(pay).collect()}
    assert len(rows) == 12 and all(r["ok"] for r in rows.values())

    # local classifier agrees with the distributed op on corrupt bytes
    assert classify_payload(b"\x00\x01") == "bad_magic"
    assert classify_payload(b"BM" + b"\x00" * 10) == "truncated"
    corrupted = pay.withColumn(
        "payload", F.to_binary(F.substring(F.hex("payload"), 1, 40), F.lit("hex"))
    )
    crows = decode_verdicts(corrupted).collect()
    assert all((not r["ok"]) and r["error_kind"] == "truncated" for r in crows)
