"""The gate is a leaf: running it end to end loads only gate modules.

A fresh interpreter runs every gate entry point on a tiny parquet table:
one-shot ``validate()`` with every rule on, ``sampled_validation``,
``run_with_manifest``, and ``validate.main`` in screening mode and in
full mode with its report flags. The ``zparse_spark`` modules it loaded
must be exactly the gate's. Registry code (``queries*.py``,
``functions.text``, ``operators.canonical``/``filtering``/``stats``/
``constraints``) depends on the gate, never the reverse.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATE_MODULES = {
    "zparse_spark",
    "zparse_spark.functions",
    "zparse_spark.functions.media_codecs",
    "zparse_spark.multimodal",
    "zparse_spark.operators",
    "zparse_spark.operators.rules",
    "zparse_spark.plans",
    "zparse_spark.plans.engine",
    "zparse_spark.plans.manifest",
    "zparse_spark.plans.report",
    "zparse_spark.schema",
    "zparse_spark.session",
}

_PROBE = r"""
import json, os, sys

tmp = sys.argv[1]
import validate
from zparse_spark.functions import media_codecs
from zparse_spark.multimodal import decode_verdicts
from zparse_spark.operators.rules import CheckConstraint, RuleParams
from zparse_spark.plans.engine import ValidationConfig, ValidationEngine, sampled_validation
from zparse_spark.plans.manifest import run_with_manifest
from zparse_spark.schema import DOCUMENTS_SCHEMA, MEDIA_CATALOG_SCHEMA
from zparse_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=2)
docs_p, cat_p, media_p = (os.path.join(tmp, n) for n in ("docs", "cat", "media"))
spark.createDataFrame(
    [
        ("d1", [("text", "a\nb", None, 0), ("image", None, "m_good", 3)], "p0"),
        ("d2", [("text", "\x01", None, 0), ("image", None, "m_bad", 1)], "p0"),
        ("d3", [("image", None, "m_gone", 0)], "p1"),
    ],
    DOCUMENTS_SCHEMA,
).write.parquet(docs_p)
spark.createDataFrame(
    [("m_good", "image", 1), ("m_bad", "image", 1)], MEDIA_CATALOG_SCHEMA
).write.parquet(cat_p)
good = media_codecs.bmp_encode(media_codecs.synth_image(1))
spark.createDataFrame(
    [("m_good", "image", bytearray(good)), ("m_bad", "image", bytearray(good[:20]))],
    "media_ref string, media_kind string, payload binary",
).write.parquet(media_p)

docs, cat = spark.read.parquet(docs_p), spark.read.parquet(cat_p)
mv = decode_verdicts(spark.read.parquet(media_p))
eng = ValidationEngine(ValidationConfig(
    params=RuleParams(check_span_overlap=True),
    enable_media_decode=True,
    enable_media_kind_fd=True,
    check_constraints=(CheckConstraint("K1", "doc", "n_spans >= 1"),),
))
res = eng.validate(docs, cat, media_verdicts=mv)
for df in (res.violations, res.verdicts, res.metrics):
    df.collect()
sampled_validation(docs, eng, 1.0, media_catalog=cat, media_verdicts=mv).collect()
run_with_manifest(eng, docs, cat, os.path.join(tmp, "run"), media_verdicts=mv)

cli = ["--documents", docs_p, "--catalog", cat_p, "--media", media_p, "--master", "local[1]",
       "--check-span-overlap", "--media-kind-fd", "--check", "K1:doc:n_spans >= 1"]
rc_sampled = validate.main(cli + ["--out", os.path.join(tmp, "sampled"), "--sample-fraction", "1.0"])
rc_full = validate.main(cli + [
    "--out", os.path.join(tmp, "full"),
    "--junit-xml", os.path.join(tmp, "report.xml"), "--report-md", os.path.join(tmp, "report.md"),
    "--exemplars", "2", "--warn-rules", "D1",
])
mods = sorted(m for m in sys.modules if m == "zparse_spark" or m.startswith("zparse_spark."))
print(json.dumps({"modules": mods, "rc": [rc_sampled, rc_full]}))
"""


def test_gate_loads_only_gate_modules(spark, tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path)],
        capture_output=True, text=True, timeout=900, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(got["modules"]) == GATE_MODULES
    # both CLI runs find breaches (S5, R1, M1), so both exit 1
    assert got["rc"] == [1, 1]
    # screening mode with --media feeds M1 the payload verdicts: at
    # fraction 1.0 its cells are exact (d2's m_bad, d3's m_gone)
    rates = spark.read.parquet(str(tmp_path / "sampled" / "sampled_rates"))
    m1 = {
        r["partition"]: (r["n_total_docs"], r["n_sampled"], r["n_violating"])
        for r in rates.filter("rule_id = 'M1'").collect()
    }
    assert m1 == {"p0": (2, 2, 1), "p1": (1, 1, 1)}
    assert (tmp_path / "report.xml").exists() and (tmp_path / "full" / "exemplars").is_dir()
