"""CI reporting surface: JUnit XML + Markdown from the verdict grid."""

from __future__ import annotations

import os

import xml.etree.ElementTree as ET

from tests.conftest import make_docs

VALIDATE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "validate.py")


def _run(spark):
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

    docs = make_docs(
        spark,
        [
            ("d1", [("text", "ok", None, 0)], "p0"),
            ("d2", [("text", "ok", None, 0), ("text", "x", None, 0)], "p0"),  # S1 dup offset
            ("d3", [("text", "fine", None, 0)], "p1"),
        ],
    )
    eng = ValidationEngine(ValidationConfig(enable_drift=False, enable_referential=False))
    viol = eng.violations(docs)
    return eng.verdicts(docs, viol), viol


def test_junit_xml_shape(spark):
    from zparse_spark.plans.report import junit_xml

    verdicts, viol = _run(spark)
    xml = junit_xml(verdicts, viol)
    root = ET.fromstring(xml)
    assert root.tag == "testsuite"
    cases = root.findall("testcase")
    assert len(cases) == int(root.get("tests")) == verdicts.count()
    fails = [c for c in cases if c.find("failure") is not None]
    assert len(fails) == int(root.get("failures")) >= 1
    f = fails[0]
    assert "[p0]" in f.get("name")
    assert "violations:" in f.find("failure").text
    assert "d2" in f.find("failure").text  # sample message names the doc


def test_markdown_report_sections(spark):
    from zparse_spark.plans.report import markdown_report

    verdicts, viol = _run(spark)
    md = markdown_report(verdicts, viol)
    assert md.startswith("# Validation report")
    assert "| rule | cells | failing | violations |" in md
    assert "## Failing cells" in md and "`p0`" in md


def test_cli_report_flags(tmp_path, spark):
    import subprocess
    import sys as _sys

    docs = make_docs(
        spark,
        [("d1", [("text", "ok", None, 0)], "p0"),
         ("d2", [("text", "a", None, 5), ("text", "b", None, 0)], "p0")],  # S1
    )
    dpath = str(tmp_path / "docs")
    docs.write.parquet(dpath)
    xml_path = str(tmp_path / "report.xml")
    md_path = str(tmp_path / "report.md")
    r = subprocess.run(
        [_sys.executable, VALIDATE, "--documents", dpath,
         "--out", str(tmp_path / "out"), "--junit-xml", xml_path,
         "--report-md", md_path, "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 1, r.stderr[-1500:]  # the S1 breach gates the exit
    root = ET.fromstring(open(xml_path).read())
    assert int(root.get("failures")) >= 1
    assert "## Failing cells" in open(md_path).read()
