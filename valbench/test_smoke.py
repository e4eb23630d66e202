"""Smoke test of the validation-gate benchmark at tiny size.

    python -m pytest valbench/test_smoke.py -q

Runs every workload end to end through the CLI in both modes, checks that
each prints every metric ``BENCHMARK.json`` names with its unit, and that
the input generator is a pure function of the seed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
from run import _shutdown, _specs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
SCALE = 0.1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_runs_and_prints_every_metric(workload, trace):
    cmd = [sys.executable, *BENCH["command"][1:], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in wanted}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.fixture(scope="module")
def spark():
    from zparse_spark.session import get_spark

    s = get_spark(app_name="valbench-smoke", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    _shutdown(s)


def _fingerprint(spark, spec, seed):
    from pyspark.sql import functions as F

    docs = inputs.documents(spark, spec, seed)
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64("doc_id", F.to_json("spans"), "partition", "_cls"), F.lit(2**31 - 1))).alias("h"),
    ).first()
    rules = ["S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8", "U1", "R1", "D1", "M1"]
    return (row["n"], row["h"]), inputs.rule_totals(inputs.expected_cells(docs, m1=True)[0], rules)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_same_seed_same_inputs(spark, workload):
    spec = _specs()[workload]
    a, b, c = (_fingerprint(spark, spec, s) for s in (1, 1, 2))
    assert a == b
    assert a[0] != c[0] and a[1] != c[1]
    # at full size every planted class is present, so each rule has work
    assert all(a[1][r] > 0 for r in ("S1", "S2", "S3", "S5", "S6", "S7", "S8", "U1", "D1"))


def test_catalog_keys_do_not_collapse(spark):
    spec = _specs()["resume_append"]
    cat = inputs.media_catalog(spark, spec, 1)
    n = cat.count()
    assert n == cat.select("media_ref").distinct().count()
    assert n > spec.broadcast_max_catalog_rows
