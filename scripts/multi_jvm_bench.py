"""Scale-OUT evidence: N -> 4N executors as k concurrent fixed-size JVMs.

``local[8] -> local[32]`` inside ONE JVM conflates adding executors with
quadrupling a single executor's thread count. A real cluster going
N -> 4N executors adds JVMs of CONSTANT size — fixed heap, fixed GC
thread pool, fixed in-JVM lock/allocator domains — so the faithful
single-box analog of "4x the executors" is k concurrent ``local[C]``
JVMs, each with the per-executor heap, each validating a disjoint shard.
That is exactly the multi-process regime ``box_ceilings.py`` measures
for raw compute and memory bandwidth (both scale >= 0.95 on this box).

Protocol
--------
1. Materialize a documents table (or point --docs-path at one produced
   by scaling_bench.py) and split its parquet part-files round-robin
   into k disjoint shards of equal row counts.
2. T_solo: ONE ``local[C]`` JVM runs the full-rule-pack pass (violations
   -> parquet sink + verdict matrix, identical to scaling_bench.py's
   one_pass) on shard 0 — one untimed warmup, then median of 3.
3. T_conc: k JVMs launched concurrently, each on its own shard, same
   per-JVM heap; per-JVM medians, T_conc = max over JVMs.
4. ``scale_out_efficiency = T_solo / T_conc`` — 1.0 means bringing up
   3 more executors on the same box does not slow the first one down,
   i.e. aggregate throughput grew by the full 4x.

Honest limits of the emulation: cross-executor shuffle (U1/D1) stays
intra-shard here — but those phases move only (doc_id, partition)
pairs (~16 bytes/doc), and the dominant span-rule branch has ZERO
shuffle, so per-shard cost shapes match the cluster's. The in-JVM
scale-up curve (scaling_bench.py) is reported alongside.

Usage: python scripts/multi_jvm_bench.py [--docs 16000000] [--jvms 4]
       [--cores 8] [--docs-path /tmp/.../documents]
Prints one JSON line; append to BASELINE.md §4.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

RUNNER = r"""
import json, os, statistics, sys, time
sys.path.insert(0, "/root/repo")
from zparse_spark.session import get_spark
from zparse_spark.plans.engine import ValidationEngine
from zparse_spark.sources.interleave import derive_media_catalog

cores = int(sys.argv[1])
out_path = sys.argv[2]
files = sys.argv[3].split(",")

spark = get_spark(app_name=f"shard_{os.path.basename(out_path)}",
                  master=f"local[{cores}]", shuffle_partitions=cores)
docs = spark.read.parquet(*files)
catalog = derive_media_catalog(spark)
engine = ValidationEngine()
viol = engine.violations(docs, catalog)
n_docs = docs.count()

def one_pass():
    t0 = time.perf_counter()
    viol.repartition(cores).write.mode("overwrite").parquet(f"{out_path}/violations")
    written = spark.read.parquet(f"{out_path}/violations")
    engine.verdicts(docs, written).count()
    return time.perf_counter() - t0

one_pass()  # warmup: codegen + page cache; steady state is the cluster regime
times = [one_pass() for _ in range(3)]
print(json.dumps({"n_docs": n_docs, "sec": round(statistics.median(times), 3),
                  "times": [round(t, 2) for t in times]}))
spark.stop()
"""


def launch(cores: int, heap_gb: int, out_path: str, files: list[str],
           cpuset: str | None = None):
    """``cpuset`` pins the JVM *and everything it forks* (Python workers
    for the Arrow line/col stage, GC threads) to an executor-sized core
    set via taskset — the single-box analog of a cluster executor's
    cgroup. Without pinning the SOLO JVM's Python workers spill onto the
    box's idle cores, inflating the 1-JVM baseline and understating
    scale-out efficiency (measured 0.52 unpinned vs pinned on the same
    host/day — the unpinned 'solo' was really using ~2x its core
    budget)."""
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    cmd = [sys.executable, "-c", RUNNER, str(cores), out_path, ",".join(files)]
    if cpuset is not None:
        cmd = ["taskset", "-c", cpuset] + cmd
    return subprocess.Popen(
        cmd,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env=env,
    )


def collect(proc) -> dict | None:
    """None if the JVM died without emitting its JSON line (e.g. host
    pressure killed it) — the caller reports the casualty and keeps the
    survivors instead of throwing away a half-hour run."""
    out, _ = proc.communicate(timeout=3600)
    lines = [l for l in out.strip().splitlines() if l.startswith("{")]
    if not lines:
        print(f"WARN: JVM exited rc={proc.returncode} with no result line",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=16_000_000)
    ap.add_argument("--jvms", type=int, default=4)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--heap-gb", type=int, default=16)
    ap.add_argument("--no-pin", dest="pin", action="store_false", default=True,
                    help="disable taskset core pinning (executor-cgroup emulation)")
    ap.add_argument("--docs-path", default=None,
                    help="existing materialized documents dir (skips prep)")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    workdir = tempfile.mkdtemp(prefix="zparse_multijvm_")
    docs_path = args.docs_path
    if docs_path is None:
        docs_path = f"{workdir}/documents"
        prep = (
            "import sys\n"
            "sys.path.insert(0, '/root/repo')\n"
            "from pyspark.sql import functions as F\n"
            "from zparse_spark.session import get_spark\n"
            "from zparse_spark.sources.interleave import interleave_documents\n"
            "from zparse_spark.sources.readers import load_documents\n"
            "sf_dir, target, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]\n"
            "spark = get_spark(app_name='prep', master='local[32]', shuffle_partitions=32)\n"
            "flat = load_documents(spark, sf_dir)\n"
            "n = flat.count()\n"
            "factor = max(1, target // n)\n"
            "# repartition BEFORE the x100 crossJoin expansion + span generation:\n"
            "# documents.parquet is one split, so without this the whole 16M-row\n"
            "# interleave ran in a single task (measured: >17 min single-threaded)\n"
            "flat = flat.repartition(256)\n"
            "if factor > 1:\n"
            "    reps = spark.range(factor).select(F.col('id').alias('_rep'))\n"
            "    flat = (flat.crossJoin(F.broadcast(reps))\n"
            "            .withColumn('doc_id', F.col('doc_id') * factor + F.col('_rep')).drop('_rep'))\n"
            "interleave_documents(flat).write.mode('overwrite').parquet(out)\n"
            "spark.stop()\n"
        )
        subprocess.run([sys.executable, "-c", prep, args.sf_dir,
                        str(args.docs), docs_path],
                       check=True, capture_output=True, timeout=3600)

    parts = sorted(glob.glob(f"{docs_path}/part-*"))
    shards = [parts[i:: args.jvms] for i in range(args.jvms)]

    def cpuset(i: int) -> str | None:
        if not args.pin:
            return None
        lo = i * args.cores
        return f"{lo}-{lo + args.cores - 1}"

    # solo: one executor-sized JVM on shard 0, pinned to its core set.
    # Bracketed protocol: the solo baseline runs BEFORE and AFTER the
    # concurrent phase and the efficiency denominator uses the mean of
    # the two solo medians. Rationale (measured, r4): this host's
    # throughput drifts 2-3x within minutes; a solo-then-concurrent
    # ordering aliases that drift INTO the efficiency figure (solo lands
    # in the fast window, concurrent in the slow one -> 0.44 on a run
    # whose per-phase shapes were identical to a 0.97 run). Sampling the
    # solo cost on both sides of the concurrent phase cancels linear
    # drift to first order; both solos are reported so the drift itself
    # stays visible.
    solo = collect(
        launch(args.cores, args.heap_gb, f"{workdir}/solo", shards[0], cpuset(0))
    )

    # concurrent: k executor-sized JVMs, one per shard + core set, together
    procs = [
        launch(args.cores, args.heap_gb, f"{workdir}/c{i}", shards[i], cpuset(i))
        for i in range(args.jvms)
    ]
    concs = [collect(p) for p in procs]
    n_dead = concs.count(None)
    concs = [c for c in concs if c is not None]
    if not concs:
        sys.exit("all concurrent JVMs died — no efficiency to report")

    solo_post = collect(
        launch(args.cores, args.heap_gb, f"{workdir}/solo2", shards[0], cpuset(0))
    )
    if solo is None or solo_post is None:
        sys.exit("solo JVM died — no efficiency to report")

    # a dead JVM means the k-way result is PARTIAL: efficiency is still
    # solo/max(survivors) over the survivors' shards, flagged in the
    # artifact so it is never quoted as a clean k-way number
    t_conc = max(c["sec"] for c in concs)
    total_docs = sum(c["n_docs"] for c in concs)
    t_solo = (solo["sec"] + solo_post["sec"]) / 2
    agg_solo = solo["n_docs"] / t_solo
    agg_conc = total_docs / t_conc
    result = {
        "metric": "scale_out_efficiency",
        "k": args.jvms,
        "cores": args.cores,
        "pinned": args.pin,
        "protocol": f"1x vs {args.jvms}x concurrent local[{args.cores}] JVMs, "
                    f"{args.heap_gb}g heap each, disjoint shards"
                    + (", taskset-pinned executor core sets" if args.pin else "")
                    + ", drift-bracketed solo (pre+post mean)",
        "measured_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "n_docs_total": total_docs,
        "n_docs_per_shard": solo["n_docs"],
        "sec_solo": round(t_solo, 3),
        "sec_solo_pre": solo["sec"],
        "sec_solo_post": solo_post["sec"],
        "times_solo": solo["times"] + solo_post["times"],
        "sec_concurrent_max": t_conc,
        "sec_concurrent_each": [c["sec"] for c in concs],
        "docs_per_sec_1jvm": round(agg_solo, 1),
        "docs_per_sec_kjvm": round(agg_conc, 1),
        "efficiency": round(t_solo / t_conc, 3),
        "n_jvms_dead": n_dead,
    }
    print(json.dumps(result))
    # persist as a NEW per-run artifact (never overwrite a shared file):
    # quote the per-k MEDIAN over every multi_jvm_result*.json, so no
    # single run — and no selected file — becomes the headline
    stamp = result["measured_at"].replace(":", "").replace("-", "")
    artifact = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"multi_jvm_result_k{args.jvms}_{stamp}.json",
    )
    with open(artifact, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {artifact}", file=sys.stderr)


if __name__ == "__main__":
    main()
