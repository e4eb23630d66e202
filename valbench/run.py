"""Validation-gate benchmark.

    python3 valbench/run.py --workload bulk_long_docs --seed 1 --seconds 20 --trace 0

Runs from the repository root (the engine is imported from the checkout).
Each run builds its inputs from ``--seed`` (``valbench/inputs.py``), starts one
local Spark session, runs untimed warm-up iterations, then times whole
calls into the public API for ``--seconds`` and checks every iteration's
output against the counts the generator planted. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). A traced run also writes its spans to
``.bench_work/trace-<workload>-<seed>.json``.

Workloads (why each was chosen):

- ``bulk_long_docs``: long interleaved documents, ~1% planted span-rule
  violations, small catalog so R1 is fused into the span stage. The span
  stage, with the Arrow line/col UDF inside it, is the largest rule layer;
  at this size per-job costs (planning, the catalog probe, the verdict
  collect) take most of the rest.
- ``resume_append``: base partitions already committed in a JSONL manifest;
  ~10% new documents in appended partitions; M1 on with ~1% truncated
  payloads. The span stage sees only the pending share while U1/D1 still
  scan the full table, which holds 10% duplicated doc_ids plus one hot id.
  The catalog is above ``broadcast_max_catalog_rows``, so R1 takes the
  standalone shuffle join that ``bulk_long_docs`` bypasses, with a few
  percent dangling refs. It is the only workload that writes per-partition
  sinks, reads and commits the manifest and runs ``decode_verdicts``. Its
  two sink writes (pending partitions, then the full-table U1/D1 sink)
  take most of an iteration.

Two workloads, not more: every run pays about 30 s of set-up (session
start, cold first jobs, JIT warm-up), so a third workload would leave each
run too short a timed window to be steady.

Host contention shows directly in wall time: on a shared VM a busy
neighbour slows whole runs by 10-50%, often with no hypervisor steal to
show for it. The info line (second to last stdout line) records the wall
time, CPU time and host steal of every timed iteration, so a slow run can
be told apart from a slower program.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# local[K] on a 4-core host. One task thread leaves the other cores to what
# runs beside it: the JIT compiler threads (busy for the first minute of a
# run), GC, the driver's planning and the Python UDF worker. The inputs are
# small, so more task threads buy nothing: on a calm host local[1] was as
# fast as local[2] on bulk_long_docs (1.8 s against 1.9 s per iteration
# once warm) and faster on resume_append (2.8 s against 3.5 s).
K = 1
HEAP = "1g"  # driver heap, well under physical memory
SHUFFLE_PARTITIONS = 6
DOC_FILES = 6  # fixed file layout, so scan task counts do not vary with the seed
# timed iterations per run, at least: the median then rests on the middle
# ones even when a few long iterations fill --seconds
MIN_SAMPLES = 5


def _specs():
    from inputs import Spec

    return {
        "bulk_long_docs": Spec(
            n_docs=3000, words=(200, 400), n_partitions=16, n_media_refs=4096,
            class_permille=1, dup_permille=5, hot_copies=0, drop_fraction=0.01,
            drift_docs=30,
        ),
        "resume_append": Spec(
            n_docs=6000, words=(20, 60), n_partitions=16, n_media_refs=512,
            class_permille=2, dup_permille=100, hot_copies=300, drop_fraction=0.03,
            drift_docs=40, broadcast_max_catalog_rows=256,
            append_docs=600, append_partitions=2, corrupt_permille=10,
        ),
    }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test)")
    return ap.parse_args(argv)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Inputs, engine and output check for one workload in one session."""

    def __init__(self, spec, seed, spark, work):
        import inputs
        from zparse_spark.plans.engine import ValidationConfig, ValidationEngine

        self.spec, self.seed, self.spark, self.work = spec, seed, spark, work
        self.resume = spec.append_docs > 0
        # untimed warm-up, in seconds of gate iterations rather than a count,
        # so a slow host does not stretch it: the JIT compiler keeps
        # shortening iterations for about a minute of work (by a quarter on
        # bulk_long_docs), and the window should start late in that curve.
        # The resume set-up already runs the gate once over the base
        # partitions, so that workload needs less
        self.warmup_s = 10.0 if self.resume else 16.0
        self.engine = ValidationEngine(
            ValidationConfig(
                enable_media_decode=self.resume,
                broadcast_max_catalog_rows=spec.broadcast_max_catalog_rows,
            )
        )
        self.rules = self.engine.active_rule_ids()
        self.rh = self.engine.config.rules_hash()
        self.docs_path = os.path.join(work, "docs")
        self.sink = os.path.join(work, "sink")
        self.out = os.path.join(work, "gate")
        self.pristine = os.path.join(work, "gate_pristine")

        self.setup_phases: dict[str, float] = {}
        with self._phase("documents"):
            inputs.documents(spark, spec, seed).coalesce(DOC_FILES).write.parquet(self.docs_path)
        with self._phase("catalog"):
            inputs.media_catalog(spark, spec, seed).write.parquet(os.path.join(work, "catalog"))
        self.catalog = spark.read.parquet(os.path.join(work, "catalog"))
        self.payloads = None
        if self.resume:
            with self._phase("payloads"):
                inputs.payloads(spark, spec.n_media_refs, spec, seed).write.parquet(os.path.join(work, "payloads"))
            self.payloads = spark.read.parquet(os.path.join(work, "payloads"))
            self._commit_base()

        table = spark.read.parquet(self.docs_path)
        self.docs = table.select("doc_id", "spans", "partition")
        with self._phase("labels"):
            self.expected, sizes = inputs.expected_cells(table, m1=self.resume)
        self.partitions = sorted(sizes)
        self.appended = [p for p in self.partitions if p.startswith("q")]
        self.n_docs = sum(sizes[p] for p in (self.appended if self.resume else self.partitions))

    @contextmanager
    def _phase(self, name):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    # -- resume state ---------------------------------------------------

    def _commit_base(self) -> None:
        """Validate the base table into the manifest, snapshot that state,
        then append the new partitions to the documents table."""
        import inputs
        from zparse_spark.multimodal import decode_verdicts
        from zparse_spark.plans.manifest import run_with_manifest

        base = self.spark.read.parquet(self.docs_path).select("doc_id", "spans", "partition")
        with self._phase("base_run"):
            run_with_manifest(self.engine, base, self.catalog, self.out, media_verdicts=decode_verdicts(self.payloads))
        shutil.copytree(self.out, self.pristine)
        with self._phase("append"):
            docs = inputs.documents(self.spark, self.spec, self.seed, appended=True)
            docs.coalesce(DOC_FILES).write.mode("append").parquet(self.docs_path)

    # -- one iteration ----------------------------------------------------

    def prepare(self) -> None:
        if self.resume:
            shutil.rmtree(self.out, ignore_errors=True)
            shutil.copytree(self.pristine, self.out)

    def run(self, tr):
        """The timed work: the full gate as its users call it."""
        if self.resume:
            from zparse_spark.multimodal import decode_verdicts
            from zparse_spark.plans.manifest import run_with_manifest

            with tr.span("iteration"):
                mv = decode_verdicts(self.payloads)
                with tr.span("manifest.run_with_manifest"):
                    return run_with_manifest(self.engine, self.docs, self.catalog, self.out, media_verdicts=mv)
        with tr.span("iteration"):
            return self.gate(tr, self.sink)

    def gate(self, tr, sink):
        """violations -> parquet sink -> verdict grid over the written table."""
        from zparse_spark.schema import VIOLATION_SCHEMA

        with tr.span("engine.plan"):
            v = self.engine.violations(self.docs, self.catalog)
        with tr.span("engine.violations_write"):
            v.write.mode("overwrite").parquet(sink)
        with tr.span("engine.verdicts"):
            written = self.spark.read.schema(VIOLATION_SCHEMA).parquet(sink)
            return self.engine.verdicts(self.docs, written).collect()

    def check(self, result) -> str | None:
        """None when the per-(partition, rule) violation counts equal the
        planted ones (the counts a correct full-table run yields), else why
        not. Bulk: the verdict grid. Resume: the returned partitions, the
        manifest's committed set and its violation readback."""
        if not self.resume:
            return self.check_grid(result)
        from zparse_spark.plans.manifest import Manifest

        if sorted(result) != self.appended:
            return f"newly committed {sorted(result)} != appended {self.appended}"
        m = Manifest(self.out)
        if sorted(m.committed_partitions(self.spark, self.rh)) != self.partitions:
            return "manifest does not list every partition as committed"
        rows = m.read_violations(self.spark, self.rh).groupBy("partition", "rule_id").count().collect()
        return self._diff({(r[0], r[1]): r[2] for r in rows})

    def check_grid(self, grid) -> str | None:
        if len(grid) != len(self.partitions) * len(self.rules):
            return f"verdict grid has {len(grid)} cells"
        return self._diff({(r["partition"], r["rule_id"]): r["violation_count"] for r in grid if r["violation_count"]})

    def _diff(self, got) -> str | None:
        if got == self.expected:
            return None
        diff = sorted(k for k in got.keys() | self.expected.keys() if got.get(k) != self.expected.get(k))
        return f"{len(diff)} (partition, rule) cells differ from the planted counts, e.g. {diff[:3]}"


def _iterate(w, tr, log):
    """prepare, timed run, check. Returns (wall s, CPU s of the run, ok);
    the /proc reads for CPU sit outside the timed window."""
    from tracing import tree_cpu_s

    w.prepare()
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        result = w.run(tr)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        err = w.check(result)
    except Exception as e:  # a failed Spark job is a failed iteration
        dt, cpu, err = time.perf_counter() - t0, 0.0, f"{type(e).__name__}: {e}"
    if err:
        log(f"iteration failed: {err}")
    return dt, cpu, err is None


def _replay_resume(w, tr) -> str | None:
    """``run_with_manifest``'s steps, one span each, on a fresh copy of the
    pre-resume manifest, then the verdict grid over its readback; returns
    the grid check. The resumed gate runs inside one library call, so this
    replay is how its engine and manifest layers are timed on the work the
    gate really does: the partition-decomposable rules on the pending
    partitions only, U1/D1 table-wide, per-partition dynamic overwrite."""
    from pyspark.sql import functions as F

    from zparse_spark.multimodal import decode_verdicts
    from zparse_spark.plans.manifest import Manifest

    spark, docs, rh = w.spark, w.docs, w.rh
    path = os.path.join(w.work, "trace_resume")
    shutil.copytree(w.pristine, path)
    man = Manifest(path)
    with tr.span("manifest.committed_read"):
        done = man.committed_partitions(spark, rh)
    pending = docs.filter(~F.col("partition").isin(sorted(done)))
    with tr.span("manifest.pending_scan"):
        todo = [r[0] for r in pending.select("partition").distinct().collect()]
    with tr.span("engine.plan"):
        v = w.engine.violations(pending, w.catalog, include_table_rules=False, media_verdicts=decode_verdicts(w.payloads))
    with tr.span("engine.violations_write"):
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            v.write.mode("overwrite").partitionBy("partition").parquet(man.partition_sink(rh))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        w.engine.table_violations(docs).write.mode("overwrite").parquet(man.table_sink(rh))
    with tr.span("manifest.readback"):
        viol = man.read_violations(spark, rh).filter(F.col("partition").isin(todo))
        counts = {
            r[0]: (r[1], r[2])
            for r in pending.groupBy("partition").count()
            .join(viol.groupBy("partition").agg(F.count(F.lit(1)).alias("v")), "partition", "left")
            .fillna({"v": 0})
            .collect()
        }
    with tr.span("manifest.commit"):
        man.commit_many([(p, rh, *counts.get(p, (0, 0))) for p in todo], spark=spark)
    with tr.span("engine.verdicts"):
        grid = w.engine.verdicts(docs, man.read_violations(spark, rh)).collect()
    return w.check_grid(grid)


def _bulk_manifest(w, tr) -> None:
    """Manifest calls on a scratch manifest whose table sink holds the
    bulk sink: what a first resumable run over this table would read and
    commit. The bulk gate itself keeps no manifest."""
    from zparse_spark.plans.manifest import Manifest

    man = Manifest(os.path.join(w.work, "trace_manifest"))
    shutil.copytree(w.sink, man.table_sink(w.rh))
    with tr.span("manifest.committed_read"):
        man.committed_partitions(w.spark, w.rh)
    with tr.span("manifest.readback"):
        _noop(man.read_violations(w.spark, w.rh))
    with tr.span("manifest.commit"):
        man.commit_many([(p, w.rh, 0, 0) for p in w.partitions], spark=w.spark)


# layers the bulk gate never calls; its traced run still reports them
# (every traced run prints every per-layer metric), measured on side inputs
# of the same seed, and names them in its info line
BULK_SIDE_LAYERS = ["rules.media_payload_s", "multimodal.*", "manifest.*"]


def _layers(w, tr, untraced_p50, k, log) -> tuple[dict, bool]:
    """The traced run: one traced iteration, then each layer's public
    function alone on the input the gate gives it, forced with a noop sink.
    The partition-decomposable layers (line/col UDF, span stage, R1, M1)
    see only the pending partitions on resume_append, as in the gate."""
    from pyspark.sql import functions as F

    import inputs
    from zparse_spark.functions.text import span_start_positions
    from zparse_spark.multimodal import decode_verdicts
    from zparse_spark.operators.rules import (
        drift_violations,
        media_payload_violations,
        referential_violations,
        span_rule_violations,
        uniqueness_violations,
    )

    m = {}
    spark, docs, cat, params = w.spark, w.docs, w.catalog, w.engine.config.params
    part = docs.filter(F.col("partition").isin(w.appended)) if w.resume else docs
    wall, cpu, ok = _iterate(w, tr, log)
    m["trace.overhead_s"] = (wall - untraced_p50, "s")
    m["proc.cpu_s"] = (cpu, "s")
    m["proc.cpu_util"] = (cpu / (wall * k), "ratio")

    with tr.span("sources.scan"):
        _noop(docs)
    n_docs = docs.count()
    n_spans = docs.select(F.sum(F.size("spans"))).first()[0]
    m["sources.scan_s"] = (tr.seconds("sources.scan"), "s")
    m["sources.docs"] = (n_docs, "count")
    m["sources.spans"] = (n_spans, "count")

    with tr.span("text.line_col"):
        _noop(part.select(span_start_positions(F.col("spans.text")).alias("p")))
    m["text.line_col_s"] = (tr.seconds("text.line_col"), "s")

    c = w.engine.config
    fused = cat.limit(c.broadcast_max_catalog_rows + 1).count() <= c.broadcast_max_catalog_rows
    span_v = span_rule_violations(part, params, media_catalog=cat if fused else None)
    with tr.span("rules.span"):
        _noop(span_v)
    n_span_v = span_v.count()
    part_spans = part.select(F.sum(F.size("spans"))).first()[0]
    m["rules.span_s"] = (tr.seconds("rules.span"), "s")
    m["rules.span_violations"] = (n_span_v, "count")
    m["rules.span_hit_ratio"] = (n_span_v / max(part_spans, 1), "ratio")

    uniq = uniqueness_violations(docs)
    with tr.span("rules.uniqueness"):
        _noop(uniq)
    m["rules.uniqueness_s"] = (tr.seconds("rules.uniqueness"), "s")
    m["rules.dup_keys"] = (uniq.select("doc_id").distinct().count(), "count")

    ref = referential_violations(part, cat, "broadcast" if fused else "smj")
    with tr.span("rules.referential"):
        _noop(ref)
    m["rules.referential_s"] = (tr.seconds("rules.referential"), "s")
    m["rules.referential_fused"] = (int(fused), "flag")
    m["rules.dangling_refs"] = (ref.count(), "count")

    drift = drift_violations(docs, params)
    with tr.span("rules.drift"):
        _noop(drift)
    m["rules.drift_s"] = (tr.seconds("rules.drift"), "s")
    m["rules.drift_flagged"] = (drift.count(), "count")

    payloads = w.payloads
    if payloads is None:
        path = os.path.join(w.work, "side_payloads")
        inputs.payloads(spark, min(w.spec.n_media_refs, 1024), w.spec, w.seed).write.parquet(path)
        payloads = spark.read.parquet(path)
    with tr.span("multimodal.decode"):
        _noop(decode_verdicts(payloads))
    verdicts = decode_verdicts(payloads).groupBy("ok").count().collect()
    m["multimodal.decode_s"] = (tr.seconds("multimodal.decode"), "s")
    m["multimodal.payloads"] = (sum(r[1] for r in verdicts), "count")
    m["multimodal.bad_payloads"] = (sum(r[1] for r in verdicts if not r[0]), "count")
    with tr.span("rules.media_payload"):
        _noop(media_payload_violations(part, decode_verdicts(payloads)))
    m["rules.media_payload_s"] = (tr.seconds("rules.media_payload"), "s")

    # engine and manifest layers: the bulk iteration above is the engine's
    # call sequence already; the resumed one is replayed step by step
    if w.resume:
        err = _replay_resume(w, tr)
        if err:
            log(f"resume replay failed: {err}")
        ok = ok and err is None
    else:
        _bulk_manifest(w, tr)
    for name in ("engine.plan", "engine.violations_write", "engine.verdicts"):
        m[name + "_s"] = (tr.seconds(name), "s")
    for name in ("manifest.commit", "manifest.committed_read", "manifest.readback"):
        m[name + "_s"] = (tr.seconds(name), "s")
    m["manifest.pending_ratio"] = (len(w.appended) / len(w.partitions) if w.resume else 1.0, "ratio")

    totals = tr.totals()
    m["spark.jobs"] = (totals["jobs"], "count")
    m["spark.tasks"] = (totals["tasks"], "count")
    m["spark.failed_tasks"] = (totals["failed_tasks"], "count")
    return m, ok


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    from tracing import descendants, wait_gone

    kids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    left = wait_gone(kids, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(left, 10)


def _java_version(spark) -> str:
    return spark.sparkContext._jvm.java.lang.System.getProperty("java.version")


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [HERE, ROOT]
    # the engine lives in the checkout; without it there is nothing to run
    import zparse_spark  # noqa: F401
    import pyspark

    import inputs
    import tracing
    from zparse_spark.session import get_spark

    specs = _specs()
    if args.workload not in specs:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(specs)}")
    spec = specs[args.workload].scale(args.scale)

    def log(msg):
        print(f"[valbench] {msg}", file=sys.stderr, flush=True)

    bench_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    load_start = os.getloadavg()

    t_setup = time.perf_counter()
    spark = get_spark(
        app_name="valbench",
        master=f"local[{K}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # heap fixed at its maximum: peak RSS then tracks what the run
            # touches, not how far G1 chose to grow the heap this time
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    session_s = time.perf_counter() - t_setup
    try:
        w = Workload(spec, args.seed, spark, work)
        off = tracing.Tracer("untraced", enabled=False)
        warm, t_warm = [], time.perf_counter()
        while not warm or time.perf_counter() - t_warm < w.warmup_s:
            warm.append(_iterate(w, off, log))
        setup_s = time.perf_counter() - t_setup

        times, cpus, steals, attempted, failed = [], [], [], 0, 0
        for _, _, ok in warm:
            attempted += 1
            failed += not ok
        t_run = time.perf_counter()
        # past --seconds, keep going until MIN_SAMPLES iterations are correct
        # (bounded: a build that fails every iteration stops after three)
        while time.perf_counter() - t_run < args.seconds or (len(times) < MIN_SAMPLES and failed < 3):
            steal0 = tracing.host_steal_s()
            dt, cpu, ok = _iterate(w, off, log)
            attempted += 1
            if ok:
                times.append(dt)
                cpus.append(cpu)
                steals.append(tracing.host_steal_s() - steal0)
            else:
                failed += 1
        if not times:
            raise RuntimeError("no timed iteration produced a correct output")
        p50 = statistics.median(times)

        if args.trace:
            tr = tracing.Tracer(f"{args.workload}-{args.seed}", sc=spark.sparkContext)
            metrics, ok = _layers(w, tr, p50, K, log)
            attempted += 1
            failed += not ok
            metrics["session.start_s"] = (session_s, "s")
            metrics["failed_ratio"] = (failed / attempted, "ratio")
            tr.dump(os.path.join(bench_root, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "docs_per_s": (w.n_docs / p50, "docs/s"),
                "validate_s_p50": (p50, "s"),
                "peak_rss_mb": (tracing.peak_rss_mb(), "MB"),
            }
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "docs_counted": w.n_docs,
            "partitions": len(w.partitions),
            "timed_iterations": len(times),
            "warmup_s": [dt for dt, _, _ in warm],
            "iteration_s": times,
            "iteration_cpu_s": cpus,
            # /proc/stat steal (all CPUs) over each timed iteration: host
            # contention, told apart from a slower program
            "iteration_steal_s": steals,
            "session_s": session_s,
            "setup_phases_s": w.setup_phases,
            "master": f"local[{K}]",
            "nproc": os.cpu_count(),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "java": _java_version(spark),
            "planted": inputs.rule_totals(w.expected, w.rules),
        }
        if args.trace and not w.resume:
            info["side_layers"] = BULK_SIDE_LAYERS
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
