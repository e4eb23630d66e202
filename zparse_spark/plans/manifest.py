"""Per-partition checkpoint/lineage manifest — resumable validation runs.

The reference is fail-fast single-shot (first error aborts the parse,
error.rs:144); a 10^12-doc job cannot be. The engine writes violations
partition-by-partition and commits one manifest row per completed
partition; on restart it anti-joins the manifest and validates only the
remainder (SURVEY.md §4.3).

Sink layout (all namespaced by rules_hash, so a rule change can never
mix old-rule rows into a new run's readback):

    violations/rules_hash=<rh>/partition=<p>/   span/doc/R1 rules —
        partition-decomposable, committed per partition via dynamic
        partition overwrite (re-validation REPLACES the partition's
        files; crash-and-rerun is idempotent)
    violations_table/rules_hash=<rh>/           U1/D1 — table-wide
        rules, re-evaluated over the FULL table on every run and the
        whole sink overwritten: a duplicate whose second copy arrives
        after a partition committed still (re)surfaces the committed
        partition's row, because this sink is never partition-filtered

Manifest storage: append-only JSONL in a driver-local directory, read
and written with Python file I/O on the driver (a path with a URI
scheme — ``s3a://``, ``hdfs://`` — is rejected: the sinks would land
remotely while the local readback found none). Last-writer-wins per
(partition, rules_hash), so speculative double-commits are idempotent.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zparse_spark.schema import MANIFEST_SCHEMA, VIOLATION_SCHEMA, union_violations

# a scheme prefix (``s3a:``, ``hdfs:``, ``file:``) — Hadoop resolves the
# path on that filesystem, while the manifest's file I/O stays local
_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


class Manifest:
    def __init__(self, path: str):
        """``path`` is a driver-local directory holding ``manifest.jsonl``
        and the violation sinks; a URI raises ``ValueError``."""
        if _URI_SCHEME.match(path):
            raise ValueError(
                f"manifest directory must be a driver-local path, got {path!r}"
            )
        self.path = path
        self._rows_path = os.path.join(path, "manifest.jsonl")

    # -- reads --------------------------------------------------------

    def committed_partitions(self, spark: SparkSession, rules_hash: str) -> set[str]:
        return {
            r["partition"]
            for r in self._read_jsonl()[0]
            if r["rules_hash"] == rules_hash and r["status"] == "done"
        }

    def _read_jsonl(self) -> tuple[list[dict], int]:
        """The JSONL rows and the byte length of the intact prefix they
        were read from. A crash mid-append can leave a torn LAST line: it
        is skipped, so its partitions count as uncommitted and
        re-validate, and ``commit_many`` cuts it off before appending. An
        unparseable line anywhere else is corruption and raises."""
        if not os.path.exists(self._rows_path):
            return [], 0
        with open(self._rows_path, "rb") as f:
            lines = f.read().splitlines(keepends=True)
        rows, end = [], 0
        for i, line in enumerate(lines):
            if line.strip():
                try:
                    rows.append(json.loads(line))
                except ValueError:  # JSONDecodeError, or UTF-8 cut mid-character
                    if i == len(lines) - 1:
                        break
                    raise
            end += len(line)
        return rows, end

    # -- commits ------------------------------------------------------

    def commit_many(
        self,
        entries: list[tuple[str, str, int, int]],
        spark: SparkSession | None = None,
    ) -> None:
        """Commit a batch of (partition, rules_hash, n_docs, n_violations)
        rows in ONE write + fsync — a run commits thousands of partitions.
        ``spark`` is unused."""
        if not entries:
            return
        ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        rows = [
            {
                "partition": p,
                "rules_hash": rh,
                "status": "done",
                "n_docs": n,
                "n_violations": v,
                "ts": ts,
            }
            for p, rh, n, v in entries
        ]
        os.makedirs(self.path, exist_ok=True)
        # append-only JSONL; readers take the last row per key. The batch
        # is ONE write + fsync, after cutting off a torn tail a crashed
        # append left behind (the new rows must not be glued onto it)
        _, end = self._read_jsonl()
        with open(self._rows_path, "a+b") as f:
            f.truncate(end)
            f.seek(max(end - 1, 0))
            # a row torn just before its newline parsed: terminate it
            sep = b"\n" if end and f.read(1) != b"\n" else b""
            f.write(sep + "".join(json.dumps(r) + "\n" for r in rows).encode())
            f.flush()
            os.fsync(f.fileno())

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        rows = self._read_jsonl()[0]
        if not rows:
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        df = spark.createDataFrame(rows)
        return df.select(
            "partition",
            "rules_hash",
            "status",
            F.col("n_docs").cast("long"),
            F.col("n_violations").cast("long"),
            F.to_timestamp("ts").alias("ts"),
        )

    # -- violation sinks ----------------------------------------------

    def partition_sink(self, rules_hash: str) -> str:
        return os.path.join(self.path, "violations", f"rules_hash={rules_hash}")

    def table_sink(self, rules_hash: str) -> str:
        return os.path.join(self.path, "violations_table", f"rules_hash={rules_hash}")

    def read_violations(self, spark: SparkSession, rules_hash: str) -> DataFrame:
        """All persisted violations for ``rules_hash``: the per-partition
        sink UNION the table-rule sink. Explicit schema — an all-valid
        run leaves empty directories."""
        parts = [
            spark.read.schema(VIOLATION_SCHEMA).parquet(p)
            for p in (self.partition_sink(rules_hash), self.table_sink(rules_hash))
            if os.path.isdir(p)
        ]
        return union_violations(spark, parts)


def run_with_manifest(
    engine,
    docs: DataFrame,
    media_catalog: DataFrame | None,
    out_dir: str,
    media_verdicts: DataFrame | None = None,
) -> list[str]:
    """Resumable run: validate only partitions absent from the manifest
    kept in ``out_dir`` (a driver-local directory, see ``Manifest``).

    One Spark job validates ALL pending partitions together (the pending
    filter is a partition-prunable predicate — on a real Iceberg table it
    becomes partition pruning at the scan); per-partition violation counts
    then commit one manifest batch. Returns newly committed partitions.

    Resume semantics for the non-decomposable rules: U1 (table-wide
    doc_id uniqueness) and D1 (per-partition PSI vs the GLOBAL kind
    distribution) always run over the FULL table and their rows replace
    the whole ``violations_table`` sink — including rows for partitions
    that committed long ago, so a duplicate that spans a committed and a
    pending partition flags BOTH copies (the committed partition's
    per-partition files are untouched; the table sink is a separate
    namespace precisely so this rewrite cannot clobber them). Both rules
    read pruned scans (doc_id/partition, spans.kind), so the full-table
    pass does not re-decode text bytes.

    R1 without ``media_catalog`` raises ``ValueError`` before any job:
    every partition would commit with R1 passing under the same
    ``rules_hash`` a run with the catalog uses, and that run would then
    skip them.
    """
    manifest = Manifest(out_dir)
    if engine.config.enable_referential and media_catalog is None:
        raise ValueError(
            "enable_referential=True but media_catalog is None — pass the "
            "media catalog or build the engine with enable_referential=False"
        )
    spark = docs.sparkSession
    rh = engine.config.rules_hash()
    done = manifest.committed_partitions(spark, rh)
    pending_docs = docs.filter(~F.col("partition").isin(sorted(done))) if done else docs

    # the one scan of the pending docs: which partitions to validate and
    # how many docs each holds (the n_docs their commit rows record)
    n_docs = {
        r["partition"]: r["count"]
        for r in pending_docs.groupBy("partition").count().collect()
    }
    if not n_docs:
        return []
    todo = list(n_docs)

    # M1 is partition-decomposable (each referencing span checks against
    # the global payload table), so it rides with the pending-only pass
    viol = engine.violations(
        pending_docs, media_catalog, include_table_rules=False, media_verdicts=media_verdicts
    )
    # per-partition dynamic overwrite: re-validating a partition REPLACES
    # its violation files instead of appending a second copy — a job that
    # died between the data write and the manifest commit stays idempotent
    # on rerun (mode('append') would double-count on readback). A writer
    # option, so no other job on the session sees the mode
    (
        viol.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition")
        .parquet(manifest.partition_sink(rh))
    )

    # table-wide rules: full re-evaluation, full sink overwrite (see
    # module docstring) — never filtered to pending partitions
    table_viol = engine.table_violations(docs)
    table_viol.write.mode("overwrite").parquet(manifest.table_sink(rh))

    n_viol = {
        r["partition"]: r["count"]
        for r in manifest.read_violations(spark, rh)
        .filter(F.col("partition").isin(todo))
        .groupBy("partition")
        .count()
        .collect()
    }
    manifest.commit_many(
        [(p, rh, n, n_viol.get(p, 0)) for p, n in n_docs.items()], spark=spark
    )
    return todo


def violation_rate_regressions(
    manifest: DataFrame,
    min_delta: float = 0.01,
    ratio: float = 2.0,
    order_col: str = "ts",
) -> DataFrame:
    """Meta-monitoring: the engine watching its OWN run history. Each
    manifest commit records (partition, n_docs, n_violations) for a
    validated partition; comparing consecutive commits of the same
    partition turns the lineage trail into a regression alarm — "p007's
    violation rate jumped 4× since the last run" is the earliest signal
    a producer broke something, and it needs no new scan of the data,
    only the (tiny) manifest table.

    A partition flags when its latest rate exceeds the previous run's
    by BOTH an absolute ``min_delta`` (guards the 0 → 0.0001 noise
    floor) and a multiplicative ``ratio`` (guards already-dirty
    partitions drifting slightly). First-ever runs can't regress;
    ``rules_hash`` changes between commits are surfaced in the output
    (a rate jump under a NEW rule set is expected, not a producer
    break — the consumer decides).

    Scale shape: everything rides the manifest table (one row per
    partition per run — thousands of rows, not documents); one window
    per partition, no document I/O at all.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("partition").orderBy(F.col(order_col).asc())
    rate = F.when(
        F.col("n_docs") > 0, F.col("n_violations") / F.col("n_docs")
    ).otherwise(F.lit(0.0))
    h = (
        manifest.filter(F.col("status") == "done")
        .withColumn("rate", F.round(rate, 6))
        .withColumn("prev_rate", F.lag("rate").over(w))
        .withColumn("prev_ts", F.lag(order_col).over(w))
        .withColumn("prev_rules_hash", F.lag("rules_hash").over(w))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("partition").orderBy(F.col(order_col).desc())
        ))
        .filter(F.col("_rn") == 1)
    )
    return (
        h.filter(
            F.col("prev_rate").isNotNull()
            & ((F.col("rate") - F.col("prev_rate")) > F.lit(float(min_delta)))
            & (F.col("rate") > F.col("prev_rate") * F.lit(float(ratio)))
        )
        .select(
            "partition",
            F.col("prev_ts"),
            F.col(order_col).alias("ts_now"),
            "prev_rate",
            F.col("rate").alias("rate_now"),
            F.round(F.col("rate") - F.col("prev_rate"), 6).alias("delta"),
            (F.col("rules_hash") != F.col("prev_rules_hash")).alias("rules_changed"),
        )
    )
