"""ValidationEngine — composes the rule pack into one Catalyst DAG.

Lifecycle (SURVEY.md §3.4): read documents → span/doc rules (map-only,
with referential fused in when the catalog broadcasts) ∪ uniqueness
(single-phase count agg, map-side combine) ∪ referential (pruned explode
+ sort-merge anti-join, big catalogs only) ∪ drift (one explode of
spans.kind, one aggregate and a window over its per-partition rows) →
violations table → verdict matrix. Each branch reads its own pruned
scan of the columnar input: the bulk plan with R1 fused has five — the
full spans (span pack), the catalog's media_ref, U1's (doc_id,
partition) and doc_id, and D1's spans.kind.

The per-(partition, rule) verdict matrix is the distributed analog of
the reference's fixture-directory contract: every fixtures/valid/* must
parse, every fixtures/invalid/* must fail
(crates/zparse/tests/fixtures_test.rs:5-37).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zparse_spark.operators.rules import (
    OPT_IN_RULE_IDS,
    RULE_IDS,
    CheckConstraint,
    RuleParams,
    _validate_checks,
    check_constraint_violations,
    drift_violations,
    media_kind_consistency_violations,
    media_payload_violations,
    referential_violations,
    span_rule_violations,
    span_text_bytes,
    uniqueness_violations,
)
from zparse_spark.schema import union_violations


@dataclass(frozen=True)
class ValidationConfig:
    params: RuleParams = field(default_factory=RuleParams)
    enable_uniqueness: bool = True
    enable_referential: bool = True
    enable_drift: bool = True
    # opt-in M1: referenced media payloads must exist and decode
    # (violations() then needs the media_verdicts frame)
    enable_media_decode: bool = False
    # M1's missing-payload check joins the media spans against every
    # verdict row's key (a left join) instead of only the NOT ok rows;
    # when ingest guarantees a verdict row per referenced payload, set
    # False to join only the bad rows. Part of rules_hash —
    # two runs with different M1 semantics must never share a resume.
    media_check_missing: bool = True
    # opt-in F1: the same media_ref must carry the same span kind
    # table-wide (catalog/referent agreement). Table-level like U1/D1 —
    # re-runs table-wide on resume, never per-partition.
    enable_media_kind_fd: bool = False
    # user-declared CHECK constraints (K-rules): boolean SQL predicates
    # at doc or span level, ANSI CHECK semantics (NULL passes). Map-only
    # and partition-decomposable, so the resumable runner treats them
    # like span rules (evaluated on pending partitions only). Predicates
    # are part of rules_hash — editing a check invalidates resume state.
    check_constraints: tuple[CheckConstraint, ...] = ()
    # R1 fuses into the span explode only when the catalog key set is
    # provably under this row count (cheap count probe here; table
    # metadata on a real Iceberg catalog) and otherwise runs as a
    # standalone sort-merge anti-join — an unconditionally forced
    # broadcast would OOM the driver at the 10^12-doc design point
    broadcast_max_catalog_rows: int = 1_000_000

    def rules_hash(self) -> str:
        """Stable hash of the active rule pack + params — stamped into the
        manifest so resume only skips partitions validated under the SAME
        rules (SURVEY.md §4.3)."""
        # "auto": the removed referential_strategy's default, kept so older manifests still resume
        payload = repr((self.params, "auto", self.enable_uniqueness,
                        self.enable_referential, self.enable_drift,
                        self.enable_media_decode, self.media_check_missing,
                        self.enable_media_kind_fd, self.check_constraints,
                        sorted(r for r in RULE_IDS if r not in OPT_IN_RULE_IDS))).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


def _table_rules(c: ValidationConfig) -> dict[str, Callable[[DataFrame], DataFrame]]:
    """rule_id → violations function of each enabled table-wide rule:
    the rules that are NOT partition-decomposable. They always see the
    full table (re-run in full on every resume) and cannot be estimated
    from a document sample."""
    rules = {
        "U1": (c.enable_uniqueness, uniqueness_violations),
        "D1": (c.enable_drift, lambda docs: drift_violations(docs, c.params)),
        "F1": (c.enable_media_kind_fd, media_kind_consistency_violations),
    }
    return {rule_id: fn for rule_id, (on, fn) in rules.items() if on}


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    metrics: DataFrame


class ValidationEngine:
    def __init__(self, config: ValidationConfig | None = None):
        self.config = config or ValidationConfig()
        # fail at construction, not mid-job: bad level / duplicate or
        # reserved rule_id in a user check is a config error
        _validate_checks(self.config.check_constraints)

    def _check_inputs(
        self, media_catalog: DataFrame | None, media_verdicts: DataFrame | None
    ) -> None:
        """Never skip silently: raise when an enabled rule lacks its input
        (R1 the catalog, M1 the payload verdicts). Skipping it would show
        the rule passing on every partition of the dense verdict grid
        without it having run, and a resumed run would commit those
        partitions as done under this rules_hash and never re-check them."""
        c = self.config
        if c.enable_referential and media_catalog is None:
            raise ValueError(
                "enable_referential=True but media_catalog is None — pass the "
                "media catalog or build the engine with enable_referential=False"
            )
        if c.enable_media_decode and media_verdicts is None:
            raise ValueError(
                "enable_media_decode=True but media_verdicts is None — pass "
                "decode_verdicts(payloads) (zparse_spark.multimodal) or build "
                "the engine with enable_media_decode=False"
            )

    # -- plan builders ------------------------------------------------

    def violations(
        self,
        docs: DataFrame,
        media_catalog: DataFrame | None = None,
        include_table_rules: bool = True,
        media_verdicts: DataFrame | None = None,
    ) -> DataFrame:
        """All enabled rules over ``docs``. ``include_table_rules=False``
        restricts to the partition-decomposable rules (span/doc, R1, M1,
        K) — the resumable runner evaluates those on pending partitions
        only while re-running the table-wide rules (``_table_rules``) over
        the full table (see plans.manifest). R1 without ``media_catalog``
        or M1 without ``media_verdicts`` raises ``ValueError``."""
        self._check_inputs(media_catalog, media_verdicts)
        c = self.config
        # R1 fuses into the span-rule explode (one scan saved) when a
        # count probe shows the catalog key set is under
        # broadcast_max_catalog_rows; otherwise it runs as the standalone
        # sort-merge anti-join. The probe is limit(threshold+1).count(),
        # NOT count(): deciding NOT to broadcast a 10^9-row catalog must
        # not cost a full catalog scan — the limit stops the scan after
        # threshold+1 rows either way (on a real Iceberg catalog, table
        # metadata answers this for free; the bounded probe is the
        # storage-agnostic fallback).
        fuse_ref = c.enable_referential and (
            media_catalog.limit(c.broadcast_max_catalog_rows + 1).count()
            <= c.broadcast_max_catalog_rows
        )
        parts = [
            span_rule_violations(docs, c.params, media_catalog=media_catalog if fuse_ref else None)
        ]
        if c.enable_referential and not fuse_ref:
            parts.append(referential_violations(docs, media_catalog, "smj"))
        if c.enable_media_decode:
            parts.append(
                media_payload_violations(
                    docs, media_verdicts, check_missing=c.media_check_missing
                )
            )
        if c.check_constraints:
            # partition-decomposable (pure map) — evaluated on pending
            # partitions in resumed runs, like the span rules
            parts.append(check_constraint_violations(docs, c.check_constraints))
        if include_table_rules:
            parts += [fn(docs) for fn in _table_rules(c).values()]
        return union_violations(docs.sparkSession, parts)

    def table_violations(self, docs: DataFrame) -> DataFrame:
        """Only the table-wide rules (U1 uniqueness, D1 drift, F1 media
        kind) — the ones that are NOT partition-decomposable and must
        always see the full table, even on a resumed run."""
        parts = [fn(docs) for fn in _table_rules(self.config).values()]
        return union_violations(docs.sparkSession, parts)

    def active_rule_ids(self) -> list[str]:
        """Rule ids this configuration actually evaluates — the single
        source of truth for the dense verdict grid AND for CLI
        diagnostics (an unknown --warn-rules warning must reflect the
        rules active for THIS run, not the full built-in set: a warn-
        rule naming a disabled rule silently has no effect, which is
        exactly what the warning exists to catch)."""
        c = self.config
        enabled = {
            "S9": c.params.check_span_overlap,
            "U1": c.enable_uniqueness,
            "R1": c.enable_referential,
            "D1": c.enable_drift,
            "M1": c.enable_media_decode,
            "F1": c.enable_media_kind_fd,
        }
        active = [r for r in RULE_IDS if enabled.get(r, True)]
        return active + sorted(k.rule_id for k in c.check_constraints)

    def verdicts(self, docs: DataFrame, violations: DataFrame) -> DataFrame:
        """Dense (partition × rule) pass/fail grid, including all-pass
        cells — built from a cross join of the (tiny) rule list with the
        distinct partitions, left-joined to violation counts."""
        spark = docs.sparkSession
        active = self.active_rule_ids()
        # in-plan literal array, not createDataFrame: the rule list is
        # tiny but per-call driver→executor parallelize is pure overhead
        # when the ids can live inside the plan itself
        rules_df = spark.range(1).select(
            F.explode(F.array(*[F.lit(r) for r in active])).alias("rule_id")
        )
        parts_df = docs.select("partition").distinct()
        grid = parts_df.crossJoin(F.broadcast(rules_df))
        counts = violations.groupBy("partition", "rule_id").agg(
            F.count(F.lit(1)).alias("violation_count")
        )
        return (
            grid.join(counts, ["partition", "rule_id"], "left")
            .select(
                "partition",
                "rule_id",
                F.col("violation_count").isNull().alias("passed"),
                F.coalesce("violation_count", F.lit(0)).cast("long").alias("violation_count"),
            )
        )

    def metrics(self, docs: DataFrame) -> DataFrame:
        """Per-partition profile in ONE aggregate pass (the reference's
        scalar counters bytes_parsed/depth, json/parser.rs:85-86, lifted
        to per-partition table stats)."""
        spans = F.coalesce(F.col("spans"), F.array())
        n_media = F.size(F.filter(spans, lambda s: s["media_ref"].isNotNull()))
        return (
            docs.select(
                "partition",
                F.size(spans).alias("_n_spans"),
                span_text_bytes().alias("_bytes"),
                n_media.alias("_n_media"),
            )
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("_n_spans").alias("n_spans"),
                F.sum("_bytes").alias("text_bytes"),
                F.sum("_n_media").alias("n_media_spans"),
                F.avg("_n_spans").alias("avg_spans_per_doc"),
                F.max("_n_spans").alias("max_spans_per_doc"),
            )
        )

    def worst_offenders(self, violations: DataFrame, k: int = 10) -> DataFrame:
        """Top-k report (SURVEY.md A8): the partitions and documents
        carrying the most violations — orderBy+limit compiles to a
        TakeOrderedAndProject (partial top-k per partition, never a full
        sort at scale)."""
        by_partition = (
            violations.groupBy("partition")
            .agg(F.count(F.lit(1)).alias("n_violations"), F.countDistinct("rule_id").alias("n_rules"))
            .orderBy(F.desc("n_violations"), F.asc("partition"))
            .limit(k)
            .withColumn("level", F.lit("partition"))
            .withColumnRenamed("partition", "key")
        )
        by_doc = (
            violations.filter(F.col("doc_id").isNotNull())
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_violations"), F.countDistinct("rule_id").alias("n_rules"))
            .orderBy(F.desc("n_violations"), F.asc("doc_id"))
            .limit(k)
            .withColumn("level", F.lit("doc"))
            .withColumnRenamed("doc_id", "key")
        )
        return by_partition.unionByName(by_doc).select("level", "key", "n_violations", "n_rules")

    # -- one-shot -------------------------------------------------------

    def validate(
        self,
        docs: DataFrame,
        media_catalog: DataFrame | None = None,
        media_verdicts: DataFrame | None = None,
    ) -> ValidationResult:
        v = self.violations(docs, media_catalog, media_verdicts=media_verdicts)
        return ValidationResult(
            violations=v, verdicts=self.verdicts(docs, v), metrics=self.metrics(docs)
        )


def partition_verdicts(
    verdicts: DataFrame, warn_rules: list[str] | tuple[str, ...] = ()
) -> DataFrame:
    """Per-partition roll-up of the dense verdict grid under a severity
    policy: rules in ``warn_rules`` are advisory — their failing cells
    are REPORTED (n_warn_cells) but never fail the partition. This is
    the operational gate a recurring job keys its exit code / paging on:
    a partition ``passed`` iff every error-severity rule passed.

    One aggregate over the (tiny) verdict table — grid cells number
    |partitions| × |rules|, so this never touches document data.

    Output: (partition, passed, n_error_cells, n_warn_cells,
    n_violations).
    """
    is_warn = (
        F.col("rule_id").isin(list(warn_rules)) if warn_rules else F.lit(False)
    )
    failed = ~F.col("passed")
    return verdicts.groupBy("partition").agg(
        F.min(F.when(~is_warn, F.col("passed")).otherwise(F.lit(True))).alias("passed"),
        F.sum((failed & ~is_warn).cast("long")).alias("n_error_cells"),
        F.sum((failed & is_warn).cast("long")).alias("n_warn_cells"),
        F.sum("violation_count").alias("n_violations"),
    )


def quarantine_split(
    docs: DataFrame,
    violations: DataFrame,
    rule_ids: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Route documents by verdict: ``(clean, quarantined)`` — the
    ingestion gate between validation and the downstream pipeline
    (training-set build, conversion, indexing). A document is
    quarantined when it carries ANY violation row from ``rule_ids``
    (default: every doc-attributable rule); table-level rows with a null
    doc_id (drift, missing-payload aggregates) never quarantine a
    specific document.

    Scale shape: the offending-key set is ``violations`` pruned to
    (doc_id) distinct — violation-sparse by construction, so the
    semi/anti joins broadcast it back onto the doc stream in the common
    case (AQE decides; a systemic rule firing on every doc degrades to a
    shuffled semi-join, which is still one shuffle of keys, never of
    span payloads). Both outputs share the one scan of ``docs`` and the
    one distinct of keys — materialize violations first (the engine's
    sink already does) rather than recomputing the rule pack twice:
    measured at 1M docs/local[32], splitting over the engine's lazy
    violations plan re-derives the full rule pack per output action
    (61 s) vs 7.9 s over the parquet-materialized violations — 8×, at
    126k docs/s even with 3.5M violation rows.
    """
    v = violations.filter(F.col("doc_id").isNotNull())
    if rule_ids is not None:
        v = v.filter(F.col("rule_id").isin(list(rule_ids)))
    # keyed (partition, doc_id) — the violation attribution grain; a bare
    # doc_id key would let one partition's bad copy quarantine an
    # unrelated partition's clean doc under U1-style id collisions
    bad_keys = v.select("partition", "doc_id").distinct()
    clean = docs.join(bad_keys, ["partition", "doc_id"], "left_anti")
    quarantined = docs.join(bad_keys, ["partition", "doc_id"], "left_semi")
    return clean, quarantined


def hash_unit(key, seed: int = 0):
    """Deterministic uniform-[0,1) value per key: first 8 hex nibbles of
    md5(key ‖ ':' ‖ seed) over 2^32 — the same engine-portable idiom as
    cap_hot_buckets' md5 sampler, so a DuckDB/any-SQL twin reproduces it
    bit-for-bit. One codegen expression, no rng state."""
    hv = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(key).cast("string") if isinstance(key, str) else key.cast("string"), F.lit(seed))), 1, 8),
        16,
        10,
    ).cast("double")
    return hv / float(0x100000000)


def sampled_validation(
    docs: DataFrame,
    engine: ValidationEngine,
    fraction: float,
    seed: int = 0,
    media_catalog: DataFrame | None = None,
    z: float = 1.96,
    media_verdicts: DataFrame | None = None,
) -> DataFrame:
    """Estimate per-(partition, rule) violation-rate with confidence
    bounds from a deterministic document sample — the cheap screening
    tier before a full validation pass (the benchmark's "sampled SF
    tiers" discipline applied to the gate itself: at 10^12 docs a 0.1%
    sample bounds every rule's breach rate long before the full job
    lands).

    Only per-document rules are estimable this way (span/doc/R1/M1/K):
    duplicate-rate (U1) is famously biased under sampling (a pair
    survives only if BOTH copies are drawn, deflating p by ~fraction)
    and drift (D1) needs the full kind distribution — both excluded.

    The sample is a pure function of (partition, doc_id, seed) — the
    md5-nibble uniform shared with ``hash_sample`` — so re-runs and
    other engines draw the identical subset; the filter is map-only and
    rides the scan. Violating DOCS (not rows) per cell are the Bernoulli
    trials; the interval is Wilson-score at confidence ``z`` (default
    1.96 ≈ 95%), whose coverage holds at k=0/k=n where the Wald interval
    collapses. Estimates are rounded to 6 decimals so cross-engine
    comparisons are exact; cells with an empty sample report NULL
    estimates rather than fabricating a rate.

    ``media_catalog`` and ``media_verdicts`` feed R1 and M1 as in
    ``ValidationEngine.violations``, which raises when an enabled rule's
    input is missing.

    Output: (partition, rule_id, n_total_docs, n_sampled, n_violating,
    p_hat, ci_lo, ci_hi, est_violating_docs).
    """
    key = F.concat_ws("|", F.col("partition"), F.col("doc_id"))
    sample = docs.filter(hash_unit(key, seed) < fraction)
    viol = engine.violations(
        sample, media_catalog, include_table_rules=False, media_verdicts=media_verdicts
    )
    table_only = _table_rules(engine.config)
    rules = [r for r in engine.active_rule_ids() if r not in table_only]
    spark = docs.sparkSession
    rules_df = spark.range(1).select(
        F.explode(F.array(*[F.lit(r) for r in rules])).alias("rule_id")
    )
    totals = docs.groupBy("partition").agg(F.count(F.lit(1)).alias("n_total_docs"))
    sampled = sample.groupBy("partition").agg(F.count(F.lit(1)).alias("n_sampled"))
    viols = (
        viol.filter(F.col("doc_id").isNotNull())
        .select("partition", "rule_id", "doc_id")
        .distinct()
        .groupBy("partition", "rule_id")
        .agg(F.count(F.lit(1)).alias("n_violating"))
    )
    grid = (
        totals.join(sampled, "partition", "left")
        .crossJoin(F.broadcast(rules_df))
        .join(viols, ["partition", "rule_id"], "left")
        .select(
            "partition",
            "rule_id",
            "n_total_docs",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("n_violating", F.lit(0)).cast("long").alias("n_violating"),
        )
    )
    # Wilson score — expression structure mirrored verbatim in the SQL
    # oracle twin so every double is bit-identical before the rounding
    n = F.col("n_sampled").cast("double")
    k = F.col("n_violating").cast("double")
    z2 = z * z  # python-float literal, embedded identically both sides
    p = k / n
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (p + F.lit(z2) / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + F.lit(z2) / (F.lit(4.0) * n * n))
        / denom
    )
    guarded = lambda c: F.round(F.when(F.col("n_sampled") > 0, c), 6)  # noqa: E731
    return grid.select(
        "partition",
        "rule_id",
        "n_total_docs",
        "n_sampled",
        "n_violating",
        guarded(p).alias("p_hat"),
        guarded(F.greatest(F.lit(0.0), center - half)).alias("ci_lo"),
        guarded(F.least(F.lit(1.0), center + half)).alias("ci_hi"),
        guarded(p * F.col("n_total_docs").cast("double")).alias("est_violating_docs"),
    )


def apply_waivers(
    violations: DataFrame,
    waivers: DataFrame,
    as_of: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split violations into ``(kept, waived)`` under a curated
    suppression list — the operational valve between "the rule is right"
    and "this known breach is accepted for now" (tracked-exception
    reporting; the reference has no analog because a single-document
    parser aborts, while a fleet gate must keep running with
    acknowledged debt).

    ``waivers`` schema: (waiver_id UNIQUE, rule_id, partition, doc_id,
    reason, expires_at). NULL partition / doc_id are wildcards; a waiver
    matches a violation iff rule_id is equal and every non-NULL scope
    column is equal. ``expires_at`` is orderable (date/timestamp/ISO
    string); a waiver is active iff expires_at IS NULL or
    ``expires_at > as_of`` (``as_of`` defaults to current timestamp —
    pass a literal for reproducible runs/oracles).

    ``waived`` carries the MATCHING waiver attribution: the minimum
    waiver_id among matches (deterministic under the unique-id contract)
    plus its reason. ``kept`` is everything else, violation schema
    unchanged — feed it to ``ValidationEngine.verdicts`` /
    ``partition_verdicts`` so suppressed cells pass the gate while
    staying visible in the waived report.

    Scale shape: the waiver list is human-curated (10s-1000s of rows) →
    broadcast on both passes; ``kept`` is one anti-join over the
    violation stream (equi on rule_id, wildcard scopes as join filters),
    ``waived`` is an inner join whose output is bounded by the waived
    subset, grouped on an internal row id so a violation matched by
    several waivers emits exactly once. No document data is touched —
    this runs on the (sparse) violation table.

    Feed MATERIALIZED violations (the engine's sink, or a
    localCheckpoint) when you consume BOTH outputs: they are two plans
    over the input, so a lazy rule pack would re-derive itself once per
    output action — the same 8× lesson quarantine_split measured.
    """
    active = F.col("expires_at").isNull() | (
        F.col("expires_at") > (F.lit(as_of) if as_of is not None else F.current_timestamp())
    )
    w = waivers.filter(active).select(
        "waiver_id",
        F.col("rule_id").alias("_w_rule"),
        F.col("partition").alias("_w_partition"),
        F.col("doc_id").alias("_w_doc"),
        "reason",
    )
    cond = (
        (F.col("rule_id") == F.col("_w_rule"))
        & (F.col("_w_partition").isNull() | (F.col("_w_partition") == F.col("partition")))
        & (F.col("_w_doc").isNull() | (F.col("_w_doc") == F.col("doc_id")))
    )
    kept = violations.join(F.broadcast(w), cond, "left_anti")
    # internal row id: violation rows have no natural key (two identical
    # breaches are two rows) — never leaves this function
    vcols = violations.columns
    vid = violations.withColumn("_vrow", F.monotonically_increasing_id())
    waived = (
        vid.join(F.broadcast(w), cond, "inner")
        .groupBy("_vrow", *vcols)
        .agg(F.min("waiver_id").alias("waiver_id"))
        .join(F.broadcast(w.select("waiver_id", "reason")), "waiver_id")
        .select(*vcols, "waiver_id", "reason")
    )
    return kept, waived


def verdict_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Cell-level diff of two verdict matrices — the monitoring surface
    of a recurring validation job: which (partition, rule) cells
    regressed (pass→fail), got fixed (fail→pass), changed their count
    while still failing, or appeared/disappeared with the partition set.
    Unchanged cells are dropped, so the result is sparse — at 10^12-doc
    scale the diff of two dense million-cell matrices is one full outer
    join on the (small) verdict tables, never a document scan.

    Output: (partition, rule_id, status, old_count, new_count) with
    status ∈ appeared | removed | regressed | fixed | changed.
    """
    o = old.select(
        "partition", "rule_id",
        F.col("passed").alias("_op"), F.col("violation_count").alias("old_count"),
    )
    n = new.select(
        "partition", "rule_id",
        F.col("passed").alias("_np"), F.col("violation_count").alias("new_count"),
    )
    j = o.join(n, ["partition", "rule_id"], "full_outer")
    status = (
        F.when(F.col("_op").isNull(), F.lit("appeared"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        .when(F.col("_op") & ~F.col("_np"), F.lit("regressed"))
        .when(~F.col("_op") & F.col("_np"), F.lit("fixed"))
        .when(F.col("old_count") != F.col("new_count"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select("partition", "rule_id", "status", "old_count", "new_count")
    )
