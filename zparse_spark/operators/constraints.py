"""Constraint operators the oracle registry (``queries*.py``) uses and the
validation gate does not: conditional and approximate functional
dependencies, parent↔child aggregate reconciliation, event-sequence
transitions, rule co-occurrence, cross-table CHECKs, SCD2 as-of
referential integrity, and the reverse media refcount.

None of them emits ``VIOLATION_SCHEMA`` rows or takes part in the verdict
grid or ``rules_hash``; each returns its own report frame. They live
outside ``operators.rules`` so the gate's modules never import registry
code (the dependency runs registry → gate only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from zparse_spark.operators.rules import functional_dependency_violations


def conditional_fd_violations(
    df: DataFrame,
    condition,
    determinant: str | list[str],
    dependent: str,
    max_examples: int = 8,
) -> DataFrame:
    """Conditional functional dependency (Bohannon et al.'s CFD — the
    standard strengthening of X31's FD in the data-quality literature):
    X → Y must hold only on the rows satisfying ``condition``. The real
    catalogs FDs describe are usually conditional — "within source
    'wiki', every domain has one license tag" holds where the global
    domain → license FD is legitimately violated by other sources —
    so a global FD either misses the rule (never checked) or drowns in
    false positives (checked everywhere). ``condition`` is a Column or
    SQL boolean string.

    Semantics: exactly ``functional_dependency_violations`` on
    σ_condition(df) — rows where the condition is NULL are outside the
    scope, matching SQL WHERE. The filter lands BEFORE the distinct-
    pair shuffle, so the only full-data cost is the (pushed-down)
    predicate scan: at 100 TB a selective condition makes the CFD
    strictly cheaper than the global FD it refines.
    """
    pred = F.expr(condition) if isinstance(condition, str) else condition
    return functional_dependency_violations(
        df.filter(pred), determinant, dependent, max_examples
    )


def aggregate_reconciliation(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    child_value,
    parent_value: str,
    rel_tol: float = 0.0,
    abs_tol: float = 0.0,
) -> DataFrame:
    """Parent↔child aggregate reconciliation (K-rule family member the
    CHECK predicates can't express — it needs a cross-table aggregate):
    does the parent's stored summary column equal the aggregate of its
    child rows within tolerance?  The classic instance is a fact/summary
    ledger check: ``orders.o_totalprice`` vs
    ``sum(l_extendedprice·(1−l_discount)·(1+l_tax))`` of the order's
    lineitems.  The reference validates one document's internal
    consistency (e.g. declared sizes vs actual, json/parser.rs:127-136);
    this is the table-level generalization where "declared" lives in a
    different table than "actual".

    ``child_value`` is a Column aggregate expression evaluated under
    ``child.groupBy(child_key)``.  Returns ONLY violating keys:
    (key, child_value, parent_value, abs_err, rel_err) with
    |child−parent| > abs_tol + rel_tol·|parent|.  Keys missing from
    either side are R1's job (referential), not a tolerance violation —
    the inner join drops them by design.

    Cross-engine determinism contract: child_value is rounded to 2
    decimals BEFORE the error/threshold math, so the keep-set and every
    emitted value derive from the identical rounded double in Spark and
    the SQL twin (raw float-sum last-ulp drift cannot flip the verdict
    unless the true value sits within ~1e-13 of a rounding boundary).

    Scale shape (100 TB): the child aggregate is ONE shuffle with
    map-side combine (partial sums), reducing the child to parent
    cardinality; the join is then key-to-key SMJ (or broadcast under
    AQE when the violating side is small) — never a row-level child ×
    parent join.  Output is violation-sparse.  No Python anywhere.
    """
    agg = child.groupBy(F.col(child_key).alias("key")).agg(
        F.round(child_value, 2).alias("child_value")
    )
    par = parent.select(
        F.col(parent_key).alias("key"),
        F.col(parent_value).cast("double").alias("parent_value"),
    )
    j = agg.join(par, "key", "inner")
    abs_err = F.abs(F.col("child_value") - F.col("parent_value"))
    return (
        j.filter(
            abs_err
            > F.lit(abs_tol) + F.lit(rel_tol) * F.abs(F.col("parent_value"))
        )
        .select(
            "key",
            "child_value",
            F.round("parent_value", 2).alias("parent_value"),
            F.round(abs_err, 2).alias("abs_err"),
            F.round(
                abs_err / F.nullif(F.abs(F.col("parent_value")), F.lit(0.0)), 6
            ).alias("rel_err"),
        )
    )


def fd_confidence(
    df: DataFrame,
    determinant: str,
    dependent: str,
    min_confidence: float = 0.99,
) -> DataFrame:
    """Approximate functional dependency X → Y: for each determinant
    value, confidence = count of the MAJORITY dependent value / group
    size (TANE's g3-style measure).  ``functional_dependency_violations``
    enumerates every violating pair for an FD that must hold exactly;
    this is the profiling companion for FDs that mostly hold ("same
    source ⇒ same lang, 99% of the time") — it returns the determinant
    groups BELOW ``min_confidence`` with their majority value, so the
    output names what the exception looks like, not just that one
    exists.

    Ties for majority break to the MIN dependent string (deterministic
    cross-engine).  NULL determinants are skipped (no identity to
    check); NULL dependents count as the string 'NULL' — a determinant
    that maps to null half the time is a real inconsistency.

    Scale shape (100 TB): groupBy(X, Y) with map-side combine reduces
    to the distinct-pair table; the majority pick and confidence are a
    window + filter on that reduced table (bounded by distinct pairs,
    not rows); output is violation-sparse.
    """
    from pyspark.sql import Window

    pairs = (
        df.filter(F.col(determinant).isNotNull())
        .select(
            F.col(determinant).cast("string").alias("x"),
            F.coalesce(F.col(dependent).cast("string"), F.lit("NULL")).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    w = Window.partitionBy("x")
    wr = Window.partitionBy("x").orderBy(F.col("n_xy").desc(), F.col("y").asc())
    g = (
        pairs.withColumn("n_x", F.sum("n_xy").over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(w))
        .withColumn("_rk", F.row_number().over(wr))
    )
    return (
        g.filter(F.col("_rk") == 1)
        .select(
            F.col("x").alias("determinant"),
            F.col("y").alias("majority_value"),
            F.col("n_xy").alias("majority_count"),
            F.col("n_x").alias("group_count"),
            F.col("n_variants").alias("n_variants"),
            F.round(F.col("n_xy") / F.col("n_x"), 6).alias("confidence"),
        )
        .filter(F.col("confidence") < F.lit(min_confidence))
    )


def transition_violations(
    events: DataFrame,
    allowed: list[tuple[str, str]],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Sequence-constraint validation: within each user's event stream
    (ordered by time, ties broken by ``tiebreak_col`` so the order —
    and therefore the violation set — is deterministic under any
    partitioning), every consecutive (prev → next) event-type pair must
    be in the ``allowed`` set; a user's first event is unconstrained.
    The state-machine generalization of the monotonicity window checks
    — the reference's parser-state legality (json/parser.rs state
    transitions) lifted to event tables.

    Scale shape: ONE shuffle on ``user_col`` for the lag window (the
    same partitioning sessionization uses — share it when composing);
    the allowed set is a literal array in the plan (codegen `IN`),
    sized for hand-curated machines (10s-100s of pairs), never a join.
    """
    from pyspark.sql import Window

    pair_lits = F.array(*[F.lit(f"{a}\x1f{b}") for a, b in allowed])
    w = Window.partitionBy(user_col).orderBy(F.asc(ts_col), F.asc(tiebreak_col))
    prev = F.lag(type_col).over(w)
    # pair is built from the materialized column, not the window expr —
    # a window function may not appear inside a WHERE clause
    pair = F.concat_ws("\x1f", F.col("_prev_type"), F.col(type_col))
    return (
        events.withColumn("_prev_type", prev)
        .filter(F.col("_prev_type").isNotNull() & ~F.array_contains(pair_lits, pair))
        .select(
            user_col,
            tiebreak_col,
            ts_col,
            F.col("_prev_type").alias("prev_type"),
            type_col,
        )
    )


def rule_cooccurrence(violations: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Which rules fire TOGETHER on the same document — the X92
    discipline (missingness co-occurrence) applied to the violation
    table itself: correlated rules mean one root cause (a producer
    emitting truncated docs trips S2+S4+R1 at once), and triage wants
    the failure DOMAIN, not len(rules) separate tickets. ``lift``
    (vs independence over the n_docs universe, when given) and
    ``jaccard`` of the per-rule doc sets quantify it; pairs are
    emitted for every rule pair observed on ≥1 common doc.

    Scale shape: violations reduce to the distinct (partition, doc_id,
    rule_id) table first — violation rows per doc can be huge, the
    distinct is grid-bounded per doc by the rule count; the pair
    self-join keys on the doc (per-doc fan-out ≤ rules², a constant);
    per-rule doc counts ride one more groupBy on the reduced table.
    """
    d = violations.select("partition", "doc_id", "rule_id").distinct()
    per_rule = d.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.partition").eqNullSafe(F.col("b.partition")))
            & (F.col("a.doc_id").eqNullSafe(F.col("b.doc_id")))
            & (F.col("a.rule_id") < F.col("b.rule_id")),
        )
        .groupBy(
            F.col("a.rule_id").alias("rule_a"), F.col("b.rule_id").alias("rule_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        pairs.join(per_rule.withColumnRenamed("rule_id", "rule_a"), "rule_a")
        .withColumnRenamed("n", "n_a")
        .join(per_rule.withColumnRenamed("rule_id", "rule_b"), "rule_b")
        .withColumnRenamed("n", "n_b")
    )
    uni = F.col("n_a") + F.col("n_b") - F.col("n_both")
    sel = [
        "rule_a",
        "rule_b",
        "n_a",
        "n_b",
        "n_both",
        F.when(uni > 0, F.round(F.col("n_both") / uni, 6)).alias("jaccard"),
    ]
    if n_docs is not None:
        sel.append(
            F.when(
                (F.col("n_a") * F.col("n_b")) > 0,
                F.round(F.col("n_both") * F.lit(int(n_docs)) / (F.col("n_a") * F.col("n_b")), 6),
            ).alias("lift")
        )
    return out.select(*sel)


def cross_table_check_violations(
    fact: DataFrame,
    ref: DataFrame,
    on: list[str],
    predicate: str,
    rule_id: str,
    fact_cols: list[str],
    detail: Column | None = None,
    strategy: str = "auto",
    on_missing: str = "pass",
) -> DataFrame:
    """K-rule CHECK constraints across a JOIN: evaluate ``predicate``
    (a SQL boolean over fact ∪ ref columns) on each fact row joined to
    its reference row, and emit a violation row per definite-FALSE
    (ANSI CHECK: NULL passes — including every column the predicate
    reads on a fact row with NO reference match, unless
    ``on_missing='violate'``, which emits a row for unmatched facts;
    dangling keys as such are R1/referential_violations' job).

    Output: ``fact_cols + [rule_id, detail]`` (detail NULL unless
    given).

    Scale shape: both sides are projected to exactly the columns the
    check reads BEFORE the join (explicit column pruning — ``ref`` may
    be a 400-column dimension; the join input is ``on`` + the predicate
    columns only). ``strategy='broadcast'`` forces a broadcast of the
    pruned reference, 'smj' leaves it to sort-merge, 'auto' lets
    AQE/Catalyst pick from the pruned size. The predicate itself is an
    F.expr map stage on the join output — one scan each side, one
    join, zero Python.

    Reference parity: the reference validates values against their
    SCHEMA context one document at a time (typed-value rules,
    toml/parser.rs, json/validator semantics); this is the relational
    lift — a row validated against its referenced row's values.
    """
    if on_missing not in ("pass", "violate"):
        raise ValueError(f"on_missing must be 'pass' or 'violate', got {on_missing!r}")
    if strategy not in ("auto", "broadcast", "smj"):
        raise ValueError(f"unknown strategy {strategy!r}")

    import re as _re

    pred_cols = set(_re.findall(r"[A-Za-z_][A-Za-z0-9_]*", predicate))
    fact_need = sorted(
        {c for c in fact.columns if c in pred_cols or c in fact_cols or c in on}
    )
    ref_need = sorted({c for c in ref.columns if c in pred_cols or c in on})
    f = fact.select(*fact_need)
    r = ref.select(*ref_need)
    if strategy == "broadcast":
        r = F.broadcast(r)
    elif strategy == "smj":
        r = r.hint("merge")

    # _matched marker: ref cols are NULL either way for unmatched
    # facts, so the predicate alone can't tell a missing ref from a
    # NULL ref value — the join marker can.
    joined = f.join(r.withColumn("_matched", F.lit(1)), on=on, how="left")
    fails = ~F.coalesce(F.expr(predicate), F.lit(True))
    if on_missing == "violate":
        fails = fails | F.col("_matched").isNull()
    out = joined.filter(fails).select(
        *fact_cols,
        F.lit(rule_id).alias("rule_id"),
        (detail if detail is not None else F.lit(None).cast("string")).alias("detail"),
    )
    return out


def asof_referential_violations(
    fact: DataFrame,
    fact_key: str,
    fact_ts: str,
    dim: DataFrame,
    dim_key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    strategy: str = "broadcast",
) -> DataFrame:
    """Temporal (SCD2) referential integrity: every fact row must
    resolve to EXACTLY ONE dimension version whose half-open validity
    window ``[valid_from, valid_to)`` covers the fact's timestamp
    (``valid_to IS NULL`` = open-ended current version). Plain R1
    answers "does the key exist"; at web scale catalogs are versioned,
    and the three corruptions R1 cannot see are exactly the classes
    this emits:

    - ``unmatched_key`` — the key has no dimension rows at all;
    - ``no_valid_version`` — the key exists but no version covers the
      timestamp (a validity GAP: versions were retired or loaded with
      holes);
    - ``ambiguous_version`` — more than one version covers it (window
      OVERLAP: the exactly-once resolution every as-of join silently
      assumes is broken, and picking "the" version is load-order luck).

    Facts with a NULL key or NULL timestamp are out of scope (they
    belong to not-null checks, mirroring how SQL joins treat NULL keys)
    — documented, not silent: they simply cannot match any window.

    Output: one row per violating DISTINCT (key, ts) pair —
    ``(key:string, ts, n_facts, n_versions, violation)`` where
    ``n_facts`` is how many fact rows share the pair and ``n_versions``
    how many windows covered it (0 for gaps, ≥2 for overlaps).

    Scale shape (100 TB facts, versioned catalog): the fact side is
    first reduced to DISTINCT (key, ts) with a map-side-combined count
    — the only fact-sized shuffle, and it's the same reduction an as-of
    join would pay. The dimension joins that reduced table on the key
    equi-condition with the window predicate evaluated in codegen;
    ``strategy='broadcast'`` (default — catalogs are small next to
    facts) makes the whole check exchange-free past the reduction,
    ``'smj'`` hints sort-merge for a dimension too big to ship.
    Per-pair version counting is a second groupBy on the already
    distinct-pair-sized table. Reference parity: generalizes the R1
    dangling-ref contract (convert.rs media_ref lookups) to versioned
    catalogs; exactly-once resolution mirrors the parser's duplicate-key
    rejection (toml/parser.rs:88-122) lifted to time windows.
    """
    if strategy not in ("broadcast", "smj"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    pairs = (
        fact.select(
            F.col(fact_key).cast("string").alias("key"),
            F.col(fact_ts).alias("ts"),
        )
        .filter(F.col("key").isNotNull() & F.col("ts").isNotNull())
        .groupBy("key", "ts")
        .agg(F.count(F.lit(1)).alias("n_facts"))
    )
    d = dim.select(
        F.col(dim_key).cast("string").alias("key"),
        F.col(valid_from).alias("_vf"),
        F.col(valid_to).alias("_vt"),
    )
    if strategy == "broadcast":
        d = F.broadcast(d)
    else:
        d = d.hint("merge")
    covers = (F.col("_vf") <= F.col("ts")) & (
        F.col("_vt").isNull() | (F.col("ts") < F.col("_vt"))
    )
    joined = pairs.join(d, "key", "left")
    resolved = joined.groupBy("key", "ts", "n_facts").agg(
        F.max(F.col("_vf").isNotNull().cast("int")).alias("_key_exists"),
        F.sum(covers.cast("int")).alias("_n_cover"),
    )
    return (
        resolved.withColumn(
            "violation",
            F.when(F.col("_key_exists") == 0, F.lit("unmatched_key"))
            .when(F.coalesce(F.col("_n_cover"), F.lit(0)) == 0, F.lit("no_valid_version"))
            .when(F.col("_n_cover") > 1, F.lit("ambiguous_version")),
        )
        .filter(F.col("violation").isNotNull())
        .select(
            "key",
            "ts",
            "n_facts",
            F.coalesce(F.col("_n_cover"), F.lit(0)).cast("bigint").alias("n_versions"),
            "violation",
        )
    )


def media_refcounts(
    docs: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Reverse referential check: reference counts per CATALOG entry,
    zero meaning orphan — R1 asks "does every span's media_ref exist?";
    this asks the storage question "does every catalog payload still
    have a referent?" (GC candidates, the audit an Iceberg
    expire/cleanup pass needs before deleting blobs).

    Scale shape: the doc side collapses FIRST — explode spans, filter
    non-null refs, ONE map-side-combined groupBy(ref) whose output is
    bounded by |catalog|, never by corpus size; the catalog then LEFT
    joins that compact count table (orphans keep n_refs = 0). The
    corpus is scanned once; nothing doc-sized ever shuffles twice.
    """
    refs = (
        docs.select(F.explode(spans_col).alias("_s"))
        .select(F.col(f"_s.{ref_col}").alias(ref_col))
        .filter(F.col(ref_col).isNotNull())
        .groupBy(ref_col)
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    return (
        catalog.select(ref_col)
        .distinct()
        .join(refs, ref_col, "left")
        .select(ref_col, F.coalesce(F.col("n_refs"), F.lit(0)).alias("n_refs"))
    )


def orphan_media(
    docs: DataFrame,
    catalog: DataFrame,
    spans_col: str = "spans",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Catalog entries no span references (n_refs = 0): the deletion
    shortlist. See ``media_refcounts`` for the plan shape."""
    return (
        media_refcounts(docs, catalog, spans_col, ref_col)
        .filter(F.col("n_refs") == 0)
        .select(ref_col)
    )
