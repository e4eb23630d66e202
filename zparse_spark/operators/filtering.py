"""Corpus filtering — the training-data admission pipeline.

Composes the text-analysis functions (token count, quality score,
language ID) into a single annotate-then-decide pass: each document
gets a first-match ``reject_reason`` (or NULL = kept). One projection,
no shuffle — the decision is pure column math over the scan, so at
100 TB this is a map-only stage whose filter pushes into downstream
plans. The rejection BREAKDOWN (one tiny groupBy) is the monitoring
artifact a data pipeline actually alerts on.

Plan audit: ReadSchema prunes to ``text`` alone, zero Python, one
Exchange (the per-reason count). Round-4 profiling (sf0.1 texts,
~600 chars): the annotate pass is regex-bound, and the measured
winners are counter-intuitive — char-class counts via ``translate``
beat the regex class scan 10× (text.py::_char_class_count), the
codegen ``word_occurrences`` regexp beats the interpreted HOF
stopword filter ~3×, but one WIDE 16-word alternation loses to four
narrow 4-word scans (Java per-position cost grows with alternation
width). Steady state ≈14k docs/s/32 threads on 600-char docs, all
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zparse_spark.functions.text import lang_guess, quality_score, token_count
from zparse_spark.plans.engine import hash_unit

REASONS = ("too_short", "too_long", "low_quality", "wrong_lang")


def corpus_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en",),
    impl: str = "arrow",
) -> DataFrame:
    """Annotate each doc with its metrics and a first-match rejection
    reason; ``kept`` is true iff no rule fired. Reason order is the
    documented contract (cheap structural gates before the language
    gate) so downstream breakdowns are stable.

    Evaluation shape (r6, guide §1.2/§2.4): the heavy annotators
    (quality's regex+translate passes, lang's four marker scans) are
    computed in ONE projection and the decision columns in a SECOND
    projection over their attributes, so each annotator runs exactly
    once per row. The naive single-projection form inlines the full
    expression trees into ``reject_reason`` and ``kept`` (~3× the
    per-row work, measured 25 s vs 7.5 s per 100k docs), and a
    downstream ``.filter("kept")`` re-inlines them a second time via
    predicate pushdown (the pushed Filter is a separate codegen
    operator, so subexpression elimination cannot see across it).
    The always-false ``monotonically_increasing_id() < 0`` guard on the
    decision columns (mono ids are non-negative by construction) makes
    them non-deterministic to the optimizer, which pins the filter
    ABOVE the projection — it then tests the already-computed boolean.
    Values are unchanged; measured 13.9 s → 8.2 s on the bench's
    filter+pack path.

    ``impl='arrow'`` (default) fuses the three annotators into ONE
    Arrow-vectorized pass (text.annotate_corpus_text — RE2 tokenize +
    is_in/bincount marker counts + the identical IEEE quality
    arithmetic): measured a further 8.2 s → ~3.5 s on the same path,
    bit-identical on every row. ``impl='expr'`` keeps the pure-JVM
    column-expression path for Python-less clusters."""
    t = F.col(text_col)
    if impl == "arrow":
        from zparse_spark.functions.text import annotate_corpus_text

        ann = "_ann"
        while ann in docs.columns:
            ann += "_"
        base = (
            docs.withColumn(ann, annotate_corpus_text(t))
            .withColumns(
                {
                    "tokens": F.col(ann)["tokens"],
                    "quality": F.col(ann)["quality"],
                    "lang_guess": F.col(ann)["lang_guess"],
                }
            )
            .drop(ann)
        )
    else:
        base = docs.withColumns(
            {
                "tokens": token_count(t, "whitespace"),
                "quality": quality_score(t),
                "lang_guess": lang_guess(t),
            }
        )
    reason = (
        F.when(F.col("tokens") < min_tokens, "too_short")
        .when(F.col("tokens") > max_tokens, "too_long")
        .when(F.col("quality") < min_quality, "low_quality")
        .when(~F.col("lang_guess").isin(*langs), "wrong_lang")
    )
    nd_false = F.monotonically_increasing_id() < F.lit(0)
    return base.withColumns(
        {
            "reject_reason": F.when(nd_false, F.lit("nd")).otherwise(reason),
            "kept": reason.isNull() & ~nd_false,
        }
    )


def filter_report(annotated: DataFrame) -> DataFrame:
    """Per-reason rejection counts plus the kept row — the one-line
    health summary of an admission run."""
    return (
        annotated.groupBy(
            F.coalesce("reject_reason", F.lit("kept")).alias("outcome")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def token_budget_pack(
    annotated: DataFrame,
    budget: int,
    tokens_col: str = "tokens",
    order_col: str = "quality",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Fill a training-token budget with the best documents first:
    order by (``order_col`` DESC, ``id_col`` ASC) and keep the maximal
    prefix whose running token total stays ≤ ``budget``. Output = input
    columns + ``cum_tokens`` (the global running total, so the result
    is audit-ready and oracle-checkable).

    Scale shape — the naive form is ONE global window sort, a single
    reducer at 100 TB. Instead: bucket ``order_col`` on a fixed grid
    over [lo, hi] (defaults fit the [0,1] quality score; pass the real
    domain for other keys), aggregate per-bucket token sums (≤
    ``n_buckets`` rows — the only global ordering ever materialized is
    over this tiny frame), broadcast the running "tokens before this
    bucket" back, PRUNE every bucket that starts past the budget
    *before* any sort happens, and run the cumulative window
    partitioned BY BUCKET — parallel, ~N/n_buckets rows per partition,
    and only over the surviving prefix. Equal to the naive global
    window because the grid is a coarsening of the global order and
    ``order_col`` ties share a bucket.
    """
    o = F.col(order_col)
    t = F.col(tokens_col).cast("long")
    span = float(hi) - float(lo)
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(F.lit(0), F.floor((F.lit(float(hi)) - o) / span * n_buckets)),
    ).cast("int")
    rows = annotated.withColumn("_bkt", bucket)
    # the bucketed frame is consumed by BOTH the per-bucket aggregate and
    # the row-level join+window: without truncation the input lineage
    # (for corpus_filter input, the interpreted quality/langid pass) is
    # re-derived per consumer — measured 35 s → 16 s at 100k docs.
    # Callers should pass the NARROW projection (id, tokens, order) so
    # the materialized frame stays ~1% of corpus bytes at 100 TB.
    rows = rows.localCheckpoint(eager=True)

    from pyspark.sql import Window

    bstats = rows.groupBy("_bkt").agg(F.sum(t).alias("_btok"))
    # tiny frame (≤ n_buckets rows): a single-partition running total
    # here is deliberate and bounded
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    before = bstats.select(
        "_bkt", F.coalesce(F.sum("_btok").over(wb), F.lit(0)).alias("_before")
    )
    pruned = rows.join(F.broadcast(before), "_bkt").filter(F.col("_before") < budget)
    wr = (
        Window.partitionBy("_bkt")
        .orderBy(o.desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = pruned.withColumn("cum_tokens", (F.col("_before") + F.sum(t).over(wr)))
    return packed.filter(F.col("cum_tokens") <= budget).drop("_bkt", "_before")


def hash_sample(df: DataFrame, fraction: float, key_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """Reproducible sampling for training-set construction: keep a row
    iff hash_unit(key) < fraction. Unlike ``df.sample`` (rng per task,
    changes with partitioning/retries/resumes), the decision is a pure
    function of the KEY — re-runs, resumed jobs, and other engines make
    the identical selection, and disjoint seeds give independent
    samples. Map-only, filter pushes to the scan."""
    return df.filter(hash_unit(key_col, seed) < fraction)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` with the same
    reproducibility upgrade as ``hash_sample``): each stratum keeps its
    own fraction; strata not listed keep ``default_fraction``. The
    fraction lookup is a chained CASE — still one map-only projection,
    no shuffle, no rng."""
    frac = None
    for k, f in fractions.items():
        cond = F.col(strata_col) == k
        frac = F.when(cond, float(f)) if frac is None else frac.when(cond, float(f))
    frac = F.lit(float(default_fraction)) if frac is None else frac.otherwise(
        float(default_fraction)
    )
    return df.filter(hash_unit(key_col, seed) < frac)


def split_into_windows(
    docs: DataFrame,
    window: int = 256,
    stride: int = 192,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut documents into fixed token windows with overlap (stride <
    window ⇒ window−stride tokens shared between neighbors) — the
    training-example chunker: a 100k-token document must become many
    bounded sequences, and the overlap keeps boundary context learnable.

    Output: (id, window_pos, n_tokens, window_text) — window_pos is the
    0-based window index, n_tokens the actual token count (the last
    window may be short; empty/NULL docs produce no rows). Tokens are
    whitespace runs; window_text re-joins with single spaces (the token
    stream IS the contract, original whitespace is not preserved —
    render_training_text is the span-faithful path).

    Scale shape: pure array expressions (split → sequence of starts →
    per-start slice) + one explode — map-only, no shuffle, no Python;
    output rows ≈ n_tokens/stride per doc ride the same scan task.
    """
    if not (0 < stride <= window):
        raise ValueError(f"need 0 < stride ≤ window, got stride={stride} window={window}")
    trimmed = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    toks = F.when(F.length(trimmed) > 0, F.split(trimmed, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )
    n = F.size(F.col("_toks"))
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    # sequence(0, n-1, stride) emits starts ≤ n-1; n=0 short-circuits via
    # the filter below (its lone start 0 has an empty slice)
    wins = F.filter(starts, lambda s: s < n)
    return (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            F.size("_toks").alias("_n"),
            F.posexplode(
                F.transform(
                    wins,
                    lambda s: F.struct(
                        F.array_join(F.slice(F.col("_toks"), s + 1, window), " ").alias(
                            "window_text"
                        ),
                        F.least(F.lit(window), n - s).cast("int").alias("n_tokens"),
                    ),
                )
            ).alias("window_pos", "_w"),
        )
        .select(
            id_col,
            "window_pos",
            F.col("_w.n_tokens").alias("n_tokens"),
            F.col("_w.window_text").alias("window_text"),
        )
    )


def doc_lines(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, pos, line) rows — position kept so stripped documents can be
    reassembled in original order."""
    return docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )


def boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    min_chars: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lines shared by ≥ ``min_docs`` distinct documents — the CCNet-
    style web-corpus cleaning signal (nav bars, cookie banners, license
    footers). One logical aggregate: count_distinct(doc) per line is
    planned as the standard two-phase partial/final, so the hot shared
    lines combine map-side instead of landing on one reducer raw."""
    lines = doc_lines(docs, text_col, id_col).filter(
        F.length(F.trim(F.col("line"))) >= min_chars
    )
    return (
        lines.groupBy("line")
        .agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    docs: DataFrame,
    bl: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every boilerplate line and reassemble each document in
    original line order → (id, text_clean, n_lines_kept). The anti-join
    side is small by construction (only lines shared by many docs), so
    AQE broadcasts it; reassembly is one shuffle on the doc id with a
    per-doc bounded collect_list. Documents whose every line was
    boilerplate drop out (no empty shells in the training set)."""
    kept = doc_lines(docs, text_col, id_col).join(
        bl.select("line"), "line", "left_anti"
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )


def contamination_flags(
    docs: DataFrame,
    probes: DataFrame,
    k_shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_text_col: str = "text",
) -> DataFrame:
    """Test-set decontamination: flag documents sharing any word
    k-shingle with a probe (benchmark/eval) corpus — the standard
    pre-training contamination gate. Probe shingles are
    distinct-exploded (a probe corpus is eval-set-sized, so AQE
    broadcasts the join side); document shingles stream through an
    equi-join — never an all-pairs comparison. Output: (id, n_hits =
    distinct probe shingles found) for contaminated docs only; anti-join
    the result against the corpus to drop them."""
    from zparse_spark.operators.dedup import shingle_sets

    doc_sh = shingle_sets(docs, id_col, text_col, k=k_shingle).select(
        id_col, F.explode("sh").alias("s")
    )
    probe_sh = (
        shingle_sets(probes, probes.columns[0], probe_text_col, k=k_shingle)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    return (
        doc_sh.join(probe_sh, "s")
        .groupBy(id_col)
        .agg(F.countDistinct("s").alias("n_hits"))
    )


def assign_splits(
    df: DataFrame,
    weights: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets exactly
    one split label, chosen by where hash_unit(key) falls in the
    cumulative weight intervals (insertion order; weights must sum to
    ~1, the last split absorbs rounding). The same key ALWAYS lands in
    the same split — across re-runs, resumes, engines, and (critically)
    across corpus versions: adding documents never moves an existing
    document between splits, so eval sets stay frozen while the corpus
    grows. Map-only projection, no shuffle, no rng state; downstream
    per-split writes become one partitionBy(split) sink. Measured (r4,
    1M docs, local[32], median-of-3 incl. a count-by-split action):
    1.6 s ≈ 618k docs/s.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = hash_unit(key_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        # round the cumulative boundary so it equals the double a human
        # (or a SQL twin) would write literally — raw float accumulation
        # yields 0.9+0.05 = 0.9500000000000001, a different double than
        # the literal 0.95, and a key hashing into that 1e-16 sliver
        # would split differently across engines
        acc = round(acc + float(weights[name]), 12)
        expr = F.when(u < acc, name) if expr is None else expr.when(u < acc, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def rebalance_mixture(
    df: DataFrame,
    strata_col: str,
    target: dict[str, float],
    key_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Reshape the corpus toward a target mixture (e.g. 60% en / 30%
    code / 10% other) by downsampling only: the output is the LARGEST
    corpus achievable under the target shares given per-stratum
    availability — the bottleneck stratum (smallest count/share ratio)
    keeps 100%, every other stratum keeps ``n_out·share/count`` via the
    deterministic hash filter. Strata not in ``target`` are dropped.

    Two passes: a tiny groupBy(strata) count whose n_strata-row result
    is collected to the driver (same pattern as the IVF codebook — the
    mixture spec is driver-sized by definition) and folded into CASE
    literals, then ONE map-only filtered scan. The keep decision is a
    pure function of (key, seed, counts), so re-runs and engines agree
    bit-for-bit as long as the fraction arithmetic is the same IEEE
    ops — keep = min(count/share)·share/count, in that order. Measured
    (r4, 1M docs, local[32], median-of-3, counts pass included): 3.2 s
    ≈ 313k docs/s.
    """
    counts = {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(strata_col).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        # a zero/negative share means "drop this stratum", same as not
        # listing it — and must not reach the count/share division
        if r["s"] in target and target[r["s"]] > 0
    }
    if not counts:
        return df.filter(F.lit(False))
    n_out = min(counts[s] / target[s] for s in counts)
    u = hash_unit(key_col, seed)
    frac = None
    for s, c in counts.items():
        keep = n_out * target[s] / c
        cond = F.col(strata_col) == s
        frac = F.when(cond, keep) if frac is None else frac.when(cond, keep)
    return df.filter(u < frac.otherwise(F.lit(0.0)))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    descending: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source document cap — the web-corpus curation rule "keep at
    most n docs per domain, preferring the best": deterministic total
    order (order_col, then id_col ascending as tiebreak) and row_number
    <= n within each group.

    Scale shape: ONE hash-partition shuffle on group_col + per-group
    sort (rank, not global sort). A pathological group (one domain with
    10^8 docs) makes one hot sort task; AQE skew handling splits the
    partition but row_number still needs the group on one logical
    stream — for truly degenerate domains, pre-thin with a per-group
    ORDER-STATISTIC filter first (approx_percentile of order_col at
    n/count(group)) so only ~n+slack candidates reach the window. The
    threshold pre-filter is exposed separately as the composition is
    measurement-driven; default path is the plain window, correct at
    any skew and optimal when groups are bounded (real domain
    distributions are heavy-tailed but bounded by crawl policy).
    """
    ordering = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        F.col(id_col).asc(),
    ]
    from pyspark.sql import Window

    # collision-proof temp name: a caller's own '_rk' (a common ranking
    # column name) must survive the round trip
    rk = "__cap_rk"
    while rk in df.columns:
        rk += "_"
    w = Window.partitionBy(group_col).orderBy(*ordering)
    return (
        df.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= n)
        .drop(rk)
    )


def upsample_by_weight(
    df: DataFrame,
    weight_col,
    key_col: str = "doc_id",
    seed: int = 0,
    max_copies: int = 16,
) -> DataFrame:
    """Deterministic weighted upsampling — the UPSAMPLE half of the
    mixture story (rebalance_mixture is downsample-only by design; when
    the target share of a scarce high-quality source exceeds its
    natural share, epoch-repeat weighting is the standard move):
    each row is replicated ``floor(w)`` times plus one more with
    probability ``frac(w)``, so the expected copy count is exactly the
    weight. The fractional coin is ``hash_unit(key, seed)`` — a pure
    function of the key, so re-runs, resumed jobs and any-SQL twins
    replicate the IDENTICAL multiset (an rng coin would re-deal on
    every retry). The comparison is deterministic cross-engine: the
    md5-nibble hash over 2^32 divides exactly (power-of-two
    denominator) and the fraction is the same IEEE subtraction in both
    engines.

    Rows with w <= 0 drop; w is clamped at ``max_copies`` (a runaway
    weight column must not explode the corpus). Output carries
    ``copy_no`` (1..n) so downstream stays uniquely keyed on
    (key, copy_no). Map-only: no shuffle, the explode multiplies rows
    in place and Parquet scan pruning is unaffected.
    """
    w = (weight_col if not isinstance(weight_col, str) else F.col(weight_col)).cast(
        "double"
    )
    base = F.floor(w).cast("long")
    extra = (hash_unit(key_col, seed) < (w - F.floor(w))).cast("long")
    n = F.least(base + extra, F.lit(int(max_copies)))
    return (
        df.withColumn("_n_copies", n)
        .filter(F.col("_n_copies") >= 1)
        .withColumn(
            "copy_no",
            F.explode(F.sequence(F.lit(1), F.col("_n_copies").cast("int"))),
        )
        .drop("_n_copies")
    )


def shuffle_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Reproducible corpus shuffling for training order: every row gets
    a (shard, pos_in_shard) address that is a pure function of
    (key, seed) — the property data-order ablations and resumable
    training need (df.orderBy(rand()) re-deals on every retry and
    partitioning change; a hash order never does). Disjoint seeds give
    independent permutations (epoch 2 = seed+1).

    Never a global sort: the shard is an md5 bucket (map-only) and the
    position is a rank WITHIN the shard — the only shuffle is the
    hash partition on shard, and each shard sorts independently (the
    cap_per_group discipline). Writers consume it as
    partitionBy(shard) + sortWithinPartitions(pos).
    """
    hv = hash_unit(key_col, seed)
    hv2 = hash_unit(key_col, seed + 1_000_003)
    shard = F.pmod((hv * F.lit(float(0x100000000))).cast("long"), F.lit(int(n_shards)))
    w = Window.partitionBy("_shard").orderBy(
        F.col("_order").asc(), F.col(key_col).cast("string").asc()
    )
    return (
        df.withColumn("_shard", shard.cast("int"))
        .withColumn("_order", hv2)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumnRenamed("_shard", "shard")
        .drop("_order")
    )


def weighted_sample_wor(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: int = 0,
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis–Spirakis A-ES scheme in its exponential-race form: every
    row draws a clock ``t = -ln(u) / w`` (u uniform from the portable
    md5 hash, w its positive weight) and the n smallest clocks win.
    The winning SET has exactly the sequential weighted-WOR
    distribution (each draw picks proportional to remaining weight),
    which is what quality-weighted corpus subsampling wants: a doc with
    2× the quality weight is 2× as likely to take any given slot, yet
    no doc appears twice — ``upsample_by_weight`` solves the opposite
    (with-replacement) problem.

    Determinism contract: u = (md5-nibble(key:seed) + 0.5) / 2^32 is
    strictly inside (0,1) (the +0.5 keeps ln finite at both edges), and
    the clock is normalized by the GLOBAL max weight before rounding —
    ``t = round((-ln u) * max_w / w, 6)`` — so t spans ~[1e-6, 22·max_w
    /min_w] and a 6-decimal round absorbs any cross-engine libm ulp in
    ln while never collapsing distinct clocks of the winners (winner
    clocks are O(1); doubles there carry ~1e-16 ulp). Ties (possible
    only through the rounding) break on key ascending, so the selected
    set is a pure function of (data, seed) on any engine — the same
    contract as hash_sample/assign_splits, and the property a resumable
    or multi-engine pipeline needs.

    Scale shape (100 TB): the weight normalizer is ONE one-row
    aggregate (map-side combined max) cross-joined back as a broadcast;
    the clock is a map-only projection; selection is the cap_per_group
    rank discipline — per-stratum window when ``strata_col`` is given
    (shuffle keyed on strata), else a global TakeOrdered(n) which Spark
    executes as per-partition partial top-n + driver merge of n·tasks
    rows, never a full sort. Rows with NULL or non-positive weight are
    excluded by definition (they can never win a weighted draw).
    """
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    w = F.col(weight_col).cast("double")
    pos = df.filter(w.isNotNull() & (w > 0))
    mx = pos.agg(F.max(w).cast("double").alias("__max_w"))
    hv = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(key_col).cast("string"), F.lit(seed))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    u = (hv + F.lit(0.5)) / F.lit(float(0x100000000))
    t = F.round((F.lit(0.0) - F.log(u)) * F.col("__max_w") / w, 6)
    clocked = pos.crossJoin(F.broadcast(mx)).withColumn("__t", t).drop("__max_w")
    if strata_col is None:
        out = clocked.orderBy(F.col("__t").asc(), F.col(key_col).asc()).limit(n)
    else:
        win = Window.partitionBy(strata_col).orderBy(
            F.col("__t").asc(), F.col(key_col).asc()
        )
        out = clocked.withColumn("__rk", F.row_number().over(win)).filter(
            F.col("__rk") <= n
        ).drop("__rk")
    return out.withColumnRenamed("__t", "sample_clock")


def sample_negatives(
    df: DataFrame,
    key_col: str = "doc_id",
    k: int = 3,
    seed: int = 0,
    n_buckets: int = 64,
) -> DataFrame:
    """X138: deterministic negative sampling — pair every key with k
    pseudo-random OTHER keys (contrastive/triplet training pairs,
    hard-negative mining baselines) without rng state or a global
    shuffle, and reproducibly: the pairing is a pure function of
    (data, seed), so resumed jobs, re-runs, and other engines emit the
    IDENTICAL pairs (df.sample/rand would re-pair on every retry).

    Construction: place keys on a hash ring (u = md5-nibble unit value,
    the hash_sample idiom), split the ring into n_buckets arcs, and take
    each key's k RING SUCCESSORS within its arc, wrapping from arc tail
    to arc head (ties broken by key). md5 destroys any correlation
    between key locality and ring locality, so successors are an
    unbiased draw of distinct negatives; disjoint seeds re-mix the ring.
    Keys in arcs smaller than k+1 get all their arc-mates (fewer than k)
    rather than a cross-arc shuffle — size n_buckets so the expected arc
    population >> k.

    Output: (key, neg_rank, negative_id), neg_rank in [0, k).

    Scale shape: windows partition BY ARC (bounded, parallel — never a
    global ring sort); the wrap list is n_buckets x (k+1) tiny rows,
    broadcast back. One shuffle on the arc id. At 10^12 keys raise
    n_buckets so each arc stays executor-sized; the plan is unchanged.
    """
    from pyspark.sql import Window

    base = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .filter(F.col("key").isNotNull())
        .distinct()
        .select("key", hash_unit("key", seed).alias("u"))
        .withColumn("bucket", F.floor(F.col("u") * n_buckets).cast("long"))
    )
    win = Window.partitionBy("bucket").orderBy(F.col("u").asc(), F.col("key").asc())
    wr = base.withColumn(
        "leads", F.array(*[F.lead("key", i).over(win) for i in range(1, k + 1)])
    ).withColumn("rn", F.row_number().over(win))
    heads = (
        wr.filter(F.col("rn") <= k + 1)
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("rn", "key"))).alias("hs"))
        .select("bucket", F.transform("hs", lambda s: s["key"]).alias("head"))
    )
    ld = F.filter(F.col("leads"), lambda x: x.isNotNull())
    fill = F.array_except(F.col("head"), F.concat(ld, F.array(F.col("key"))))
    negs = F.concat(ld, F.slice(fill, F.lit(1), F.lit(k) - F.size(ld)))
    return (
        wr.join(F.broadcast(heads), "bucket")
        .select(F.col("key").alias(key_col), F.posexplode(negs).alias("neg_rank", "negative_id"))
    )


def _dsir_bucket(tok, n_buckets: int):
    """Engine-portable token bucket: first 8 md5 nibbles as an integer,
    mod n_buckets — the same idiom as hash_unit/cap_hot_buckets, so a
    SQL twin reproduces the bucketing bit-for-bit."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % n_buckets


def dsir_fit(
    docs: DataFrame,
    target,
    n_buckets: int = 256,
    text_col: str = "text",
    quant: int = 1_000_000,
) -> tuple[list[tuple[int, int]], int]:
    """Fit DSIR-style hashed-unigram importance log-ratios (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): bucket every token into ``n_buckets`` portable md5
    buckets, count the bucket distribution over the whole corpus (raw)
    and over the ``target`` predicate's rows, and return per-bucket
    add-1-smoothed log(p_target/p_raw), quantized to integer micro-nats
    so the scoring pass aggregates EXACTLY (the only float op is one
    libm ln per bucket, inside Spark, mirrored by the oracle's ln).

    Returns (model, default) where model is <= n_buckets (bucket, lmr)
    pairs and default is the unseen-bucket log-ratio (both counts 0) —
    only reachable when scoring a different corpus than was fit.

    Scale shape: one token-explode -> n_buckets-row groupBy (map-side
    combined; shuffle payload is tasks x n_buckets rows regardless of
    corpus size), one collect of <= n_buckets integers — the model is a
    driver-side artifact exactly like the trained IVF codebook (X13).
    At 10^12 docs, fit on a hash_sample() slice; scoring is unchanged.
    """
    t = F.col(text_col)
    toks = (
        docs.filter(t.isNotNull() & (F.trim(t) != ""))
        .select(
            F.explode(
                F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != "")
            ).alias("token"),
            target.alias("_tgt"),
        )
    )
    dist = toks.groupBy(_dsir_bucket(F.col("token"), n_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("raw_n"), F.count_if(F.col("_tgt")).alias("tgt_n")
    )
    tot = dist.agg(
        F.sum("raw_n").alias("raw_total"), F.sum("tgt_n").alias("tgt_total")
    )
    lmr = (
        F.round(
            (
                F.log(F.col("tgt_n") + 1)
                - F.log(F.col("tgt_total") + n_buckets)
                - F.log(F.col("raw_n") + 1)
                + F.log(F.col("raw_total") + n_buckets)
            )
            * quant
        )
        .cast("long")
        .alias("lmr")
    )
    default_col = (
        F.round(
            (F.log(F.col("raw_total") + n_buckets) - F.log(F.col("tgt_total") + n_buckets))
            * quant
        )
        .cast("long")
        .alias("lmr")
    )
    rows = dist.crossJoin(F.broadcast(tot)).select("bucket", lmr).collect()
    default = tot.select(default_col).collect()[0]["lmr"]
    return [(int(r["bucket"]), int(r["lmr"])) for r in rows], int(default)


def dsir_score(
    docs: DataFrame,
    model: list[tuple[int, int]],
    default: int,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
    top_k: int = 100,
    quant: int = 1_000_000,
) -> DataFrame:
    """Score every document's DSIR importance (sum over its tokens of
    the fitted bucket log-ratio, exact integer micro-nats) and return
    the top_k by length-normalized average log-ratio — the documents
    whose hashed-unigram profile most resembles the target slice.

    MAP-ONLY: the <= n_buckets model enters as a foldable map literal
    (Catalyst constant-folds CreateMap of literals once, not per
    token), each doc folds its token array with aggregate(), and the
    only shuffle is the top_k TakeOrdered. No Python in the plan."""
    m = F.map_from_arrays(
        F.array(*[F.lit(b) for b, _ in model]),
        F.array(*[F.lit(v) for _, v in model]),
    )
    t = F.col(text_col)
    base = docs.filter(t.isNotNull() & (F.trim(t) != "")).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.filter(F.split(F.lower(F.trim(t)), r"\s+"), lambda x: x != "").alias("_toks"),
    )
    scored = base.select(
        id_col,
        *keep_cols,
        F.size("_toks").alias("n_tokens"),
        F.aggregate(
            "_toks",
            F.lit(0).cast("long"),
            lambda acc, tk: acc
            + F.coalesce(
                F.element_at(m, _dsir_bucket(tk, n_buckets)), F.lit(default)
            ),
        ).alias("sum_lmr"),
    )
    return (
        scored.select(
            id_col,
            *keep_cols,
            "n_tokens",
            "sum_lmr",
            F.round(F.col("sum_lmr") / (F.col("n_tokens") * float(quant)), 6).alias(
                "avg_lmr_nats"
            ),
        )
        .orderBy(F.col("avg_lmr_nats").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def split_leakage_pairs(
    pairs: DataFrame,
    splits: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    key_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Train/test contamination audit: near-duplicate pairs whose two
    members were assigned to DIFFERENT splits — the leak that silently
    inflates eval scores (the benchmark-contamination gate X23 checks
    the corpus against an external benchmark; this checks the corpus
    against its own frozen eval split).

    Composition contract: ``pairs`` is any verified near-dup pair table
    (winnowing / MinHash-verified / exact-hash pairs), ``splits`` the
    deterministic assignment from ``assign_splits`` — both already
    engine-portable, so the leak set is a pure function of (corpus,
    seed, dedup parameters). Scale shape: the pair table is tiny
    relative to the corpus (it is a dedup OUTPUT), so the two split
    lookups are fact-to-compact joins keyed by doc id; nothing here
    rescans text. Output keeps every pair column and adds split_a /
    split_b, filtered to split_a != split_b.
    """
    sa = splits.select(F.col(key_col).alias(id_a), F.col(split_col).alias("split_a"))
    sb = splits.select(F.col(key_col).alias(id_b), F.col(split_col).alias("split_b"))
    return (
        pairs.join(sa, id_a)
        .join(sb, id_b)
        .filter(F.col("split_a") != F.col("split_b"))
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size token chunking for context-window construction: every
    document becomes ceil(n_tokens / max_tokens) chunks of consecutive
    whitespace tokens, order-preserving, deterministically keyed by
    (doc_id, chunk_id) — the standard block-prep step between the
    admission filter and the pack/shuffle stages of a training-set
    build. Whitespace is normalized to single spaces in the chunk text
    (the build_vocabulary tokenization); documents with no tokens emit
    zero chunks.

    Scale shape: MAP-ONLY until the unavoidable output explode — the
    token array, the chunk count, and every chunk's slice are
    higher-order functions over one projection (tokens bound once as a
    lambda variable — same CollapseProject trap as winnowing's hash
    ladder, dedup.py:1004), and the posexplode emits exactly the
    output rows. No shuffle, no window, no Python; the plan is a scan
    plus Generate.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    # bind the token array once (HOF variable) so the per-chunk slices
    # do not re-tokenize per chunk after CollapseProject inlining
    def _chunks(ts):
        n = F.size(ts)
        n_chunks = F.ceil(n.cast("double") / max_tokens).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.alias("chunk_id"),
                    F.least(n - i * max_tokens, F.lit(max_tokens)).alias("n_tokens"),
                    F.array_join(
                        F.slice(ts, i * max_tokens + 1, max_tokens), " "
                    ).alias("chunk_text"),
                ),
            ),
        ).otherwise(F.array())
    chunks = F.flatten(F.transform(F.array(toks), _chunks))
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("_ch"))
        .select(
            id_col,
            F.col("_ch.chunk_id").alias("chunk_id"),
            F.col("_ch.n_tokens").alias("n_tokens"),
            F.col("_ch.chunk_text").alias("chunk_text"),
        )
    )
