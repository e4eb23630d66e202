"""Seeded inputs for the validation-gate benchmark.

Every table is a pure function of (spec, seed): flat text is drawn with
``xxhash64(id, seed)``, lifted to interleaved span documents by
``zparse_spark.sources.interleave_documents``, and then a planted class is
stamped on each row (``_cls``). The catalog comes from
``zparse_spark.sources.datagen.generate_media_catalog`` and the M1 payloads
from ``zparse_spark.multimodal.synthesize_codec_payloads``.

Expected violation counts are derived from the plan, never from the engine:
each class contributes fixed per-rule counts (``CLASS_RULES``), and the two
rules that depend on another table (R1: catalog, M1: payloads) are counted
per row with the same hash predicates that drop catalog keys and corrupt
payloads (``_r1``, ``_m1``).

Media keys stay below 100000 because ``interleave_documents`` pads keys to
five digits; a catalog larger than ``broadcast_max_catalog_rows`` is reached
by lowering that threshold, not by widening the key space.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from zparse_spark.multimodal import synthesize_codec_payloads
from zparse_spark.operators.rules import RuleParams
from zparse_spark.sources.datagen import generate_media_catalog
from zparse_spark.sources.interleave import interleave_documents

_WORDS = [
    "table", "scan", "merge", "join", "window", "batch", "stream", "filter",
    "column", "vector", "query", "order", "group", "hash", "sort", "parse",
]

# planted span classes, in bucket order; each row of a class yields exactly
# these violation rows (R1/M1 are counted per row, see module docstring)
CLASS_RULES: dict[str, dict[str, int]] = {
    "offset_regression": {"S1": 1},
    "null_kind": {"S2": 1},
    "bad_kind": {"S2": 1, "S8": 1},  # 'hologram' with no media_ref
    "oversize_spans": {"S3": 1},
    "control_chars": {"S5": 1},
    "bad_escape": {"S6": 1},
    "bad_unicode": {"S7": 1},
    "text_with_media_ref": {"S8": 1},
    "dangling_media": {},  # one ghost ref: R1 (and M1 when on) via _r1/_m1
    "dup_doc_id": {"U1": 1},  # every copy of a duplicated id is a U1 row
    "hot_dup": {"U1": 1},
    "drift": {},
    "valid": {},
}
SPAN_CLASSES = list(CLASS_RULES)[:9]
MAX_SPANS = RuleParams().max_spans


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's input. Counts are scaled by ``scale()``."""

    n_docs: int
    words: tuple[int, int]  # flat-text length range, in words
    n_partitions: int
    n_media_refs: int  # catalog key space; < 100000 (five-digit keys)
    class_permille: int  # share of docs in EACH planted span class
    dup_permille: int  # share of docs emitted twice
    hot_copies: int  # copies of one hot doc_id, spread over partitions
    drop_fraction: float  # catalog keys dropped -> dangling refs
    drift_docs: int  # docs of the single drifted partition
    broadcast_max_catalog_rows: int = 1_000_000
    append_docs: int = 0  # docs in newly appended partitions (resume)
    append_partitions: int = 0
    corrupt_permille: int = 0  # truncated M1 payloads (resume)

    def scale(self, f: float) -> "Spec":
        from dataclasses import replace

        def s(n: int, floor: int) -> int:
            return max(floor, int(n * f)) if n else 0

        # partitions shrink with the docs: a partition of a few dozen docs
        # has a noisy span-kind mix and would trip D1 by chance
        return replace(
            self,
            n_docs=s(self.n_docs, 200),
            n_partitions=s(self.n_partitions, 2),
            hot_copies=s(self.hot_copies, 3),
            drift_docs=s(self.drift_docs, 10),
            append_docs=s(self.append_docs, 100),
            append_partitions=s(self.append_partitions, 1),
        )


def _flat(spark: SparkSession, spec: Spec, seed: int, id_base: int, n: int) -> DataFrame:
    lo, hi = spec.words
    word_arr = F.array(*[F.lit(w) for w in _WORDS])
    n_words = (F.pmod(F.xxhash64("id", F.lit(seed), F.lit("len")), F.lit(hi - lo + 1)) + lo).cast("int")
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                word_arr,
                (F.pmod(F.xxhash64(F.col("id"), i, F.lit(seed)), F.lit(len(_WORDS))) + 1).cast("int"),
            ),
        ),
        " ",
    )
    return spark.range(id_base, id_base + n).select(F.col("id").alias("doc_id"), text.alias("text"))


def _span(kind, text, media_ref, offset) -> Column:
    return F.struct(
        kind.alias("kind"),
        text.alias("text"),
        media_ref.cast("string").alias("media_ref"),
        offset.cast("int").alias("offset"),
    )


def _plant(docs: DataFrame, spec: Spec, seed: int) -> DataFrame:
    """Stamp ``_cls`` by hash bucket and mutate spans to match it. Span 0
    is always a non-empty text span (interleave puts text first)."""
    bucket = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit("cls")), F.lit(1000))
    k = spec.class_permille
    cls = F.lit("valid")
    edges = [(c, i * k, (i + 1) * k) for i, c in enumerate(SPAN_CLASSES)]
    edges.append(("dup_doc_id", len(SPAN_CLASSES) * k, len(SPAN_CLASSES) * k + spec.dup_permille))
    for c, lo, hi in reversed(edges):
        cls = F.when((bucket >= lo) & (bucket < hi), F.lit(c)).otherwise(cls)
    docs = docs.withColumn("_cls", cls)

    s = F.col("spans")
    first = F.element_at(s, 1)
    last_off = F.element_at(s, -1)["offset"]
    rest = F.slice(s, 2, 1_000_000)
    no_ref = F.lit(None).cast("string")

    def first_as(kind=None, text=None, media_ref=None) -> Column:
        return F.concat(
            F.array(
                _span(
                    first["kind"] if kind is None else kind,
                    first["text"] if text is None else text,
                    first["media_ref"] if media_ref is None else media_ref,
                    first["offset"],
                )
            ),
            rest,
        )

    mutated = {
        # a copy of span 0 ahead of it with a higher offset: S1 at span 1
        "offset_regression": F.concat(
            F.array(_span(first["kind"], first["text"], first["media_ref"], first["offset"] + 10)), s
        ),
        "null_kind": first_as(kind=F.lit(None).cast("string")),
        "bad_kind": first_as(kind=F.lit("hologram")),
        "oversize_spans": F.concat(
            s,
            F.transform(
                F.sequence(F.lit(1), F.lit(MAX_SPANS + 1)),
                lambda i: _span(F.lit("text"), F.lit("pad"), no_ref, last_off + i),
            ),
        ),
        "control_chars": first_as(text=F.concat(first["text"], F.lit("\n"))),
        "bad_escape": first_as(text=F.concat(first["text"], F.lit(" \\q"))),
        "bad_unicode": first_as(text=F.concat(first["text"], F.lit(" \\uDZZZ"))),
        "text_with_media_ref": first_as(media_ref=F.lit("media_00001")),
        "dangling_media": F.concat(
            s,
            F.array(
                _span(F.lit("image"), F.lit(""), F.concat(F.lit("ghost_"), F.col("doc_id")), last_off + 1)
            ),
        ),
    }
    expr = s
    for c, m in mutated.items():
        expr = F.when(F.col("_cls") == c, m).otherwise(expr)
    docs = docs.withColumn("spans", expr)
    # a dup_doc_id row is emitted twice, in the same pass over the input
    copies = F.when(F.col("_cls") == "dup_doc_id", F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0)))
    return docs.withColumn("_copy", F.explode(copies)).drop("_copy")


def _ref_key(seed: int, *parts: Column, n: int) -> Column:
    bucket = F.pmod(F.xxhash64(*parts, F.lit(seed)), F.lit(n))
    return F.concat(F.lit("media_"), F.lpad(bucket.cast("string"), 5, "0"))


def _extras(spark: SparkSession, spec: Spec, seed: int) -> list[DataFrame]:
    """The hot duplicated doc_id and the drifted partition (all 'code'
    media spans, so its span-kind PSI is far above the threshold)."""
    parts = []
    if spec.hot_copies:
        parts.append(
            spark.range(spec.hot_copies).select(
                F.lit("hot").alias("doc_id"),
                F.array(_span(F.lit("text"), F.lit("hot key"), F.lit(None), F.lit(0))).alias("spans"),
                F.concat(F.lit("p"), F.lpad(F.pmod("id", F.lit(spec.n_partitions)).cast("string"), 3, "0")).alias(
                    "partition"
                ),
                F.lit("hot_dup").alias("_cls"),
            )
        )
    if spec.drift_docs:
        parts.append(
            spark.range(spec.drift_docs).select(
                F.concat(F.lit("drift_"), F.col("id").cast("string")).alias("doc_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda j: _span(
                        F.lit("code"), F.lit(""), _ref_key(seed, F.col("id"), j, n=spec.n_media_refs), j * 2
                    ),
                ).alias("spans"),
                F.lit("pdrift").alias("partition"),
                F.lit("drift").alias("_cls"),
            )
        )
    return parts


def _dropped(ref: Column, spec: Spec, seed: int) -> Column:
    # the exact predicate generate_media_catalog uses to drop keys
    return F.pmod(F.xxhash64(ref, F.lit(seed)), F.lit(1000)) < int(spec.drop_fraction * 1000)


def _corrupt(ref: Column, spec: Spec, seed: int) -> Column:
    return F.pmod(F.xxhash64(ref, F.lit(seed), F.lit("bad")), F.lit(1000)) < spec.corrupt_permille


def _with_planted_refs(docs: DataFrame, spec: Spec, seed: int) -> DataFrame:
    """Per-row planted R1 / M1 counts from the generator's own predicates."""
    spans = F.coalesce(F.col("spans"), F.array())

    def count(pred) -> Column:
        return F.size(F.filter(spans, lambda x: x["media_ref"].isNotNull() & pred(x["media_ref"])))

    def ghost(r):
        return r.startswith("ghost_")

    return docs.withColumn("_r1", count(lambda r: ghost(r) | _dropped(r, spec, seed))).withColumn(
        "_m1", count(lambda r: ghost(r) | _corrupt(r, spec, seed))
    )


def documents(spark: SparkSession, spec: Spec, seed: int, appended: bool = False) -> DataFrame:
    """Documents plus label columns ``_cls``, ``_r1``, ``_m1``. With
    ``appended`` the rows are the resume workload's new partitions
    (``q000``…): a disjoint id range, no hot key, no drifted partition."""
    if appended:
        flat = _flat(spark, spec, seed, spec.n_docs, spec.append_docs)
        n_parts = spec.append_partitions
    else:
        flat = _flat(spark, spec, seed, 0, spec.n_docs)
        n_parts = spec.n_partitions
    docs = interleave_documents(flat, n_partitions=n_parts, media_every=3, n_media_refs=spec.n_media_refs)
    if appended:
        docs = docs.withColumn("partition", F.concat(F.lit("q"), F.substring("partition", 2, 8)))
    docs = _plant(docs, spec, seed)
    if not appended:
        for extra in _extras(spark, spec, seed):
            docs = docs.unionByName(extra)
    return _with_planted_refs(docs, spec, seed)


def media_catalog(spark: SparkSession, spec: Spec, seed: int) -> DataFrame:
    return generate_media_catalog(spark, spec.n_media_refs, drop_fraction=spec.drop_fraction, seed=seed)


def payloads(spark: SparkSession, n: int, spec: Spec, seed: int) -> DataFrame:
    """Real BMP/WAV/ZVID payloads for keys ``media_00000``…; the keys the
    ``_corrupt`` predicate selects are truncated to 20 bytes."""
    pay = synthesize_codec_payloads(spark, n_media=n)
    truncated = F.to_binary(F.substring(F.hex("payload"), 1, 40), F.lit("hex"))
    return pay.withColumn("payload", F.when(_corrupt(F.col("media_ref"), spec, seed), truncated).otherwise(F.col("payload")))


def expected_cells(labels: DataFrame, m1: bool) -> tuple[dict[tuple[str, str], int], dict[str, int]]:
    """Planted violation counts per (partition, rule_id), non-zero cells
    only, from the label columns of ``labels``; and the rows per partition."""
    rows = labels.groupBy("partition", "_cls").agg(
        F.count(F.lit(1)).alias("n"), F.sum("_r1").alias("r1"), F.sum("_m1").alias("m1")
    ).collect()
    out: dict[tuple[str, str], int] = {}
    sizes: dict[str, int] = {}

    def add(part, rule, k):
        if k:
            out[(part, rule)] = out.get((part, rule), 0) + k

    for r in rows:
        p = r["partition"]
        sizes[p] = sizes.get(p, 0) + r["n"]
        for rule, k in CLASS_RULES[r["_cls"]].items():
            add(p, rule, k * r["n"])
        add(p, "R1", r["r1"])
        if m1:
            add(p, "M1", r["m1"])
        if r["_cls"] == "drift":
            out[(p, "D1")] = 1  # one row for the drifted partition
    return out, sizes


def rule_totals(cells: dict[tuple[str, str], int], rules: list[str]) -> dict[str, int]:
    totals = dict.fromkeys(rules, 0)
    for (_, rule), n in cells.items():
        totals[rule] += n
    return totals
