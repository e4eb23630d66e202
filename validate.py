"""Production entry point: ``spark-submit --py-files zparse_spark.zip
validate.py --documents ... --catalog ... --out ...``.

The CLI mirrors the reference's ``zparse parse`` contract
(crates/zparse-cli/src/main.rs:153-259): arguments select input, rule
configuration (limits, lenient flags), and output; the process exit code
is the verdict (0 = all partitions pass, 1 = violations found) — the
table-scale analog of "print ok or exit nonzero" (main.rs:225-230).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="zparse-spark-validate")
    ap.add_argument("--documents", required=True, help="parquet/iceberg path of the documents table")
    ap.add_argument("--catalog", help="media catalog path (enables R1)")
    ap.add_argument("--media", help="media payload table path (enables M1: payloads must decode)")
    ap.add_argument("--out", required=True, help="output dir: violations/, verdicts/, metrics/, manifest")
    ap.add_argument("--max-spans", type=int, default=128)
    ap.add_argument("--max-text-bytes", type=int, default=10 * 1024 * 1024)
    ap.add_argument("--psi-threshold", type=float, default=0.25)
    ap.add_argument("--lenient-offsets", action="store_true",
                    help="allow equal offsets in S1 (non-decreasing instead of strictly increasing)")
    ap.add_argument("--check-span-overlap", action="store_true",
                    help="enable S9: span extents (offset + char length of text) must not "
                         "overlap — only meaningful when offsets are character positions "
                         "(changes rules_hash)")
    ap.add_argument("--waivers", help="parquet path of a curated waiver table "
                                      "(waiver_id, rule_id, partition, doc_id, reason, expires_at); "
                                      "matching violations are reported under waived_violations/ "
                                      "but never fail a cell or the exit code")
    ap.add_argument("--as-of", default=None, metavar="ISO",
                    help="reference instant for waiver expiry (default: now); pass a "
                         "literal for reproducible runs")
    ap.add_argument("--sample-fraction", type=float, default=None, metavar="F",
                    help="screening mode: estimate per-(partition, rule) violation "
                         "rates with Wilson bounds from a deterministic F-fraction "
                         "document sample instead of running the full pack; writes "
                         "sampled_rates/ and exits 1 iff any cell's ci_lo > 0 (a "
                         "statistically confident breach). U1/D1 are not estimable "
                         "from a sample and are skipped")
    ap.add_argument("--sample-seed", type=int, default=0)
    ap.add_argument("--repair", action="store_true",
                    help="after validation, write the canonical repaired table "
                         "(repaired_documents/) and its action log (repair_log/): "
                         "S2/S8 drops, S8/S5 fixes, canonical sort, S3 truncation, "
                         "compact reindex — S4/S6/S7 have no canonical fix and stay "
                         "quarantine material")
    ap.add_argument("--media-kind-fd", action="store_true",
                    help="enable F1: the same media_ref must carry the same span kind "
                         "table-wide (catalog/referent agreement; changes rules_hash)")
    ap.add_argument("--media-no-check-missing", action="store_true",
                    help="skip M1's referenced-but-absent anti-join (use when the payload "
                         "table is ingest-guaranteed complete; changes rules_hash)")
    ap.add_argument(
        "--contract", metavar="PATH",
        help="YAML data contract (plans/contract.py format): its checks "
             "load as K-rules alongside --check entries — same violation "
             "schema, verdict grid, and rules_hash/resume discipline",
    )
    ap.add_argument(
        "--emit-contract", metavar="PATH",
        help="profile the documents table (doc-level computed columns "
             "n_spans/total_text_bytes + the partition domain) and write "
             "a suggested YAML contract for human review — suggestions "
             "are evidence, never auto-enforced",
    )
    ap.add_argument("--junit-xml", metavar="PATH",
                    help="write the verdict grid as JUnit XML (one testcase per "
                         "partition x rule cell) for CI ingestion")
    ap.add_argument("--report-md", metavar="PATH",
                    help="write a human-readable Markdown run summary")
    ap.add_argument(
        "--profile", action="store_true",
        help="also write corpus profile sinks: layout_profile/ (span-kind "
             "layout census), file_sizing_plan/ (per-partition compaction "
             "plan), media_cooccurrence/ (asset basket pairs) — the "
             "discovery surface next to the pass/fail one",
    )
    ap.add_argument(
        "--text-audit", action="store_true",
        help="also write text_audits/: per-partition mixed-script homoglyph, "
             "code-switching, and Unicode-NFC audits over the RENDERED "
             "training text (render_training_text) — the release-gate "
             "surface next to the pass/fail one",
    )
    ap.add_argument(
        "--exemplars", type=int, default=0, metavar="N",
        help="also write exemplars/: up to N deterministic example violation "
             "rows per (partition, rule) cell (portable md5 ranking — resumes "
             "and reruns select the identical examples)",
    )
    ap.add_argument(
        "--no-resume", action="store_true",
        help="revalidate everything: delete the resume state in --out (manifest.jsonl, "
             "violations/, violations_table/) first; other files in --out are kept",
    )
    ap.add_argument("--master", default=None, help="override master (default: spark-submit supplies it)")
    ap.add_argument(
        "--warn-rules", default="", metavar="R1,D1,...",
        help="comma-separated rule ids demoted to WARN severity: their "
             "violations are written and reported but never fail a partition "
             "or the exit code",
    )
    ap.add_argument(
        "--checksum", action="store_true",
        help="also write checksum/: per-partition order-insensitive content "
             "digest (count + bit_xor + modular sum over canonical row hashes; "
             "spans serialized via to_json) — a resumed or re-partitioned rerun "
             "must reproduce it bit-for-bit",
    )
    ap.add_argument(
        "--suite", metavar="SPEC.json",
        help="run a declarative expectation suite (flat + grouped entries; "
             "grouped = entries with a 'by' key) against the documents table "
             "and any --suite-table extras; verdicts land in expectations/ "
             "(and expectations_grouped/), and any failed expectation fails "
             "the exit code alongside error-severity rule cells",
    )
    ap.add_argument(
        "--suite-table", action="append", default=[], metavar="NAME=PATH",
        help="extra parquet table exposed to --suite under NAME — repeatable",
    )
    ap.add_argument(
        "--check", action="append", default=[], metavar="ID:LEVEL:PREDICATE",
        help="user CHECK constraint, e.g. K1:span:'offset >= 0' — repeatable; "
             "LEVEL is doc|span; predicate is Spark SQL, NULL passes (ANSI CHECK). "
             "Part of rules_hash, so adding/editing one invalidates resume state.",
    )
    args = ap.parse_args(argv)

    from zparse_spark.operators.rules import CheckConstraint, RuleParams
    from zparse_spark.plans.engine import ValidationConfig, ValidationEngine
    from zparse_spark.plans.manifest import Manifest, run_with_manifest
    from zparse_spark.session import get_spark

    spark = get_spark(app_name="zparse_spark_validate", master=args.master)
    params = RuleParams(
        max_spans=args.max_spans,
        max_text_bytes=args.max_text_bytes,
        psi_threshold=args.psi_threshold,
        allow_equal_offsets=args.lenient_offsets,
        check_span_overlap=args.check_span_overlap,
    )
    checks = []
    for spec in args.check:
        bits = spec.split(":", 2)
        if len(bits) != 3:
            ap.error(f"--check {spec!r}: expected ID:LEVEL:PREDICATE")
        checks.append(CheckConstraint(rule_id=bits[0], level=bits[1], predicate=bits[2]))
    if args.contract:
        from zparse_spark.plans.contract import import_contract

        with open(args.contract) as fh:
            checks.extend(import_contract(fh.read()))
    engine = ValidationEngine(
        ValidationConfig(
            params=params,
            enable_referential=args.catalog is not None,
            enable_media_decode=args.media is not None,
            media_check_missing=not args.media_no_check_missing,
            enable_media_kind_fd=args.media_kind_fd,
            check_constraints=tuple(checks),
        )
    )
    docs = spark.read.parquet(args.documents)
    catalog = spark.read.parquet(args.catalog) if args.catalog else None
    media_verdicts = None
    if args.media:
        from zparse_spark.multimodal import decode_verdicts

        media_verdicts = decode_verdicts(spark.read.parquet(args.media))

    if args.sample_fraction is not None:
        from pyspark.sql import functions as F

        from zparse_spark.plans.engine import sampled_validation

        rates = sampled_validation(
            docs, engine, args.sample_fraction, seed=args.sample_seed,
            media_catalog=catalog, media_verdicts=media_verdicts,
        )
        rates.write.mode("overwrite").parquet(f"{args.out}/sampled_rates")
        back = spark.read.parquet(f"{args.out}/sampled_rates")
        n_cells = back.count()
        n_conf = back.filter(F.col("ci_lo") > 0).count()
        print(f"sampled screening (fraction={args.sample_fraction}): "
              f"{n_cells} cells, {n_conf} with a statistically confident breach")
        spark.stop()
        return 0 if n_conf == 0 else 1

    manifest = Manifest(args.out)
    if args.no_resume:
        # only what run_with_manifest resumes from: --out may hold anything
        manifest.reset()
    done = run_with_manifest(engine, docs, catalog, args.out, media_verdicts=media_verdicts)

    viol = manifest.read_violations(spark, engine.config.rules_hash())
    n_waived = 0
    if args.waivers:
        from zparse_spark.plans.engine import apply_waivers

        # waived rows stay on disk for the report; only KEPT violations
        # reach the verdict grid and the exit code — a waiver is the
        # "acknowledged, don't page" valve, never data deletion
        viol, waived = apply_waivers(viol, spark.read.parquet(args.waivers), as_of=args.as_of)
        waived.write.mode("overwrite").parquet(f"{args.out}/waived_violations")
        n_waived = spark.read.parquet(f"{args.out}/waived_violations").count()
    engine.verdicts(docs, viol).write.mode("overwrite").parquet(f"{args.out}/verdicts")
    # everything below reads the grid back: the lazy plan would rescan the
    # docs' partitions and the sinks on every action
    verdicts = spark.read.parquet(f"{args.out}/verdicts")
    engine.metrics(docs).write.mode("overwrite").parquet(f"{args.out}/metrics")

    from pyspark.sql import functions as F

    from zparse_spark.plans.engine import partition_verdicts

    warn_rules = [r.strip() for r in args.warn_rules.split(",") if r.strip()]
    # known = the rules ACTIVE under this run's config (engine is the
    # single source of truth), not the full built-in set: --warn-rules M1
    # with no --media silently demotes nothing — that deserves the warning
    known = set(engine.active_rule_ids())
    for r in warn_rules:
        if r not in known:
            print(f"warning: --warn-rules entry {r!r} matches no active rule "
                  f"for this run (active: {sorted(known)}) — it will have no effect")
    rollup = partition_verdicts(verdicts, warn_rules=warn_rules)
    rollup.write.mode("overwrite").parquet(f"{args.out}/partition_verdicts")

    if args.junit_xml or args.report_md:
        from zparse_spark.plans.report import junit_xml, markdown_report

        # the same violation rows the verdict grid counts: this run's
        # rules_hash only, table-rule sink included, waived rows excluded
        if args.junit_xml:
            with open(args.junit_xml, "w") as fh:
                fh.write(junit_xml(verdicts, viol))
        if args.report_md:
            with open(args.report_md, "w") as fh:
                fh.write(markdown_report(verdicts, viol))

    if args.emit_contract:
        from pyspark.sql import functions as F  # noqa: F811

        from zparse_spark.operators.rules import span_text_bytes
        from zparse_spark.plans.contract import export_contract

        doc_level = docs.select(
            "partition",
            F.size("spans").alias("n_spans"),
            span_text_bytes().alias("total_text_bytes"),
        )
        text = export_contract(
            doc_level,
            table="documents",
            numeric_cols=["n_spans", "total_text_bytes"],
            categorical_cols=["partition"],
        )
        with open(args.emit_contract, "w") as fh:
            fh.write(text)
        print(f"contract written: {args.emit_contract}")

    if args.text_audit:
        from pyspark.sql import functions as F  # noqa: F811

        from zparse_spark.functions.text import (
            code_switching_audit,
            mixed_script_audit,
            nfc_audit,
        )
        from zparse_spark.operators.canonical import render_training_text

        rendered = render_training_text(docs).select(
            "partition", "doc_id", F.col("training_text").alias("text")
        )
        mixed_script_audit(rendered, "text", "partition", "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{args.out}/text_audits/mixed_script")
        code_switching_audit(rendered, "text", "partition", "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{args.out}/text_audits/code_switching")
        nfc_audit(rendered, "text", "partition", "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{args.out}/text_audits/nfc")

    if args.exemplars > 0:
        from zparse_spark.operators.rules import violation_exemplars

        violation_exemplars(viol, n=args.exemplars).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/exemplars")

    if args.profile:
        from zparse_spark.operators.canonical import media_cooccurrence, span_layout_profile
        from zparse_spark.operators.layout import file_sizing_plan

        span_layout_profile(docs).write.mode("overwrite").parquet(
            f"{args.out}/layout_profile"
        )
        file_sizing_plan(docs).write.mode("overwrite").parquet(
            f"{args.out}/file_sizing_plan"
        )
        media_cooccurrence(docs).write.mode("overwrite").parquet(
            f"{args.out}/media_cooccurrence"
        )

    if args.checksum:
        from pyspark.sql import functions as F

        from zparse_spark.operators.checksum import table_checksum

        # spans serialize through to_json so the digest covers the full
        # interleaved content with checksum-portable (string) columns
        flat = docs.select(
            "partition",
            F.col("doc_id").cast("string").alias("doc_id"),
            F.to_json(F.col("spans")).alias("spans_json"),
        )
        table_checksum(flat, group_cols=["partition"]).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/checksum")

    if args.repair:
        from zparse_spark.operators.canonical import repair_documents

        repaired, repair_log = repair_documents(docs, params)
        repaired.write.mode("overwrite").parquet(f"{args.out}/repaired_documents")
        repair_log.write.mode("overwrite").parquet(f"{args.out}/repair_log")

    n_suite_fail = 0
    if args.suite:
        import json as _json

        from zparse_spark.operators.expectations import (
            expectation_suite,
            grouped_expectation_suite,
        )

        with open(args.suite) as fh:
            suite_spec = _json.load(fh)
        tables = {"documents": docs}
        for kv in args.suite_table:
            name, _, path = kv.partition("=")
            tables[name] = spark.read.parquet(path)
        flat_spec = [e for e in suite_spec if "by" not in e]
        grouped_spec = [e for e in suite_spec if "by" in e]
        if flat_spec:
            flat_v = expectation_suite(tables, flat_spec)
            flat_v.write.mode("overwrite").parquet(f"{args.out}/expectations")
            n_suite_fail += flat_v.filter("NOT passed").count()
        if grouped_spec:
            grp_v = grouped_expectation_suite(tables, grouped_spec)
            grp_v.write.mode("overwrite").parquet(
                f"{args.out}/expectations_grouped"
            )
            n_suite_fail += grp_v.filter("NOT passed").count()

    n_viol = viol.count()
    n_fail = verdicts.filter("NOT passed").count()
    # exit code keys on ERROR-severity cells only: warn-rule violations
    # are written and reported but never page anyone
    rollup_back = spark.read.parquet(f"{args.out}/partition_verdicts")
    n_error_cells = rollup_back.agg(F.sum("n_error_cells")).collect()[0][0] or 0
    resumed = manifest.committed_partitions(spark, engine.config.rules_hash()) - set(done)
    print(f"validated partitions: {len(done)} (resumed past {len(resumed)})")
    print(f"violations: {n_viol}; failing (partition, rule) cells: {n_fail}"
          f" ({n_error_cells} error-severity)"
          + (f"; waived: {n_waived}" if args.waivers else "")
          + (f"; failed expectations: {n_suite_fail}" if args.suite else ""))
    spark.stop()
    return 0 if n_error_cells == 0 and n_suite_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
