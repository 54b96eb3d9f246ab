"""CLI — the reference's 8-mode task surface (server/server.go:28-82).

    python -m transferdb_spark --mode <mode> [--source-dir D] [--workdir W]

Modes: prepare | assess | reverse | check | compare | csv | jsonl | orc | full | all
| retry (re-run only FAILED chunks from the persisted plan)
| compact (rewrite the CDC change log to its live-key snapshot)
| prune (quality-prune the corpus) | search (BM25 / hybrid / RM3 retrieval)
| corpus-report (one-command corpus quality report, JSON + HTML)
| pipeline (raw corpus -> packed training bins, end to end)
| export | optimize | explain.
Fixture-backed (parquet source dirs); JDBC endpoints plug in through
transferdb_spark.sources.jdbc when drivers are present.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# business key of the events CDC log: `all` lands it, `compact` rewrites
# it — the same key in both, or compaction collapses distinct events
EVENTS_CDC_KEY = "event_id"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="transferdb_spark", description=__doc__)
    p.add_argument(
        "--mode",
        required=True,
        choices=[
            "prepare", "assess", "reverse", "check", "compare",
            "csv", "jsonl", "orc", "full", "all", "retry", "compact", "export",
            "optimize", "explain", "prune", "search", "pipeline",
            "corpus-report",
        ],
    )
    p.add_argument("--keep-deciles", type=int, default=3, help="prune: top lm-score deciles to keep")
    p.add_argument("--per-lang", action="store_true", help="prune: per-language quartile stratification")
    p.add_argument("--scorer", default="bigram_lm", choices=["bigram_lm", "kn_lm", "classifier"],
                   help="prune: quality signal (corpus bigram LM or the trained quality classifier)")
    p.add_argument("--query", default="", help="explain: queries() entry name (empty = list)")
    p.add_argument("--terms", default="", help="search: comma-separated query terms")
    p.add_argument("--budget", type=int, default=512, help="pipeline: tokens per packed bin")
    p.add_argument("--vocab-size", type=int, default=280, help="pipeline: BPE target vocab")
    p.add_argument("--nfc", action="store_true", help="pipeline: NFC-normalize text at ingest")
    p.add_argument("--max-compressibility", type=float, default=None,
                   help="pipeline: drop docs whose DEFLATE ratio exceeds this bound")
    p.add_argument("--topk", type=int, default=10, help="search: result count")
    p.add_argument("--hybrid", action="store_true", help="search: re-rank BM25 candidates by embedding cosine")
    p.add_argument("--rm3", action="store_true", help="search: RM3 pseudo-relevance-feedback query expansion")
    p.add_argument("--query-vec", type=int, default=0, help="search --hybrid: query vector id")
    p.add_argument("--path", default="", help="optimize: parquet dir to compact")
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--bloom-cols", default="", help="optimize: write parquet bloom filters for these columns")
    p.add_argument(
        "--layout-cols",
        default="",
        help="optimize: comma-separated Z-order columns, or 'auto' to derive "
        "them from --workload (filter-column frequency x NDV)",
    )
    p.add_argument(
        "--workload",
        default="",
        help="optimize --layout-cols auto: query-log relation (parquet dir or "
        "JSON-lines file with filter_cols [+ weight] per query)",
    )
    p.add_argument("--source-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    p.add_argument("--workdir", default="./transferdb_work")
    p.add_argument("--tables", default="", help="comma-separated include globs")
    p.add_argument("--chunks", type=int, default=32)
    p.add_argument("--target-dir", default="", help="compare: target parquet dir (defaults to mutated fixture)")
    p.add_argument("--case-policy", type=int, default=1, choices=[0, 1, 2])
    p.add_argument(
        "--dialect",
        default="mysql",
        choices=["mysql", "tidb", "spark", "ansi"],
        help="reverse: target DDL dialect (mysql=O2M, tidb=O2T, spark=lakehouse, "
        "ansi=live-apply/Derby)",
    )
    # live-apply surface (reference write.go:40-140 direct-DB branch):
    # reverse --apply executes the DDL against --jdbc-url; compare
    # --apply executes the generated fix-SQL the same way
    p.add_argument("--apply", action="store_true", help="execute generated DDL/fix-SQL against --jdbc-url")
    p.add_argument("--jdbc-url", default="", help="JDBC URL of the live target")
    p.add_argument("--jdbc-driver", default="", help="JDBC driver class")
    p.add_argument("--jdbc-user", default="")
    p.add_argument("--jdbc-password", default="")
    return p


def _live_sink(args):
    from transferdb_spark.sources.jdbc import JdbcSink

    if not args.jdbc_url:
        raise SystemExit("--apply requires --jdbc-url")
    return JdbcSink(
        url=args.jdbc_url,
        table="",
        driver=args.jdbc_driver,
        user=args.jdbc_user,
        password=args.jdbc_password,
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from transferdb_spark.session import get_spark

    spark = get_spark(f"transferdb-{args.mode}")
    tables = [t for t in args.tables.split(",") if t] or None
    out: dict = {"mode": args.mode}

    if args.mode == "prepare":
        from transferdb_spark.modes.prepare import prepare_workspace

        out["paths"] = prepare_workspace(args.workdir)

    elif args.mode == "assess":
        from transferdb_spark.modes.assess import assess_to_file

        path = os.path.join(args.workdir, "reports", "assess.html")
        r = assess_to_file(spark, args.source_dir, path)
        out.update(report=path, compatibility_pct=r.compatibility_pct, tables=len(r.overview))

    elif args.mode == "reverse":
        from transferdb_spark.catalog.fixture import fixture_catalog
        from transferdb_spark.modes.reverse import (
            gen_create_table_spark,
            reverse_tables,
            reverse_tables_o2t,
        )

        cat = fixture_catalog(spark, args.source_dir)
        if tables:
            # --tables is documented as include GLOBS (matching the
            # load-based modes): 'line*' must select lineitem
            from transferdb_spark.functions.scalars import glob_match

            cat = {k: v for k, v in cat.items() if glob_match(tables, k)}
        if args.dialect == "tidb":
            res = reverse_tables_o2t(cat, case_policy=args.case_policy)
        elif args.dialect == "spark":
            from transferdb_spark.modes.reverse import ReverseResult

            # same quarantine-never-abort contract as the other dialects
            res = ReverseResult()
            for t in cat.values():
                try:
                    if not t.is_compatible:
                        res.compatibility.append(
                            f"-- table {t.name} type {t.table_type} requires manual conversion"
                        )
                        continue
                    res.ddl.append(gen_create_table_spark(t, args.case_policy))
                except Exception as e:  # noqa: BLE001 — error_log_detail semantics
                    res.errors.append(f"{t.name}: {e}")
        elif args.dialect == "ansi":
            from transferdb_spark.modes.reverse import reverse_tables_ansi

            res = reverse_tables_ansi(cat)
        else:
            res = reverse_tables(cat, case_policy=args.case_policy)
        os.makedirs(args.workdir, exist_ok=True)
        ddl_path = os.path.join(args.workdir, "reverse.sql")
        with open(ddl_path, "w") as f:
            f.write("\n\n".join(res.ddl) + "\n")
        compat_path = os.path.join(args.workdir, "compatibility.sql")
        with open(compat_path, "w") as f:
            f.write("\n".join(res.compatibility) + "\n")
        out.update(ddl=ddl_path, tables=len(res.ddl), compat=len(res.compatibility), errors=res.errors)
        if args.apply:
            from transferdb_spark.modes.apply import apply_sql

            ar = apply_sql(spark, _live_sink(args), res.ddl)
            out.update(applied=len(ar.applied), apply_failed=ar.failed)

    elif args.mode == "check":
        from transferdb_spark.catalog.fixture import fixture_catalog
        from transferdb_spark.modes.check import check_catalogs

        cat = fixture_catalog(spark, args.source_dir)
        if tables:
            # --tables is documented as include GLOBS (matching the
            # load-based modes): 'line*' must select lineitem
            from transferdb_spark.functions.scalars import glob_match

            cat = {k: v for k, v in cat.items() if glob_match(tables, k)}
        if args.jdbc_url:
            # LIVE check: introspect the target over JDBC, diff in the
            # ANSI dialect, optionally apply the fix-SQL in place
            from transferdb_spark.catalog.jdbc_catalog import (
                read_jdbc_catalog,
                rendered_types,
            )

            live = read_jdbc_catalog(
                spark,
                args.jdbc_url,
                list(cat),
                driver=args.jdbc_driver,
                user=args.jdbc_user,
                password=args.jdbc_password,
            )
            results = check_catalogs(
                cat,
                live,
                dialect="ansi",
                tgt_types_by_table={k: rendered_types(m) for k, m in live.items()},
            )
            fix = [s for r in results.values() for s in r.fix_sql]
            os.makedirs(args.workdir, exist_ok=True)
            fix_path = os.path.join(args.workdir, "check_fix.sql")
            with open(fix_path, "w") as f:
                f.write("\n".join(fix) + "\n")
            out.update(fix_sql=fix_path, fix_statements=len(fix))
            if args.apply and fix:
                from transferdb_spark.modes.apply import apply_sql

                ar = apply_sql(spark, _live_sink(args), fix)
                out.update(applied=len(ar.applied), apply_failed=ar.failed)
        else:
            results = check_catalogs(cat, cat)
        out.update(tables=len(results), clean=all(r.is_clean for r in results.values()))

    elif args.mode == "compare":
        from transferdb_spark.modes.compare_mode import compare_tables
        from transferdb_spark.operators.compare_fixture import mutated_target
        from transferdb_spark.sources.registry import load_table

        src = load_table(spark, args.source_dir, "lineitem")
        tgt = (
            spark.read.parquet(args.target_dir) if args.target_dir else mutated_target(src)
        )
        # fix-SQL dialect must match the APPLY target: the live-apply
        # path is the ANSI/Derby one (DELETE has no LIMIT there; ANSI
        # strings don't unescape backslashes) — same rule check --apply
        # hardcodes. File-only runs keep the reference's MySQL dialect
        # unless --dialect overrides.
        r = compare_tables(
            spark, src, tgt, "lineitem", args.workdir, n_chunks=args.chunks,
            dialect="ansi" if args.apply else args.dialect,
        )
        out.update(
            equal=r.is_equal,
            mismatched_chunks=r.mismatched_chunks,
            insert_rows=r.insert_rows,
            delete_rows=r.delete_rows,
            fix_sql=r.fix_sql_path,
        )
        if args.apply and not r.is_equal:
            from transferdb_spark.modes.apply import apply_sql

            with open(r.fix_sql_path) as f:
                stmts = [s.strip() for s in f.read().split(";\n") if s.strip()]
            ar = apply_sql(spark, _live_sink(args), stmts)
            out.update(applied=len(ar.applied), apply_failed=ar.failed)

    elif args.mode == "csv":
        from transferdb_spark.modes.csv_mode import csv_export
        from transferdb_spark.sources.registry import load_tables

        paths = {}
        for name, df in load_tables(spark, args.source_dir, include=tables).items():
            paths[name] = csv_export(spark, df, name, os.path.join(args.workdir, "csv"), n_chunks=args.chunks)
        out["paths"] = paths

    elif args.mode == "jsonl":
        from transferdb_spark.modes.jsonl_mode import jsonl_export
        from transferdb_spark.sources.registry import load_tables

        paths = {}
        for name, df in load_tables(spark, args.source_dir, include=tables).items():
            paths[name] = jsonl_export(spark, df, name, os.path.join(args.workdir, "jsonl"), n_chunks=args.chunks)
        out["paths"] = paths

    elif args.mode == "orc":
        from transferdb_spark.modes.columnar import orc_export
        from transferdb_spark.sources.registry import load_tables

        paths = {}
        for name, df in load_tables(spark, args.source_dir, include=tables).items():
            paths[name] = orc_export(
                spark, df, name, os.path.join(args.workdir, "orc"), n_chunks=args.chunks
            )
        out["paths"] = paths

    elif args.mode == "full":
        if args.jdbc_url:
            # live target: chunk-resumable migration straight into the
            # database (schema applied beforehand via reverse --apply)
            from transferdb_spark.modes.full import full_migrate_table_jdbc
            from transferdb_spark.sources.registry import load_tables

            results = {}
            for name, df in load_tables(spark, args.source_dir, include=tables).items():
                results[name] = full_migrate_table_jdbc(
                    spark, df, name, _live_sink(args), args.workdir, n_chunks=args.chunks
                )
            out["targets"] = results
        else:
            from transferdb_spark.modes.full import full_migrate

            out["targets"] = full_migrate(spark, args.source_dir, args.workdir, tables=tables, n_chunks=args.chunks)

    elif args.mode == "retry":
        from transferdb_spark.modes.full import retry_failed
        from transferdb_spark.sources.registry import load_tables, table_path
        from transferdb_spark.state.store import StateStore

        store = StateStore(args.workdir, "full")
        failed_tables = sorted({c.table for c in store.failed()})
        results = {}
        for name, df in load_tables(spark, args.source_dir, include=tables).items():
            if name in failed_tables:
                # a keyless table's chunks are file groups of its source path
                keyless = store.failed(name)[0].predicate.startswith("files:")
                src = table_path(args.source_dir, name) if keyless else df
                results[name] = retry_failed(spark, src, name, args.workdir, store=store)
        out.update(
            retried=results,
            error_log_entries=len(store.error_log()),
            still_failed=[c.table + ":" + str(c.chunk_id) for c in store.failed()],
        )

    elif args.mode == "compact":
        from transferdb_spark.streaming.incr import compact_cdc_log

        target = os.path.join(args.workdir, "target", "events_incr")
        out.update(compact_cdc_log(spark, target, key=EVENTS_CDC_KEY))

    elif args.mode == "prune":
        from transferdb_spark.modes.prune import prune_corpus

        out.update(
            prune_corpus(
                spark,
                args.source_dir,
                args.workdir,
                keep_deciles=args.keep_deciles,
                per_lang=args.per_lang,
                scorer=args.scorer,
            )
        )

    elif args.mode == "pipeline":
        from transferdb_spark.modes.pipeline import build_training_corpus

        out.update(
            build_training_corpus(
                spark,
                args.source_dir,
                args.workdir,
                keep_deciles=args.keep_deciles,
                scorer=args.scorer,
                vocab_size=args.vocab_size,
                budget=args.budget,
                nfc=args.nfc,
                max_compressibility=args.max_compressibility,
            )
        )

    elif args.mode == "corpus-report":
        from transferdb_spark.modes.corpus_report import corpus_report

        out.update(corpus_report(spark, args.source_dir, args.workdir))

    elif args.mode == "search":
        from transferdb_spark.modes.search import search_corpus

        out.update(
            search_corpus(
                spark,
                args.source_dir,
                [t for t in args.terms.split(",") if t],
                k=args.topk,
                hybrid=args.hybrid,
                rm3=args.rm3,
                query_vec_id=args.query_vec,
                workdir=args.workdir,
            )
        )

    elif args.mode == "explain":
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        if not args.query:
            out["queries"] = sorted(qs)
        else:
            df = qs[args.query](spark, args.source_dir)
            df.explain("formatted")
            out["query"] = args.query

    elif args.mode == "optimize":
        from dataclasses import asdict

        from transferdb_spark.modes.optimize import compact_files

        if args.layout_cols == "auto":
            from transferdb_spark.plans.layout import advise_layout_from_log

            if not args.workload:
                raise SystemExit("--layout-cols auto requires --workload")
            log_df = (
                spark.read.json(args.workload)
                if args.workload.endswith((".json", ".jsonl"))
                else spark.read.parquet(args.workload)
            )
            cols = advise_layout_from_log(spark.read.parquet(args.path), log_df)
            out["advised_layout_cols"] = cols
        else:
            cols = [c for c in args.layout_cols.split(",") if c]
        from transferdb_spark.modes.optimize import _parquet_files, compact_partitioned

        blooms = [c for c in args.bloom_cols.split(",") if c] or None
        if not _parquet_files(args.path):
            # hive-partitioned layout: compact each leaf partition
            out.update(compact_partitioned(
                spark, args.path, target_mb=args.target_mb, bloom_cols=blooms
            ))
        else:
            stats = compact_files(
                spark,
                args.path,
                target_mb=args.target_mb,
                layout_cols=cols or None,
                bloom_cols=blooms,
            )
            out.update(asdict(stats))

    elif args.mode == "export":
        from transferdb_spark.modes.export import export_corpus
        from transferdb_spark.sources.registry import load_table

        docs = load_table(spark, args.source_dir, "documents")
        manifest = export_corpus(spark, docs, os.path.join(args.workdir, "corpus"))
        out.update(json.loads(manifest.to_json()))

    elif args.mode == "all":
        from transferdb_spark.modes.full import full_migrate
        from transferdb_spark.streaming.incr import apply_cdc_stream, cdc_landed_rows, stream_events

        out["targets"] = full_migrate(spark, args.source_dir, args.workdir, tables=tables, n_chunks=args.chunks)
        # incremental phase: consume the events stream into the target
        src_dir = os.path.join(args.workdir, "events_source")
        if not os.path.exists(src_dir):
            from transferdb_spark.sources.registry import load_table

            load_table(spark, args.source_dir, "events").drop("props").coalesce(1).write.mode(
                "overwrite"
            ).parquet(src_dir)
        ckpt = os.path.join(args.workdir, "checkpoints", "incr")
        landed_before = cdc_landed_rows(ckpt)
        q = apply_cdc_stream(
            stream_events(spark, src_dir),
            os.path.join(args.workdir, "target", "events_incr"),
            ckpt,
            key=EVENTS_CDC_KEY,
        )
        q.awaitTermination(300)
        # rows this run's batches landed, from the gate the batches
        # wrote — not a scan of the whole change-log history
        out["incr_rows"] = cdc_landed_rows(ckpt) - landed_before
        # live branch: a redo feed dir + --jdbc-url streams the text
        # path straight into the target database (transactional apply
        # with a persisted SCN checkpoint)
        redo_feed = os.path.join(args.workdir, "redo_feed")
        if args.jdbc_url and os.path.isdir(redo_feed):
            from transferdb_spark.streaming.live_apply import (
                read_scn_checkpoint,
                run_redo_apply_stream,
            )

            scn_path = os.path.join(args.workdir, "checkpoints", "redo_scn.json")
            lq = run_redo_apply_stream(
                spark,
                redo_feed,
                os.path.join(args.workdir, "checkpoints", "redo_apply"),
                _live_sink(args),
                scn_path,
            )
            lq.awaitTermination(300)
            out["redo_scn"] = read_scn_checkpoint(scn_path)

    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
