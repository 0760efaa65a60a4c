"""Command-line entry point — the switch-over surface for the reference's
``main.py`` / ``excute_month_task.py`` / ``billing-etl.sh`` drivers
(reference README.md:41-53 documents a CLI; main.py:207-215 is the daily
cron, excute_month_task.py:167-200 the monthly backfill).

    python -m billing_etl_v1_spark.cli daily  --fact F --dim D --target T [--date YYYY-MM-DD]
    python -m billing_etl_v1_spark.cli month  --fact F --dim D --target T --invoice-month YYYYMM
    python -m billing_etl_v1_spark.cli sql    --tables DIR --query "SELECT … LIMIT 5"
    python -m billing_etl_v1_spark.cli sql    --tables DIR --list-tables

The ``sql`` subcommand honors the ad-hoc query surface the reference README
documents but never implemented (README.md:38-45 describes ``--query`` /
``--list-tables``; its main.py imports argparse and never uses it,
SURVEY §3.3) — here it is one real ``spark.sql()`` pass-through over the
parquet tables in ``--tables`` (each ``<name>.parquet`` becomes a view).

``--fact`` / ``--dim`` are parquet paths (the engine's tables-at-rest; the
reference read the same shapes from ClickHouse). No scheduler is embedded —
run ``daily`` from any cron, exactly as the reference's 05:00 schedule
called its function.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="billing-etl-v1-spark")
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp: argparse.ArgumentParser) -> None:
        sp.add_argument("--fact", required=True, help="fact table parquet path")
        sp.add_argument("--dim", required=True, help="dim_contract parquet path")
        sp.add_argument("--target", required=True, help="calculated-table parquet path")

    daily = sub.add_parser("daily", help="incremental run (4-day lookback, month-clamped)")
    common(daily)
    daily.add_argument(
        "--date",
        default=None,
        help="process date YYYY-MM-DD (default: today UTC, like the cron)",
    )

    month = sub.add_parser("month", help="whole-month backfill")
    common(month)
    month.add_argument("--invoice-month", required=True, help="YYYYMM")

    # S8 introspection — the reference's check_schema.py (DESCRIBE both
    # input tables, check_schema.py:19-22)
    schema = sub.add_parser("schema", help="print the schema of a parquet table")
    schema.add_argument("paths", nargs="+", help="parquet path(s) to describe")

    # extension surface: end-to-end corpus build (quality gate -> dedup ->
    # shard packing) over a documents table
    corpus = sub.add_parser(
        "corpus", help="build training shards from a documents parquet table"
    )
    corpus.add_argument("--docs", required=True, help="documents parquet path")
    corpus.add_argument("--target", required=True, help="output shards parquet path")
    corpus.add_argument("--shard-tokens", type=int, default=4000)
    corpus.add_argument("--min-tokens", type=int, default=30)
    corpus.add_argument("--min-quality", type=float, default=0.5)
    corpus.add_argument(
        "--full",
        action="store_true",
        help="run the full training-corpus DAG (adds benchmark "
        "decontamination, train/val/test split, per-split packing)",
    )

    tok = sub.add_parser(
        "tokenizer",
        help="train a corpus tokenizer (--family bpe|unigram|wordpiece), "
        "or encode documents under a persisted one",
    )
    tok.add_argument("action", choices=["train", "encode"])
    tok.add_argument(
        "--family",
        choices=["bpe", "unigram", "wordpiece"],
        default="bpe",
        help="tokenizer family: bpe (GPT lineage, default), unigram "
        "(SentencePiece-style Llama lineage), wordpiece (BERT lineage — "
        "likelihood-ratio merges, greedy longest-match serve)",
    )
    tok.add_argument("--docs", required=True, help="documents parquet path")
    tok.add_argument(
        "--tokenizer",
        required=True,
        help="tokenizer directory (family-specific parquet tables)",
    )
    tok.add_argument(
        "--target", help="encode: output parquet for per-doc token counts"
    )
    tok.add_argument(
        "--num-merges",
        type=int,
        default=8,
        help="train (bpe/wordpiece): merge budget",
    )
    tok.add_argument(
        "--max-word-len",
        type=int,
        default=None,
        help="train: pre-token bypass cap (default 256 for bpe, 16 for "
        "unigram/wordpiece), stored in the artifact; encode reads the "
        "stored cap — only pass here to override it deliberately",
    )
    tok.add_argument(
        "--level",
        choices=["char", "byte"],
        default="char",
        help="train (bpe): initial symbols — char (Sennrich codepoints) or "
        "byte (GPT-2-style UTF-8 bytes); stored in the artifact, encode "
        "always serves at the stored level",
    )
    tok.add_argument(
        "--driver-loop",
        action="store_true",
        help="train (bpe/wordpiece): run the merge loop driver-side over "
        "the collected vocabulary (the subword-nmt architecture — use for "
        "production merge budgets; identical output, ~1000x faster per "
        "merge; the corpus pass stays distributed)",
    )
    tok.add_argument(
        "--vocab-size", type=int, default=32, help="train (unigram): piece budget"
    )
    tok.add_argument(
        "--max-piece-len",
        type=int,
        default=4,
        help="train (unigram): longest candidate piece",
    )
    tok.add_argument(
        "--em-rounds",
        type=int,
        default=2,
        help="train (unigram): EM sweeps before the prune",
    )
    tok.add_argument(
        "--lattice",
        action="store_true",
        help="train (unigram): full Kudo lattice soft-EM trainer "
        "driver-side over the collected bounded vocabulary",
    )

    # ad-hoc SQL over tables-at-rest (reference README.md:38-45's documented
    # --query/--list-tables surface, dead in its main.py — real here)
    ver = sub.add_parser(
        "versions",
        help="operate a versioned snapshot table (list/vacuum/diff/rollback)",
    )
    ver.add_argument("action", choices=["list", "vacuum", "diff", "rollback"])
    ver.add_argument("--table", required=True, help="versioned table directory")
    ver.add_argument(
        "--keep-last", type=int, default=3, help="vacuum: snapshots to retain"
    )
    ver.add_argument("--from", dest="v_from", type=int, help="diff: older version")
    ver.add_argument("--to", dest="v_to", type=int, help="diff/rollback: version")
    ver.add_argument("--keys", help="diff: comma-separated key columns")
    ver.add_argument(
        "--max-rows", type=int, default=100, help="diff: max rows to print"
    )

    sql = sub.add_parser("sql", help="run ad-hoc SQL over a directory of parquet tables")
    sql.add_argument(
        "--tables",
        required=True,
        help="directory of <name>.parquet files; each registers as view <name>",
    )
    group = sql.add_mutually_exclusive_group(required=True)
    group.add_argument("--query", help="SQL to run (Spark SQL dialect)")
    group.add_argument(
        "--list-tables", action="store_true", help="print registered view names"
    )
    sql.add_argument(
        "--max-rows", type=int, default=100, help="max rows to print (default 100)"
    )

    # developer surface: the physical plan of any registered query — scale
    # review means reading plans, so make them one command away
    explain = sub.add_parser(
        "explain", help="print the formatted physical plan of a registered query"
    )
    explain.add_argument("name", nargs="?", help="queries() entry (omit to list names)")
    explain.add_argument(
        "--tables", default="/root/testdata/sf0.001", help="parquet tables directory"
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from billing_etl_v1_spark.session import get_spark

    spark = get_spark("billing-etl-cli")
    try:
        return _run(spark, args)
    finally:
        spark.stop()


def _run(spark, args: argparse.Namespace) -> int:
    """Dispatch one parsed command on ``spark``; returns the exit code."""
    from billing_etl_v1_spark.plans.drivers import run_daily, run_month

    if args.command == "sql":
        import glob
        import os

        from billing_etl_v1_spark.sources.readers import register_views

        names = sorted(
            os.path.splitext(os.path.basename(p))[0]
            for p in glob.glob(os.path.join(args.tables, "*.parquet"))
        )
        register_views(spark, args.tables, names)
        if args.list_tables:
            for t in names:
                print(t)
        else:
            spark.sql(args.query).show(n=args.max_rows, truncate=False)
        return 0
    if args.command == "explain":
        import __spark_entry__ as entrymod

        queries = entrymod.queries()
        if not args.name:
            for name in queries:
                print(name)
        elif args.name not in queries:
            print(f"unknown query {args.name!r}; run `explain` with no name to list",
                  file=sys.stderr)
            return 2
        else:
            queries[args.name](spark, args.tables).explain("formatted")
        return 0
    if args.command == "versions":
        from billing_etl_v1_spark.sources.writers import (
            current_version,
            list_versions,
            rollback_version,
            snapshot_diff,
            vacuum_versions,
        )

        if args.action == "list":
            cur = current_version(spark, args.table)
            for v in list_versions(spark, args.table):
                print(f"v={v}" + ("  <- _LATEST" if v == cur else ""))
        elif args.action == "vacuum":
            removed = vacuum_versions(spark, args.table, keep_last=args.keep_last)
            print(f"vacuumed {len(removed)} snapshot(s): {removed}")
        elif args.action == "rollback":
            if args.v_to is None:
                print("rollback requires --to", file=sys.stderr)
                return 2
            rollback_version(spark, args.table, args.v_to)
            print(f"_LATEST -> v={args.v_to}")
        else:  # diff
            if args.v_from is None or args.v_to is None or not args.keys:
                print("diff requires --from, --to and --keys", file=sys.stderr)
                return 2
            snapshot_diff(
                spark, args.table, args.v_from, args.v_to, args.keys.split(",")
            ).show(n=args.max_rows, truncate=False)
        return 0
    if args.command == "schema":
        for path in args.paths:
            print(f"-- {path}")
            print(spark.read.parquet(path).schema.treeString())
        return 0
    if args.command == "corpus":
        from billing_etl_v1_spark.operators.corpus import corpus_build, training_corpus

        build = training_corpus if args.full else corpus_build
        out = build(
            spark.read.parquet(args.docs),
            shard_tokens=args.shard_tokens,
            min_tokens=args.min_tokens,
            min_quality=args.min_quality,
        )
        out.write.mode("overwrite").parquet(args.target)
        n = spark.read.parquet(args.target).count()
        print(f"corpus build complete: {n} docs packed into shards at {args.target}")
        return 0
    if args.command == "tokenizer":
        docs = spark.read.parquet(args.docs)
        if args.action == "train":
            if args.family == "bpe":
                from billing_etl_v1_spark.operators import bpe as bpe_ops

                cap = 256 if args.max_word_len is None else args.max_word_len
                learn = (
                    bpe_ops.bpe_learn_driver if args.driver_loop else bpe_ops.bpe_learn
                )
                merges, vocab = learn(
                    docs,
                    num_merges=args.num_merges,
                    max_word_len=cap,
                    level=args.level,
                )
                bpe_ops.save_bpe(
                    merges, vocab, args.tokenizer, max_word_len=cap, level=args.level
                )
                print(
                    f"tokenizer trained: {merges.count()} merges, "
                    f"{vocab.count()} words at {args.tokenizer}"
                )
            elif args.family == "unigram":
                from billing_etl_v1_spark.operators import unigram as ug_ops

                mwl = 16 if args.max_word_len is None else args.max_word_len
                learn = (
                    ug_ops.unigram_learn_lattice
                    if args.lattice
                    else ug_ops.unigram_learn
                )
                pieces, segments = learn(
                    docs,
                    vocab_size=args.vocab_size,
                    max_piece_len=args.max_piece_len,
                    max_word_len=mwl,
                    em_rounds=args.em_rounds,
                )
                ug_ops.save_unigram(
                    pieces,
                    segments,
                    args.tokenizer,
                    max_piece_len=args.max_piece_len,
                    max_word_len=mwl,
                )
                print(
                    f"unigram tokenizer trained: {pieces.count()} pieces, "
                    f"{segments.count()} words at {args.tokenizer}"
                )
            else:
                from billing_etl_v1_spark.operators import wordpiece as wp_ops

                cap = 16 if args.max_word_len is None else args.max_word_len
                build = (
                    wp_ops.wordpiece_artifacts_driver
                    if args.driver_loop
                    else wp_ops.wordpiece_artifacts
                )
                merges, ids, segments = build(
                    docs, num_merges=args.num_merges, max_word_len=cap
                )
                wp_ops.save_wordpiece(ids, segments, args.tokenizer, max_word_len=cap)
                print(
                    f"wordpiece tokenizer trained: {merges.count()} merges, "
                    f"{ids.count()} pieces at {args.tokenizer}"
                )
        else:
            if not args.target:
                print("tokenizer encode requires --target", file=sys.stderr)
                return 2
            if args.family == "bpe":
                from billing_etl_v1_spark.operators import bpe as bpe_ops

                merges, vocab, stored_cap, level = bpe_ops.load_bpe(
                    spark, args.tokenizer
                )
                cap = stored_cap if args.max_word_len is None else args.max_word_len
                counts = bpe_ops.bpe_encode(
                    docs, merges, vocab, max_word_len=cap, level=level
                )
            elif args.family == "unigram":
                from billing_etl_v1_spark.operators import unigram as ug_ops

                pieces, segments, mpl, mwl = ug_ops.load_unigram(
                    spark, args.tokenizer
                )
                counts = ug_ops.unigram_encode(
                    docs, pieces, segments, max_piece_len=mpl, max_word_len=mwl
                )
            else:
                from billing_etl_v1_spark.operators import wordpiece as wp_ops

                ids, segments, mwl = wp_ops.load_wordpiece(spark, args.tokenizer)
                counts = wp_ops.wordpiece_encode(
                    docs, ids, segments, max_word_len=mwl
                )
            counts.write.mode("overwrite").parquet(args.target)
            n = spark.read.parquet(args.target).count()
            print(f"encode complete: {n} docs counted at {args.target}")
        return 0
    fact = spark.read.parquet(args.fact)
    dim = spark.read.parquet(args.dim)
    if args.command == "daily":
        process_date = (
            dt.date.fromisoformat(args.date)
            if args.date
            else dt.datetime.now(dt.timezone.utc).date()
        )
        month, lo, hi = run_daily(fact, dim, args.target, process_date)
        print(f"daily run complete: month={month} window=[{lo}, {hi})")
    else:
        run_month(fact, dim, args.target, args.invoice_month)
        print(f"month backfill complete: {args.invoice_month}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
