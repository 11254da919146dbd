"""Command-line runner — the operational surface of the engine.

The reference repo is driven by hand-running three scripts
(/root/reference/lime_survey_nps.py etc.); here every registry query
and every reference pipeline is runnable from one entrypoint:

    python -m lime_etl_spark list
    python -m lime_etl_spark run q1_pricing_summary --sf-dir /data/sf0.1
    python -m lime_etl_spark run text_repetition --limit 5 --csv /tmp/out
    python -m lime_etl_spark pipeline nps --export export.json --out /tmp/nps

`run` executes lazily and only materializes what the output mode needs
(show N rows, or a distributed CSV write — never a driver collect of
the full result).
"""

from __future__ import annotations

import argparse
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="lime_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registry queries")

    runp = sub.add_parser("run", help="run a registry query")
    runp.add_argument("name")
    runp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    runp.add_argument("--limit", type=int, default=20, help="rows to show")
    runp.add_argument("--csv", default=None, help="write full result as CSV dir")
    runp.add_argument("--explain", action="store_true", help="print the physical plan")

    pipe = sub.add_parser("pipeline", help="run a reference pipeline")
    pipe.add_argument("name", choices=["nps", "returns", "orders_shipped"])
    pipe.add_argument("--export", required=True, help="LimeSurvey JSON export file")
    pipe.add_argument("--out", required=True, help="output directory (CSV)")
    pipe.add_argument(
        "--run-ts",
        default=None,
        help="audit timestamp stamped into updated_ts (format "
        "'YYYY-MM-DD HH:MM:SS'); defaults to the current UTC time — "
        "the old epoch default silently stamped 1970-01-01 into every "
        "row, which a lexicographic idempotency window then treats as "
        "older than every prior load",
    )

    prep = sub.add_parser(
        "prepare-corpus",
        help="full training-corpus prep: filter -> dedup -> pack -> write",
    )
    prep.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    prep.add_argument("--out", required=True, help="output directory")
    prep.add_argument("--budget", type=int, default=512, help="tokens per bin")
    prep.add_argument(
        "--resumable",
        action="store_true",
        help="keep the stages materialized under OUT/_stages and resume "
        "completed ones on re-run (the restartable form for long preps); "
        "without this flag OUT/_stages is cleared",
    )

    chk = sub.add_parser(
        "check", help="run declarative constraint checks against a parquet table"
    )
    chk.add_argument("path", help="parquet file/dir to validate")
    chk.add_argument("--not-null", default=None, help="comma-separated columns")
    chk.add_argument("--unique", default=None, help="comma-separated columns")
    chk.add_argument(
        "--accepted",
        action="append",
        default=[],
        metavar="COL=v1|v2|...",
        help="accepted-values rule (repeatable)",
    )
    chk.add_argument(
        "--range",
        action="append",
        default=[],
        metavar="COL=lo:hi",
        help="numeric range rule, empty bound = open (repeatable)",
    )
    chk.add_argument(
        "--strict", action="store_true", help="exit 1 if any rule has violations"
    )

    skw = sub.add_parser("skew", help="diagnose join/agg key skew in a parquet table")
    skw.add_argument("path")
    skw.add_argument("--keys", required=True, help="comma-separated key columns")
    skw.add_argument("--top", type=int, default=20)

    comp = sub.add_parser(
        "compact", help="compact a fragmented parquet directory in place"
    )
    comp.add_argument("path")
    comp.add_argument("--target-mb", type=int, default=128)
    comp.add_argument(
        "--cluster-by",
        default=None,
        help="comma-separated sort keys to restore data-skipping locality",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from lime_etl_spark.registry import REGISTRY, ordered_registry

    if args.cmd == "list":
        for name, q in ordered_registry().items():
            tags = []
            if q.oracle is not None:
                tags.append("oracled")
            if q.headline:
                tags.append("headline")
            print(f"{name:40s} {','.join(tags)}")
        return 0

    from lime_etl_spark.session import get_spark

    if args.cmd == "run":
        if args.name not in REGISTRY:
            print(f"unknown query: {args.name} (see `list`)", file=sys.stderr)
            return 2
        spark = get_spark(f"cli-{args.name}")
        df = REGISTRY[args.name].spark_fn(spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        if args.csv:
            from lime_etl_spark.io.sinks import write_csv

            write_csv(df, args.csv)
            print(f"wrote {args.csv}")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "pipeline":
        from lime_etl_spark.io.sinks import write_csv
        from lime_etl_spark.io.sources import read_survey_export_json
        from lime_etl_spark.pipelines import surveys

        spark = get_spark(f"cli-pipeline-{args.name}")
        flat = read_survey_export_json(spark, args.export)
        run_ts = args.run_ts
        if run_ts is None:
            from datetime import datetime, timezone

            run_ts = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
            print(f"--run-ts not given; stamping current UTC time {run_ts}")
        out = getattr(surveys, args.name)(flat, run_ts)
        write_csv(out, args.out)
        print(f"wrote {args.out}")
        return 0

    if args.cmd == "prepare-corpus":
        from lime_etl_spark.pipelines.corpus import (
            prepare_training_corpus,
            prepare_training_corpus_resumable,
        )

        spark = get_spark("cli-prepare-corpus")
        fn = (
            prepare_training_corpus_resumable
            if args.resumable
            else prepare_training_corpus
        )
        counts = fn(spark, args.sf_dir, args.out, budget=args.budget)
        for k, v in counts.items():
            print(f"{k:22s} {v}")
        return 0

    if args.cmd == "check":
        from lime_etl_spark.ops import quality as Q

        rules = []
        for c in (args.not_null or "").split(","):
            if c:
                rules.append(Q.not_null(c))
        for c in (args.unique or "").split(","):
            if c:
                rules.append(Q.unique(c))
        for spec in args.accepted:
            col, eq, vals = spec.partition("=")
            if not eq or not col or not vals:
                print(f"bad --accepted spec {spec!r} (want COL=v1|v2|...)", file=sys.stderr)
                return 2
            rules.append(Q.accepted_values(col, vals.split("|")))
        for spec in args.range:
            col, eq, bounds = spec.partition("=")
            lo, colon, hi = bounds.partition(":")
            if not eq or not col or not colon or not (lo or hi):
                print(f"bad --range spec {spec!r} (want COL=lo:hi, empty bound = open)", file=sys.stderr)
                return 2
            try:
                rules.append(
                    Q.in_range(col, float(lo) if lo else None, float(hi) if hi else None)
                )
            except ValueError:
                print(f"bad --range bounds in {spec!r}: not numeric", file=sys.stderr)
                return 2
        if not rules:
            print("no rules given (see --help)", file=sys.stderr)
            return 2
        spark = get_spark("cli-check")
        report = Q.validate(spark.read.parquet(args.path), rules).collect()
        bad = 0
        for r in report:
            print(f"{r['rule']:16s} {r['column']:24s} {r['n_violations']}")
            bad += r["n_violations"]
        return 1 if (args.strict and bad) else 0

    if args.cmd == "skew":
        from lime_etl_spark.tools import skew as SK

        spark = get_spark("cli-skew")
        keys = args.keys.split(",")
        df = spark.read.parquet(args.path)
        # one key aggregate feeds both halves (skew_report) — the old
        # skew_stats + key_histogram pair scanned the table twice
        st, top = SK.skew_report(df, keys, top_k=args.top)
        print(
            f"rows={st.n_rows} keys={st.n_keys} max_key_rows={st.max_key_rows} "
            f"skew_factor={st.skew_factor:.2f} "
            f"recommended_salt={st.recommended_salt()}"
        )
        for r in top:
            key_part = " ".join(f"{k}={r[k]}" for k in keys)
            print(f"{key_part} n_rows={r['n_rows']} share={r['share']}")
        return 0

    if args.cmd == "compact":
        from lime_etl_spark.io.sinks import compact_parquet

        spark = get_spark("cli-compact")
        n = compact_parquet(
            spark,
            args.path,
            target_bytes=args.target_mb * 1024 * 1024,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
        )
        print(f"compacted {args.path} -> {n} file(s)")
        return 0

    return 2  # pragma: no cover — argparse enforces the choices


if __name__ == "__main__":
    raise SystemExit(main())
