"""Command-line front door — parity with the reference's UX.

The reference is driven as a command (``fetcher.bash [group]``,
/root/reference/bin/fetcher.bash:13-24, reading the cfg.yaml plan).
The Spark engine's equivalent::

    python -m k8e_fetch_spark list
    python -m k8e_fetch_spark query tpch_q1_pricing_summary --sf-dir /root/testdata/sf0.01
    python -m k8e_fetch_spark pipeline --manifest m.json --data-dir d/ \
        --warehouse w/ [--spec cfg.yaml] [--group current_cycle]
    python -m k8e_fetch_spark bench

``pipeline`` runs the full fetch→select→load→compress flow
(plans/pipeline.py) from a manifest + data dir, defaulting to the
packaged byte fixtures so a bare ``pipeline --warehouse w/`` works out
of the box; ``--spec`` loads a cfg.yaml-shaped file when PyYAML is
available (plans/spec.py:from_yaml), else the built-in DEFAULT_SPEC.
``--table-format`` picks the component-table layout: ``parquet``
(default, swap-in-place) or ``occ`` (transactional manifest tables,
plans/snapshots.py).
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="k8e_fetch_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list declared queries (* = oracle-bearing)")

    q = sub.add_parser("query", help="run a declared query by name")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--show", type=int, default=20, help="rows to print")

    pl = sub.add_parser("pipeline", help="run the cfg-driven fetch→load→compress flow")
    pl.add_argument("--manifest", default=None, help="version-listing JSON (default: packaged fixture)")
    pl.add_argument("--data-dir", default=None, help="synced object dir (default: packaged fixtures)")
    pl.add_argument("--warehouse", required=True, help="component table output dir")
    pl.add_argument("--spec", default=None, help="cfg.yaml-shaped spec file (default: built-in)")
    pl.add_argument("--group", default="current_cycle", help="fetch group (cfg.yaml:1-8)")
    pl.add_argument(
        "--table-format",
        choices=("parquet", "occ"),
        default="parquet",
        help="component table layout: plain parquet swap (default) or "
        "occ (transactional O(delta) manifest tables with "
        "concurrent-writer CAS commits)",
    )
    pl.add_argument(
        "--compact-target-mb",
        type=int,
        default=None,
        help="post-compress small-files maintenance: rewrite each "
        "component to ~N MB files (occ tables: checkpoint+vacuum)",
    )
    pl.add_argument(
        "--zorder-by",
        default=None,
        metavar="COL,COL[,COL]",
        help="post-compress Z-order layout: cluster each component "
        "that has these 2-3 columns (string keys supported via "
        "sampled range-id bucketing); composes with "
        "--compact-target-mb in one rewrite",
    )
    pl.add_argument(
        "--cas-endpoint",
        default=None,
        metavar="URL",
        help="occ format only: commit manifest versions through an "
        "object store's conditional PUT (If-None-Match; lost race -> "
        "409/412) at this endpoint instead of the local hard-link CAS",
    )

    sub.add_parser("bench", help="run the headline bench (one JSON line)")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)

    # surface flag-combination mistakes as CLI errors, not as a
    # Pipeline.__init__ traceback (ADVICE r14); message mirrors the
    # library-level ValueError
    if (
        args.cmd == "pipeline"
        and args.cas_endpoint
        and args.table_format != "occ"
    ):
        parser.error(
            f"cas backend requires table_format='occ', got {args.table_format!r}"
        )

    if args.cmd == "bench":
        # the packaged harness owns its session/config; works from an
        # installed wheel as well as a repo checkout
        from k8e_fetch_spark.bench_runner import main as bench_main

        bench_main()
        return 0

    from k8e_fetch_spark.queries.registry import oracle_sql, queries
    from k8e_fetch_spark.session import get_spark

    if args.cmd == "list":
        oracles = oracle_sql()
        for name in queries():
            print(("* " if name in oracles else "  ") + name)
        return 0

    spark = get_spark(app_name=f"k8e-cli-{args.cmd}")
    try:
        if args.cmd == "query":
            qs = queries()
            if args.name not in qs:
                print(f"unknown query: {args.name} (see `list`)", file=sys.stderr)
                return 2
            qs[args.name](spark, args.sf_dir).show(args.show, truncate=40)
            return 0

        # pipeline
        from k8e_fetch_spark.plans.pipeline import Pipeline
        from k8e_fetch_spark.plans.spec import DEFAULT_SPEC, from_yaml
        from k8e_fetch_spark.resources import fixtures_root

        spec = from_yaml(args.spec) if args.spec else DEFAULT_SPEC
        manifest = args.manifest or str(fixtures_root() / "manifest.json")
        data_dir = args.data_dir or str(fixtures_root())
        from k8e_fetch_spark.plans.cas import ConditionalPutCas

        pipe = Pipeline(
            spark,
            spec,
            args.warehouse,
            table_format=args.table_format,
            compact_target_mb=args.compact_target_mb,
            zorder_by=(
                [c.strip() for c in args.zorder_by.split(",") if c.strip()]
                if args.zorder_by
                else None
            ),
            cas=(
                ConditionalPutCas(args.cas_endpoint)
                if args.cas_endpoint
                else None
            ),
        )
        components = pipe.run(manifest, data_dir, group=args.group)
        for name in sorted(components):
            print(f"{name}: {components[name].count()} rows -> {args.warehouse}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":  # pragma: no cover - exercised via __main__
    raise SystemExit(main())
