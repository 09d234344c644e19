"""CLI: write / scan / query — flag-compatible with the reference CLI.

Reference usage (``cae/src/cli.cpp:16-27``)::

    write <out> <rows> [seed]
    scan <in>
    query <in> [--select c1,c2] [--where col op literal]* \
               [--agg count|sum|min|max col] [--groupby col]

op tokens: eq ne lt le gt ge (``cae/src/cli.cpp:172-180``). Multiple
``--where`` clauses AND together (``cae/src/execution.cpp:163-188``).
Divergences (documented in SURVEY.md §2.1): literals may be float/string,
not just int64; filters on non-comparable columns error instead of being
silently ignored; display cap is a ``--limit`` flag instead of a hardcoded
20-row print cap (``cae/src/cli.cpp:276-279``).
"""

from __future__ import annotations

import argparse
import json
import sys

from .query import AggFunc, Predicate, QueryExecutor
from .session import get_spark
from .sources import colfile
from .sources.scanner import scan_metadata
from .sources.writer import generate_synthetic, write_parquet


def _cmd_write(args: argparse.Namespace) -> int:
    spark = get_spark("moteur_cli_write")
    df = generate_synthetic(spark, args.rows, seed=args.seed, variant=args.variant)
    if args.out.endswith(".col"):
        # reference-compatible container (cli parity with cae `write`)
        colfile.write_col(df, args.out, rows_per_group=args.row_group_size or 10_000)
    else:
        write_parquet(df, args.out, rows_per_row_group=args.row_group_size)
    print(f"wrote {args.rows} rows (seed {args.seed}, variant {args.variant}) to {args.out}")
    return 0


def _cmd_scan(args: argparse.Namespace) -> int:
    if args.path.endswith(".col"):
        schema, row_groups, total = colfile.read_col_metadata(args.path)
        meta = {
            "path": args.path,
            "format": "col",
            "total_rows": total,
            "schema": [
                {"name": c.name, "type": c.type.name, "encoding": c.encoding.name}
                for c in schema.columns
            ],
            "row_groups": [
                {
                    "num_rows": rg.num_rows,
                    "columns": [
                        {
                            "column": schema.columns[i].name,
                            "bytes": ch.total_size,
                            "min": ch.page_headers[0].min_value if ch.page_headers else None,
                            "max": ch.page_headers[0].max_value if ch.page_headers else None,
                        }
                        for i, ch in enumerate(rg.chunks)
                    ],
                }
                for rg in row_groups
            ],
        }
    else:
        meta = scan_metadata(args.path)
    json.dump(meta, sys.stdout, indent=2, default=str)
    print()
    return 0


def _build_executor(spark, args: argparse.Namespace) -> QueryExecutor:
    """Assemble the QueryExecutor exactly as the `query` verb does —
    shared by the CLI entry point and ``compile_query_df`` (the gate's
    way of proving the flag path compiles correct plans)."""
    if args.path.endswith(".col"):
        # Push the first integer-literal predicate into the .col reader so
        # zone-map page stats skip row groups before decode — the parity
        # path for the reference's canSkipPage (execution.cpp:48-71).
        # Remaining predicates still apply exactly via QueryExecutor.
        zmap = None
        for col, op, lit in args.where or []:
            if op not in ("eq", "ne", "lt", "le", "gt", "ge"):
                continue  # bad tokens get their clean error from Predicate.parse
            try:
                zmap = (col, op, int(lit))
                break
            except ValueError:
                continue
        source = colfile.read_col(spark, args.path, predicate=zmap)
    else:
        source = args.path
    qe = QueryExecutor(spark, source)
    if args.select:
        qe.set_projection([c.strip() for c in args.select.split(",") if c.strip()])
    for col, op, lit in args.where or []:
        qe.add_filter(Predicate.parse(col, op, lit))
    if args.agg:
        qe.set_aggregation(AggFunc(args.agg[0]), args.agg[1])
    if args.groupby:
        qe.set_group_by(args.groupby)
    return qe


def compile_query_df(spark, argv: list[str]):
    """Compile a full ``query``-verb argv through the REAL CLI path —
    argparse flag parsing, op-token validation (``Predicate.parse``,
    cae/src/cli.cpp:172-180), QueryExecutor assembly — and return the
    resulting DataFrame instead of printing it. This is what the
    ``cli_query_compiled`` gate entry runs, putting the last
    pytest-only surface (SURVEY.md §2.12) under the driver's
    value-hash check."""
    args = build_parser().parse_args(argv)
    if args.cmd != "query":
        raise ValueError(f"compile_query_df expects a query verb, got {args.cmd!r}")
    if args.groupby and not args.agg:
        # same contract as the CLI verb (which prints this and exits 2)
        raise ValueError("--groupby requires --agg")
    qe = _build_executor(spark, args)
    if args.groupby:
        return qe.execute_group_by()
    if args.agg:
        return qe.aggregate_df()
    return qe.execute_query()


def _cmd_query(args: argparse.Namespace) -> int:
    spark = get_spark("moteur_cli_query")
    if args.groupby and not args.agg:
        print("error: --groupby requires --agg", file=sys.stderr)
        return 2
    qe = _build_executor(spark, args)
    if args.groupby:
        rows = qe.execute_group_by().collect()
        for r in rows:
            print(f"{r[args.groupby]}\tcount={r['count']}\tsum={r['sum']}\tmin={r['min']}\tmax={r['max']}")
        return 0
    if args.agg:
        res = qe.execute_aggregate()
        print(f"count={res.count}\tsum={res.sum}\tmin={res.min}\tmax={res.max}")
        return 0
    df = qe.execute_query()
    if args.explain:
        _print_plan_diagnostics(df)
        return 0
    df.show(args.limit, truncate=False)
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    """Run an arbitrary SQL statement with the catalog tables of a data
    directory registered as temp views (plus any ``--table name=path``
    extras) — the full declarative surface next to the flag-based
    ``query`` verb. Catalyst gets the whole statement, so pushdown /
    pruning / join planning apply exactly as in the library API."""
    from .sources.catalog import TABLES, load_table, table_path

    spark = get_spark("moteur_cli_sql")
    import os

    if args.data_dir:
        for t in TABLES:
            if os.path.exists(table_path(args.data_dir, t)):
                load_table(spark, args.data_dir, t).createOrReplaceTempView(t)
    for spec in args.table or []:
        name, _, path = spec.partition("=")
        if not path:
            raise ValueError(f"--table expects name=path, got {spec!r}")
        if path.endswith(".col") or _is_col_dir(path):
            # the Python data source reads row-group-parallel and also
            # accepts directories of .col files (e.g. a stream sink)
            from .sources.col_datasource import register_col_datasource

            register_col_datasource(spark)
            spark.read.format("col").load(path).createOrReplaceTempView(name)
        else:
            spark.read.parquet(path).createOrReplaceTempView(name)
    df = spark.sql(args.statement)
    if args.explain:
        _print_plan_diagnostics(df)
        return 0
    df.show(args.limit, truncate=False)
    return 0


def _is_col_dir(path: str) -> bool:
    import os

    from .sources.colfile import col_files

    return os.path.isdir(path) and bool(col_files(path))


def _cmd_snapshot(args: argparse.Namespace) -> int:
    """Operate on a snapshot table: inspect history, read a version's
    stats, compact the current version, or vacuum old ones."""
    from .sources.snapshots import SnapshotTable

    t = SnapshotTable(args.path, ref=args.ref)
    if args.action == "history":
        for m in t.history():
            print(
                json.dumps(
                    {
                        "version": m["version"],
                        "parent": m["parent"],
                        "files": len(m["files"]),
                        "committed_at_unix": m["committed_at_unix"],
                    }
                )
            )
        return 0
    if args.action == "read":
        spark = get_spark("moteur_cli_snapshot")
        df = t.read(spark, version=args.version)
        print(f"version={args.version if args.version is not None else t.latest_version()} rows={df.count()}")
        df.show(args.limit, truncate=False)
        return 0
    if args.action == "compact":
        zcols = (
            [c.strip() for c in args.zorder.split(",")] if args.zorder else None
        )
        v = t.compact(
            get_spark("moteur_cli_snapshot"),
            target_files=args.target_files,
            zorder_cols=zcols,
        )
        print(f"compacted into version {v}")
        return 0
    if args.action == "vacuum":
        res = t.vacuum(keep_versions=args.keep_versions)
        print(json.dumps(res))
        return 0
    if args.action == "delete":
        # merge-on-read DELETE: commits an equality-delete key file,
        # rewrites nothing (snapshots.delete_where)
        if not args.keys or not args.where:
            raise ValueError("delete needs --keys col[,col...] and --where")
        keys = [c.strip() for c in args.keys.split(",")]
        col, op, lit = args.where[0]
        pred = Predicate.parse(col, op, lit).to_column()
        for col, op, lit in args.where[1:]:
            pred = pred & Predicate.parse(col, op, lit).to_column()
        v = t.delete_where(get_spark("moteur_cli_snapshot"), keys, pred)
        print(f"committed merge-on-read delete as version {v}")
        return 0
    if args.action == "diff":
        from pyspark.sql import functions as F

        from .sources.snapshots import diff_pruned_files, snapshot_diff

        if args.version is None or args.to_version is None:
            raise ValueError("diff needs --version (from) and --to-version")
        if not args.keys:
            raise ValueError("diff needs --keys col[,col...]")
        keys = [c.strip() for c in args.keys.split(",")]
        only_f, only_t, shared = diff_pruned_files(
            t, args.version, args.to_version
        )
        print(
            f"files: {len(only_f)} only-v{args.version}, "
            f"{len(only_t)} only-v{args.to_version}, "
            f"{len(shared)} shared (pruned from the scan)"
        )
        d = snapshot_diff(
            t,
            get_spark("moteur_cli_snapshot"),
            args.version,
            args.to_version,
            keys,
        )
        counts = {
            r["change_op"]: r["n"]
            for r in d.groupBy("change_op").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        print(json.dumps({"changes": counts}))
        d.orderBy("change_op", *keys).show(args.limit, truncate=False)
        return 0
    if args.action == "branch":
        if not args.name:
            raise ValueError("branch needs --name")
        br = t.create_branch(args.name, from_version=args.version)
        print(
            f"created branch {args.name!r} from {t.ref}@"
            f"{br._read_manifest(0)['branched_from']['version']}"
        )
        return 0
    if args.action == "branches":
        for b in t.branches():
            head = SnapshotTable(args.path, ref=b).latest_version()
            print(json.dumps({"branch": b, "head": head}))
        return 0
    if args.action == "tag":
        if not args.name:
            raise ValueError("tag needs --name")
        v = t.tag_version(args.name, version=args.version)
        print(f"tagged {t.ref}@{v} as {args.name!r}")
        return 0
    if args.action == "rollback":
        # RESTORE: new head re-pointing at --version's manifest; the bad
        # versions stay time-travelable (snapshots.rollback)
        if args.version is None:
            raise ValueError("rollback needs --version")
        v = t.rollback(args.version)
        print(f"rolled {t.ref} back to v{args.version} as version {v}")
        return 0
    raise ValueError(f"unknown snapshot action {args.action!r}")


def _print_plan_diagnostics(df) -> None:
    """EXPLAIN with the diagnostics the reference surfaces implicitly
    (what got pushed down, which columns are read) plus the plan itself."""
    from . import plans

    info = plans.scan_info(df)
    print(f"pushed_filters: {info['pushed_filters']}")
    print(f"read_schemas:   {info['read_schemas']}")
    print(info["plan"])


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="moteur-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    w = sub.add_parser("write", help="generate seeded synthetic data → parquet")
    w.add_argument("out")
    w.add_argument("rows", type=int)
    w.add_argument("seed", type=int, nargs="?", default=42)
    w.add_argument("--variant", choices=["cli", "bench"], default="cli")
    w.add_argument("--row-group-size", type=int, default=None)
    w.set_defaults(fn=_cmd_write)

    s = sub.add_parser("scan", help="dump schema + row-group metadata + stats")
    s.add_argument("path")
    s.set_defaults(fn=_cmd_scan)

    q = sub.add_parser("query", help="projected/filtered/aggregated query")
    q.add_argument("path")
    q.add_argument("--select", default=None)
    q.add_argument("--where", nargs=3, action="append", metavar=("COL", "OP", "LIT"))
    q.add_argument("--agg", nargs=2, metavar=("FUNC", "COL"))
    q.add_argument("--groupby", default=None)
    q.add_argument("--limit", type=int, default=20)
    q.add_argument(
        "--explain",
        action="store_true",
        help="print pushdown/pruning diagnostics + the physical plan "
        "instead of executing",
    )
    q.set_defaults(fn=_cmd_query)

    sq = sub.add_parser(
        "sql", help="run a SQL statement over registered table views"
    )
    sq.add_argument("statement")
    sq.add_argument(
        "--data-dir",
        default=None,
        help="register every known catalog table found here as a view",
    )
    sq.add_argument(
        "--table",
        action="append",
        metavar="NAME=PATH",
        help="register an extra parquet/.col file as a view (repeatable)",
    )
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--explain", action="store_true")
    sq.set_defaults(fn=_cmd_sql)

    sn = sub.add_parser(
        "snapshot", help="snapshot-table history/read/compact/vacuum/diff"
    )
    sn.add_argument(
        "action",
        choices=[
            "history", "read", "compact", "vacuum", "diff", "delete",
            "branch", "branches", "tag", "rollback",
        ],
    )
    sn.add_argument("path")
    sn.add_argument("--version", type=int, default=None)
    sn.add_argument(
        "--to-version",
        type=int,
        default=None,
        help="diff target version (--version is the base)",
    )
    sn.add_argument(
        "--keys",
        default=None,
        help="diff/delete key columns, comma-separated",
    )
    sn.add_argument(
        "--where",
        nargs=3,
        action="append",
        metavar=("COL", "OP", "LIT"),
        help="delete predicate(s), ANDed (op: eq ne lt le gt ge)",
    )
    sn.add_argument("--target-files", type=int, default=1)
    sn.add_argument(
        "--zorder",
        default=None,
        help="comma-separated columns: compact clustered on their Morton key",
    )
    sn.add_argument("--keep-versions", type=int, default=1)
    sn.add_argument(
        "--ref",
        default="main",
        help="branch to operate on (default: main)",
    )
    sn.add_argument("--name", default=None, help="branch/tag name")
    sn.add_argument("--limit", type=int, default=20)
    sn.set_defaults(fn=_cmd_snapshot)
    return p


def main(argv: list[str] | None = None) -> int:
    from pyspark.errors import AnalysisException, ParseException

    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except (ParseException, AnalysisException) as e:
        # SQL errors (syntax, unknown view/column) print the engine's
        # one-line message, not a JVM traceback.
        print(f"error: {e.getMessage().strip().splitlines()[0]}", file=sys.stderr)
        return 1
    except (ValueError, KeyError, TypeError, FileNotFoundError) as e:
        # User-facing errors (bad op token, unknown column, illegal encoding)
        # print cleanly, matching the reference CLI's stderr+exit-1 behavior
        # (cae/src/cli.cpp:330-343).
        msg = e.args[0] if e.args else str(e)
        print(f"error: {msg}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
