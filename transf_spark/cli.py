"""Engine CLI — the reference's argument parser and REPL, Spark-side.

Reference parity:
- typed option parsing with validation ≈ `ArgsLoop`/`arg_match`
  (`/root/reference/src/argument.cpp:3-56,87-105`; option loops
  `/root/reference/transf_server.cpp:377-520`);
- the interactive loop (read line → trim → `@exit`/`@quit`/`@q` end, `@...`
  error, else treat as work item) ≈ the client REPL
  (`/root/reference/transf_client.cpp:451-479`) — here the work item is a
  declared query name instead of a file path;
- `ping` ≈ `transf_client --ping` (`/root/reference/transf_client.cpp:413-440`):
  N trivial-query round trips with per-try latency and min/avg/max.

Usage::

    python -m transf_spark list
    python -m transf_spark run agg_hash_groupby --sf-dir /root/testdata/sf0.01
    python -m transf_spark explain join_multiway_star
    python -m transf_spark oracle dedup_exact
    python -m transf_spark ping
    python -m transf_spark repl
"""

from __future__ import annotations

import argparse
import sys
import time

from transf_spark.sources.tables import DEFAULT_SF_DIR


def _spark(cpus: int | None = None):
    from transf_spark.session import get_spark

    return get_spark("transf_spark_cli", cpus=cpus)


def cmd_list(_args) -> int:
    from transf_spark.queries import all_specs

    specs = all_specs()
    width = max(len(n) for n in specs)
    for name, spec in sorted(specs.items()):
        check = "oracle" if spec.oracle else "rows-only"
        print(f"{name:<{width}}  {spec.category:<22} {spec.origin:<10} {check}")
    return 0


def _resolve(name: str):
    from transf_spark.queries import all_specs

    specs = all_specs()
    if name not in specs:
        print(f"error: unknown query {name!r}; `list` shows the inventory", file=sys.stderr)
        return None
    return specs[name].fn


def cmd_run(args) -> int:
    fn = _resolve(args.name)
    if fn is None:
        return 2
    spark = _spark(args.cpus)
    t0 = time.perf_counter()
    df = fn(spark, args.sf_dir)
    rows = df.limit(args.limit).collect()
    dt = time.perf_counter() - t0
    print(" | ".join(df.columns))
    for r in rows:
        print(" | ".join(str(v) for v in r))
    print(f"-- {len(rows)} row(s) shown (limit {args.limit}) in {dt:.2f}s", file=sys.stderr)
    return 0


def cmd_explain(args) -> int:
    fn = _resolve(args.name)
    if fn is None:
        return 2
    df = fn(_spark(args.cpus), args.sf_dir)
    df.explain("formatted")
    return 0


def cmd_oracle(args) -> int:
    from transf_spark.queries import all_specs

    spec = all_specs().get(args.name)
    if spec is None:
        print(f"error: unknown query {args.name!r}; `list` shows the inventory", file=sys.stderr)
        return 2
    if spec.oracle is None:
        print(f"{args.name}: rows-only query (no SQL oracle declared)")
        return 0
    from tests.oracle import compare, duckdb_con

    diff = compare(spec.fn(_spark(args.cpus), args.sf_dir), duckdb_con(args.sf_dir), spec.oracle)
    if diff:
        print(f"{args.name}: MISMATCH")
        for line in diff[:10]:
            print("  ", line)
        return 1
    print(f"{args.name}: OK (matches DuckDB oracle at {args.sf_dir})")
    return 0


def cmd_ping(args) -> int:
    # `transf_client --ping`: 4 tries, 1 s apart, ms RTT + summary
    spark = _spark(args.cpus)
    rtts = []
    for i in range(args.tries):
        t0 = time.perf_counter()
        spark.sql("SELECT 1").collect()
        ms = (time.perf_counter() - t0) * 1000
        rtts.append(ms)
        print(f"Hello from {spark.sparkContext.master}: time={ms:.1f} ms")
        if i + 1 < args.tries:
            time.sleep(args.interval)
    print(f"min/avg/max = {min(rtts):.1f}/{sum(rtts)/len(rtts):.1f}/{max(rtts):.1f} ms")
    return 0


def cmd_avro(args) -> int:
    """Inspect one Avro OCF file via the codec's own header/block walkers
    — schema, codec, block census — without starting a Spark session
    (the DataSource reader's driver-side planning path, surfaced)."""
    import json as _json

    from transf_spark.sources.avro_ocf import (
        scan_block_index,
        scan_header,
        spark_ddl,
    )

    try:
        with open(args.path, "rb") as f:
            fields, _sync, codec = scan_header(f)
            f.seek(0)
            index = scan_block_index(f)
    except (OSError, ValueError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(f"file:    {args.path}")
    print(f"codec:   {codec}")
    print(f"blocks:  {len(index)}")
    print(f"records: {sum(n for _, n, _ in index)}")
    print(f"payload: {sum(s for _, _, s in index)} bytes")
    print("schema:")
    for name, desc, nullable in fields:
        print(f"  {name}: {_json.dumps(desc) if not isinstance(desc, str) else desc}"
              f"{' (nullable)' if nullable else ''}")
    # the Spark schema a DataSource over this file should declare —
    # spark-avro's public type mapping incl. logical types (round 13)
    try:
        print(f"spark:   {spark_ddl(fields)}")
    except ValueError as e:
        # e.g. a decimal wider than Spark's 38-digit cap: the file is
        # readable through the raw API, it just has no Spark column type
        print(f"spark:   (not Spark-mappable: {e})")
    return 0


def cmd_repl(args) -> int:
    from transf_spark.queries import all_specs

    qs = {n: sp.fn for n, sp in all_specs().items()}
    spark = _spark(args.cpus)
    print(f"{len(qs)} queries loaded; type a query name, `@list`, or `@exit`.")
    while True:
        try:
            line = input("transf> ").strip()
        except EOFError:
            break
        if not line:
            continue
        if line in ("@exit", "@quit", "@q"):  # transf_client.cpp:457-459
            break
        if line == "@list":
            print(" ".join(sorted(qs)))
            continue
        if line.startswith("@"):
            print(f"error: unknown command {line!r}")  # transf_client.cpp:460-462
            continue
        if line not in qs:
            print(f"error: unknown query {line!r} (`@list`)")
            continue
        t0 = time.perf_counter()
        for r in qs[line](spark, args.sf_dir).limit(args.limit).collect():
            print(" | ".join(str(v) for v in r))
        print(f"-- done in {time.perf_counter() - t0:.2f}s")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="transf_spark", description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="parquet table directory")
        sp.add_argument("--cpus", type=int, default=None, help="local[] parallelism")

    sub.add_parser("list", help="print the declared query inventory").set_defaults(fn=cmd_list)

    run = sub.add_parser("run", help="run a declared query")
    run.add_argument("name")
    run.add_argument("--limit", type=int, default=20)
    common(run)
    run.set_defaults(fn=cmd_run)

    ex = sub.add_parser("explain", help="formatted physical plan of a query")
    ex.add_argument("name")
    common(ex)
    ex.set_defaults(fn=cmd_explain)

    orc = sub.add_parser("oracle", help="compare a query against its DuckDB oracle")
    orc.add_argument("name")
    common(orc)
    orc.set_defaults(fn=cmd_oracle)

    ping = sub.add_parser("ping", help="engine liveness + latency (4 tries)")
    ping.add_argument("--tries", type=int, default=4)
    ping.add_argument("--interval", type=float, default=1.0)
    common(ping)
    ping.set_defaults(fn=cmd_ping)

    av = sub.add_parser("avro", help="inspect an Avro OCF file (no Spark session)")
    av.add_argument("path")
    av.set_defaults(fn=cmd_avro)

    repl = sub.add_parser("repl", help="interactive query loop")
    repl.add_argument("--limit", type=int, default=20)
    common(repl)
    repl.set_defaults(fn=cmd_repl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
