"""Demo CLI — the Spark twin of the reference's example binary
(/root/reference/cmd/gomaxscale/main.go): connect to a CDC listener,
print events, report periodic throughput stats.

    python -m gomaxscale_spark.cli --host H --port P \
        --database example --table users --user u --password p \
        [--gtid 0-1-42] [--version 2] [--once] [--duration 30]

Flags/env mirror the reference (env prefix GOMAXSCALE_ → ours
MAXSCALE_CDC_). ``--once`` drains the stream in batch mode and exits
(bounded backfill); default is a streaming console sink with a stats
line per micro-batch (the reference's WithStats hook).
"""

from __future__ import annotations

import argparse
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gomaxscale-spark", description=__doc__)
    env = os.environ.get

    def opt(name: str, default=None, **kw):
        p.add_argument(
            f"--{name}", default=env(f"MAXSCALE_CDC_{name.upper().replace('-', '_')}", default), **kw
        )

    opt("host", "127.0.0.1")
    opt("port", "4001")
    opt("database", required=False)
    opt("table", required=False)
    opt("user", "")
    opt("password", "")
    opt("gtid", "")
    opt("version", "")
    opt("uuid", "")
    opt(
        "read-timeout",
        "2.0",
        help="seconds a read waits for data. Streaming: bounds only the wait for "
        "a micro-batch's first event, so an idle stream yields an empty batch after "
        "it; a batch ends when the socket is drained or at 10,000 events. "
        "--once: three quiet waits in a row end the drain",
    )
    p.add_argument("--once", action="store_true", help="drain in batch mode and exit")
    p.add_argument("--duration", type=float, default=None, help="stop streaming after N seconds")
    p.add_argument("--cpus", type=int, default=4)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not args.database or not args.table:
        print("error: --database and --table are required", file=sys.stderr)
        return 2

    from .session import get_session
    from .sources.cdc_source import MaxScaleCDCDataSource
    from .streaming.stats import StatsListener

    spark = get_session("gomaxscale_spark_cli", cpus=args.cpus)
    spark.dataSource.register(MaxScaleCDCDataSource)

    options = {
        "host": args.host,
        "port": str(args.port),
        "database": args.database,
        "table": args.table,
        "user": args.user,
        "password": args.password,
        "read_timeout": str(getattr(args, "read_timeout")),
    }
    for name in ("gtid", "version", "uuid"):
        if getattr(args, name):
            options[name] = getattr(args, name)

    if args.once:
        df = spark.read.format("maxscale_cdc").options(**options).load()
        for row in df.toLocalIterator():
            print(f"[{row.kind}] seq={row.sequence} type={row.event_type} raw={row.raw}")
        spark.stop()
        return 0

    listener = StatsListener(
        lambda s: print(
            f"stats: {s.events_per_second:.0f} events/second, "
            f"average processing time {s.processing_time_ms:.0f}ms",
            file=sys.stderr,
        )
    )
    spark.streams.addListener(listener)
    q = (
        spark.readStream.format("maxscale_cdc")
        .options(**options)
        .load()
        .writeStream.format("console")
        .option("truncate", "false")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.awaitTermination(args.duration)
    except KeyboardInterrupt:
        pass
    finally:
        q.stop()
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
