"""The broker under test, in its own process.

Starts ``KafkaFrontend`` over a ``WireLog`` holding one 8-partition
topic on an OS-assigned localhost port, prints ``READY <port>`` and
serves until its standard input closes. It then writes its peak RSS
(and, when traced, its spans and counts) as JSON to ``--out``.

    python3 perfbench/broker_proc.py --topic events --partitions 8 --out stats.json [--trace]
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer, peak_rss_mb  # noqa: E402


async def _serve(args, tracer) -> None:
    from kcore_spark.protocol.broker import WireLog
    from kcore_spark.protocol.server import KafkaFrontend

    log = WireLog()
    log.create_topic(args.topic, args.partitions)
    front = KafkaFrontend(host="127.0.0.1", port=0, wire_log=log)
    await front.start()
    print(f"READY {front.port}", flush=True)
    loop = asyncio.get_running_loop()
    await loop.run_in_executor(None, sys.stdin.read)  # until the harness closes stdin
    await front.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic", default="events")
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    tracer = Tracer()
    if args.trace:
        from instrument import install_protocol

        install_protocol(tracer)
    asyncio.run(_serve(args, tracer))
    out = {"peak_rss_mb": peak_rss_mb(), "spans": tracer.spans, "counts": tracer.counts}
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
