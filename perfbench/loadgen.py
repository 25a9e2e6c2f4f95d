"""Load generator process for ``ingest_to_answer``.

Encodes every Produce batch of the run's events up front (before any
clock starts), prints ``READY``, then serves commands from stdin:

    GO <topic> <lo> <hi>   send events [lo, hi) closed-loop on one
                           connection, one partition per request in
                           turn; answers ``DONE <json>`` with per-request
                           (send, recv, partition, error, base offset)
                           stamps on the system-wide monotonic clock.

    python3 perfbench/loadgen.py --port P --seed N --events E --batch 500 --partitions 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import fastcrc  # noqa: E402
import wireclient  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--batch", type=int, default=500)
    ap.add_argument("--partitions", type=int, default=8)
    args = ap.parse_args()

    from kcore_spark.protocol.records import Record, encode_record_batch

    records = datagen.event_records(datagen.events(args.seed, args.events))
    starts = range(0, len(records), args.batch)
    with fastcrc.codec_crc():
        encoded = [
            encode_record_batch([Record(k, v, ts) for k, v, ts in records[lo : lo + args.batch]])
            for lo in starts
        ]
    batches = dict(zip(starts, fastcrc.patch_batch_crcs(encoded)))
    conn = wireclient.Connection("127.0.0.1", args.port)
    corr = 0
    print("READY", flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd or cmd[0] != "GO":
            continue
        topic, lo, hi = cmd[1], int(cmd[2]), int(cmd[3])
        frames = []
        for i, start in enumerate(range(lo, hi, args.batch)):
            corr += 1
            frames.append(
                (corr, wireclient.produce_request(corr, topic, i % args.partitions, batches[start]))
            )
        reqs = []
        for c, frame in frames:
            t_send = time.monotonic()
            resp = conn.rpc(frame)
            t_recv = time.monotonic()
            part, err, base = wireclient.produce_ack(resp)
            reqs.append([c, t_send, t_recv, part, err, base])
        print("DONE " + json.dumps({"requests": reqs}), flush=True)
    conn.close()


if __name__ == "__main__":
    main()
