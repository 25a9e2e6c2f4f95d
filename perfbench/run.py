#!/usr/bin/env python3
"""Layered benchmark of the kcore_spark stack.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Workloads:

- ``wire_produce_fetch``: the Kafka-protocol broker alone (no Spark);
- ``ingest_to_answer``: Produce over TCP -> wire log -> flush to the
  parquet topic log -> ``kcore_topic`` stream -> verified aggregate;
- ``query_mix``: five headline queries over static parquet, each
  checked against its DuckDB oracle.

Inputs are generated from ``--seed``. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries the run's details (loadavg
at start and end, core count, sample counts, the bottleneck layer).
Everything the run writes goes under ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import Env, cpu_ticks, loadavg, result_line  # noqa: E402
from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def _stop_children(grace_s: float = 10.0) -> None:
    """Stop and reap any process this run started that is still alive
    (e.g. a Spark JVM whose start was interrupted)."""
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        if ppid == me:
            kids.append(int(pid))
    for pid in kids:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + grace_s
    for pid in kids:
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.1)


def _steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the processes
    # this run started and remove its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kcore_spark", "__init__.py")):
        print("perfbench: run from the root of a kcore_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    env = Env(root, args.workload, args.seed)
    try:
        env.prepare()
        if args.workload == "wire_produce_fetch":
            import wl_wire as wl
        elif args.workload == "ingest_to_answer":
            import wl_ingest as wl
        else:
            import wl_query as wl
        out = wl.run(env, args.seed, args.seconds, bool(args.trace))
    finally:
        _stop_children()
        shutil.rmtree(env.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(env.work))
        except OSError:
            pass  # another run's work directory is still there

    if args.trace:
        # every per-layer metric; a layer this workload does not reach reads 0
        metrics = {name: out["layer"].get(name, (0.0, unit)) for name, unit in PER_LAYER.items()}
    else:
        metrics = {name: out["metrics"][name] for name in END_TO_END}
    detail = dict(out.get("detail", {}))
    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        cores=env.cpus,
        loadavg_start=env.loadavg_start,
        loadavg_end=loadavg(),
        steal_pct=_steal_pct(env.ticks_start, cpu_ticks()),
    )
    print(json.dumps({"detail": detail}, default=str))
    print(result_line(out["correct"], out["attempted"], out["failed"], metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
