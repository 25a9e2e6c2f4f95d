"""Helpers shared by every workload of the benchmark.

- percentiles under the sample-count rule: a tail percentile is
  reported only when at least ten samples lie beyond it;
- a span tracer that records spans in memory (name, start, end,
  parent, request or trigger id) and computes each span's self time;
- the run environment (core count, loadavg, work directory) and the
  result line the benchmark prints last.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from metrics import LAYERS, SPAN_LAYER

MIN_BEYOND = 10
# candidate tail percentiles, highest first; the first one with at least
# MIN_BEYOND samples above it is the one reported
TAIL_LADDER = (99.9, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)



# ------------------------------------------------------------ percentiles


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * pct / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def supported_tail(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest percentile of TAIL_LADDER with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        # integer arithmetic: n * (100 - p) / 100 >= min_beyond
        if round(n * (100.0 - p) * 10) >= min_beyond * 1000:
            return p
    return None


def latency_summary(samples) -> dict:
    """Median and the highest supported tail percentile, with the count.
    With too few samples for any ladder percentile the tail is the
    maximum and ``tail_pct`` reads 100."""
    n = len(samples)
    tail = supported_tail(n)
    return {
        "n": n,
        "p50": percentile(samples, 50),
        "tail_pct": tail if tail is not None else 100.0,
        "tail": percentile(samples, tail) if tail is not None else max(samples),
    }


def median(values) -> float:
    return percentile(values, 50)


# ------------------------------------------------------------ tracing


class Tracer:
    """Spans kept in memory as ``[name, start_ns, end_ns, parent, rid]``,
    stamped on the system-wide monotonic clock so that stamps taken by
    other processes of the run line up with them.

    ``parent`` is the index of the enclosing span on the same thread
    (-1 for a root); ``rid`` is the request or trigger id, inherited
    from the parent when not given. Spans are written out only when the
    run ends."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None):
        st = self._stack()
        parent = st[-1] if st else -1
        if rid is None and parent >= 0:
            rid = self.spans[parent][4]
        rec = [name, time.monotonic_ns(), 0, parent, rid]
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield idx
        finally:
            rec[2] = time.monotonic_ns()
            st.pop()

    def add(self, name: str, start_ns: int, end_ns: int, parent: int = -1, rid=None) -> int:
        """Record a span measured elsewhere (e.g. from Spark's progress)."""
        with self._lock:
            self.spans.append([name, start_ns, end_ns, parent, rid])
            return len(self.spans) - 1

    def wrap(self, owner, attr: str, name: str, rid_of=None, on_result=None):
        """Replace ``owner.attr`` by a traced wrapper; returns an undo.

        ``rid_of(args)`` extracts a request id; ``on_result(args,
        result)`` updates ``self.counts`` after the call."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            rid = rid_of(args) if rid_of is not None else None
            with tracer.span(name, rid):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(args, out)
            return out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, orig)


def self_times_ns(spans) -> dict[str, int]:
    """Per span name, the summed self time: each span's duration minus
    the part of its interval that its direct children cover."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s[3] >= 0:
            children[s[3]].append(i)
    out: dict[str, int] = defaultdict(int)
    for i, (name, t0, t1, _parent, _rid) in enumerate(spans):
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(
            (max(spans[c][1], t0), min(spans[c][2], t1)) for c in children.get(i, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[name] += (t1 - t0) - covered
    return dict(out)


def rpc_waits_ms(spans, stamps) -> list[float]:
    """Per request, the client's RPC time minus the broker's
    ``server.handle_request`` time, matched by correlation id.
    ``stamps`` holds ``(corr, send_s, recv_s)``; an id that more than
    one handled request carried cannot be matched and is left out."""
    handle: dict = {}
    for name, t0, t1, _parent, rid in spans:
        if name == "server.handle_request" and rid is not None:
            handle[rid] = None if rid in handle else (t1 - t0) / 1e6
    return [
        (recv - send) * 1000 - handle[corr]
        for corr, send, recv in stamps
        if handle.get(corr) is not None
    ]


def layer_self_ms(spans, within: tuple[int, int] | None = None) -> dict[str, float]:
    """Self time per layer (LAYERS), in ms. ``within`` keeps only spans
    that start inside the (start_ns, end_ns) window."""
    if within is not None:
        keep = [i for i, s in enumerate(spans) if within[0] <= s[1] <= within[1]]
        remap = {old: new for new, old in enumerate(keep)}
        spans = [
            [s[0], s[1], s[2], remap.get(s[3], -1), s[4]] for s in (spans[i] for i in keep)
        ]
    out = {layer: 0.0 for layer in LAYERS}
    for name, ns in self_times_ns(spans).items():
        out[SPAN_LAYER[name.split(".", 1)[0]]] += ns / 1e6
    return out


# ------------------------------------------------------------ environment


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time
    the hypervisor ran something else while this machine wanted a CPU."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Env:
    """Where a run reads and writes: everything stays under ``work``,
    a directory inside the checkout the benchmark runs from."""

    bench = os.path.dirname(os.path.abspath(__file__))

    def __init__(self, root: str, workload: str, seed: int) -> None:
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)
        self.cpus = len(os.sched_getaffinity(0))  # what nproc prints
        self.loadavg_start = loadavg()
        self.ticks_start = cpu_ticks()
        self.child_env: dict[str, str] = {}

    def prepare(self) -> None:
        """Set the environment this process and every process it starts
        share: Spark's ``local[N]`` and the package's shuffle default follow
        the core count; the driver heap is the package's default, whatever
        the caller's shell sets; Spark's Python workers find the package and
        the benchmark on ``PYTHONPATH``; times read back from Spark convert
        in UTC, as the package's session does; temporary files stay in
        ``work``."""
        paths = [self.root, self.bench] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
        os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
        os.environ.update(
            PYTHONPATH=":".join(paths),
            SPARK_GRAFT_CPUS=str(self.cpus),
            TZ="UTC",
            TMPDIR=self.dir("tmp"),
        )
        time.tzset()
        self.child_env = dict(os.environ)

    def path(self, *parts: str) -> str:
        """A file path under ``work``; its directory exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under ``work``, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def script(self, name: str) -> str:
        return os.path.join(self.bench, name)


# ------------------------------------------------------------ result line


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The benchmark's last stdout line. ``metrics`` maps a name to
    ``(value, unit)``; values keep all their digits."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(v), "unit": unit} for name, (v, unit) in metrics.items()
            },
        }
    )
