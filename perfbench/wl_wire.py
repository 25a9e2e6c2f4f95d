"""Workload ``wire_produce_fetch``: the broker alone, no Spark.

The broker runs in its own process (broker_proc.py). This process is
the load generator, using at most four connections:

1. closed loop: a fixed set of Produce v3 requests (100 events-shaped
   records each) on 4 connections, each sending its next request when
   the previous one is acknowledged, in consecutive chunks whose median
   rate is reported;
2. open loop: Produce requests due at a fixed 50 requests/s for
   ``--seconds`` seconds, pipelined on one connection and timed from
   when each was due, while one consumer tails the log over Fetch
   (``max_wait_ms`` 500, ``min_bytes`` 1, next Fetch sent as soon as the
   last one returns);
3. replay: Fetch of the whole log from offset 0, repeated for
   REPLAY_WINDOW_S seconds (at least MIN_REPLAYS times); the median is
   reported. The host's speed drifts over seconds, so a median over a
   window of fixed length is steadier from run to run than one over a
   fixed number of replays. A traced run replays MIN_REPLAYS times, so
   that its per-layer counts repeat exactly.

All batches are encoded before the clock starts; consumers parse only
batch headers while timed, and decode and verify records afterwards.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
import threading
import time
from collections import defaultdict

import datagen
import fastcrc
import wireclient
from common import latency_summary, layer_self_ms, median, percentile, rpc_waits_ms

TOPIC = "events"
PARTITIONS = 8
RECORDS_PER_REQUEST = 100
CLOSED_REQUESTS = 300
CLOSED_CHUNKS = 5  # records_per_s is the median over these consecutive chunks
CLOSED_CONNECTIONS = 4
OPEN_RATE = 50  # requests/s
BROKER_STARTS = 7
REPLAY_WINDOW_S = 12.0
MIN_REPLAYS = 5
MAX_REPLAYS = 1000
# correlation ids: Produce requests are numbered 1..n, the tail consumer's
# Fetches from TAIL_CORR and replay k's from REPLAY_CORR + k * REPLAY_IDS,
# so every id names one request
TAIL_CORR = 1_000_000
REPLAY_CORR = 2_000_000
REPLAY_IDS = 100_000


class Broker:
    """One broker process; the constructor returns once it answers
    ApiVersions, and ``setup_s`` is the time that took."""

    def __init__(self, env, trace: bool, tag: str) -> None:
        self.out = env.path(f"broker-{tag}.json")
        cmd = [sys.executable, env.script("broker_proc.py"), "--topic", TOPIC]
        cmd += ["--partitions", str(PARTITIONS), "--out", self.out]
        if trace:
            cmd.append("--trace")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env.child_env
        )
        line = self.proc.stdout.readline()
        if not line.startswith("READY "):
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError(f"broker failed to start: {line!r}")
        self.port = int(line.split()[1])
        conn = wireclient.Connection("127.0.0.1", self.port)
        conn.rpc(wireclient.api_versions_request(0))
        conn.close()
        self.setup_s = time.perf_counter() - t0

    def stop(self) -> dict:
        self.proc.stdin.close()
        self.proc.wait(timeout=60)
        with open(self.out) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def _encode_batches(records) -> list[bytes]:
    from kcore_spark.protocol.records import Record, encode_record_batch

    with fastcrc.codec_crc():
        out = [
            encode_record_batch([Record(k, v, ts) for k, v, ts in records[i : i + RECORDS_PER_REQUEST]])
            for i in range(0, len(records), RECORDS_PER_REQUEST)
        ]
    return fastcrc.patch_batch_crcs(out)


def _closed_loop(port: int, frames: list[bytes]):
    """Send every frame, CLOSED_CONNECTIONS at a time. Returns the
    elapsed seconds, per-request (send, recv, response) and errors."""
    results: list = [None] * len(frames)
    nxt = iter(range(len(frames)))
    lock = threading.Lock()
    conns = [wireclient.Connection("127.0.0.1", port) for _ in range(CLOSED_CONNECTIONS)]
    errors: list[BaseException] = []

    def worker(conn):
        try:
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                t_send = time.perf_counter()
                resp = conn.rpc(frames[i])
                results[i] = (t_send, time.perf_counter(), resp)
        except (OSError, ConnectionError) as e:
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(c,)) for c in conns]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    for c in conns:
        c.close()
    return elapsed, results, errors


def _open_loop(port: int, frames: list[bytes], start_offsets: dict[int, int], end_offsets: dict[int, int]):
    """Produce ``frames`` at OPEN_RATE on one pipelined connection while
    a consumer tails the topic until it holds ``end_offsets``. The
    consumer's Fetches carry ids from TAIL_CORR on."""
    prod = wireclient.Connection("127.0.0.1", port)
    cons = wireclient.Connection("127.0.0.1", port)
    n = len(frames)
    sends = [0.0] * n
    recvs: list = [None] * n
    tail: list = []  # (recv_time, partition, base, count, blob)
    fetches = [0, 0]  # requests, empty responses
    errors: list[BaseException] = []
    t0 = time.perf_counter() + 0.05
    due = [t0 + j / OPEN_RATE for j in range(n)]

    def sender():
        try:
            for j in range(n):
                delay = due[j] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                sends[j] = time.perf_counter()
                prod.send(frames[j])
        except OSError as e:
            errors.append(e)

    def receiver():
        try:
            for j in range(n):
                resp = prod.recv()
                recvs[j] = (time.perf_counter(), resp)
        except (OSError, ConnectionError) as e:
            errors.append(e)

    def consumer():
        offsets = dict(start_offsets)
        corr = TAIL_CORR
        deadline = due[-1] + 30.0
        try:
            while any(offsets[p] < end_offsets[p] for p in offsets):
                if time.perf_counter() > deadline:
                    raise TimeoutError("tail consumer fell behind")
                resp = cons.rpc(wireclient.fetch_request(corr, TOPIC, offsets, 500, 1))
                t = time.perf_counter()
                corr += 1
                fetches[0] += 1
                got = False
                for part, err, _hw, blob in wireclient.fetch_batches(resp):
                    if err or not blob:
                        continue
                    for base, count in wireclient.batch_span(blob):
                        tail.append((t, part, base, count, blob))
                        offsets[part] = max(offsets[part], base + count)
                        got = True
                if not got:
                    fetches[1] += 1
        except (OSError, ConnectionError, TimeoutError) as e:
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (sender, receiver, consumer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    prod.close()
    cons.close()
    return due, sends, recvs, tail, fetches, errors


def _replay(port: int, end_offsets: dict[int, int], corr: int):
    conn = wireclient.Connection("127.0.0.1", port)
    offsets = {p: 0 for p in end_offsets}
    blobs: list = []
    t0 = time.perf_counter()
    while any(offsets[p] < end_offsets[p] for p in offsets):
        resp = conn.rpc(wireclient.fetch_request(corr, TOPIC, offsets, 500, 1))
        corr += 1
        progressed = False
        for part, err, _hw, blob in wireclient.fetch_batches(resp):
            if err or not blob:
                continue
            blobs.append((part, blob))
            for base, count in wireclient.batch_span(blob):
                offsets[part] = max(offsets[part], base + count)
                progressed = True
        if not progressed:
            raise RuntimeError(f"replay stalled at {offsets}")
    elapsed = time.perf_counter() - t0
    conn.close()
    return elapsed, blobs


def _measure(port: int, frames: list[bytes], closed_end: dict, final_end: dict, replay_window_s: float):
    """The three timed phases against one running broker."""
    step = CLOSED_REQUESTS // CLOSED_CHUNKS
    closed_res, closed_rates, errors = [], [], []
    for lo in range(0, CLOSED_REQUESTS, step):
        elapsed, res, errs = _closed_loop(port, frames[lo : lo + step])
        closed_res += res
        closed_rates.append(step * RECORDS_PER_REQUEST / elapsed)
        errors += errs
    due, sends, recvs, tail, fetches, open_errors = _open_loop(
        port, frames[CLOSED_REQUESTS:], closed_end, final_end
    )
    errors += open_errors
    # the first replay's blobs are verified; each later one must match them
    replays = [_replay(port, final_end, REPLAY_CORR)]
    first_digest = _blobs_digest(replays[0][1])
    mismatched = 0
    t_end = time.perf_counter() + replay_window_s
    while len(replays) < MIN_REPLAYS or (time.perf_counter() < t_end and len(replays) < MAX_REPLAYS):
        elapsed, blobs = _replay(port, final_end, REPLAY_CORR + len(replays) * REPLAY_IDS)
        mismatched += _blobs_digest(blobs) != first_digest
        replays.append((elapsed, None))
    return closed_rates, closed_res, due, sends, recvs, tail, fetches, replays, mismatched, errors


def _blobs_digest(blobs) -> str:
    """Digest of a replay's (partition, blob) list, in any order."""
    h = hashlib.sha256()
    for part, blob in sorted(blobs):
        h.update(part.to_bytes(4, "big") + len(blob).to_bytes(4, "big") + blob)
    return h.hexdigest()


def _digest(pairs) -> str:
    h = hashlib.sha256()
    for k, v in sorted(pairs):
        h.update(len(k).to_bytes(4, "big") + k + len(v).to_bytes(4, "big") + v)
    return h.hexdigest()


def _decoded(blobs) -> dict[int, list]:
    """partition -> [(offset, key, value)] of fetched blobs."""
    from kcore_spark.protocol.records import decode_all_batches

    blobs = list(blobs)
    out: dict[int, list] = defaultdict(list)
    with fastcrc.codec_crc(fastcrc.batch_crcs([b for _, b in blobs])):
        for part, blob in blobs:
            out[part].extend((r.offset, bytes(r.key), bytes(r.value)) for r in decode_all_batches(blob))
    return out


def run(env, seed: int, seconds: int, trace: bool) -> dict:
    n_open = OPEN_RATE * seconds
    n_req = CLOSED_REQUESTS + n_open
    ev = datagen.events(seed, n_req * RECORDS_PER_REQUEST)
    records = datagen.event_records(ev)
    batches = _encode_batches(records)
    frames = [
        wireclient.produce_request(i + 1, TOPIC, i % PARTITIONS, b) for i, b in enumerate(batches)
    ]
    per_part: dict[int, int] = defaultdict(int)
    for i in range(CLOSED_REQUESTS):
        per_part[i % PARTITIONS] += RECORDS_PER_REQUEST
    closed_end = {p: per_part[p] for p in range(PARTITIONS)}
    for i in range(CLOSED_REQUESTS, n_req):
        per_part[i % PARTITIONS] += RECORDS_PER_REQUEST
    final_end = {p: per_part[p] for p in range(PARTITIONS)}

    setups = []
    for k in range(BROKER_STARTS - 1):
        b = Broker(env, trace=False, tag=f"setup{k}")
        setups.append(b.setup_s)
        b.stop()
    if trace:
        # untraced reference for the tracing overhead: the closed loop alone
        step = CLOSED_REQUESTS // CLOSED_CHUNKS
        ref = Broker(env, trace=False, tag="untraced")
        try:
            ref_elapsed = CLOSED_CHUNKS * median(
                [_closed_loop(ref.port, frames[lo : lo + step])[0] for lo in range(0, CLOSED_REQUESTS, step)]
            )
            ref.stop()
        finally:
            ref.kill()
    broker = Broker(env, trace=trace, tag="main")
    setups.append(broker.setup_s)
    try:
        closed_rates, closed_res, due, sends, recvs, tail, fetches, replays, mismatched, errors = _measure(
            broker.port, frames, closed_end, final_end, 0.0 if trace else REPLAY_WINDOW_S
        )
        stats = broker.stop()
    finally:
        broker.kill()
    closed_s = CLOSED_REQUESTS * RECORDS_PER_REQUEST / median(closed_rates)

    # ---- after the clock: acks, digests, dense offsets
    failed = len(errors)
    bases: dict[int, dict[int, int]] = defaultdict(dict)  # partition -> base -> open request
    for j, r in enumerate(closed_res + recvs):
        if r is None:
            failed += 1
            continue
        part, err, base = wireclient.produce_ack(r[-1])
        if err:
            failed += 1
        elif j >= CLOSED_REQUESTS:
            bases[part][base] = j - CLOSED_REQUESTS
    replay_s = median([r[0] for r in replays])
    replay_blobs = replays[0][1]
    replay = _decoded(replay_blobs)
    dense = all(
        [o for o, _, _ in sorted(replay[p])] == list(range(final_end[p])) for p in range(PARTITIONS)
    )
    produced = _digest((k, v) for k, v, _ in records)
    replayed = _digest((k, v) for p in replay for _, k, v in replay[p])
    replay_ok = dense and produced == replayed
    # the later replays must return the first one's batches byte for byte
    failed += mismatched
    tail_recs = _decoded((p, blob) for _, p, _, _, blob in {(t[1], t[2]): t for t in tail}.values())
    tail_ok = _digest((k, v) for p in tail_recs for _, k, v in tail_recs[p]) == _digest(
        (k, v) for k, v, _ in records[CLOSED_REQUESTS * RECORDS_PER_REQUEST :]
    )
    failed += (not replay_ok) + (not tail_ok)

    ack_ms = [(r[0] - d) * 1000 for d, r in zip(due, recvs) if r is not None]
    delivery_ms = []
    seen = set()
    for t, part, base, count, _ in tail:
        if (part, base) in seen:
            continue
        seen.add((part, base))
        for off in range(base, base + count):
            req_base = off - (off - closed_end[part]) % RECORDS_PER_REQUEST
            j = bases[part].get(req_base)
            if j is not None:
                delivery_ms.append((t - sends[j]) * 1000)
    ack = latency_summary(ack_ms)
    delivery = latency_summary(delivery_ms)
    late_ms = max((s - d) * 1000 for s, d in zip(sends, due))

    n_total = n_req * RECORDS_PER_REQUEST
    detail = {
        "produce_records_per_s": median(closed_rates),
        "produce_chunk_records_per_s": closed_rates,
        "fetch_records_per_s": n_total / replay_s,
        "replays_s": [r[0] for r in replays],
        "produce_ack_ms": ack,
        "delivery_ms": delivery,
        "broker_peak_rss_mb": stats["peak_rss_mb"],
        "tail_fetches": fetches[0],
        "tail_fetches_empty": fetches[1],
        "generator_late_ms_max": late_ms,
        "errors": [repr(e) for e in errors[:5]],
        "replay_ok": replay_ok,
        "tail_ok": tail_ok,
    }
    metrics = {
        "setup_s": (median(setups), "s"),
        "answer_s": (replay_s, "s"),
        "peak_rss_mb": (stats["peak_rss_mb"], "MB"),
    }
    layer = {
        "client.records_per_s": (detail["produce_records_per_s"], "records/s"),
        "client.latency_p50_ms": (ack["p50"], "ms"),
        "client.latency_tail_ms": (ack["tail"], "ms"),
        "generator.late_ms_max": (late_ms, "ms"),
        "generator.delivery_p50_ms": (delivery["p50"], "ms"),
        "generator.delivery_tail_ms": (delivery["tail"], "ms"),
    }
    if trace:
        layer.update(_layer_metrics(stats, closed_res, closed_s, ref_elapsed))
        self_ms = layer_self_ms(stats["spans"])
        detail["self_ms"] = self_ms
        detail["bottleneck"] = max(self_ms, key=self_ms.get)
    return {
        "correct": failed == 0,
        "attempted": n_req + 1 + len(replays),
        "failed": failed,
        "metrics": metrics,
        "layer": layer,
        "detail": detail,
    }


def _layer_metrics(stats, closed_res, closed_s, ref_elapsed) -> dict:
    spans, counts = stats["spans"], defaultdict(float, stats["counts"])
    by_name: dict[str, list[float]] = defaultdict(list)
    for name, t0, t1, _parent, _rid in spans:
        by_name[name].append((t1 - t0) / 1e6)
    # closed-loop Produce i carried correlation id i + 1
    waits = rpc_waits_ms(spans, [(i + 1, r[0], r[1]) for i, r in enumerate(closed_res) if r is not None])
    handle = by_name["server.handle_request"]
    self_ms = layer_self_ms(spans)
    # the traced window: first to last span; idle time between requests is no layer's
    wall_ms = (max(s[2] for s in spans) - min(s[1] for s in spans)) / 1e6
    out = {
        "records.crc32c_bytes": (counts["records.crc32c_bytes"], "bytes"),
        "records.crc32c_ms": (sum(by_name["records.crc32c"]), "ms"),
        "records.decode_ms": (sum(by_name["records.decode"]), "ms"),
        "records.encode_ms": (sum(by_name["records.encode"]), "ms"),
        "broker.produce_ms": (sum(by_name["broker.produce"]), "ms"),
        "broker.fetch_ms": (sum(by_name["broker.fetch"]), "ms"),
        "broker.append_records": (counts["broker.append_records"], "records"),
        "broker.fetch_records": (counts["broker.fetch_records"], "records"),
        "broker.fetch_empty_ratio": (
            counts["broker.fetches_empty"] / max(counts["broker.fetches"], 1),
            "ratio",
        ),
        "server.requests": (len(handle), "count"),
        "server.handle_ms_p50": (percentile(handle, 50), "ms"),
        "server.handle_ms_p99": (percentile(handle, 99), "ms"),
        "server.wait_ms_p50": (percentile(waits, 50) if waits else 0.0, "ms"),
        "trace.overhead_pct": ((closed_s / ref_elapsed - 1) * 100, "%"),
        "trace.self_coverage_pct": (sum(self_ms.values()) / wall_ms * 100, "%"),
    }
    for layer, ms in self_ms.items():
        out[f"self.{layer}_ms"] = (ms, "ms")
    return out
