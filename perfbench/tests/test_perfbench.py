"""Tests of the benchmark's own helpers (no Spark, no sockets).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import common  # noqa: E402
import datagen  # noqa: E402
import fastcrc  # noqa: E402
import metrics  # noqa: E402
import wireclient  # noqa: E402
import wl_ingest  # noqa: E402
import wl_wire  # noqa: E402

# ------------------------------------------------------------ percentiles


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    for n in (1, 2, 5, 100, 1001):
        xs = [rng.random() for _ in range(n)]
        for p in (0, 12.5, 50, 95, 99, 99.9, 100):
            assert common.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        common.percentile([], 50)


@pytest.mark.parametrize(
    "n, tail",
    [(10000, 99.9), (1000, 99.0), (999, 98.0), (500, 98.0), (250, 95.0), (200, 95.0),
     (199, 90.0), (100, 90.0), (40, 75.0), (20, 50.0), (19, None), (0, None)],
)
def test_tail_needs_ten_samples_beyond(n, tail):
    assert common.supported_tail(n) == tail
    if tail is not None:
        assert n * (100 - tail) / 100 >= common.MIN_BEYOND - 1e-9


def test_latency_summary_reports_count_and_falls_back_to_max():
    xs = list(range(1, 1001))
    s = common.latency_summary(xs)
    assert s["n"] == 1000 and s["tail_pct"] == 99.0
    assert s["tail"] == pytest.approx(np.percentile(xs, 99))
    assert s["p50"] == pytest.approx(500.5)
    few = common.latency_summary([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50": 2.0, "tail_pct": 100.0, "tail": 3.0}


# ------------------------------------------------------------ spans


def test_self_time_subtracts_children_union_clipped_to_parent():
    spans = [
        ["server.handle_request", 0, 100, -1, 1],
        ["broker.produce", 10, 60, 0, 1],
        ["records.decode", 20, 50, 1, 1],
        ["records.crc32c", 25, 35, 2, 1],
        # overlaps its sibling and runs past the parent's end
        ["broker.flush", 50, 130, 0, 1],
    ]
    st = common.self_times_ns(spans)
    assert st["server.handle_request"] == 100 - 90  # children cover 10..100
    assert st["broker.produce"] == 50 - 30
    assert st["records.decode"] == 30 - 10
    assert st["records.crc32c"] == 10
    assert st["broker.flush"] == 80


def test_layer_self_times_sum_to_root_wall_and_window_filters():
    spans = [
        ["streaming.trigger", 0, 1000, -1, None],
        ["pyds.read", 0, 400, 0, None],
        ["server.handle_request", 2000, 2100, -1, 7],
        ["broker.produce", 2010, 2090, 2, 7],
    ]
    ms = common.layer_self_ms(spans)
    assert set(ms) == set(metrics.LAYERS)
    assert sum(ms.values()) == pytest.approx(1.1e-3)
    assert ms["sources.pyds"] == pytest.approx(0.4e-3)
    assert ms["streaming.ops"] == pytest.approx(0.6e-3)
    only_first = common.layer_self_ms(spans, within=(0, 1500))
    assert only_first["protocol.broker"] == 0 and only_first["streaming.ops"] > 0


def test_tracer_nesting_ids_and_wrap_undo():
    class Box:
        def work(self, n):
            return list(range(n))

    t = common.Tracer()
    undo = t.wrap(Box, "work", "broker.read", rid_of=lambda a: a[1],
                  on_result=lambda a, out: t.counts.__setitem__("n", len(out)))
    with t.span("server.handle_request", rid=42) as idx:
        Box().work(3)
    undo()
    Box().work(5)  # unwrapped again: no new span
    assert [s[0] for s in t.spans] == ["server.handle_request", "broker.read"]
    assert t.spans[1][3] == idx and t.spans[1][4] == 3 and t.counts["n"] == 3
    assert t.spans[0][1] <= t.spans[1][1] <= t.spans[1][2] <= t.spans[0][2]


def test_rpc_waits_skip_an_id_that_two_requests_carried():
    ms = 1_000_000
    spans = [
        ["server.handle_request", 0, 2 * ms, -1, 1],  # Produce, id 1
        ["server.handle_request", 10 * ms, 15 * ms, -1, 1],  # Fetch, id 1 again
        ["server.handle_request", 20 * ms, 23 * ms, -1, 2],
        ["broker.produce", 20 * ms, 22 * ms, 2, 2],
    ]
    stamps = [(1, 0.0, 0.010), (2, 1.0, 1.010), (3, 2.0, 2.010)]
    assert common.rpc_waits_ms(spans, stamps) == [pytest.approx(7.0)]


def test_wire_request_ids_do_not_overlap():
    most_produce = wl_wire.CLOSED_REQUESTS + wl_wire.OPEN_RATE * 60
    assert most_produce < wl_wire.TAIL_CORR < wl_wire.REPLAY_CORR
    assert wl_wire.REPLAY_CORR + wl_wire.MAX_REPLAYS * wl_wire.REPLAY_IDS < 2**31


# ------------------------------------------------------------ inputs


def test_documents_and_embeddings_follow_the_fixture_statistics():
    docs = datagen._documents(5, 5000).to_pydict()
    texts = docs["text"]
    assert docs["n_chars"] == [len(t) for t in texts]
    words = [t.split() for t in texts]
    assert {w for ws in words for w in ws} == set(datagen.VOCAB) | {"dup"}
    assert min(map(len, words)) == 10 and max(len(ws) - ws.count("dup") for ws in words) == 100
    base = {" ".join(w for w in ws if w != "dup") for ws in words}
    copies = len(texts) - len(base)
    assert 0.04 * len(texts) < copies < 0.06 * len(texts)
    assert datagen._documents(5, 5000).equals(datagen._documents(5, 5000))
    emb = np.array(datagen._embeddings(5, 500).column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-6)
    cos = (emb @ emb.T)[np.triu_indices(len(emb), 1)]
    assert abs(cos.mean()) < 0.01 and cos.std() == pytest.approx(1 / 8, rel=0.05)


# ------------------------------------------------------------ output shape


def test_result_line_has_exactly_the_contract_keys():
    line = common.result_line(True, 5, 0, {"answer_s": (1.23456789, "s"), "n": (3, "count")})
    obj = json.loads(line)
    assert list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert obj["metrics"]["answer_s"] == {"value": 1.23456789, "unit": "s"}
    assert isinstance(obj["attempted"], int) and isinstance(obj["failed"], int)
    with pytest.raises(ValueError):
        common.result_line(True, 0, 0, {})


def test_benchmark_json_matches_the_catalogue_and_limits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert list(b) == ["command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"]
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == metrics.PER_LAYER
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names)) and all(name.match(n) for n in names)
    assert all(unit.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in b["workloads"])
    assert 1 <= b["run_seconds"] <= 60 and b["paths"] == ["perfbench"]


def test_run_refuses_a_directory_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""


# ------------------------------------------------------------ wire client


def test_wire_frames_decode_with_the_package_codecs():
    from kcore_spark.protocol.broker import (
        decode_fetch_request,
        decode_produce_request,
        encode_fetch_response,
    )
    from kcore_spark.protocol.records import Record, encode_record_batch

    batch = encode_record_batch([Record(b"k", b"v%d" % i, 1000 + i) for i in range(3)], base_offset=7)
    req = decode_produce_request(wireclient.produce_request(5, "events", 2, batch)[4:])
    assert req.header.correlation_id == 5 and req.acks == 1
    assert req.topics == [("events", [req.topics[0][1][0]])] and req.topics[0][1][0].batch == batch
    f = decode_fetch_request(wireclient.fetch_request(9, "events", {0: 3, 4: 11}, 500, 1)[4:])
    assert (f.max_wait_ms, f.min_bytes) == (500, 1)
    assert [(p.index, p.fetch_offset) for p in f.topics[0][1]] == [(0, 3), (4, 11)]
    resp = encode_fetch_response(9, [("events", [(0, 0, 10, 0, batch), (4, 0, 11, 0, None)])])
    parsed = wireclient.fetch_batches(resp)
    assert parsed == [(0, 0, 10, batch), (4, 0, 11, None)]
    assert wireclient.batch_span(batch + batch) == [(7, 3), (7, 3)]


def test_durable_latency_charges_each_record_to_its_flush():
    # 3 requests per flush window at BATCH records each; the third is a boundary
    per_flush = wl_ingest.FLUSH_EVERY // wl_ingest.BATCH
    reqs = [[i, float(i), float(i) + 0.5, 0, 0, 0] for i in range(per_flush + 1)]
    out = wl_ingest._durable_ms(reqs, t_last_flush=100.0)
    assert len(out) == (per_flush + 1) * wl_ingest.BATCH
    boundary_recv = reqs[per_flush - 1][2]
    assert out[0] == pytest.approx(boundary_recv * 1000)
    assert out[-1] == pytest.approx((100.0 - per_flush) * 1000)


def test_bulk_crc_matches_the_package_and_catches_corruption():
    from kcore_spark.protocol.records import Record, crc32c, decode_record_batch, encode_record_batch

    rng = random.Random(3)
    bufs = [bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 200))) for _ in range(40)]
    assert fastcrc.crc32c_many(bufs) == [crc32c(b) for b in bufs]
    recs = [Record(b"k%d" % i, b"v" * i, 1000 + i) for i in range(50)]
    reference = encode_record_batch(recs)
    with fastcrc.codec_crc():
        unpatched = encode_record_batch(recs)
    assert fastcrc.patch_batch_crcs([unpatched]) == [reference]
    bad = reference[:40] + bytes([reference[40] ^ 1]) + reference[41:]
    with fastcrc.codec_crc(fastcrc.batch_crcs([reference, bad])):
        assert len(decode_record_batch(reference)[1]) == 50
        with pytest.raises(ValueError, match="CRC"):
            decode_record_batch(bad)
