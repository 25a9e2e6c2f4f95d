"""Traced wrappers around the package's public functions, per layer.

Nothing inside the package changes: each ``install_*`` replaces a
module attribute or class method with a wrapper that records a span
(and counts) in a ``common.Tracer``, and returns the undo callables.
Names bound by ``from ... import`` are wrapped where they are looked
up: the broker module calls its own imported copies of the record
batch codecs, so those are wrapped in ``protocol.broker``.
"""

from __future__ import annotations

import struct


def _corr_id(args) -> int | None:
    payload = args[1]
    return struct.unpack_from(">i", payload, 4)[0] if len(payload) >= 8 else None


def install_protocol(tracer) -> list:
    """protocol.server, protocol.broker (produce, fetch, append) and
    protocol.records (codec, crc32c)."""
    from kcore_spark.protocol import broker, records, server

    counts = tracer.counts
    undo = [
        tracer.wrap(server.KafkaFrontend, "handle_request", "server.handle_request", rid_of=_corr_id),
        tracer.wrap(broker, "handle_produce", "broker.produce"),
        tracer.wrap(broker, "decode_record_batch", "records.decode"),
        tracer.wrap(broker, "encode_record_batch", "records.encode"),
    ]

    def crc_done(args, _out):
        counts["records.crc32c_bytes"] += len(args[0])

    undo.append(tracer.wrap(records, "crc32c", "records.crc32c", on_result=crc_done))

    def appended(args, _out):
        counts["broker.append_records"] += len(args[3])

    undo.append(tracer.wrap(broker.WireLog, "append", "broker.append", on_result=appended))

    def read_done(_args, out):
        counts["broker.fetch_records"] += len(out)

    undo.append(tracer.wrap(broker.WireLog, "read", "broker.read", on_result=read_done))

    orig_fetch = broker.handle_fetch

    def traced_fetch(*args, **kwargs):
        before = counts["broker.fetch_records"]
        with tracer.span("broker.fetch"):
            out = orig_fetch(*args, **kwargs)
        counts["broker.fetches"] += 1
        if counts["broker.fetch_records"] == before:
            counts["broker.fetches_empty"] += 1
        return out

    broker.handle_fetch = traced_fetch
    undo.append(lambda: setattr(broker, "handle_fetch", orig_fetch))
    return undo


def install_storage(tracer) -> list:
    """The flush bridge (protocol.broker) and the topic-log writes it
    makes (sources.topic_log). The stream reads segments inside Spark's
    Python worker, out of reach of a wrapper in this process; those
    reads are timed from Spark's progress reports (``pyds.read``)."""
    from kcore_spark.protocol import broker
    from kcore_spark.sources import topic_log

    counts = tracer.counts

    def flushed(_args, out):
        counts["broker.flushes"] += 1
        counts["broker.flush_records"] += out

    return [
        tracer.wrap(broker.WireLog, "flush_to_topic_log", "broker.flush", on_result=flushed),
        tracer.wrap(topic_log.TopicLog, "append_raw", "topic_log.append_raw"),
    ]


def uninstall(undo: list) -> None:
    for fn in reversed(undo):
        fn()
