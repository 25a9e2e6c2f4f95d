"""TopicConsumer: the user-facing Consumer API over the topic log.

The reference declares the Consumer API as roadmap
(`/root/reference/README.md:48`); this is the engine-side realization:
manual-assignment consumption with committed-offset resume — the same
contract as a Kafka consumer with `assign()` + `commitSync()`:

    c = TopicConsumer(log, group="g1", topic="t")
    for batch in c.poll_batches(max_records=1000):   # DataFrames
        ...process...
        c.commit()                                   # durable resume point

Each poll is a pruned offset-range scan per partition (no shuffle);
commit persists to the `__consumer_offsets` analog, so a new consumer
instance (new session, new day) resumes where the group left off.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from kcore_spark.sources.topic_log import TopicLog


class TopicConsumer:
    def __init__(
        self,
        log: TopicLog,
        group: str,
        topic: str,
        partitions: list[int] | None = None,
    ):
        """partitions: restrict this consumer to a subset (the slice an
        assignor handed it); None = all partitions (solo consumer)."""
        self.log = log
        self.group = group
        self.topic = topic
        self.partitions = partitions
        self._positions: dict[int, int] = {}
        self._load_positions()

    def _load_positions(self) -> None:
        n_parts = self.log.topic_meta(self.topic).num_partitions
        mine = self.partitions if self.partitions is not None else range(n_parts)
        committed = {
            r["partition"]: r["committed_offset"]
            for r in self.log.fetch_offsets(self.group).collect()
            if r["topic"] == self.topic
        }
        # committed offset = next offset to read (Kafka convention)
        self._positions = {p: committed.get(p, 0) for p in mine}

    def position(self, partition: int) -> int:
        return self._positions[partition]

    def poll(self, max_records_per_partition: int = 1000) -> DataFrame | None:
        """One batch across all assigned partitions; None when caught up.
        A position below the log start (a new group after retention, or
        after seek_to_beginning) reads from the log start, as fetch does,
        and each position moves to the end of its planned window."""
        log_starts = self.log._log_starts(self.topic)
        starts = {p: max(pos, log_starts.get(p, 0)) for p, pos in self._positions.items()}
        ranges = {p: (s, s + max_records_per_partition) for p, s in starts.items()}
        frames = []
        for p, _, start, end in self.log._plan_ranges(self.topic, ranges):
            frames.append(self.log.fetch(self.topic, p, start, end - start))
            self._positions[p] = end
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def poll_batches(self, max_records_per_partition: int = 1000) -> Iterator[DataFrame]:
        while (batch := self.poll(max_records_per_partition)) is not None:
            yield batch

    def commit(self) -> None:
        """Commit current positions (next-offset-to-read) durably."""
        for p, pos in self._positions.items():
            self.log.commit_offset(self.group, self.topic, p, pos)

    def seek(self, partition: int, offset: int) -> None:
        self._positions[partition] = offset

    def seek_to_beginning(self) -> None:
        self._positions = {p: 0 for p in self._positions}

    def seek_to_timestamp(self, ts_ms: int) -> dict[int, int]:
        """Seek every assigned partition to the first offset whose
        record timestamp is >= ts_ms — "replay from last Tuesday",
        ListOffsets-by-timestamp applied to this consumer's slice.
        Partitions with no record at/after ts_ms seek to their log end
        (nothing to replay). Returns the new positions. Served from the
        manifest's per-segment timestamp index, so planning opens no
        segment older than the target."""
        hits = {
            r["partition"]: r["offset"]
            for r in self.log.offsets_for_timestamp(self.topic, ts_ms).collect()
        }
        ends = self.log._watermarks(self.topic)
        for p in self._positions:
            off = hits.get(p, -1)
            self._positions[p] = off if off >= 0 else ends.get(p, 0)
        return dict(self._positions)


def balanced_consumers(
    log: TopicLog, group: str, topic: str, n_members: int, strategy: str = "range"
) -> list[TopicConsumer]:
    """Split a topic across n consumers with a real assignor (range or
    roundrobin — the same strategies the wire coordinator negotiates).
    Each returned consumer polls a disjoint partition slice; together
    they cover the topic exactly once."""
    from kcore_spark.protocol.assignor import ASSIGNORS

    n_parts = log.topic_meta(topic).num_partitions
    members = [f"member-{i}" for i in range(n_members)]
    assigned = ASSIGNORS[strategy]({m: [topic] for m in members}, {topic: n_parts})
    return [
        TopicConsumer(log, group, topic, partitions=assigned[m].get(topic, []))
        for m in members
    ]
