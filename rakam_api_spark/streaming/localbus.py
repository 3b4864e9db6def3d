"""Loopback bus: a Kafka-contract stand-in as a PySpark Python
streaming data source (K4/K6 verification path).

The container running the test suite has no broker and no
spark-sql-kafka connector jar, so ``start_kafka_stream`` cannot be
exercised against real Kafka here.  This module implements the same
produce → consume → ingest → commit contract end-to-end with zero
extra dependencies:

- **Producer** (`LocalBusProducer`): messages are keyed — the same
  ``project|collection|salt`` keys ``to_kafka_envelopes`` builds for
  the real producer (reference AWSKinesisEventStore.java:148-169
  hot-shard-avoiding partition keys) — and a key hash picks the
  partition, exactly like Kafka's default partitioner
  (KafkaEventStore.java:82-108 publishes the same envelope).
- **Log**: one append-only JSON-lines file per (topic, partition);
  a record's offset is its line number.  In production this would be
  a shared filesystem; in local mode the local FS plays that role.
- **Source** (`LocalBusDataSource`): a Spark 4
  ``pyspark.sql.datasource`` streaming source exposing the
  Kafka-shaped schema (topic, partition, offset, key, value) with
  real per-partition offset tracking: micro-batch ranges come from
  the checkpoint, replay re-reads the same offsets, and
  ``maxOffsetsPerTrigger`` caps admitted records per trigger
  (the reference bounds consumption the same way —
  KafkaOffsetManager.java:35-91).  Partition reads run on executors.

The streaming job side is byte-identical to the Kafka path: the
frame goes through ``kafka_envelope_frame`` and the same
``foreachBatch`` body (`StreamingIngest.process_batch`).
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

BUS_SCHEMA_DDL = "topic STRING, partition INT, offset BIGINT, key STRING, value STRING"

DEFAULT_NUM_PARTITIONS = 4


def _partition_file(bus_dir: str, topic: str, partition: int) -> str:
    return os.path.join(bus_dir, topic, f"p{partition}.jsonl")


class LocalBusProducer:
    """Append-only keyed producer mirroring the Kafka producer API
    surface used by the gateway (``send``/``flush``).

    Durability follows the Kafka producer contract: ``send`` appends
    the record to its partition log at once (readers see it without
    a flush), and records are durable once ``flush()`` returns —
    it fsyncs each partition file written since the last flush."""

    def __init__(self, bus_dir: str, num_partitions: int = DEFAULT_NUM_PARTITIONS):
        self.bus_dir = bus_dir
        self.num_partitions = num_partitions
        self._unsynced: set[str] = set()

    def send(self, topic: str, key: str, value: str) -> int:
        """Returns the partition the record landed on.  Partitioning
        is a stable key digest (crc32, not PYTHONHASHSEED-randomized
        ``hash()``) so retries and producer restarts keep shard
        affinity — same rationale as ``to_kafka_envelopes``."""
        part = zlib.crc32(key.encode("utf-8")) % self.num_partitions
        path = _partition_file(self.bus_dir, topic, part)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        line = json.dumps({"key": key, "value": value})
        with open(path, "a", encoding="utf-8") as f:
            f.write(line + "\n")
        self._unsynced.add(path)
        return part

    def flush(self) -> None:
        """Make every record sent so far durable: one fsync per
        partition file touched since the last flush."""
        for path in sorted(self._unsynced):
            # unmark BEFORE the fsync: a send racing this flush marks
            # the file again, so the next flush covers its record
            self._unsynced.discard(path)
            fd = os.open(path, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


@dataclass
class _BusPartitionSlice(InputPartition):
    path: str
    topic: str
    partition: int
    start: int
    end: int


class LocalBusStreamReader(DataSourceStreamReader):
    """Per-partition offset bookkeeping with admission control.

    Offsets are ``{partition: next_line_number}`` dicts — the same
    shape Kafka's source checkpoints.  ``latestOffset`` discovers
    partitions from the log directory (so partitions may appear
    mid-stream) and, when ``maxOffsetsPerTrigger`` is set, plans at
    most that many new records past the previously planned offset —
    genuine multi-micro-batch backpressure, not a post-hoc filter.
    """

    def __init__(self, options: dict):
        self.bus_dir = options.get("path")
        self.topic = options.get("topic")
        if not self.bus_dir or not self.topic:
            raise ValueError("localbus source requires options path and topic")
        cap = options.get("maxoffsetspertrigger")
        self.max_per_trigger = int(cap) if cap is not None else None
        self._planned: dict[str, int] | None = None
        # highest position per partition actually handed to a batch via
        # partitions() — the admission budget only advances past a plan
        # once that plan has been consumed, keeping latestOffset
        # idempotent between batches (Spark may call it more than once
        # per trigger)
        self._consumed: dict[str, int] = {}

    def _log_dir(self) -> str:
        return os.path.join(self.bus_dir, self.topic)

    def _available(self) -> dict[str, int]:
        d = self._log_dir()
        out: dict[str, int] = {}
        if not os.path.isdir(d):
            return out
        for name in sorted(os.listdir(d)):
            if not (name.startswith("p") and name.endswith(".jsonl")):
                continue
            part = name[1:-6]
            with open(os.path.join(d, name), "rb") as f:
                out[part] = sum(1 for _ in f)
        return out

    def initialOffset(self) -> dict:
        return {}

    def latestOffset(self) -> dict:
        avail = self._available()
        base = {p: self._consumed.get(p, 0) for p in set(avail) | set(self._consumed)}
        if self._planned is not None:
            merged = {p: max(self._planned.get(p, 0), base.get(p, 0)) for p in set(self._planned) | set(base)}
            if any(merged[p] > base.get(p, 0) for p in merged):
                return merged  # previous plan not yet consumed: re-issue it
        if self.max_per_trigger is None:
            planned = {p: max(avail.get(p, 0), base.get(p, 0)) for p in base}
        else:
            budget = self.max_per_trigger
            planned = dict(base)
            # spread the admission budget across partitions in sorted
            # order; leftover budget rolls to the next partition
            for p in sorted(base, key=lambda s: (len(s), s)):
                take = min(max(avail.get(p, 0) - base[p], 0), budget)
                planned[p] = base[p] + take
                budget -= take
        self._planned = planned
        return planned

    def partitions(self, start: dict, end: dict):
        for p in set(start) | set(end):
            self._consumed[p] = max(
                self._consumed.get(p, 0), start.get(p, 0), end.get(p, 0)
            )
        out = []
        for p, pend in end.items():
            pstart = start.get(p, 0)
            if pend > pstart:
                out.append(
                    _BusPartitionSlice(
                        path=_partition_file(self.bus_dir, self.topic, int(p)),
                        topic=self.topic,
                        partition=int(p),
                        start=pstart,
                        end=pend,
                    )
                )
        # Spark requires ≥1 partition per planned batch
        return out or [
            _BusPartitionSlice(path="", topic=self.topic, partition=-1, start=0, end=0)
        ]

    def read(self, partition: _BusPartitionSlice):
        if partition.end <= partition.start:
            return
        with open(partition.path, encoding="utf-8") as f:
            for i, line in enumerate(f):
                if i >= partition.end:
                    break
                if i < partition.start:
                    continue
                rec = json.loads(line)
                yield (partition.topic, partition.partition, i, rec.get("key"), rec.get("value"))

    def commit(self, end: dict) -> None:
        # retention/truncation is a separate janitor concern, as with
        # a real broker; checkpointed offsets are the source of truth
        pass


class LocalBusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rakam_localbus"

    def schema(self) -> str:
        return BUS_SCHEMA_DDL

    def streamReader(self, schema) -> LocalBusStreamReader:
        return LocalBusStreamReader(dict(self.options))


def register(spark) -> None:
    spark.dataSource.register(LocalBusDataSource)
