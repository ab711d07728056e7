"""Kafka-semantics source/sink over the Spark-4 Python DataSource API,
backed by a file-based partitioned offset log — no Kafka jars.

The real ``spark-sql-kafka`` connector is jar-gated in this environment
(sources/readers.py raises honestly), but its SEMANTICS are what the
reference exercises (src/streaming/spark_structured_streaming.py:157-183
``_create_kafka_source`` and 275-391 ``_create_kafka_sink``): the exact
option surface

    subscribe            comma-separated topic list
    startingOffsets      "earliest" | "latest" | per-partition JSON
                         ``{"topic": {"0": 23, "1": -2}}`` (-2=earliest,
                         -1=latest — Kafka's special offsets)
    endingOffsets        batch reads only; same JSON shape, -1=latest
    maxOffsetsPerTrigger rate cap per micro-batch, allocated across
                         partitions proportionally to lag (what the real
                         connector's rate limiter does)
    failOnDataLoss       "true" (default): raise when requested offsets
                         have been aged out by retention; "false":
                         warn-and-skip to the log start

and the Kafka wire schema

    key binary, value binary, topic string, partition int,
    offset bigint, timestamp timestamp, timestampType int

This module proves those semantics jar-free: a :class:`KafkaLikeBroker`
materializes topics as ``<root>/<topic>/p<k>/log.jsonl`` partition logs
with a ``logstart`` retention marker, and the ``kafkalike`` DataSource
reads them through the full (non-Simple) ``DataSourceStreamReader`` API —
offset planning on the driver, record reads executor-side, one Spark task
per topic-partition, exactly the real connector's partition→task mapping.
Offsets are Kafka's checkpoint JSON shape (``{"topic": {"0": 5}}``), so
the WAL contents are recognizable to anyone who has read a Kafka
checkpoint.

Scale posture: per-batch work is one task per topic-partition reading
only its [start, end) slice; the driver touches offsets (a few ints per
partition), never records. The JSONL segment scan is O(partition log) per
read — a real broker would seek via segment indexes; the planning shape
(which is what Spark sees) is identical. The sink uses the two-phase
pattern real DSv2 sinks use: executors stage records per task, the
driver's commit() appends them to the partition logs serially, giving
at-least-once delivery under task retry (Kafka's own sink guarantee).

Determinism contract: record timestamps default to EPOCH_2024 + offset
(callers may pass explicit ``ts_ms``), so re-reads and oracle replays are
bit-stable.
"""

from __future__ import annotations

import json
import os
import uuid
import warnings

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .commit import write_atomic

_EPOCH_2024_MS = 1704067200000

SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


# ------------------------------------------------------------------ broker


class KafkaLikeBroker:
    """File-backed partitioned log with Kafka's offset semantics.

    Layout per topic-partition::

        <root>/<topic>/p<k>/log.jsonl   one record per line:
                                        {"o": offset, "t": ts_ms,
                                         "k": str|null, "v": str}
        <root>/<topic>/p<k>/logstart    earliest retained offset
        <root>/<topic>/p<k>/next        next offset to assign

    ``truncate`` models retention: records below the new start are
    deleted and ``logstart`` advances — the condition ``failOnDataLoss``
    guards against. Keys/values are UTF-8 strings on disk and surface as
    binary (Kafka's wire type) when read."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- admin

    def create_topic(self, topic: str, partitions: int = 1) -> None:
        for p in range(partitions):
            d = self._pdir(topic, p)
            os.makedirs(d, exist_ok=True)
            for name in ("logstart", "next"):
                if not os.path.exists(os.path.join(d, name)):
                    self._write_int(d, name, 0)

    def partitions_of(self, topic: str) -> list[int]:
        tdir = os.path.join(self.root, topic)
        if not os.path.isdir(tdir):
            raise ValueError(f"unknown topic {topic!r}")
        return sorted(
            int(f[1:]) for f in os.listdir(tdir) if f.startswith("p")
        )

    # -- produce / retention

    def produce(
        self,
        topic: str,
        value: str,
        key: str | None = None,
        partition: int | None = None,
        ts_ms: int | None = None,
    ) -> int:
        """Append one record; returns its offset. Partition defaults to
        hash-of-key mod partition count (Kafka's default partitioner),
        or 0 for keyless records."""
        parts = self.partitions_of(topic)
        if partition is None:
            if key is not None:
                # stable across processes (builtin hash is salted)
                import zlib

                partition = parts[zlib.crc32(key.encode()) % len(parts)]
            else:
                partition = parts[0]
        d = self._pdir(topic, partition)
        off = self._read_int(d, "next")
        if ts_ms is None:
            ts_ms = _EPOCH_2024_MS + off
        with open(os.path.join(d, "log.jsonl"), "a") as fh:
            fh.write(
                json.dumps({"o": off, "t": ts_ms, "k": key, "v": value})
                + "\n"
            )
        self._write_int(d, "next", off + 1)
        return off

    def truncate(self, topic: str, partition: int, new_start: int) -> None:
        """Retention: delete records with offset < ``new_start``. The log
        is swapped whole, so a crash mid-rewrite keeps the old log and a
        replay converges."""
        d = self._pdir(topic, partition)
        log = os.path.join(d, "log.jsonl")
        kept = []
        if os.path.exists(log):
            with open(log) as fh:
                kept = [
                    line
                    for line in fh
                    if json.loads(line)["o"] >= new_start
                ]
        write_atomic(log, "".join(kept))
        self._write_int(d, "logstart", new_start)

    # -- offset queries

    def next_offset(self, topic: str, partition: int) -> int:
        return self._read_int(self._pdir(topic, partition), "next")

    def log_start(self, topic: str, partition: int) -> int:
        return self._read_int(self._pdir(topic, partition), "logstart")

    # -- internals

    def _pdir(self, topic: str, partition: int) -> str:
        return os.path.join(self.root, topic, f"p{partition}")

    @staticmethod
    def _read_int(d: str, name: str) -> int:
        with open(os.path.join(d, name)) as fh:
            return int(fh.read().strip())

    @staticmethod
    def _write_int(d: str, name: str, v: int) -> None:
        write_atomic(os.path.join(d, name), str(v))


# ------------------------------------------------- option / offset helpers


def _parse_subscription(options: dict):
    """The connector's three mutually-exclusive subscription modes:
    ``subscribe`` (comma topic list), ``subscribePattern`` (regex over
    topic names, resolved against the broker lazily) and ``assign``
    (explicit {topic: [partition,...]} JSON). Returns a spec consumed by
    :func:`_resolve_subscription`."""
    modes = [
        m for m in ("subscribe", "subscribePattern", "assign")
        if options.get(m)
    ]
    if len(modes) != 1:
        raise ValueError(
            "kafkalike requires exactly one of subscribe / "
            f"subscribePattern / assign (got {modes or 'none'})"
        )
    mode = modes[0]
    if mode == "subscribe":
        return ("topics", [
            t.strip() for t in options["subscribe"].split(",") if t.strip()
        ])
    if mode == "subscribePattern":
        return ("pattern", options["subscribePattern"])
    return ("assign", {
        t: [int(p) for p in ps]
        for t, ps in json.loads(options["assign"]).items()
    })


def _resolve_subscription(broker: KafkaLikeBroker, spec) -> dict:
    """Spec -> {topic: [partitions]} against the live broker."""
    import re as _re

    kind, v = spec
    if kind == "topics":
        return {t: broker.partitions_of(t) for t in v}
    if kind == "pattern":
        rx = _re.compile(v)
        topics = sorted(
            t for t in os.listdir(broker.root)
            if os.path.isdir(os.path.join(broker.root, t))
            and not t.startswith(".") and rx.fullmatch(t)
        )
        if not topics:
            raise ValueError(
                f"subscribePattern {v!r} matches no topics in {broker.root}"
            )
        return {t: broker.partitions_of(t) for t in topics}
    return {t: ps for t, ps in v.items()}


def _resolve_offsets(
    broker: KafkaLikeBroker, topic_parts: dict, spec: str, *, what: str
) -> dict:
    """Kafka's startingOffsets/endingOffsets resolution → nested offset
    dict {topic: {"<p>": offset}}. -2 = earliest, -1 = latest."""
    per_topic_json = None
    if spec not in ("earliest", "latest"):
        per_topic_json = json.loads(spec)
    out: dict = {}
    for t, parts in topic_parts.items():
        out[t] = {}
        for p in parts:
            if per_topic_json is not None:
                if t not in per_topic_json or str(p) not in per_topic_json[t]:
                    raise ValueError(
                        f"{what} JSON missing offset for {t}-{p}"
                    )
                o = int(per_topic_json[t][str(p)])
                if o == -2:
                    o = broker.log_start(t, p)
                elif o == -1:
                    o = broker.next_offset(t, p)
                elif o < 0:
                    raise ValueError(f"invalid {what} offset {o} for {t}-{p}")
            elif spec == "earliest":
                o = broker.log_start(t, p)
            else:
                o = broker.next_offset(t, p)
            out[t][str(p)] = o
    return out


def _allocate_cap(
    start: dict, avail: dict, max_offsets: int
) -> dict:
    """Clamp ``avail`` so total new offsets <= max_offsets, allocated
    proportionally to each partition's lag (the real connector's
    ``maxOffsetsPerTrigger`` rate limit), remainders distributed in
    deterministic (topic, partition) order."""
    lags = {}
    for t in avail:
        for p, hi in avail[t].items():
            lo = start.get(t, {}).get(p, hi)
            lags[(t, p)] = max(0, hi - lo)
    total = sum(lags.values())
    if total <= max_offsets:
        return avail
    alloc = {k: max_offsets * lag // total for k, lag in lags.items()}
    left = max_offsets - sum(alloc.values())
    # remainder: ONE offset per partition round-robin (not the whole
    # remainder to the first partition with headroom — with equal lags and
    # a small cap that starves every other partition), in numeric
    # partition order ("10" must sort after "2"; keys are strings)
    keys = sorted(lags, key=lambda k: (k[0], int(k[1])))
    while left > 0:
        bumped = False
        for k in keys:
            if left <= 0:
                break
            if alloc[k] < lags[k]:
                alloc[k] += 1
                left -= 1
                bumped = True
        if not bumped:
            break
    out: dict = {}
    for t in avail:
        out[t] = {}
        for p in avail[t]:
            lo = start.get(t, {}).get(p, avail[t][p])
            out[t][p] = lo + alloc[(t, p)]
    return out


class _Slice(InputPartition):
    """One topic-partition offset range == one Spark task."""

    def __init__(self, topic: str, partition: int, pdir: str, lo: int, hi: int):
        self.topic = topic
        self.partition = partition
        self.pdir = pdir
        self.lo = lo
        self.hi = hi


def _read_slice(s: _Slice):
    """Executor-side record read for one slice (shared by batch/stream)."""
    import datetime

    log = os.path.join(s.pdir, "log.jsonl")
    if not os.path.exists(log):
        return
    with open(log) as fh:
        for line in fh:
            r = json.loads(line)
            if s.lo <= r["o"] < s.hi:
                ts = datetime.datetime.fromtimestamp(
                    r["t"] / 1000.0, tz=datetime.timezone.utc
                ).replace(tzinfo=None)
                yield (
                    None if r["k"] is None else r["k"].encode("utf-8"),
                    r["v"].encode("utf-8"),
                    s.topic,
                    s.partition,
                    r["o"],
                    ts,
                    0,  # TimestampType.CREATE_TIME
                )


def _plan_slices(
    broker: KafkaLikeBroker,
    start: dict,
    end: dict,
    fail_on_data_loss: bool,
) -> list[_Slice]:
    """Offset ranges → slices, applying the failOnDataLoss contract:
    requested offsets below the retention floor either raise (true) or
    clamp to the log start with a warning (false) — the real connector's
    exact behavior."""
    slices = []
    for t in sorted(end):
        for p_str in sorted(end[t], key=int):
            p = int(p_str)
            lo = start.get(t, {}).get(p_str, 0)
            hi = end[t][p_str]
            floor = broker.log_start(t, p)
            if lo < floor:
                if fail_on_data_loss:
                    raise ValueError(
                        f"data loss detected: requested offset {lo} for "
                        f"{t}-{p} but log starts at {floor} (records aged "
                        "out by retention); set failOnDataLoss=false to "
                        "skip missing data"
                    )
                warnings.warn(
                    f"kafkalike: skipping lost offsets [{lo}, {floor}) "
                    f"on {t}-{p} (failOnDataLoss=false)",
                    stacklevel=2,
                )
                lo = floor
            if hi > lo:
                slices.append(_Slice(t, p, broker._pdir(t, p), lo, hi))
    return slices


# ------------------------------------------------------------ batch reader


class KafkaLikeBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options["path"]
        self.subscription = _parse_subscription(options)
        self.starting = options.get("startingOffsets", "earliest")
        self.ending = options.get("endingOffsets", "latest")
        self.fail_on_data_loss = (
            options.get("failOnDataLoss", "true").lower() == "true"
        )

    def partitions(self):
        broker = KafkaLikeBroker(self.root)
        tp = _resolve_subscription(broker, self.subscription)
        start = _resolve_offsets(
            broker, tp, self.starting, what="startingOffsets"
        )
        end = _resolve_offsets(
            broker, tp, self.ending, what="endingOffsets"
        )
        return _plan_slices(broker, start, end, self.fail_on_data_loss)

    def read(self, partition: _Slice):
        yield from _read_slice(partition)


# --------------------------------------------------------- stream reader


class KafkaLikeStreamReader(DataSourceStreamReader):
    """Micro-batch reader: latestOffset() caps each trigger's advance by
    maxOffsetsPerTrigger relative to the last planned end (tracked via
    partitions() so a checkpoint-replayed batch re-seeds it — the Python
    API's latestOffset has no start argument, so the first trigger after
    a restart with no replayed batch may exceed the cap once; the real
    connector documents the cap as approximate too)."""

    def __init__(self, options: dict):
        self.root = options["path"]
        self.subscription = _parse_subscription(options)
        self.starting = options.get("startingOffsets", "latest")
        cap = options.get("maxOffsetsPerTrigger")
        self.max_per_trigger = int(cap) if cap is not None else None
        self.fail_on_data_loss = (
            options.get("failOnDataLoss", "true").lower() == "true"
        )
        self._broker = KafkaLikeBroker(self.root)
        self._last_end: dict | None = None

    def _topic_parts(self) -> dict:
        return _resolve_subscription(self._broker, self.subscription)

    def initialOffset(self) -> dict:
        out = _resolve_offsets(
            self._broker, self._topic_parts(), self.starting,
            what="startingOffsets",
        )
        if self._last_end is None:
            self._last_end = out
        return out

    def latestOffset(self) -> dict:
        tp = self._topic_parts()
        avail = _resolve_offsets(
            self._broker, tp, "latest", what="latestOffsets"
        )
        base = self._last_end
        if base is None:
            base = _resolve_offsets(
                self._broker, tp, self.starting,
                what="startingOffsets",
            )
        # never plan backwards from what's already consumed
        end = {
            t: {
                p: max(avail[t][p], base.get(t, {}).get(p, 0))
                for p in avail[t]
            }
            for t in avail
        }
        if self.max_per_trigger is not None:
            end = _allocate_cap(base, end, self.max_per_trigger)
        self._last_end = end
        return end

    def partitions(self, start: dict, end: dict):
        self._last_end = end  # re-seeds the cap base on checkpoint replay
        return _plan_slices(
            self._broker, start, end, self.fail_on_data_loss
        )

    def read(self, partition: _Slice):
        yield from _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint WAL; nothing broker-side


# ------------------------------------------------------------------ sinks


class _Staged(WriterCommitMessage):
    def __init__(self, path: str):
        self.path = path


class KafkaLikeWriter(DataSourceWriter):
    """Two-phase append sink: executors stage records (one file per
    task), the driver's commit() appends them to the partition logs
    serially — at-least-once under task retry, like the real Kafka sink.
    Input rows need a ``value`` column (string/binary); ``key`` and
    ``partition`` are optional; ``topic`` comes from the option."""

    def __init__(self, options: dict, schema):
        self.root = options["path"]
        self.topic = options.get("topic")
        if not self.topic:
            raise ValueError("kafkalike sink requires the 'topic' option")
        self.cols = [f.name for f in schema.fields]
        if "value" not in self.cols:
            raise ValueError("kafkalike sink input must have a 'value' column")

    def write(self, iterator):
        staging = os.path.join(self.root, ".staging")
        os.makedirs(staging, exist_ok=True)
        path = os.path.join(staging, f"{uuid.uuid4()}.jsonl")
        ki = self.cols.index("key") if "key" in self.cols else None
        vi = self.cols.index("value")
        pi = self.cols.index("partition") if "partition" in self.cols else None
        with open(path, "w") as fh:
            for row in iterator:
                k = row[ki] if ki is not None else None
                if isinstance(k, (bytes, bytearray)):
                    k = k.decode("utf-8")
                v = row[vi]
                if isinstance(v, (bytes, bytearray)):
                    v = v.decode("utf-8")
                p = row[pi] if pi is not None else None
                fh.write(json.dumps({"k": k, "v": v, "p": p}) + "\n")
        return _Staged(path)

    def commit(self, messages):
        broker = KafkaLikeBroker(self.root)
        broker.create_topic(self.topic)
        for m in sorted(
            (m for m in messages if m is not None), key=lambda m: m.path
        ):
            with open(m.path) as fh:
                for line in fh:
                    r = json.loads(line)
                    broker.produce(
                        self.topic, r["v"], key=r["k"], partition=r["p"]
                    )
            os.remove(m.path)

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class KafkaLikeStreamWriter(KafkaLikeWriter, DataSourceStreamWriter):
    """Streaming flavor: same staged two-phase append per micro-batch
    (at-least-once — a batch replayed after a commit-then-crash appends
    again, exactly the real Kafka sink's guarantee)."""

    def commit(self, messages, batchId=None):  # noqa: N803 (API name)
        KafkaLikeWriter.commit(self, messages)

    def abort(self, messages, batchId=None):  # noqa: N803
        KafkaLikeWriter.abort(self, messages)


# ------------------------------------------------------------- datasource


class KafkaLikeDataSource(DataSource):
    """``spark.read/readStream/write/writeStream.format("kafkalike")``
    after ``spark.dataSource.register(KafkaLikeDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "kafkalike"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):
        return KafkaLikeBatchReader(self.options)

    def streamReader(self, schema):
        return KafkaLikeStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        if overwrite:
            raise ValueError("kafkalike sink is append-only (like Kafka)")
        return KafkaLikeWriter(self.options, schema)

    def streamWriter(self, schema, overwrite: bool):
        return KafkaLikeStreamWriter(self.options, schema)


def register_kafkalike(spark) -> None:
    """Idempotent registration (re-register overwrites)."""
    spark.dataSource.register(KafkaLikeDataSource)
