"""Fault injection for every commit protocol: each case crashes a commit
after one step, replays the same commit, and asserts the table reads
exactly what one clean commit gives. Structured Streaming's foreachBatch
replays a batch after a crash, so a commit that does not converge on
replay is a correctness bug on the streaming path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from pwc_challenge_dataengineer_spark.sources.versioned_store import VersionedTable


class _Crash(RuntimeError):
    """Stands in for the process dying at the injected step."""


class _TornFile:
    def __init__(self, fh):
        self.fh = fh

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.fh.close()

    def write(self, data):
        self.fh.write(data[: len(data) // 2])
        raise _Crash("torn write")


def _tear_writes(monkeypatch, suffix: str) -> None:
    """Crash inside ``write_atomic`` for targets ending in ``suffix``:
    half the payload reaches disk, then the writer dies."""
    from pwc_challenge_dataengineer_spark.sources import commit

    def torn_open(path, mode="r", *args, **kwargs):
        fh = open(path, mode, *args, **kwargs)
        return _TornFile(fh) if path.endswith(suffix + ".tmp") else fh

    monkeypatch.setattr(commit, "open", torn_open, raising=False)


def _crash_after_parquet_write(monkeypatch, leaf: str) -> None:
    """Crash right after a parquet write whose target dir is ``leaf``."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if os.path.basename(path) == leaf:
            raise _Crash(f"after {path}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _crash_before_manifest(monkeypatch) -> None:
    def boom(self, entry):
        raise _Crash("before manifest append")

    monkeypatch.setattr(VersionedTable, "_append_manifest", boom)


def _inject(monkeypatch, step: str) -> None:
    if step == "torn_manifest":
        _tear_writes(monkeypatch, "_manifest.json")
    elif step == "before_manifest":
        _crash_before_manifest(monkeypatch)
    else:
        _crash_after_parquet_write(monkeypatch, step)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _layout(table: VersionedTable):
    return [
        (e["version"], e["operation"], e.get("appends"))
        for e in table._load_manifest()
    ]


# ------------------------------------------------------------ VersionedTable


def _commits(spark, method: str):
    df = spark.createDataFrame
    if method == "write":
        return [
            lambda t: t.write(df([(1, "a")], "id INT, v STRING")),
            lambda t: t.write(df([(1, "a"), (2, "b")], "id INT, v STRING")),
        ]
    return [
        lambda t: t.write_split(
            df([(1, "a")], "id INT, v STRING"),
            df([(9, "h0")], "id INT, v STRING"),
        ),
        lambda t: t.write_split(
            df([(1, "a2"), (2, "b")], "id INT, v STRING"),
            df([(8, "h1")], "id INT, v STRING"),
        ),
    ]


@pytest.mark.parametrize(
    "method,step",
    [
        ("write", "v=1"),
        ("write", "before_manifest"),
        ("write", "torn_manifest"),
        ("write_split", "base"),
        ("write_split", "append"),
        ("write_split", "before_manifest"),
        ("write_split", "torn_manifest"),
    ],
)
def test_versioned_commit_replays_after_crash(spark, tmp_path, monkeypatch, method, step):
    first, second = _commits(spark, method)
    clean = VersionedTable(spark, str(tmp_path / "clean"))
    first(clean)
    second(clean)

    t = VersionedTable(spark, str(tmp_path / "crashed"))
    first(t)
    before = _rows(t.read())
    with monkeypatch.context() as m:
        _inject(m, step)
        with pytest.raises(_Crash):
            second(t)
    # the crashed commit is invisible: the previous version still reads
    assert t.latest_version() == 0
    assert _rows(t.read()) == before

    assert second(t) == 1  # replay the same commit
    assert _rows(t.read()) == _rows(clean.read())
    assert _layout(t) == _layout(clean)


# ------------------------------------------------------------ CDC -> SCD2

_PAYLOAD = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("balance", T.DoubleType(), True),
    ]
)


def _cdc_batch(spark, changes):
    rows = []
    for op, user_id, balance, ts_s in changes:
        row = {"user_id": user_id, "balance": balance}
        rows.append(
            (
                json.dumps(
                    {
                        "op": op,
                        "before": row if op == "d" else None,
                        "after": None if op == "d" else row,
                        "ts_ms": ts_s * 1000,
                    }
                ),
            )
        )
    return spark.createDataFrame(rows, "value STRING")


@pytest.mark.parametrize("step", ["base", "append", "torn_manifest"])
def test_cdc_scd2_batch_replays_after_crash_in_write_split(
    spark, tmp_path, monkeypatch, step
):
    from pwc_challenge_dataengineer_spark.streaming.cdc_scd2 import (
        make_cdc_scd2_batch_fn,
    )

    b0 = _cdc_batch(spark, [("c", 1, 10.0, 1), ("c", 2, 20.0, 1)])
    # closes key 1's version, so the commit writes an append segment
    b1 = _cdc_batch(spark, [("u", 1, 15.0, 2), ("d", 2, 20.0, 3)])

    def run(name, crash_step=None):
        table = VersionedTable(spark, str(tmp_path / name))
        fn = make_cdc_scd2_batch_fn(table, _PAYLOAD, ["user_id"], ["balance"])
        fn(b0, 0)
        if crash_step is not None:
            with monkeypatch.context() as m:
                _inject(m, crash_step)
                with pytest.raises(_Crash):
                    fn(b1, 1)
        fn(b1, 1)
        return table

    clean, crashed = run("clean"), run("crashed", step)
    assert _rows(crashed.read()) == _rows(clean.read())
    assert _layout(crashed) == _layout(clean)


# ------------------------------------------------------------ iceberg sink


def test_iceberg_batch_sink_replays_after_crash_before_metadata_swap(
    spark, tmp_path, monkeypatch
):
    from pwc_challenge_dataengineer_spark.sources.iceberg_lite import scan
    from pwc_challenge_dataengineer_spark.streaming.lakehouse_sink import (
        committed_batch_ids,
        iceberg_batch_sink,
    )

    loc = str(tmp_path / "tbl")
    sink = iceberg_batch_sink(loc, "lang")
    b0 = spark.createDataFrame([(1, "en"), (2, "de")], "k long, lang string")
    b1 = spark.createDataFrame([(3, "en"), (4, "fr")], "k long, lang string")
    sink(b0, 0)
    with monkeypatch.context() as m:
        _tear_writes(m, ".metadata.json")
        with pytest.raises(_Crash):
            sink(b1, 1)
    assert committed_batch_ids(loc) == {0}
    assert _rows(scan(spark, loc)[0].select("k")) == [(1,), (2,)]

    sink(b1, 1)  # foreachBatch replays the uncommitted batch
    sink(b1, 1)  # ... and a second replay is a no-op
    assert committed_batch_ids(loc) == {0, 1}
    assert _rows(scan(spark, loc)[0].select("k")) == [(1,), (2,), (3,), (4,)]


# ------------------------------------------------------------ delta log


def test_delta_commit_torn_mid_write_keeps_previous_version(
    spark, tmp_path, monkeypatch
):
    from pwc_challenge_dataengineer_spark.sources.delta_log import (
        delete_rows_with_dv,
        read_delta_log,
        write_delta_table,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").cast("int").alias("id"))
    write_delta_table(spark, path, df, n_files=1)
    with monkeypatch.context() as m:
        _tear_writes(m, f"{1:020d}.json")
        with pytest.raises(_Crash):
            delete_rows_with_dv(spark, path, F.col("id") < 3)
    assert _rows(read_delta_log(spark, path)) == [(i,) for i in range(10)]

    assert delete_rows_with_dv(spark, path, F.col("id") < 3) == 3
    assert _rows(read_delta_log(spark, path)) == [(i,) for i in range(3, 10)]
    assert _rows(read_delta_log(spark, path, version_as_of=0)) == [
        (i,) for i in range(10)
    ]


# ------------------------------------------------------------ kafka-like log


def test_kafkalike_truncate_torn_mid_rewrite_loses_no_record(tmp_path, monkeypatch):
    from pwc_challenge_dataengineer_spark.sources.kafkalike import (
        KafkaLikeBroker,
        _read_slice,
        _Slice,
    )

    broker = KafkaLikeBroker(str(tmp_path / "broker"))
    broker.create_topic("t", partitions=1)
    for i in range(10):
        broker.produce("t", f"v{i}", partition=0)

    def offsets():
        pdir = broker._pdir("t", 0)
        return [r[4] for r in _read_slice(_Slice("t", 0, pdir, 0, 10))]

    with monkeypatch.context() as m:
        _tear_writes(m, "log.jsonl")
        with pytest.raises(_Crash):
            broker.truncate("t", 0, 4)
    assert set(range(4, 10)) <= set(offsets())

    broker.truncate("t", 0, 4)  # replay
    assert offsets() == list(range(4, 10))
    assert broker.log_start("t", 0) == 4
    assert broker.next_offset("t", 0) == 10
