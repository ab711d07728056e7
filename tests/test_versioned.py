"""Versioned-store (Delta-semantics emulation) golden-row tests.

Pins the semantics SURVEY §7.3.2 calls out: MERGE must close AND re-insert
changed rows in one commit (the reference's Delta MERGE at
delta_lake_manager.py:387-410 loses the re-insert leg)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pwc_challenge_dataengineer_spark.sources.versioned_store import (
    VersionedTable,
    scd2_merge,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_time_travel(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tt"))
    v0 = t.write(spark.createDataFrame([(1, "a")], ["id", "v"]))
    v1 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 2
    assert _rows(t.read(version_as_of=0), "id", "v") == [(1, "a")]
    ts0 = t.history().filter(F.col("version") == 0).first().ts
    assert _rows(t.read(timestamp_as_of=ts0), "id", "v") == [(1, "a")]
    assert [r.operation for r in t.history().orderBy("version").collect()] == [
        "write",
        "write",
    ]


def test_merge_upsert(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "m"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    t.merge(spark.createDataFrame([(2, "B2"), (3, "c")], ["id", "v"]), keys=["id"])
    # matched row updated AND unmatched inserted — one commit
    assert _rows(t.read(), "id", "v") == [(1, "a"), (2, "B2"), (3, "c")]
    assert _rows(t.read(version_as_of=0), "id", "v") == [(1, "a"), (2, "b")]


def test_delete_and_vacuum(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "d"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    t.delete_where(F.col("id") == 1)
    assert _rows(t.read(), "id", "v") == [(2, "b")]
    dropped = t.vacuum(keep_last=1)
    assert dropped == [0]
    try:
        t.read(version_as_of=0)
        raise AssertionError("expected vacuumed version to be unreadable")
    except ValueError:
        pass

    # split commits: a dropped version whose append segment a kept entry
    # still carries keeps only that segment — its base is reclaimed
    s = VersionedTable(spark, str(tmp_path / "split"))

    def mk(rows):
        return spark.createDataFrame(rows, ["id", "v"])

    s.write_split(mk([(1, "a")]), mk([(9, "h0")]))
    s.write_split(mk([(1, "b")]), mk([(8, "h1")]))
    s.write_split(mk([(1, "c")]), None)
    kept = {v: _rows(s.read(version_as_of=v), "id", "v") for v in (1, 2)}
    assert s.vacuum(keep_last=2) == []  # v=0's append is still referenced
    assert not (tmp_path / "split" / "v=0" / "base").exists()
    assert (tmp_path / "split" / "v=0" / "append").is_dir()
    for v, rows in kept.items():
        assert _rows(s.read(version_as_of=v), "id", "v") == rows


def test_scd2_merge_close_and_insert(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "scd2"))
    base = spark.createDataFrame(
        [(1, "x", "2000-01-01 00:00:00", None, True),
         (2, "y", "2000-01-01 00:00:00", None, True)],
        "id BIGINT, attr STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN",
    ).select(
        "id",
        "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    t.write(base)
    scd2_merge(
        t,
        spark.createDataFrame([(1, "x2"), (3, "z")], ["id", "attr"]),
        keys=["id"],
        tracked_cols=["attr"],
    )
    out = t.read()
    cur = {r.id: r.attr for r in out.filter("is_current").collect()}
    assert cur == {1: "x2", 2: "y", 3: "z"}  # changed + unchanged + new
    closed = out.filter(~F.col("is_current")).collect()
    assert len(closed) == 1 and closed[0].id == 1 and closed[0].attr == "x"
    assert closed[0].valid_to is not None  # closed leg got its end date


def test_merge_insert_only(spark, tmp_path):
    """when_matched_update=False must keep matched TARGET rows untouched
    (regression: they used to vanish — dropped from kept with no update leg)."""
    t = VersionedTable(spark, str(tmp_path / "mi"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    t.merge(
        spark.createDataFrame([(2, "IGNORED"), (3, "c")], ["id", "v"]),
        keys=["id"],
        when_matched_update=False,
    )
    assert _rows(t.read(), "id", "v") == [(1, "a"), (2, "b"), (3, "c")]


def test_delete_where_null_condition(spark, tmp_path):
    """DELETE keeps rows where the predicate evaluates NULL."""
    t = VersionedTable(spark, str(tmp_path / "dn"))
    t.write(spark.createDataFrame([(1, "x"), (2, None), (3, "y")], ["id", "v"]))
    t.delete_where(F.col("v") == "x")
    assert _rows(t.read(), "id") == [(2,), (3,)]  # NULL-v row survives


def test_merge_sequence_matches_dict_semantics(spark, tmp_path):
    """A random-ish sequence of merges must leave the table equal to a plain
    dict upsert-reduce of the same operations (pinned, deterministic)."""
    ops = [
        [(1, "a"), (2, "b")],
        [(2, "b2"), (3, "c")],
        [(1, "a2"), (4, "d"), (5, "e")],
        [(5, "e2")],
        [(6, "f"), (3, "c2"), (2, "b3")],
    ]
    t = VersionedTable(spark, str(tmp_path / "seq"))
    t.write(spark.createDataFrame(ops[0], ["id", "v"]))
    expected = dict(ops[0])
    for batch in ops[1:]:
        t.merge(spark.createDataFrame(batch, ["id", "v"]), keys=["id"])
        expected.update(dict(batch))
    assert _rows(t.read(), "id", "v") == sorted(expected.items())
    # every intermediate version still time-travels to its own state
    expected0 = dict(ops[0])
    assert _rows(t.read(version_as_of=0), "id", "v") == sorted(expected0.items())


def test_scd2_merge_preserves_closed_history_across_merges(spark, tmp_path):
    """Two consecutive merges on the SAME key: every closed version must
    survive (regression: untouched used to anti-join the full target on key
    alone, deleting all prior versions of any changed key)."""
    t = VersionedTable(spark, str(tmp_path / "scd2hist"))
    base = spark.createDataFrame(
        [(1, "v1", "2000-01-01 00:00:00", None, True)],
        "id BIGINT, attr STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN",
    ).select(
        "id",
        "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    t.write(base)
    scd2_merge(
        t, spark.createDataFrame([(1, "v2")], ["id", "attr"]),
        keys=["id"], tracked_cols=["attr"], effective_ts="2001-01-01 00:00:00",
    )
    scd2_merge(
        t, spark.createDataFrame([(1, "v3")], ["id", "attr"]),
        keys=["id"], tracked_cols=["attr"], effective_ts="2002-01-01 00:00:00",
    )
    out = sorted(t.read().collect(), key=lambda r: r.valid_from)
    assert [(r.attr, r.is_current) for r in out] == [
        ("v1", False), ("v2", False), ("v3", True),
    ]
    # closed rows keep their close timestamps; open row stays NULL
    assert out[0].valid_to is not None and out[1].valid_to is not None
    assert out[2].valid_to is None


def test_scd2_merge_null_tracked_value_is_stable(spark, tmp_path):
    """A NULL tracked attribute must NOT churn: re-merging an identical
    source with a NULL value leaves the table unchanged (regression: plain
    equality classified NULL-attributed rows as changed every run)."""
    t = VersionedTable(spark, str(tmp_path / "scd2null"))
    base = spark.createDataFrame(
        [(1, None, "2000-01-01 00:00:00", None, True)],
        "id BIGINT, attr STRING, valid_from STRING, valid_to STRING, is_current BOOLEAN",
    ).select(
        "id",
        "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    t.write(base)
    src = spark.createDataFrame(
        [(1, None)], "id BIGINT, attr STRING"
    )
    scd2_merge(t, src, keys=["id"], tracked_cols=["attr"],
               effective_ts="2001-01-01 00:00:00")
    out = t.read().collect()
    assert len(out) == 1 and out[0].is_current and out[0].attr is None
    scd2_merge(t, src, keys=["id"], tracked_cols=["attr"],
               effective_ts="2002-01-01 00:00:00")
    assert t.read().count() == 1  # still exactly one version


def test_optimize_compacts_and_zorders(spark, tmp_path):
    """OPTIMIZE ZORDER: content unchanged, version bumped, and per-file
    min/max spans shrink on BOTH z-ordered columns vs the shuffled layout
    (the property parquet data skipping depends on)."""
    import glob
    import random

    t = VersionedTable(spark, str(tmp_path / "opt"))
    rng = random.Random(42)
    rows = [(i, rng.randrange(0, 1000), rng.random() * 100.0) for i in range(4000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id BIGINT, k BIGINT, v DOUBLE").repartition(8)
    t.write(df)
    v = t.optimize(zorder_by=["k", "v"], n_files=4)
    assert v == 1
    assert [r.operation for r in t.history().orderBy("version").collect()][-1] == "optimize"
    out = t.read()
    assert out.count() == 4000
    assert sorted(r.id for r in out.select("id").collect()) == sorted(r[0] for r in rows)

    def avg_spans(version):
        files = glob.glob(str(tmp_path / "opt" / f"v={version}" / "part-*.parquet"))
        spans_k, spans_v = [], []
        for f in files:
            pf = spark.read.parquet(f)
            mm = pf.agg(F.min("k"), F.max("k"), F.min("v"), F.max("v")).first()
            spans_k.append(mm[1] - mm[0])
            spans_v.append(mm[3] - mm[2])
        return sum(spans_k) / len(spans_k), sum(spans_v) / len(spans_v)

    k0, v0 = avg_spans(0)  # shuffled layout: every file spans ~full range
    k1, v1 = avg_spans(1)  # z-ordered: both dims localized per file
    # Range boundaries are sample-based, so a file may straddle one Morton
    # quadrant edge (full span on one dim for that file); 0.8 leaves room
    # for one straddle per dim while still rejecting an unclustered layout
    # (which averages ~1.0 on both dims).
    assert k1 < k0 * 0.8 and v1 < v0 * 0.8


def test_optimize_without_zorder_compacts(spark, tmp_path):
    import glob

    t = VersionedTable(spark, str(tmp_path / "opt2"))
    t.write(spark.range(100).repartition(16).withColumnRenamed("id", "x"))
    t.optimize(n_files=2)
    files = glob.glob(str(tmp_path / "opt2" / "v=1" / "part-*.parquet"))
    assert len(files) <= 2
    assert t.read().count() == 100


def test_snapshot_diff_cdf(spark, tmp_path):
    """diff(v1, v2) must classify inserts/deletes/updates exactly, with
    NULL-attributed rows neither phantom-updating (eqNullSafe hash) nor
    disappearing."""
    t = VersionedTable(spark, str(tmp_path / "cdf_tbl"))
    t.write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
            "id INT, name STRING, score DOUBLE",
        )
    )
    t.write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b2", None), (4, "d", 40.0)],
            "id INT, name STRING, score DOUBLE",
        )
    )
    got = {
        r["id"]: r["_change_type"]
        for r in t.diff(["id"], from_version=0, to_version=1).collect()
    }
    # id 1 unchanged -> absent; 2 updated; 3 deleted; 4 inserted
    assert got == {2: "update_postimage", 3: "delete", 4: "insert"}

    # identical snapshots diff to empty (NULL score must not churn)
    t.write(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b2", None), (4, "d", 40.0)],
            "id INT, name STRING, score DOUBLE",
        )
    )
    assert t.diff(["id"], from_version=1, to_version=2).count() == 0


def test_streaming_merge_into_versioned_store(spark, tmp_path):
    """Streaming medallion end-to-end: a file stream upserted micro-batch
    by micro-batch into the versioned store via foreachBatch MERGE must
    converge to the same keep-latest snapshot a single batch pass
    produces — the exactly-once sink pattern (idempotent MERGE on keys)
    over the Delta-semantics emulation."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = datetime.datetime(2024, 1, 1)
    rows = [
        # key, payload, seq — later seq wins; keys repeat across batches
        (k, f"p{seq}", seq, base + datetime.timedelta(minutes=seq))
        for seq, k in enumerate([1, 2, 3, 1, 2, 4, 1, 5, 3, 6])
    ]
    df = spark.createDataFrame(rows, "id INT, payload STRING, seq INT, ts TIMESTAMP")
    src = str(tmp_path / "merge_stream_src")
    # one file per seq-ordered slice so micro-batches arrive in order
    for i in range(0, 10, 2):
        df.filter((F.col("seq") >= i) & (F.col("seq") < i + 2)).coalesce(
            1
        ).write.mode("append").parquet(src)

    t = VersionedTable(spark, str(tmp_path / "merge_tbl"))
    t.write(spark.createDataFrame([], "id INT, payload STRING, seq INT, ts TIMESTAMP"))

    def upsert(batch_df, _batch_id):
        # keep-latest within the batch, then MERGE on the key
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.desc("seq"))
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        t.merge(latest, keys=["id"])

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = {r["id"]: (r["payload"], r["seq"]) for r in t.read().collect()}
    expected = {
        r["id"]: (r["payload"], r["seq"])
        for r in df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.desc("seq"))
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
        .collect()
    }
    assert got == expected


def test_streaming_merge_crash_replay_exactly_once(spark, tmp_path):
    """Exactly-once evidence for the foreachBatch MERGE sink: the query is
    KILLED mid-stream — after a batch's MERGE side effect has been applied
    but before Structured Streaming commits that batch to the checkpoint —
    then restarted from the same checkpoint. The engine replays the
    uncommitted batch (at-least-once delivery), so the MERGE runs twice for
    it; the final snapshot must still equal the single-pass batch answer.
    That is the exactly-once contract: checkpoint replay + idempotent
    per-key MERGE, the same argument Delta's foreachBatch docs make — here
    demonstrated, not asserted."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (k, f"p{seq}", seq, base + datetime.timedelta(minutes=seq))
        for seq, k in enumerate([1, 2, 3, 1, 2, 4, 1, 5, 3, 6])
    ]
    df = spark.createDataFrame(rows, "id INT, payload STRING, seq INT, ts TIMESTAMP")
    src = str(tmp_path / "crash_src")
    for i in range(0, 10, 2):
        df.filter((F.col("seq") >= i) & (F.col("seq") < i + 2)).coalesce(
            1
        ).write.mode("append").parquet(src)

    t = VersionedTable(spark, str(tmp_path / "crash_tbl"))
    t.write(spark.createDataFrame([], "id INT, payload STRING, seq INT, ts TIMESTAMP"))
    checkpoint = str(tmp_path / "crash_ckpt")
    crashed = []  # crash exactly once, on the second micro-batch

    def upsert(batch_df, batch_id):
        latest = (
            batch_df.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("id").orderBy(F.desc("seq"))
                ),
            )
            .filter("_rn = 1")
            .drop("_rn")
        )
        t.merge(latest, keys=["id"])  # side effect lands BEFORE the crash
        if batch_id == 1 and not crashed:
            crashed.append(batch_id)
            raise RuntimeError("injected crash after merge, before commit")

    def run():
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    q1 = run()
    try:
        q1.awaitTermination(180)
        raise AssertionError("expected the injected crash to fail the query")
    except Exception as ex:  # StreamingQueryException wrapping the injection
        assert "injected crash" in str(ex)

    versions_after_crash = t.history().count()
    q2 = run()  # restart from the SAME checkpoint — batch 1 replays
    q2.awaitTermination(180)
    # the replay really happened: the crashed batch's merge committed twice
    assert t.history().count() > versions_after_crash

    got = {r["id"]: (r["payload"], r["seq"]) for r in t.read().collect()}
    expected = {
        r["id"]: (r["payload"], r["seq"])
        for r in df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.desc("seq"))
            ),
        )
        .filter("_rn = 1")
        .drop("_rn")
        .collect()
    }
    assert got == expected
