"""Streaming CDC -> SCD2: Debezium envelope stream to a versioned SCD2
dimension, end-to-end.

Reference intent: src/streaming/cdc_processor.py:43-300 (envelope parse +
conflict resolution + apply) feeding the SCD2 dimension maintenance of
src/etl/spark/delta_lake_manager.py:373-416. The reference wires these
through Delta MERGE; here the apply is a one-pass close-and-insert over
``VersionedTable`` inside ``foreachBatch`` (jar-free, same semantics),
with TWO deliberate upgrades:

- per-key EVENT-TIME boundaries: a closed version's ``valid_to`` and its
  successor's ``valid_from`` are the closing change's own CDC timestamp,
  not a batch-wide wall-clock stamp — replay-deterministic (crash-replay
  produces byte-identical history) and historically correct;
- change-only versioning: an upsert whose tracked attributes null-safe
  equal the key's current state is a no-op (no close, no insert), so a
  chatty CDC source cannot inflate the dimension.

Batch semantics (the contract the oracle in plans/incremental.py
``cdc_scd2_state`` verifies value-for-value): within a batch, last write
per key wins (ts, then a caller-supplied tiebreak column); the surviving
op is applied against the CURRENT slice — delete closes the open version
at the delete's ts (no-op if none open), a changed/new upsert closes any
open version at the new row's ts and inserts the new version open-ended.

Crash-replay idempotency: re-applying a batch finds every upsert equal to
current and every delete already closed, so the table CONTENT is a fixed
point (the versioned store records a new commit, but the rows are
identical — the test asserts exact state convergence after a mid-stream
kill + restart from the same checkpoint).

At 100 TB: everything is joins on the key columns — the change batch is
micro-batch-sized (broadcastable), the dimension shuffles once on key;
history rows pass through untouched (with a partitioned dimension store,
closed history would not even be rewritten — the VersionedTable emulation
rewrites because parquet is immutable, exactly what Delta's MERGE
file-rewrite does under the hood).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.versioned_store import VersionedTable
from .cdc import parse_debezium


def scd2_empty(
    spark, keys: dict[str, str], tracked: dict[str, str]
) -> DataFrame:
    """Empty SCD2 frame: key/tracked columns (name -> DDL type) plus the
    standard validity columns."""
    fields = [f"{c} {t}" for c, t in {**keys, **tracked}.items()]
    fields += [
        "valid_from TIMESTAMP",
        "valid_to TIMESTAMP",
        "is_current BOOLEAN",
    ]
    return spark.createDataFrame([], ", ".join(fields))


def cdc_scd2_apply(
    target: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
    include_history: bool = True,
) -> DataFrame:
    """Apply one CDC batch (op/ts/key/tracked columns) to an SCD2 frame.

    ``changes`` rows carry ``op`` ('c'/'u'/'r' upsert, 'd' delete), the
    event timestamp ``ts_col`` (castable to timestamp), key and tracked
    columns. Returns the new SCD2 frame; pure — callers own persistence.

    Contract: key columns must be NON-NULL in both inputs. The apply
    joins keys null-unsafely (like SQL equality everywhere else in the
    pipeline); a null key in ``changes`` would never match an open
    version, so instead of suppressing a no-op upsert it would insert a
    fresh current row per batch. Debezium envelopes carry the key in the
    payload's primary-key fields, which are non-null by definition;
    enforce upstream if a source can emit null keys.

    ``include_history=False`` returns the FULL current slice (new,
    updated AND untouched current rows) plus the versions this batch
    closed; it omits only the pass-through closed history — what a
    split-commit store persists, so untouched history files carry over
    by reference instead of being rewritten every batch.
    """
    from functools import reduce

    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # LWW leaves exactly ONE row per key, so every later step keyed on
    # key_cols matches at most one change row and one open version.
    lww = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *key_cols,
            *[F.col(c).alias(f"__s_{c}") for c in tracked_cols],
            "op",
            F.col(ts_col).cast("timestamp").alias("__eff"),
        )
    )

    cur = target.filter(F.col("is_current"))
    history = target.filter(~F.col("is_current"))

    # Post-delete event-time high-water mark: after a delete there is NO
    # current row, so the open-version guard below cannot see the key's
    # boundary — it lives in max(valid_to) over the CLOSED versions.
    # History is semi-joined to the batch's keys first so the aggregate is
    # batch-sized, not dimension-sized (lww is already one row per key —
    # no distinct needed; the micro-batch key set broadcasts).
    hist_hwm = (
        history.join(F.broadcast(lww.select(*key_cols)), key_cols, "left_semi")
        .groupBy(*key_cols)
        .agg(F.max("valid_to").alias("__hist_vt"))
    )

    # ONE full-outer join lines up each key's open version with its
    # surviving change; every decision the old multi-join pipeline made
    # (late-data guard, changed-or-new anti-join, delete semi-join, close
    # inner join, untouched anti-join) becomes a row-local expression, and
    # the 0-2 output rows per key (closed and/or inserted version) are
    # emitted through one explode. Join keys match null-unsafe, like the
    # dominant joins of the previous formulation (key columns are non-null
    # in every producer: CDC keys and dimension keys).
    m = (
        cur.withColumn("__has_cur", F.lit(True))
        .join(lww.withColumn("__has_chg", F.lit(True)), key_cols, "full_outer")
        .join(F.broadcast(hist_hwm), key_cols, "left")
    )

    has_cur = F.coalesce(F.col("__has_cur"), F.lit(False))
    # Cross-batch late-data guard: LWW resolves conflicts only WITHIN the
    # batch. A change whose ts predates the open version's valid_from (or
    # the key's closed-version HWM) lost the conflict in a PRIOR batch —
    # applying it would close the current version with valid_to <
    # valid_from or resurrect a deleted key with a stale row. Resolve by
    # event time across state, as the reference cdc_processor does.
    guard_ok = (
        (~has_cur | (F.col("__eff") >= F.col("valid_from")))
        & (
            F.col("__hist_vt").isNull()
            | (F.col("__eff") >= F.col("__hist_vt"))
        )
    )
    chg_ok = F.coalesce(F.col("__has_chg"), F.lit(False)) & guard_ok
    # initial value (r13 advice): a key-only dimension (tracked_cols empty)
    # degenerates to "always equal", matching the old cmp_cols = key_cols +
    # tracked_cols formulation (keys are equal by join construction).
    same_tracked = reduce(
        lambda a, b: a & b,
        [F.col(f"__s_{c}").eqNullSafe(F.col(c)) for c in tracked_cols],
        F.lit(True),
    )
    # changed-or-new upsert: no open version, or tracked values differ
    # (null-safe) from it — a chatty no-op upsert inserts nothing
    changed = chg_ok & (F.col("op") != "d") & (~has_cur | ~same_tracked)
    is_del = chg_ok & (F.col("op") == "d") & has_cur
    close_cur = has_cur & (changed | is_del)

    key_fields = [F.col(c).alias(c) for c in key_cols]
    ts_null = F.lit(None).cast("timestamp")
    closed_row = F.struct(
        *key_fields,
        *[F.col(c).alias(c) for c in tracked_cols],
        F.col("valid_from").alias("valid_from"),
        # per-key close boundary: the closing change's OWN timestamp
        F.col("__eff").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    untouched_row = F.struct(
        *key_fields,
        *[F.col(c).alias(c) for c in tracked_cols],
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        F.col("is_current").alias("is_current"),
    )
    inserted_row = F.struct(
        *key_fields,
        *[
            F.col(f"__s_{c}").cast(dict(target.dtypes)[c]).alias(c)
            for c in tracked_cols
        ],
        F.col("__eff").alias("valid_from"),
        ts_null.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    emitted = F.array_compact(
        F.array(
            F.when(close_cur, closed_row).otherwise(
                F.when(has_cur, untouched_row)
            ),
            F.when(changed, inserted_row),
        )
    )
    out = m.select(F.explode(emitted).alias("__r")).select("__r.*")
    cols = [*key_cols, *tracked_cols, "valid_from", "valid_to", "is_current"]
    if not include_history:
        return out.select(cols)
    return history.select(cols).unionByName(out.select(cols))


def make_cdc_scd2_batch_fn(
    table: VersionedTable,
    payload_schema: T.StructType,
    key_cols: list[str],
    tracked_cols: list[str],
    tiebreak_col: str | None = None,
):
    """foreachBatch function: Debezium-envelope micro-batch (a ``value``
    string column) -> parse -> one-pass SCD2 apply -> versioned commit.

    The commit is one ``table.write_split`` of the checkpointed result —
    the read-modify-write is safe under foreachBatch's serial driver
    execution (single writer), and a replayed batch converges to the
    identical state (see module docstring), also after a crash inside
    the commit: the manifest append is its visibility point."""

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        changes = parse_debezium(batch_df, payload_schema).withColumn(
            "ts", F.timestamp_millis(F.col("ts_ms"))
        )
        latest = table.latest_version()
        # Split commit (r14, the module docstring's promised file-skipping):
        # closed history is immutable, so each batch persists ONLY the new
        # current slice + the versions it closed; prior history segments
        # carry over by manifest reference. Bytes written per batch drop
        # from O(|dimension|) to O(|current| + |batch|) — at 100 TB the
        # difference between rewriting the dimension every trigger and a
        # Delta-MERGE-sized commit.
        split = latest is not None and table.is_split(latest)
        if latest is None:
            target = scd2_empty(
                spark,
                {c: payload_schema[c].dataType.simpleString() for c in key_cols},
                {c: payload_schema[c].dataType.simpleString() for c in tracked_cols},
            )
        elif split:
            cur = table.read_base(latest)
            hist = table.read_appends(latest)
            target = cur if hist is None else cur.unionByName(hist)
        else:
            target = table.read()  # legacy full snapshot: one-time rebase
        delta = cdc_scd2_apply(
            target, changes, key_cols, tracked_cols,
            ts_col="ts", tiebreak_col=tiebreak_col,
            # on the rebase path the returned frame must carry the FULL
            # closed history into this commit's append segment
            include_history=not split,
        ).localCheckpoint(eager=True)
        new_cur = delta.filter(F.col("is_current"))
        newly_closed = delta.filter(~F.col("is_current"))
        table.write_split(
            new_cur,
            None if newly_closed.isEmpty() else newly_closed,
            operation="cdc_scd2",
        )

    return on_batch
