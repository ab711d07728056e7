"""Storage-layout queries: the Z-ORDER clustering code, oracle-pinned.

Reference: delta_lake_manager.py:312-321 (``OPTIMIZE ... ZORDER BY``) — the
physical rewrite lives in sources/versioned_store.py:VersionedTable.optimize
and is pinned by tests/test_versioned.py (per-file min/max shrink on every
z-ordered column). This module oracle-checks the math that drives it: the
Morton interleave must be bit-exact, or the clustering silently degrades.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import load_table
from ..sources.versioned_store import zorder_code
from .catalog import register

_BITS = 8


def _interleave_sql(b1: str, b2: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({b1} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({b2} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


@register(
    "zorder_code_orders",
    oracle=f"""
    WITH stats AS (
        SELECT CAST(MIN(o_custkey) AS DOUBLE) AS mn1,
               CAST(MAX(o_custkey) AS DOUBLE) AS mx1,
               MIN(o_totalprice) AS mn2, MAX(o_totalprice) AS mx2
        FROM orders
    ),
    b AS (
        SELECT o_orderkey,
               LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - mn1)
                                / (mx1 - mn1) * 255) AS BIGINT), 255) AS b1,
               LEAST(CAST(FLOOR((o_totalprice - mn2)
                                / (mx2 - mn2) * 255) AS BIGINT), 255) AS b2
        FROM orders CROSS JOIN stats
    )
    SELECT o_orderkey,
           CAST({_interleave_sql('b1', 'b2', _BITS)} AS BIGINT) AS zcode
    FROM b
    """,
)
def zorder_code_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton code of (o_custkey, o_totalprice), 8 bits each: linear
    min/max bucketing then bit interleave — identical IEEE arithmetic on
    both engines, so the oracle is value-exact. This is the clustering key
    VersionedTable.optimize(zorder_by=...) sorts by."""
    orders = load_table(spark, sf_dir, "orders")
    coded = zorder_code(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        ["o_custkey", "o_totalprice"],
        bits_per_col=_BITS,
    )
    return coded.select("o_orderkey", F.col("__z").alias("zcode"))


_ROWS_PER_FILE = 1000
# The 2-D probe predicate zone maps are judged against.
_CK_LO, _CK_HI = 0, 749
_TP_LO, _TP_HI = 0.0, 150000.0

_ZCODE_CTE = f"""
    stats AS (
        SELECT CAST(MIN(o_custkey) AS DOUBLE) AS mn1,
               CAST(MAX(o_custkey) AS DOUBLE) AS mx1,
               MIN(o_totalprice) AS mn2, MAX(o_totalprice) AS mx2
        FROM orders
    ),
    coded AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST({{interleave}} AS BIGINT) AS zcode
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - mn1)
                                    / (mx1 - mn1) * 255) AS BIGINT), 255) AS b1,
                   LEAST(CAST(FLOOR((o_totalprice - mn2)
                                    / (mx2 - mn2) * 255) AS BIGINT), 255) AS b2
            FROM orders CROSS JOIN stats
        )
    )
"""


def _layout_sql(name: str, order_by: str) -> str:
    return f"""
        SELECT '{name}' AS layout,
               CAST((row_number() OVER (ORDER BY {order_by}) - 1)
                    // {_ROWS_PER_FILE} AS BIGINT) AS file_id,
               o_custkey, o_totalprice
        FROM coded
    """


@register(
    "zone_map_effectiveness",
    oracle=f"""
    WITH {_ZCODE_CTE.format(interleave=_interleave_sql('b1', 'b2', _BITS))},
    placed AS (
        {_layout_sql('linear_custkey', 'o_custkey, o_orderkey')}
        UNION ALL
        {_layout_sql('zorder', 'zcode, o_orderkey')}
    ),
    zones AS (
        SELECT layout, file_id,
               MIN(o_custkey) AS mn_ck, MAX(o_custkey) AS mx_ck,
               MIN(o_totalprice) AS mn_tp, MAX(o_totalprice) AS mx_tp
        FROM placed GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN mn_ck > {_CK_HI} OR mx_ck < {_CK_LO}
                          OR mn_tp > {_TP_HI} OR mx_tp < {_TP_LO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
           round(CAST(SUM(CASE WHEN mn_ck > {_CK_HI} OR mx_ck < {_CK_LO}
                               OR mn_tp > {_TP_HI} OR mx_tp < {_TP_LO}
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
               AS prune_fraction
    FROM zones GROUP BY 1
    """,
)
def zone_map_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping effectiveness of Z-order vs single-column clustering,
    measured: place orders into {_ROWS_PER_FILE}-row files under (a) a
    plain o_custkey sort and (b) the Morton-code sort that
    VersionedTable.optimize(zorder_by=...) performs, build each file's
    zone map (min/max of both probe columns), and count the files a 2-D
    range predicate can skip. Single-dim sort prunes perfectly on its own
    column and not at all on the other; Z-order trades a little of the
    first for most of the second — this query turns that claim into a
    hash-pinned number. The global row_number here is the measurement
    harness, not the write path (the real rewrite sorts distributedly via
    repartitionByRange in versioned_store.optimize)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    coded = zorder_code(
        orders, ["o_custkey", "o_totalprice"], bits_per_col=_BITS
    )

    def placed(name: str, *order_cols):
        w = Window.orderBy(*order_cols)
        return coded.select(
            F.lit(name).alias("layout"),
            ((F.row_number().over(w) - 1) / _ROWS_PER_FILE)
            .cast("bigint")
            .alias("file_id"),
            "o_custkey",
            "o_totalprice",
        )

    both = placed("linear_custkey", "o_custkey", "o_orderkey").unionByName(
        placed("zorder", "__z", "o_orderkey")
    )
    zones = both.groupBy("layout", "file_id").agg(
        F.min("o_custkey").alias("mn_ck"),
        F.max("o_custkey").alias("mx_ck"),
        F.min("o_totalprice").alias("mn_tp"),
        F.max("o_totalprice").alias("mx_tp"),
    )
    prunable = (
        (F.col("mn_ck") > _CK_HI)
        | (F.col("mx_ck") < _CK_LO)
        | (F.col("mn_tp") > _TP_HI)
        | (F.col("mx_tp") < _TP_LO)
    )
    n_pruned = F.sum(F.when(prunable, 1).otherwise(0))
    return zones.groupBy("layout").agg(
        F.count("*").alias("n_files"),
        n_pruned.alias("n_pruned"),
        F.round(n_pruned.cast("double") / F.count("*"), 6).alias(
            "prune_fraction"
        ),
    )


# --- Bucketed gold layout (round 5) ----------------------------------------

_N_BUCKETS = 16


def _ensure_bucketed_gold(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders/lineitem-grain gold tables bucketed+sorted on the join
    key (once per sf_dir; reused afterwards). bucketBy requires the session
    catalog, so these live in the spark-warehouse like any saveAsTable."""
    import os

    tag = (
        os.path.basename(os.path.normpath(sf_dir))
        .replace(".", "_")
        .replace("-", "_")
    )
    t_orders = f"gold_orders_bkt_{tag}"
    t_lineitem = f"gold_lineitem_bkt_{tag}"

    def ensure(name: str, table: str, key: str) -> None:
        if spark.catalog.tableExists(name):
            return
        # the metastore is session-scoped but the warehouse dir persists:
        # a fresh session must clear a leftover location (ours by
        # construction — the name encodes the sf tag) before saveAsTable
        import shutil

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        (
            load_table(spark, sf_dir, table)
            # align writer partitions with the bucket function (both are
            # pmod(murmur3(key), n)): N parallel writer tasks instead of
            # one task sorting + writing every bucket file serially, and
            # each bucket still receives exactly ONE file — which the
            # sorted-scan read path above requires
            .repartition(_N_BUCKETS, F.col(key))
            .write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )

    ensure(t_orders, "orders", "o_orderkey")
    ensure(t_lineitem, "lineitem", "l_orderkey")
    return t_orders, t_lineitem


# One sorted-scan child session per SparkContext, reused by every call: a
# fresh newSession() per call would leave one SessionState behind each time.
_SORTED_SCAN_SESSIONS: dict = {}
_SORTED_SCAN_LOCK = threading.Lock()


def _sorted_scan_session(spark: SparkSession) -> SparkSession:
    with _SORTED_SCAN_LOCK:
        child = _SORTED_SCAN_SESSIONS.get(spark.sparkContext)
        if child is None:
            child = spark.newSession()
            child.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
            )
            _SORTED_SCAN_SESSIONS[spark.sparkContext] = child
        return child


@register(
    "bucketed_gold_order_profile",
    oracle="""
    SELECT o.o_orderkey,
           o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS net_revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def bucketed_gold_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order line rollup over the BUCKETED gold layout — the end-to-end
    proof that the ETL's physical layout removes the fact-fact shuffle:
    orders and lineitem gold tables are written ``bucketBy(16, orderkey)
    .sortBy(orderkey)``, the join takes a ``merge`` hint (at audit SF the
    broadcast path would win and bypass bucketing; at production SF neither
    side broadcasts and merge IS the shape), and because both the join key
    and the groupBy key are the bucket column the ENTIRE plan — scan, join,
    aggregate — runs with ZERO Exchange nodes: each of the 16 buckets joins
    and aggregates its own co-located slice. PLANS.md records the
    before/after (the unbucketed twin of this query shuffles both sides).

    Reference parity: the bucketed warehouse layout is the Spark-native
    analog of the reference's per-partition indexes + clustered fact loads
    (advanced_partitioning_strategy.py:472-777); results are layout-
    independent, which the oracle (plain parquet join) pins."""
    t_orders, t_lineitem = _ensure_bucketed_gold(spark, sf_dir)
    # Sorted-scan conf ISOLATED in a child session (r13 verdict: setting it
    # on the shared session leaked into every later bucketed scan's
    # planning). The physical plan is produced at ACTION time — after this
    # function returns — so a set/restore inside the function would silently
    # undo the Sort elimination; newSession() shares the SparkContext,
    # warehouse catalog and block manager but carries its own SQLConf, so
    # the returned DataFrame plans with the conf ON while the caller's
    # session stays untouched. Why the conf: each bucket holds exactly one
    # file (the aligned repartition in ensure() guarantees it), so the scan
    # can expose the written per-bucket order and the merge join needs NO
    # Sort on either side. Its documented cost is planning-time file listing
    # to CHECK one-file-per-bucket; Spark falls back to sorting when a
    # bucket has several files, so this is a planning-cost trade, not a
    # correctness trade (guide §6).
    bspark = _sorted_scan_session(spark)
    o = bspark.table(t_orders).select("o_orderkey", "o_orderstatus")
    li = bspark.table(t_lineitem)
    j = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    return j.groupBy("o_orderkey", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("net_revenue"),
    )


# --- Partitioning advisor (round 5) ----------------------------------------

_ADV_COLS = ("o_orderdate", "o_orderpriority", "o_orderstatus", "o_custkey")
_ADV_TARGET_ROWS = 1_000_000  # healthy rows-per-partition target


@register(
    "partitioning_advisor",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM orders),
    stats AS (
        {" UNION ALL ".join(
            f'''SELECT '{c}' AS column_name,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MAX(cnt) AS BIGINT) AS top_count
            FROM (SELECT {c}, COUNT(*) AS cnt FROM orders GROUP BY 1)'''
            for c in _ADV_COLS)}
    ),
    scored AS (
        SELECT s.column_name, s.n_distinct,
               ROUND(CAST(s.top_count AS DOUBLE) * s.n_distinct
                     / n.n_rows, 6) AS skew_ratio,
               CAST(n.n_rows AS DOUBLE) / s.n_distinct
                   AS rows_per_partition,
               ROUND(CAST(
                   (CASE WHEN s.n_distinct BETWEEN 10 AND 10000 THEN 0.5
                         WHEN s.n_distinct < 10 THEN 0.2 ELSE 0.0 END)
                   + (CASE WHEN CAST(s.top_count AS DOUBLE) * s.n_distinct
                               / n.n_rows <= 2.0 THEN 0.3 ELSE 0.1 END)
                   + (CASE WHEN CAST(n.n_rows AS DOUBLE) / s.n_distinct
                               <= {_ADV_TARGET_ROWS} THEN 0.2
                           ELSE 0.0 END) AS DOUBLE), 6) AS suitability
        FROM stats s, n
    )
    SELECT column_name, n_distinct, skew_ratio,
           ROUND(rows_per_partition, 2) AS rows_per_partition, suitability,
           CAST(row_number() OVER (
               ORDER BY suitability DESC, n_distinct DESC, column_name)
               AS INT) AS advisor_rank
    FROM scored
    """,
)
def partitioning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-partitioning advisor over candidate orders columns — the
    engine-side analog of the reference's intelligent-partitioning
    profiler (intelligent_partitioning.py:84-356: skew :160-188,
    suitability scoring :189-235), re-derived as ONE deterministic SQL
    scoring pass instead of its per-column pandas loops: per candidate,
    distinct count, skew ratio (top partition's share x partition count —
    1.0 = perfectly even), projected rows per partition, and a
    suitability score (cardinality band + skew band + size band) with a
    deterministic ranking. The score bands mirror the lakehouse sizing
    folklore the reference encodes: 10..10k partitions, no partition
    holding >2x its even share, rows/partition under the compaction
    target.

    Scale: one groupBy per candidate column (map-side combined) over one
    scan each; no driver-side profiling loops. The verdict is advisory —
    storage_layout's zone-map and bucketed-gold queries measure what the
    chosen layout actually buys."""
    orders = load_table(spark, sf_dir, "orders")
    n = orders.agg(F.count("*").cast("bigint").alias("n_rows"))
    stats = None
    for c in _ADV_COLS:
        st = (
            orders.groupBy(c)
            .agg(F.count("*").alias("cnt"))
            .agg(
                F.lit(c).alias("column_name"),
                F.count("*").cast("bigint").alias("n_distinct"),
                F.max("cnt").cast("bigint").alias("top_count"),
            )
        )
        stats = st if stats is None else stats.unionByName(st)
    stats = stats.crossJoin(F.broadcast(n))
    skew = F.round(
        F.col("top_count").cast("double") * F.col("n_distinct")
        / F.col("n_rows"),
        6,
    )
    rpp = F.col("n_rows").cast("double") / F.col("n_distinct")
    suit = F.round(
        F.when(F.col("n_distinct").between(10, 10000), F.lit(0.5))
        .when(F.col("n_distinct") < 10, F.lit(0.2))
        .otherwise(F.lit(0.0))
        + F.when(
            F.col("top_count").cast("double") * F.col("n_distinct")
            / F.col("n_rows")
            <= 2.0,
            F.lit(0.3),
        ).otherwise(F.lit(0.1))
        + F.when(rpp <= _ADV_TARGET_ROWS, F.lit(0.2)).otherwise(F.lit(0.0)),
        6,
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(
        F.col("suitability").desc(), F.col("n_distinct").desc(), "column_name"
    )
    return (
        stats.select(
            "column_name",
            "n_distinct",
            skew.alias("skew_ratio"),
            F.round(rpp, 2).alias("rows_per_partition"),
            suit.alias("suitability"),
        )
        .withColumn("advisor_rank", F.row_number().over(w).cast("int"))
    )


# --- Compaction planner (round 5) -------------------------------------------

_COMPACT_TARGET = 2000  # rows per output file (stand-in for a byte target)


@register(
    "compaction_planner",
    oracle=f"""
    WITH files AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                   AS part_month,
               CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS rows_in
        FROM orders GROUP BY 1, 2
    ),
    placed AS (
        SELECT part_month, d, rows_in,
               CAST((SUM(rows_in) OVER (PARTITION BY part_month
                         ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - rows_in) // {_COMPACT_TARGET} AS BIGINT) AS out_file
        FROM files
    ),
    packed AS (
        SELECT part_month, out_file,
               CAST(COUNT(*) AS BIGINT) AS files_merged,
               CAST(SUM(rows_in) AS BIGINT) AS rows_out
        FROM placed GROUP BY 1, 2
    )
    SELECT part_month,
           CAST(SUM(files_merged) AS BIGINT) AS n_input_files,
           CAST(COUNT(*) AS BIGINT) AS n_output_files,
           CAST(MAX(rows_out) AS BIGINT) AS max_rows_out,
           ROUND(CAST(SUM(rows_out) AS DOUBLE) / COUNT(*), 2)
               AS avg_rows_out
    FROM packed GROUP BY 1
    """,
)
def compaction_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan — the planning half of OPTIMIZE
    (reference delta_lake_manager.py:418-431 runs Delta's; ours plans it
    explicitly so the assignment is testable): per storage partition
    (order month), daily ingest "files" (one per order date, sized by
    row count) pack into ~{_COMPACT_TARGET}-row output files by
    NEXT-FIT over the date-ordered prefix sum — file f holds the inputs
    whose cumulative start lands in [f*T, (f+1)*T). Prefix-sum packing
    is the distributable bin-packer: one window per partition, no
    sequential driver loop, deterministic under any parallelism, and its
    overflow is bounded by one input file (vs FFD's better fill but
    inherently sequential order). Output: per-partition input/output
    file counts and fill stats.

    Scale: the window runs per storage partition over its file list
    (days per month — calendar-bounded); the file inventory at real
    scale comes from the table manifest, not a data scan — the orders
    scan here stands in for that manifest read."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    files = (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate")
            .cast("date")
            .alias("part_month"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("rows_in"))
    )
    w = Window.partitionBy("part_month").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    placed = files.select(
        "part_month",
        "rows_in",
        F.expr(
            f"(sum(rows_in) OVER (PARTITION BY part_month ORDER BY d "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - rows_in) "
            f"div {_COMPACT_TARGET}"
        ).alias("out_file"),
    )
    packed = placed.groupBy("part_month", "out_file").agg(
        F.count("*").cast("bigint").alias("files_merged"),
        F.sum("rows_in").cast("bigint").alias("rows_out"),
    )
    return packed.groupBy("part_month").agg(
        F.sum("files_merged").cast("bigint").alias("n_input_files"),
        F.count("*").cast("bigint").alias("n_output_files"),
        F.max("rows_out").cast("bigint").alias("max_rows_out"),
        F.round(
            F.sum("rows_out").cast("double") / F.count("*"), 2
        ).alias("avg_rows_out"),
    )


_CARD_HH = 20  # heavy hitters retained per side


@register(
    "join_cardinality_estimate",
    oracle=f"""
    WITH counts AS MATERIALIZED (
        SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM counts
    ),
    hh AS MATERIALIZED (
        SELECT k, c FROM counts ORDER BY c DESC, k LIMIT {_CARD_HH}
    ),
    hh_agg AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS hh_pairs,
               CAST(SUM(c) AS BIGINT) AS hh_rows,
               CAST(COUNT(*) AS BIGINT) AS hh_keys
        FROM hh
    ),
    actual AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS true_pairs FROM counts
    )
    SELECT s.n_rows, s.n_distinct, h.hh_keys,
           a.true_pairs,
           CAST(h.hh_pairs
                + CASE WHEN s.n_distinct > h.hh_keys THEN
                    CAST((s.n_rows - h.hh_rows) AS DOUBLE)
                    * (s.n_rows - h.hh_rows)
                    / (s.n_distinct - h.hh_keys)
                  ELSE 0.0 END AS DOUBLE) AS est_pairs,
           round((CAST(h.hh_pairs AS DOUBLE)
                  + CASE WHEN s.n_distinct > h.hh_keys THEN
                      CAST((s.n_rows - h.hh_rows) AS DOUBLE)
                      * (s.n_rows - h.hh_rows)
                      / (s.n_distinct - h.hh_keys)
                    ELSE 0.0 END) / a.true_pairs, 6) AS est_over_actual
    FROM stats s CROSS JOIN hh_agg h CROSS JOIN actual a
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer-style join cardinality estimation, validated
    against truth: the self-equi-join size on l_partkey (sum of per-key
    count squares — the skew-sensitive quantity a planner must get right
    to choose broadcast vs shuffle vs salting) estimated from exactly the
    statistics a catalog keeps — row count, distinct count, and a top-20
    heavy-hitter list — with the uniformity assumption applied ONLY to
    the tail (est = sum HH c^2 + tail_rows^2 / tail_distinct). Emitting
    est_over_actual makes the estimator's skew bias measurable; the
    companion advisors (partitioning_advisor, profile_skew) consume
    exactly this failure mode.

    One hash aggregate for per-key counts, a LIMIT-k heavy-hitter pick,
    and scalar arithmetic — the estimation itself never touches the fact
    again, which is the point: at 100 TB you estimate from the stats, not
    the data."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # 3 consumers
    )
    stats = counts.agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    hh = counts.orderBy(F.desc("c"), "k").limit(_CARD_HH)
    hh_agg = hh.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("hh_pairs"),
        F.sum("c").cast("bigint").alias("hh_rows"),
        F.count("*").cast("bigint").alias("hh_keys"),
    )
    actual = counts.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("true_pairs")
    )
    tail_rows = (F.col("n_rows") - F.col("hh_rows")).cast("double")
    tail_est = F.when(
        F.col("n_distinct") > F.col("hh_keys"),
        tail_rows * (F.col("n_rows") - F.col("hh_rows"))
        / (F.col("n_distinct") - F.col("hh_keys")),
    ).otherwise(F.lit(0.0))
    est = F.col("hh_pairs").cast("double") + tail_est
    return (
        stats.crossJoin(F.broadcast(hh_agg))
        .crossJoin(F.broadcast(actual))
        .select(
            "n_rows",
            "n_distinct",
            "hh_keys",
            "true_pairs",
            est.alias("est_pairs"),
            F.round(est / F.col("true_pairs"), 6).alias("est_over_actual"),
        )
    )


@register(
    "avro_round_trip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(22,2))
               AS sum_price,
           CAST(MIN(o_orderdate) AS DATE) AS min_day,
           CAST(MAX(o_orderdate) AS DATE) AS max_day
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def avro_round_trip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container round trip, jar-free: write orders through the
    pure-stdlib ``avrolite`` Python DataSource (sources/avrolite.py —
    deflate-compressed Object Container Files, split-parallel reads
    planned by walking block headers) and aggregate the READ-BACK rows;
    the oracle aggregates the original parquet. Any wire-format defect —
    zigzag varints, block framing, sync markers, union nullability, the
    date logical type — lands in the hash compare. This closes SURVEY
    §2.1's Avro row without the spark-avro jar, the same pattern that
    closed Kafka (kafkalike). BIGINT/DATE columns only: exact, no
    float-order risk."""
    import hashlib
    import os
    import tempfile

    from ..sources.avrolite import register_avrolite

    register_avrolite(spark)
    # deterministic per-sf_dir path + overwrite: the read-back frame is
    # lazy so the dir can't be deleted here, but repeated verify runs
    # REUSE one dir instead of leaking a fresh mkdtemp each run
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"avro_rt_{tag}", "orders_avro")
    from ..functions.dedup_fuzzy import spread_small_scan

    # the per-row pure-Python Avro encode is the query's dominant cost and
    # the audit-SF orders scan is a single split — spread it so the encode
    # runs on every core (scale-adaptive: a no-op once the scan yields >=
    # cores splits); more writer tasks also means the read back plans more
    # container files to decode in parallel
    orders = spread_small_scan(load_table(spark, sf_dir, "orders")).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    # snappy codec (r9): pure-Python block decode + CRC32 trailer, so the
    # round trip now also proves the decimal logical type (bytes
    # two's-complement) and the third required codec — DECIMAL sums are
    # exact, still no float-order risk
    (orders.write.format("avrolite").option("codec", "snappy")
        .mode("overwrite").save(out))
    back = spark.read.format("avrolite").load(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").alias("sum_key"),
        F.sum("o_totalprice").cast("decimal(22,2)").alias("sum_price"),
        F.min("o_orderdate").alias("min_day"),
        F.max("o_orderdate").alias("max_day"),
    )
