"""Driver-attestable state-maintenance and physical-layout queries.

Two families that were verified only by pytest get CORRECTNESS rows here:

- ops/incremental.py (O(delta) grouped-aggregate maintenance): the driver
  query maintains state across two batches and returns the finalized
  view; the oracle recomputes from scratch — a green row attests the
  merge ≡ recompute invariant externally.
- ops/bucketing.py (zero-exchange fact⋈fact joins): the driver query
  executes a real bucketed join and RAISES if any Exchange appears in
  its physical plan, so the green row certifies both the values and the
  shuffle-free plan shape.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.fingerprint import derived_cache_dir, table_fingerprint
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops import incremental as inc
from counsel_data_pipeline_spark.ops.materialize import pin


@register(
    "incremental_orders_state_merge",
    # finalize()'s decimal grid mirrored: sum = double(round(decimal_sum, 6)),
    # avg = that double / count — plans/_parity.py davg shape.
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 6) AS DOUBLE)
                 AS sum_value,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 6) AS DOUBLE)
                 / count(*) AS avg_value,
               min(o_totalprice) AS min_value,
               max(o_totalprice) AS max_value
        FROM orders
        GROUP BY o_orderpriority
    """,
    description="O(delta) aggregate maintenance attested end-to-end: orders "
    "split into two batches, each aggregated into mergeable per-group state "
    "(count + decimal sum + min/max), states merged group-wise, finalized at "
    "read time — the oracle recomputes from scratch, so the green row IS the "
    "maintained-state ≡ full-recompute invariant",
    tags=("incremental", "agg"),
)
def incremental_orders_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    batch1 = inc.partial_state(
        orders.filter(F.col("o_orderkey") % 2 == 0), keys, "o_totalprice"
    )
    batch2 = inc.partial_state(
        orders.filter(F.col("o_orderkey") % 2 == 1), keys, "o_totalprice"
    )
    return inc.finalize(inc.merge_states(batch1, batch2, keys))


_N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ensure bucketed orders/lineitem tables exist for this session and
    testdata fingerprint. Bucketing metadata lives in the session catalog
    (in-memory, no hive metastore here), so a fresh session re-writes the
    tables once; within a session (sweep, bench) they are reused."""
    from counsel_data_pipeline_spark.ops.bucketing import write_bucketed

    fp = table_fingerprint(sf_dir, "orders")[:8]
    names = (f"cdp_bkt_orders_{fp}", f"cdp_bkt_lineitem_{fp}")
    base = derived_cache_dir("counsel_bucketed", sf_dir, "orders")
    for name, table, key, cols in (
        (names[0], "orders", "o_orderkey", ["o_orderkey", "o_totalprice"]),
        (names[1], "lineitem", "l_orderkey",
         ["l_orderkey", "l_extendedprice", "l_discount"]),
    ):
        if not spark.catalog.tableExists(name):
            write_bucketed(
                load_table(spark, sf_dir, table).select(*cols),
                name,
                key,
                _N_BUCKETS,
                os.path.join(base, name),
            )
    return names


@register(
    "join_bucketed_order_revenue",
    oracle="""
        SELECT o_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               o_totalprice,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))),
                 2) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_totalprice
    """,
    description=f"zero-exchange fact⋈fact join attested end-to-end: orders "
    f"and lineitem written bucketBy({_N_BUCKETS}, orderkey) + sorted, joined "
    "and aggregated on the bucket key — the plan fn RAISES if any Exchange "
    "appears in the physical plan, so the green row certifies values AND the "
    "shuffle-free shape (the 100 TB fact-join path broadcast can't cover)",
    tags=("join", "bucketing"),
)
def bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.bucketing import plan_has_exchange
    from counsel_data_pipeline_spark.plans._parity import to_double

    orders_t, lineitem_t = _bucketed_tables(spark, sf_dir)
    # differently-named keys on the two sides, so the equi-condition is
    # explicit; co-location holds because both tables hash-bucket their
    # own key with the same bucket count. The MERGE hint keeps the small
    # test-scale orders side from being broadcast (a BroadcastExchange
    # would be cheap here but is exactly what CAN'T happen at 100 TB —
    # this query certifies the fact⋈fact shape, so it must take it).
    joined = spark.table(orders_t).hint("merge").join(
        spark.table(lineitem_t),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    out = joined.groupBy("o_orderkey", "o_totalprice").agg(
        F.count(F.lit(1)).alias("n_lines"),
        to_double(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)"))
            ),
            2,
        ).alias("revenue"),
    ).select("o_orderkey", "n_lines", "o_totalprice", "revenue")
    if plan_has_exchange(out):
        raise RuntimeError(
            "bucketed join plan contains an Exchange — co-location lost"
        )
    return out


# ---------------------------------------------------------------------------
# Z-order layout vs single-column sort: zone-map pruning audit
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from counsel_data_pipeline_spark.ops.partitioning import morton_interleave8_sql

    z = morton_interleave8_sql("bx", "by")
    return f"""
        -- Layout planner audit: assign each lineitem row to one of 256
        -- shards under (a) Z-order on (l_partkey, l_suppkey) and (b) a
        -- plain l_partkey sort, compute per-shard zone maps (min/max of
        -- both keys), then count how many shards a 2-D box predicate
        -- (middle partkey quarter x middle suppkey quarter) can touch
        -- after zone-map pruning. Buckets are range-based
        -- (key*256 // (max+1)) so shard order preserves locality; all
        -- arithmetic is integer, shifts included.
        WITH mx AS (
          SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
        ),
        b AS (
          SELECT l_partkey AS pk, l_suppkey AS sk,
                 (l_partkey * 256) // (mp + 1) AS bx,
                 (l_suppkey * 256) // (ms + 1) AS by,
                 (mp >> 2) AS p_lo, (mp >> 1) AS p_hi,
                 (ms >> 2) AS s_lo, (ms >> 1) AS s_hi
          FROM lineitem CROSS JOIN mx
        ),
        assigned AS (
          SELECT pk, sk, p_lo, p_hi, s_lo, s_hi,
                 ({z}) >> 8 AS shard_z,
                 bx AS shard_lin
          FROM b
        ),
        box AS (
          SELECT CAST(count(*) AS BIGINT) AS rows_in_box FROM assigned
          WHERE pk BETWEEN p_lo AND p_hi AND sk BETWEEN s_lo AND s_hi
        ),
        zones AS (
          SELECT layout, shard, min(pk) AS min_p, max(pk) AS max_p,
                 min(sk) AS min_s, max(sk) AS max_s,
                 max(p_lo) AS p_lo, max(p_hi) AS p_hi,
                 max(s_lo) AS s_lo, max(s_hi) AS s_hi
          FROM (
            SELECT 'zorder' AS layout, shard_z AS shard, * FROM assigned
            UNION ALL
            SELECT 'partkey_sort', shard_lin, * FROM assigned
          )
          GROUP BY 1, 2
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_shards,
               CAST(sum(CASE WHEN min_p <= p_hi AND max_p >= p_lo
                              AND min_s <= s_hi AND max_s >= s_lo
                        THEN 1 ELSE 0 END) AS BIGINT) AS shards_touched,
               (SELECT rows_in_box FROM box) AS rows_in_box
        FROM zones
        GROUP BY layout
    """


def _zorder_write_prune_oracle() -> str:
    from counsel_data_pipeline_spark.ops.partitioning import morton_interleave8_sql

    z = morton_interleave8_sql("bx", "by")
    return f"""
        -- Independent reconstruction of the write->prune->read loop: the
        -- shard function is a pure function of the data (range-scaled
        -- 8-bit buckets, Morton interleave, top 8 bits), so DuckDB can
        -- recompute every shard's zone map, decide the same survivor
        -- set for the middle-quarter 2-D box, and aggregate exactly the
        -- rows the pruned Spark read returns.
        WITH mx AS (
          SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
        ),
        bounds AS (
          SELECT (mp >> 2) AS p_lo, (mp >> 1) AS p_hi,
                 (ms >> 2) AS s_lo, (ms >> 1) AS s_hi
          FROM mx
        ),
        a AS (
          SELECT ({z}) >> 8 AS shard, pk, sk, qty
          FROM (
            SELECT l_partkey AS pk, l_suppkey AS sk,
                   CAST(l_quantity AS BIGINT) AS qty,
                   (l_partkey * 256) // (mp + 1) AS bx,
                   (l_suppkey * 256) // (ms + 1) AS by
            FROM lineitem CROSS JOIN mx
          )
        ),
        zones AS (
          SELECT shard,
                 min(pk) AS min_p, max(pk) AS max_p,
                 min(sk) AS min_s, max(sk) AS max_s,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CASE WHEN pk BETWEEN (SELECT p_lo FROM bounds)
                                           AND (SELECT p_hi FROM bounds)
                                AND sk BETWEEN (SELECT s_lo FROM bounds)
                                           AND (SELECT s_hi FROM bounds)
                          THEN 1 ELSE 0 END) AS BIGINT) AS rows_in_box,
                 CAST(sum(CASE WHEN pk BETWEEN (SELECT p_lo FROM bounds)
                                           AND (SELECT p_hi FROM bounds)
                                AND sk BETWEEN (SELECT s_lo FROM bounds)
                                           AND (SELECT s_hi FROM bounds)
                          THEN qty ELSE 0 END) AS BIGINT) AS box_qty
          FROM a
          GROUP BY shard
        ),
        surv AS (
          SELECT z.* FROM zones z CROSS JOIN bounds b
          WHERE z.min_p <= b.p_hi AND z.max_p >= b.p_lo
            AND z.min_s <= b.s_hi AND z.max_s >= b.s_lo
        )
        SELECT CAST(shard AS BIGINT) AS shard, n_rows, rows_in_box, box_qty,
               (SELECT CAST(count(*) AS BIGINT) FROM zones) AS n_shards_total,
               (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_survivors
        FROM surv
    """


def _reset_zorder(spark: SparkSession, sf_dir: str) -> None:
    """Drop the materialized Z-ordered layout so bench.py can time the
    write path cold (the OPTIMIZE-ZORDER rewrite cost, not just the
    pruned read)."""
    shutil.rmtree(
        derived_cache_dir("counsel_zorder", sf_dir, "lineitem"),
        ignore_errors=True,
    )


def _reset_timepart(spark: SparkSession, sf_dir: str) -> None:
    shutil.rmtree(
        derived_cache_dir("counsel_timepart", sf_dir, "events"),
        ignore_errors=True,
    )


@register(
    "layout_zorder_write_prune",
    oracle=_zorder_write_prune_oracle(),
    description="Z-order WRITE path attested end-to-end: lineitem written "
    "hive-partitioned by Morton shard of (l_partkey, l_suppkey) with a "
    "per-shard zone-map manifest, survivors of the middle-quarter 2-D box "
    "decided FROM the manifest, and only surviving shard directories read "
    "back (native partition pruning) — the plan fn RAISES if the pruned "
    "scan touches a non-survivor file, so the green row certifies values "
    "AND the data-skipping behavior (ops/zorder.py:52,89,110)",
    tags=("layout", "tpch", "planner", "write", "bench-write"),
    reset=_reset_zorder,
)
def zorder_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deliverable behind the layout_zorder_pruning audit: a real
    OPTIMIZE-ZORDER-style rewrite on plain parquet. Scale notes: the write
    is one range-style shuffle on the z-value (the standard ZORDER rewrite
    cost, amortized across every subsequent 2-D query); the manifest and
    the survivor decision are shard-count-sized (bounded collect, same
    class as a lakehouse file-stats index lookup); the pruned read lists
    only surviving directories, so pruned shards cost nothing at any
    scale."""
    from counsel_data_pipeline_spark.ops.zorder import (
        read_pruned,
        write_zordered,
        zone_map_survivors,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    # Two-scalar collect (bounded by construction: one row of maxima).
    mp, ms = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    mp, ms = int(mp), int(ms)
    path = derived_cache_dir("counsel_zorder", sf_dir, "lineitem")
    if not os.path.exists(os.path.join(path, "data", "_SUCCESS")):
        write_zordered(li, path, "l_partkey", "l_suppkey", mp, ms)
    box_x, box_y = (mp >> 2, mp >> 1), (ms >> 2, ms >> 1)
    survivors, n_shards = zone_map_survivors(spark, path, box_x, box_y)
    pruned = read_pruned(spark, path, survivors)
    # Certify the skipping, not just the values: every file the pruned
    # scan resolves must live in a surviving shard directory.
    allowed = {f"__shard={s}" for s in survivors}
    bad = [
        f
        for f in pruned.inputFiles()
        if not any(part in allowed for part in f.split("/"))
    ]
    if bad:
        raise RuntimeError(
            f"pruned read touched non-surviving shard files: {bad[:3]}"
        )
    in_box = F.col("l_partkey").between(*box_x) & F.col("l_suppkey").between(
        *box_y
    )
    return pruned.groupBy(
        F.col("__shard").cast("bigint").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(in_box.cast("int")).cast("bigint").alias("rows_in_box"),
        F.sum(
            F.when(in_box, F.col("l_quantity").cast("bigint")).otherwise(0)
        ).cast("bigint").alias("box_qty"),
    ).select(
        "shard",
        "n_rows",
        "rows_in_box",
        "box_qty",
        F.lit(n_shards).cast("bigint").alias("n_shards_total"),
        F.lit(len(survivors)).cast("bigint").alias("n_survivors"),
    )


@register(
    "layout_zorder_pruning",
    oracle=_zorder_oracle(),
    description="data-layout audit: Z-order (Morton) sharding on "
    "(l_partkey, l_suppkey) vs plain partkey sort — per-shard zone maps, "
    "then the shard count a 2-D box predicate touches under each layout "
    "(the OPTIMIZE ZORDER story: multidimensional data skipping from "
    "min/max file stats; one shuffle per layout, 256-row zone tables)",
    tags=("layout", "tpch", "planner"),
    bench=True,
)
def zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies WHY a 100 TB table queried on two dimensions should be
    written in Z-order: under a partkey-only sort the middle-quarter
    suppkey predicate prunes nothing (every shard's suppkey zone spans the
    full range), while the Morton layout bounds both dimensions per shard.
    The audit itself is scale-safe — two bounded aggregations whose output
    is shard-count-sized, with the two-key max broadcast back."""
    from counsel_data_pipeline_spark.ops.partitioning import morton_interleave8

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    )
    mx = li.agg(F.max("pk").alias("mp"), F.max("sk").alias("ms"))
    b = li.crossJoin(F.broadcast(mx)).select(
        "pk",
        "sk",
        F.expr("div(pk * 256, mp + 1)").alias("bx"),
        F.expr("div(sk * 256, ms + 1)").alias("by"),
        F.shiftright(F.col("mp"), 2).alias("p_lo"),
        F.shiftright(F.col("mp"), 1).alias("p_hi"),
        F.shiftright(F.col("ms"), 2).alias("s_lo"),
        F.shiftright(F.col("ms"), 1).alias("s_hi"),
    )
    # r17 one-pass zone build (guide §2.3/§2.4): the old shape PERSISTED
    # the fact-sized assigned frame (a 6M-row cache build at sf0.1 —
    # finding 3 of OPTIMIZATION_r16: cache builds are not free) and read
    # it three times (box count + a 2x stacked union into the zone
    # aggregation). Both layouts' zone maps and the box count now come
    # out of ONE fact pass: rows group by the JOINT (shard_z, shard_lin)
    # key (≤ 256x256 groups, map-side partials absorb the fact stream),
    # and the per-layout zone tables are micro re-aggregations of that
    # group table — min/max distribute over the refinement, so the zone
    # extents are identical by construction. Only the tiny group table
    # is persisted (three consumers).
    joint = pin(
        b.groupBy(
            F.shiftright(
                morton_interleave8(F.col("bx"), F.col("by")), 8
            ).alias("shard_z"),
            F.col("bx").alias("shard_lin"),
        ).agg(
            F.min("pk").alias("min_p"), F.max("pk").alias("max_p"),
            F.min("sk").alias("min_s"), F.max("sk").alias("max_s"),
            F.sum(
                (
                    F.col("pk").between(F.col("p_lo"), F.col("p_hi"))
                    & F.col("sk").between(F.col("s_lo"), F.col("s_hi"))
                ).cast("bigint")
            ).alias("n_box"),
            F.max("p_lo").alias("p_lo"), F.max("p_hi").alias("p_hi"),
            F.max("s_lo").alias("s_lo"), F.max("s_hi").alias("s_hi"),
        ),
        eager=False,
    )
    # coalesce: the oracle's count(*) reads 0, not NULL, on an empty table
    box = joint.agg(
        F.coalesce(F.sum("n_box"), F.lit(0)).cast("bigint").alias("rows_in_box")
    )
    stacked = joint.select(
        F.lit("zorder").alias("layout"), F.col("shard_z").alias("shard"),
        "min_p", "max_p", "min_s", "max_s", "p_lo", "p_hi", "s_lo", "s_hi",
    ).unionByName(
        joint.select(
            F.lit("partkey_sort").alias("layout"),
            F.col("shard_lin").alias("shard"),
            "min_p", "max_p", "min_s", "max_s",
            "p_lo", "p_hi", "s_lo", "s_hi",
        )
    )
    zones = stacked.groupBy("layout", "shard").agg(
        F.min("min_p").alias("min_p"), F.max("max_p").alias("max_p"),
        F.min("min_s").alias("min_s"), F.max("max_s").alias("max_s"),
        F.max("p_lo").alias("p_lo"), F.max("p_hi").alias("p_hi"),
        F.max("s_lo").alias("s_lo"), F.max("s_hi").alias("s_hi"),
    )
    touched = (
        (F.col("min_p") <= F.col("p_hi"))
        & (F.col("max_p") >= F.col("p_lo"))
        & (F.col("min_s") <= F.col("s_hi"))
        & (F.col("max_s") >= F.col("s_lo"))
    )
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shards"),
            # CASE WHEN .. THEN 1 ELSE 0, as the oracle: a shard whose zone
            # is NULL (all keys NULL) counts 0, not NULL
            F.sum(F.when(touched, 1).otherwise(0)).cast("bigint").alias("shards_touched"),
        )
        .crossJoin(F.broadcast(box))
    )


@register(
    "layout_time_partition_prune",
    oracle="""
        -- Restates the date-partitioned write->prune->read loop: the
        -- middle third of the distinct event dates (by sorted position:
        -- ranks n//3 .. (2n)//3 inclusive) is the survivor set; per
        -- surviving date the pruned read's aggregates are recomputed
        -- from the raw table. value is summed in exact integer micros.
        WITH e AS (
          SELECT strftime(ts, '%Y-%m-%d') AS event_date, user_id,
                 CAST(round(value * 1000000) AS BIGINT) AS v_mi
          FROM events
        ),
        ds AS (
          SELECT event_date,
                 row_number() OVER (ORDER BY event_date) - 1 AS r,
                 count(*) OVER () AS n
          FROM (SELECT DISTINCT event_date FROM e)
        ),
        sel AS (
          SELECT event_date, n FROM ds
          WHERE r >= n // 3 AND r <= (2 * n) // 3
        )
        SELECT e.event_date,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(v_mi) AS BIGINT) AS sum_value_mi,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               (SELECT CAST(max(n) AS BIGINT) FROM sel) AS n_dates_total,
               (SELECT CAST(count(*) AS BIGINT) FROM sel) AS n_survivors
        FROM e JOIN sel USING (event_date)
        GROUP BY e.event_date
    """,
    description="date-partitioned ingest layout attested end-to-end: events "
    "written hive-partitioned by ISO event date with a per-date manifest, "
    "the middle third of dates selected FROM the manifest, only surviving "
    "date directories read back (listing-level skipping) — the plan fn "
    "RAISES if the pruned scan resolves a non-surviving day "
    "(ops/timelayout.py, the 1-D sibling of the Z-order loop)",
    tags=("layout", "events", "planner", "write", "bench-write"),
    reset=_reset_timepart,
)
def time_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.timelayout import (
        date_survivors,
        read_dates,
        write_time_partitioned,
    )

    path = derived_cache_dir("counsel_timepart", sf_dir, "events")
    if not os.path.exists(os.path.join(path, "data", "_SUCCESS")):
        write_time_partitioned(
            load_table(spark, sf_dir, "events").select(
                "ts", "user_id", "value"
            ),
            path,
        )
    all_dates, n_dates = date_survivors(spark, path, "0000", "9999")
    lo_i, hi_i = n_dates // 3, (2 * n_dates) // 3
    survivors, _ = date_survivors(
        spark, path, all_dates[lo_i], all_dates[hi_i]
    )
    pruned = read_dates(spark, path, survivors)
    allowed = {f"event_date={d}" for d in survivors}
    bad = [
        f
        for f in pruned.inputFiles()
        if not any(part in allowed for part in f.split("/"))
    ]
    if bad:
        raise RuntimeError(
            f"pruned read touched non-surviving date dirs: {bad[:3]}"
        )
    return pruned.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_value_mi"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    ).select(
        "event_date",
        "n_events",
        "sum_value_mi",
        "n_users",
        F.lit(n_dates).cast("bigint").alias("n_dates_total"),
        F.lit(len(survivors)).cast("bigint").alias("n_survivors"),
    )


def _staged_evolved_dir(spark: SparkSession, sf_dir: str) -> str:
    """orders written in two schema epochs under one directory: epoch 0
    (orderkeys ending 0..6) with the original columns only; epoch 1
    (ending 7..9) with an ADDED o_channel column derived
    deterministically from the key. The directory is what a 100 TB table
    looks like mid-migration — old files simply lack the new column."""
    stage = derived_cache_dir("counsel_schema_evo", sf_dir, "orders")
    marker = os.path.join(stage, "_STAGED")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
        old = orders.filter(F.col("o_orderkey") % 10 <= 6)
        new = orders.filter(F.col("o_orderkey") % 10 >= 7).withColumn(
            "o_channel",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("web")).otherwise(
                F.lit("store")
            ),
        )
        shutil.rmtree(stage, ignore_errors=True)
        old.write.parquet(os.path.join(stage, "epoch=0"))
        new.write.parquet(os.path.join(stage, "epoch=1"))
        with open(marker, "w") as fh:
            fh.write("ok")
    return stage


@register(
    "layout_schema_evolution_read",
    oracle="""
        -- Restates the two-epoch read: files written before the column
        -- existed surface NULL, which the reader defaults to 'unknown';
        -- per (priority, channel) the counts and exact-cents totals must
        -- equal a from-scratch recompute of the derivation rule.
        WITH evolved AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderkey % 10 <= 6 THEN 'unknown'
                      WHEN o_orderkey % 3 = 0 THEN 'web'
                      ELSE 'store' END AS channel,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT o_orderpriority, channel,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM evolved GROUP BY 1, 2
    """,
    description="schema-evolution read attested end-to-end: orders staged "
    "as two parquet epochs (the later one with an ADDED o_channel "
    "column), read back with mergeSchema so pre-migration files surface "
    "NULL, coalesced to 'unknown', aggregated — the oracle recomputes "
    "the epoch/derivation rule from scratch, so the green row certifies "
    "Spark's schema merge + missing-column null semantics",
    tags=("layout", "schema-evolution", "agg"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: schema merge is a FOOTER operation (per-file schemas
    union at planning; mergeSchema reads footers, not data) and the
    missing column materializes as a constant-null vector per old file —
    no rewrite of historical files is ever needed, which is the entire
    point of additive evolution at 100 TB. The aggregate itself is one
    partial-combined shuffle."""
    stage = _staged_evolved_dir(spark, sf_dir)
    evolved = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "false")
        .parquet(stage)
    )
    return (
        evolved.select(
            "o_orderpriority",
            F.coalesce(F.col("o_channel"), F.lit("unknown")).alias("channel"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("o_orderpriority", "channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "incremental_join_view_merge",
    oracle="""
        -- Recomputes the maintained JOIN view from scratch: per-order
        -- line count + discounted revenue joined with the order dim.
        -- A green row attests maintained-view ≡ full-recompute for a
        -- join view (the aggregate-only twin is
        -- incremental_orders_state_merge).
        SELECT o_orderkey, o_totalprice,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6)))),
                 2) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_totalprice
    """,
    description="incremental JOIN-view maintenance attested end-to-end: "
    "the per-order revenue view (orders⋈lineitem) is maintained under "
    "two lineitem append batches — each batch aggregates ALONE into "
    "mergeable per-order partials (O(batch), history untouched), "
    "partials merge group-wise, and only the merged per-order state "
    "joins the order dim — the oracle recomputes from scratch, so the "
    "green row IS the maintained-view ≡ recompute invariant for joins",
    tags=("incremental", "join", "agg"),
)
def incremental_join_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: per-append cost is one O(batch) partial aggregate
    plus one state-sized group-wise merge — the fact history is never
    rescanned (the IVM property). The dim join happens on the
    ALREADY-AGGREGATED per-order state (order-count sized, not
    line-count sized); decimal partials make the merge exactly
    associative, so batch arrival order cannot change a bit."""
    from counsel_data_pipeline_spark.plans._parity import to_double

    rev = (
        F.col("l_extendedprice").cast("decimal(18,6)")
        * (F.lit(1).cast("decimal(8,6)") - F.col("l_discount").cast("decimal(8,6)"))
    ).cast("decimal(30,6)")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", rev.alias("rev")
    )

    def batch_state(batch: DataFrame) -> DataFrame:
        return batch.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("rev").alias("rev_dec")
        )

    s1 = batch_state(li.filter(F.col("l_linenumber") % 2 == 0))
    s2 = batch_state(li.filter(F.col("l_linenumber") % 2 == 1))
    merged = (
        s1.unionByName(s2)
        .groupBy("l_orderkey")
        .agg(F.sum("cnt").alias("cnt"), F.sum("rev_dec").alias("rev_dec"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return merged.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("cnt").cast("bigint").alias("n_lines"),
        to_double(F.col("rev_dec"), 2).alias("revenue"),
    )


@register(
    "incremental_cdc_upsert_apply",
    oracle="""
        -- Recomputes the CDC apply from scratch: reduce the changelog to
        -- the latest image per key (row_number over seq), then merge into
        -- the base snapshot — deletes drop, updates/inserts take the new
        -- image, untouched base rows pass through ('K').
        WITH cust AS (
          SELECT c_custkey AS k, c_mktsegment AS seg,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer
        ),
        base AS (SELECT * FROM cust WHERE k % 10 <> 0),
        chlog AS (
          SELECT k, 1 AS seq, 'I' AS op, seg, cents
          FROM cust WHERE k % 10 = 0
          UNION ALL
          SELECT k, 2, 'U', seg, cents + 5000 FROM cust WHERE k % 7 = 0
          UNION ALL
          SELECT k, 3, 'U', seg, cents + 9999 FROM cust WHERE k % 21 = 0
          UNION ALL
          SELECT k, 4, 'D', NULL, NULL FROM cust WHERE k % 13 = 0
        ),
        latest AS (
          SELECT k, op, seg, cents FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
                      AS rn
            FROM chlog) t
          WHERE rn = 1
        )
        SELECT COALESCE(b.k, l.k) AS c_custkey,
               COALESCE(l.seg, b.seg) AS c_mktsegment,
               COALESCE(l.cents, b.cents) AS acctbal_cents,
               COALESCE(l.op, 'K') AS applied_op
        FROM base b FULL OUTER JOIN latest l ON b.k = l.k
        WHERE l.op IS NULL OR l.op <> 'D'
    """,
    description="CDC changelog upsert-apply (MERGE semantics): a "
    "deterministic I/U/D changelog over the customer snapshot reduces "
    "to the latest image per key (max_by over seq — one O(delta) "
    "map-side-combined aggregate), then ONE full-outer join with the "
    "base applies it: deletes drop, updates/inserts take the new image "
    "(upsert — an update for an absent key inserts), untouched rows "
    "pass through; a double-updated key proves last-writer-wins — the "
    "oracle recomputes the apply from scratch",
    tags=("incremental", "cdc", "join"),
)
def incremental_cdc_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the changelog is reduced to ONE row per touched key
    before it ever meets the base — O(delta) with partial aggregation,
    never O(base). The apply is a single key-equi full-outer join; at
    100 TB the base lives bucketed by key (the dedup-store pattern,
    ops/text_dedup.py), so the join is co-partitioned with zero
    Exchange on the base side and only touched buckets rewrite — the
    standard copy-on-write MERGE layout. Latest-image reduction uses
    max_by on a unique seq, so replaying the log in any arrival order
    produces the identical image (the CDC idempotence invariant)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
    )
    base = cust.filter(F.col("k") % 10 != 0)

    def entry(seq: int, op: str, seg, cents):
        return F.struct(
            F.lit(seq).alias("seq"),
            F.lit(op).alias("op"),
            seg.cast("string").alias("n_seg"),
            cents.cast("bigint").alias("n_cents"),
        )

    # the four-entry changelog FIXTURE comes from one scan: conditional
    # struct per entry kind, nulls filtered, exploded (the
    # union-of-filters form re-scanned the table once per entry kind)
    chlog = cust.select(
        "k",
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        F.col("k") % 10 == 0,
                        entry(1, "I", F.col("seg"), F.col("cents")),
                    ),
                    F.when(
                        F.col("k") % 7 == 0,
                        entry(2, "U", F.col("seg"), F.col("cents") + 5000),
                    ),
                    F.when(
                        F.col("k") % 21 == 0,
                        entry(3, "U", F.col("seg"), F.col("cents") + 9999),
                    ),
                    F.when(
                        F.col("k") % 13 == 0,
                        entry(4, "D", F.lit(None).cast("string"),
                              F.lit(None).cast("bigint")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("e"),
    ).select(
        "k",
        F.col("e.seq").alias("seq"),
        F.col("e.op").alias("op"),
        F.col("e.n_seg").alias("n_seg"),
        F.col("e.n_cents").alias("n_cents"),
    )
    latest = chlog.groupBy("k").agg(
        F.max_by(F.struct("op", "n_seg", "n_cents"), "seq").alias("img")
    ).select(
        F.col("k").alias("lk"),
        F.col("img.op").alias("op"),
        F.col("img.n_seg").alias("n_seg"),
        F.col("img.n_cents").alias("n_cents"),
    )
    applied = base.join(latest, F.col("k") == F.col("lk"), "full_outer")
    return applied.filter(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select(
        F.coalesce(F.col("k"), F.col("lk")).alias("c_custkey"),
        F.coalesce(F.col("n_seg"), F.col("seg")).alias("c_mktsegment"),
        F.coalesce(F.col("n_cents"), F.col("cents")).alias("acctbal_cents"),
        F.coalesce(F.col("op"), F.lit("K")).alias("applied_op"),
    )


_COMPACT_SMALL_N, _COMPACT_TARGET_N = 128, 8


def _reset_compact(spark: SparkSession, sf_dir: str) -> None:
    for tag in ("counsel_compact_small", "counsel_compact_out"):
        shutil.rmtree(
            derived_cache_dir(tag, sf_dir, "events"), ignore_errors=True
        )


@register(
    "layout_compact_small_files",
    oracle=f"""
        -- The compaction loop's contract: file counts are pinned by the
        -- plan fn (it RAISES unless before={_COMPACT_SMALL_N} and
        -- after={_COMPACT_TARGET_N}), and the aggregates — recomputed
        -- here from the raw table — must survive the rewrite untouched
        -- (content invariance is what makes compaction safe to run
        -- online).
        SELECT CAST({_COMPACT_SMALL_N} AS BIGINT) AS n_files_before,
               CAST({_COMPACT_TARGET_N} AS BIGINT) AS n_files_after,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi,
               CAST(min(event_id) AS BIGINT) AS min_event,
               CAST(max(event_id) AS BIGINT) AS max_event
        FROM events
    """,
    description=f"small-file compaction attested end-to-end: events staged "
    f"as {_COMPACT_SMALL_N} small parquet files, compacted to "
    f"{_COMPACT_TARGET_N} via coalesce (NO shuffle — each output merges "
    "whole input files), read back and re-aggregated; the fn raises on "
    "any other file count and the oracle recomputes the aggregates from "
    "the raw table, so the green row certifies both the file-count "
    "contract and content invariance through the rewrite",
    tags=("layout", "events", "write", "bench-write"),
    reset=_reset_compact,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: compaction-without-reclustering is coalesce, not
    repartition — zero shuffle, each task concatenates whole input
    files, so a 100 TB table compacts at pure I/O cost partition by
    partition. (Re-clustering compaction is the Z-order rewrite,
    layout_zorder_write_prune.) The small-file stage is the pathological
    state streaming sinks and per-batch ingests actually produce; the
    read-back aggregate proves no row was lost or duplicated — the
    invariant that makes compaction safe to run concurrently with
    readers on immutable-file storage."""
    small = derived_cache_dir("counsel_compact_small", sf_dir, "events")
    out = derived_cache_dir("counsel_compact_out", sf_dir, "events")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    if not os.path.exists(os.path.join(small, "_SUCCESS")):
        ev.repartition(_COMPACT_SMALL_N).write.mode("overwrite").parquet(small)
    small_df = spark.read.parquet(small)
    n_before = len({f for f in small_df.inputFiles() if "parquet" in f})
    if n_before != _COMPACT_SMALL_N:
        raise RuntimeError(
            f"staged small-file layout has {n_before} files, "
            f"expected {_COMPACT_SMALL_N}"
        )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        # Pin the scan's split planning for the compaction job: the
        # n_after == TARGET contract needs the 128-file read to yield at
        # least TARGET partitions, but the default bin-packing sizes
        # bins from defaultParallelism (files*openCost/cores), so on a
        # low-core session the tiny files pack into < TARGET partitions
        # and coalesce — which can only DECREASE — writes fewer files.
        # One-file-per-partition (openCost == maxPartitionBytes >> file
        # size) makes the job core-count-independent; confs restored
        # either way.
        conf = spark.conf
        olds = {
            k: conf.get(k)
            for k in (
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.files.openCostInBytes",
            )
        }
        try:
            conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
            conf.set("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
            small_df.coalesce(_COMPACT_TARGET_N).write.mode(
                "overwrite"
            ).parquet(out)
        finally:
            for k, v in olds.items():
                conf.set(k, v)
    compacted = spark.read.parquet(out)
    n_after = len({f for f in compacted.inputFiles() if "parquet" in f})
    if n_after != _COMPACT_TARGET_N:
        raise RuntimeError(
            f"compacted layout has {n_after} files, "
            f"expected {_COMPACT_TARGET_N}"
        )
    return compacted.agg(
        F.lit(n_before).cast("bigint").alias("n_files_before"),
        F.lit(n_after).cast("bigint").alias("n_files_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_value_mi"),
        F.min("event_id").cast("bigint").alias("min_event"),
        F.max("event_id").cast("bigint").alias("max_event"),
    )


# ---------------------------------------------------------------------------
# Python DataSource WRITER: two-phase-commit JSONL sink roundtrip
# ---------------------------------------------------------------------------


@register(
    "layout_python_sink_roundtrip",
    oracle="""
        -- read-back aggregate of what the sink published; equality with
        -- the direct relational answer attests the writer published
        -- every row exactly once (staging -> atomic rename -> manifest)
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi
        FROM events WHERE event_type = 'purchase'
    """,
    description="Python DataSource WRITER attested (Spark 4 sink API): "
    "purchase events written through the counseljsonl two-phase-commit "
    "sink (tasks stage invisible files + commit messages; the driver "
    "publishes via atomic rename and writes a totals manifest), then "
    "read back and aggregated — the fn raises unless the manifest "
    "totals match the read-back, and the hash must match the direct "
    "relational oracle, which is the no-loss/no-duplication publication "
    "contract",
    tags=("layout", "events", "sink", "udf"),
)
def python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: write() streams rows executor-side (no driver data
    path); driver state is one commit message per task. Readers never
    see staged files — only the post-rename part-*.jsonl — so a
    mid-job failure leaves the target directory unchanged (abort
    deletes staging). The manifest totals give downstream consumers an
    integrity check that costs O(1), not a re-scan; this fn USES it:
    mismatch between manifest and read-back raises before any hash is
    computed. JSON-lines is the interchange-friendly sink; columnar
    targets use the parquet writers attested by the other layout
    queries."""
    import json as _json
    import tempfile as _tempfile

    from counsel_data_pipeline_spark.io import jsonl_sink

    jsonl_sink.register(spark)
    out_dir = _tempfile.mkdtemp(prefix="jsonl_sink_")
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.expr("CAST(round(value * 1000000) AS BIGINT)").alias("value_mi"),
        )
    )
    rows.write.format("counseljsonl").option("path", out_dir).mode(
        "append"
    ).save()

    with open(os.path.join(out_dir, "_SUCCESS")) as fh:
        manifest = _json.load(fh)
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, value_mi BIGINT"
    ).json(os.path.join(out_dir, "part-*.jsonl"))
    agg = back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("value_mi").cast("bigint").alias("sum_value_mi"),
    )
    got = agg.collect()[0]
    if (
        int(got.n_rows) != int(manifest["n_rows"])
        or int(got.sum_value_mi) != int(manifest["value_sum_mi"])
    ):
        raise RuntimeError(
            f"sink manifest {manifest} disagrees with read-back "
            f"({got.n_rows} rows, {got.sum_value_mi})"
        )
    shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame([got], agg.schema)


# ---------------------------------------------------------------------------
# CSV dialect round-trip (the catalog's CSV source/sink attestation)
# ---------------------------------------------------------------------------


def _reset_csv_roundtrip(spark: SparkSession, sf_dir: str) -> None:
    shutil.rmtree(
        derived_cache_dir("counsel_csv_roundtrip", sf_dir, "orders"),
        ignore_errors=True,
    )


@register(
    "layout_csv_roundtrip",
    oracle="""
        -- The aggregate recomputed straight from orders: a green hash
        -- row means the Spark CSV writer+reader pair preserved every
        -- value — including the quote-and-comma label that forces the
        -- dialect's escaping path and the NULL that must not collapse
        -- into empty-string.
        SELECT o_orderpriority,
               concat('"', o_orderpriority, '", note') AS tricky_label,
               CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
                    ELSE 'ok' END AS opt_note,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM orders GROUP BY 1
    """,
    description=(
        "CSV sink+source fidelity attested end-to-end: a per-priority "
        "aggregate — with a quote-and-comma label exercising the "
        "escaping path and a NULL column exercising null round-trip — "
        "is written through the Spark CSV writer, read back through the "
        "CSV reader with an explicit schema, and hash-compared against "
        "the oracle's direct recomputation"
    ),
    tags=("layout", "relational", "write"),
    reset=_reset_csv_roundtrip,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the written artifact is the AGGREGATE (priority
    cardinality), so the round-trip cost is O(groups); the fact scan is
    the same single hash aggregate as any groupBy. For fact-sized CSV,
    the same writer/reader pair shards per partition — CSV is splittable
    on read (uncompressed), so re-ingest parallelism survives. Parquet
    remains the engine's layout of record (typed, compressed, prunable);
    this query pins the interchange path the reference's K2 CSV sink
    (io/sinks.py) feeds."""
    out = derived_cache_dir("counsel_csv_roundtrip", sf_dir, "orders")
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    ).select(
        "o_orderpriority",
        F.concat(
            F.lit('"'), F.col("o_orderpriority"), F.lit('", note')
        ).alias("tricky_label"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(None).cast("string"))
        .otherwise(F.lit("ok"))
        .alias("opt_note"),
        "n_orders",
        "sum_cents",
    )
    agg.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    return (
        spark.read.schema(
            "o_orderpriority string, tricky_label string, opt_note string, "
            "n_orders bigint, sum_cents bigint"
        )
        .option("header", True)
        .csv(out)
    )
