"""Graded contract queries: margaret log/multilog/index parity + the relational (TPC-H-ish) and events/sketch families (split from __spark_entry__)."""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from margaret_spark.functions.numeric import dsum, pround
from margaret_spark.functions.vectors import cosine_sim
from margaret_spark.operators.dedup import (
    embedding_dedup_pairs,
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from margaret_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk
from margaret_spark.operators.temporal import asof_join, range_join
from margaret_spark.operators.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from margaret_spark.qry import Gt, Gte, Limit, Lte, Reverse, build_plan, apply_plan
from margaret_spark.indexes import latest_by_key, fanout
from margaret_spark.entry.common import _EVENTS_SCHEMA, _defer_cleanup, _events, _events_log, _t



# ---------------------------------------------------------------------------
# §2.1/2.2 — core log + query algebra (SURVEY.md §2.2 ops 9-16, 19)
# ---------------------------------------------------------------------------


def q_log_scan(spark, sf_dir):
    """Full seq-ordered scan, SeqWrap'd (op 16/19)."""
    return _events_log(spark, sf_dir).select("seq", "event_type", "value")


def q_log_get(spark, sf_dir):
    """Point lookup by seq (op 2): Parquet row-group pruning does the
    positional-index work."""
    df = _events_log(spark, sf_dir)
    return apply_plan(df, build_plan([Gte(999), Lte(999)])).select(
        "seq", "user_id", "event_type", "value"
    )


def q_log_seq(spark, sf_dir):
    """Current max seq (op 3), SEQ_EMPTY=-1 convention on empty."""
    return _events_log(spark, sf_dir).agg(
        F.coalesce(F.max("seq"), F.lit(-1)).cast("long").alias("seq")
    )


def q_log_range(spark, sf_dir):
    """Gt(99) ∧ Lte(299) (ops 9+12): bounds land in PushedFilters."""
    df = _events_log(spark, sf_dir)
    return apply_plan(df, build_plan([Gt(99), Lte(299)])).select("seq", "value")


def q_log_limit(spark, sf_dir):
    """Limit(100) in seq order (op 13): TakeOrderedAndProject."""
    df = _events_log(spark, sf_dir)
    return apply_plan(df, build_plan([Limit(100)])).select("seq", "event_type")


def q_log_reverse(spark, sf_dir):
    """Reverse + Limit (op 14): newest-100, a tail read."""
    df = _events_log(spark, sf_dir)
    return apply_plan(df, build_plan([Reverse(True), Limit(100)])).select(
        "seq", "event_type", "value"
    )


def q_log_append_seq(spark, sf_dir):
    """Dense gap-free seq assignment (op 1, Append): the distributed
    two-pass partition-offset technique over a range-sorted corpus —
    after a global sort, partition-major order IS global order, so the
    assigned seq equals the rank without any single-partition window."""
    from margaret_spark.functions.seqassign import with_dense_seq

    docs = _t(spark, sf_dir, "documents").orderBy("doc_id")
    return with_dense_seq(docs, order_within=F.col("doc_id")).select("seq", "doc_id")


def q_log_nulled_overlay(spark, sf_dir):
    """Null-redaction overlay view (ops 6/7): a patch table LEFT-JOINed
    over the log; here 'error' events play the nulled set."""
    ev = _events_log(spark, sf_dir).select("seq", "value", "event_type")
    patch = ev.where(F.col("event_type") == "error").select(
        "seq", F.lit("null").alias("op")
    )
    # patch overlays are usually tiny, but this demo's patch set scales
    # with the log — no hint, the join strategy follows the stats
    return ev.join(patch, "seq", "left").select(
        "seq",
        F.when(F.col("op") == "null", F.lit(None)).otherwise(F.col("value")).alias("value"),
        F.coalesce(F.col("op") == "null", F.lit(False)).alias("nulled"),
    )


def q_log_replace_overlay(spark, sf_dir):
    """Replace (in-place update) overlay view (op 7): a patch table
    coalesced over the log — here 'purchase' events get their value
    doubled, standing in for Replace(seq, payload)."""
    ev = _events_log(spark, sf_dir).select("seq", "value", "event_type")
    patch = ev.where(F.col("event_type") == "purchase").select(
        "seq", (F.col("value") * 2).alias("__pv")
    )
    return ev.join(patch, "seq", "left").select(
        "seq",
        F.coalesce(F.col("__pv"), F.col("value")).alias("value"),
        F.col("__pv").isNotNull().alias("replaced"),
    )


def q_log_snapshot_read(spark, sf_dir):
    """TIME TRAVEL on the graded surface (sources/snapshot.py): build
    a real OffsetLog from the first 500 events, pin a snapshot, then
    append 100 more AND null seq 3 — the as-of read must show the
    pinned state exactly: later appends invisible, the post-snapshot
    null invisible (seq 3 still carries its value). A manifest is
    O(#logs) metadata; the as-of bound is a pushed ``seq <=`` filter,
    so Parquet row-group pruning keeps snapshot reads as cheap as
    head reads."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.sources.snapshot import SnapshotCatalog

    ev = _events(spark, sf_dir).orderBy("event_id").limit(600).collect()
    d = tempfile.mkdtemp(prefix="snap_log_")
    log = OffsetLog(
        spark, d, value_type=T.StructType([T.StructField("v", T.DoubleType())])
    )
    log.append_many([{"v": float(r["value"])} for r in ev[:500]])
    cat = SnapshotCatalog(tempfile.mkdtemp(prefix="snap_cat_"))
    sid = cat.snapshot({"events": log})
    # post-snapshot mutations that the as-of read must NOT see
    log.append_many([{"v": float(r["value"])} for r in ev[500:]])
    log.null(3)
    asof = cat.read(sid, "events", log)
    return asof.select("seq", F.col("value.v").alias("v"), "nulled")


def q_log_check_consistency(spark, sf_dir):
    """fsck invariants as one aggregation row (op 8)."""
    return _events_log(spark, sf_dir).agg(
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("n_distinct"),
        F.min("seq").alias("min_seq"),
        F.max("seq").alias("max_seq"),
        (
            (F.count("*") == F.countDistinct("seq"))
            & (F.min("seq") == 0)
            & (F.max("seq") == F.count("*") - 1)
        ).alias("dense"),
    )


# ---------------------------------------------------------------------------
# §2.3 — multilog / sublogs over orders (addr=o_custkey, main_seq=o_orderkey)
# ---------------------------------------------------------------------------


def _mlog(spark, sf_dir):
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("addr"), F.col("o_orderkey").alias("main_seq")
    )


def _ranked(spark, sf_dir):
    w = Window.partitionBy("addr").orderBy("main_seq")
    return _mlog(spark, sf_dir).withColumn(
        "rank", (F.row_number().over(w) - F.lit(1)).cast("long")
    )


def q_mlog_list(spark, sf_dir):
    """MultiLog.List (op 22): keys with non-empty sublogs."""
    return _mlog(spark, sf_dir).select("addr").distinct()


def q_mlog_ranks(spark, sf_dir):
    """Sublog rank view (op 26): bitmap Select(n) as a window rank."""
    return _ranked(spark, sf_dir).where(F.col("addr") <= 20)


def q_mlog_sublog_get(spark, sf_dir):
    """sublog.Get(2) for addr 7 (op 26): positional rank lookup."""
    return _ranked(spark, sf_dir).where(
        (F.col("addr") == 7) & (F.col("rank") == 2)
    ).select("addr", "rank", "main_seq")


def q_mlog_sublog_query(spark, sf_dir):
    """Query algebra over the rank domain (op 27): Gte(1) ∧ Lte(4)."""
    sub = _ranked(spark, sf_dir).where(F.col("addr") == 7)
    return apply_plan(sub, build_plan([Gte(1), Lte(4)]), seq_col="rank").select(
        "rank", "main_seq"
    )


def q_mlog_cardinalities(spark, sf_dir):
    """sublog.Seq per addr (op 27): cardinality − 1."""
    return _mlog(spark, sf_dir).groupBy("addr").agg(
        (F.count("*") - 1).alias("sublog_seq")
    )


def q_mlog_has(spark, sf_dir):
    """multilog.Has (op 24) for a probe list of addrs."""
    probes = spark.createDataFrame([(7,), (999999999,)], "addr long")
    m = _mlog(spark, sf_dir)
    return (
        probes.join(m, "addr", "left")
        .groupBy("addr")
        .agg((F.count("main_seq") > 0).alias("has"))
    )


def q_mlog_delete(spark, sf_dir):
    """MultiLog.Delete (op 23) as tombstone anti-join: live addrs
    excluding deleted keys {1,2,3}."""
    tombs = spark.createDataFrame([(1,), (2,), (3,)], "addr long")
    return (
        _mlog(spark, sf_dir)
        .join(F.broadcast(tombs), "addr", "left_anti")
        .select("addr")
        .distinct()
    )


# ---------------------------------------------------------------------------
# §2.4/2.6 — KV index + fan-out sink over events
# ---------------------------------------------------------------------------


def q_mlog_set_ops(spark, sf_dir):
    """Set algebra over sublog address sets (margaret's List() per
    multilog composed relationally): customers that have orders
    INTERSECT customers above an account-balance bar, minus a deleted
    set — intersect/except as first-class plan nodes."""
    with_orders = _mlog(spark, sf_dir).select("addr").distinct()
    rich = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("addr"))
    )
    deleted = spark.createDataFrame([(7,), (11,)], "addr long")
    return with_orders.intersect(rich).exceptAll(deleted).select("addr")


def q_kvidx_latest(spark, sf_dir):
    """SetterIndex materialization (ops 31/32/34): latest value per key
    (key=user_id) by seq — max_by semantics."""
    ev = _events_log(spark, sf_dir).select(
        F.col("user_id").alias("addr"), "seq", "value", "event_type"
    )
    out = latest_by_key(ev, "addr", "seq", ["seq", "value", "event_type"])
    return out.withColumnRenamed("seq", "upd_seq")


def q_kvidx_point(spark, sf_dir):
    """Index.Get on one key (op 31)."""
    return q_kvidx_latest(spark, sf_dir).where(F.col("addr") == 7)


def q_sink_fanout(spark, sf_dir):
    """multilog.Sink routing (op 28): one sublog per event_type;
    per-sublog cardinality and seq bounds."""
    ev = _events_log(spark, sf_dir)
    routed = fanout(ev.withColumn("addrs", F.array(F.col("event_type"))), F.col("addrs"))
    return routed.groupBy("addr").agg(
        F.count("*").alias("card"),
        F.min("main_seq").alias("min_seq"),
        F.max("main_seq").alias("max_seq"),
    )


def q_sink_fanout_multi(spark, sf_dir):
    """Multi-address routing (op 28/§2.6): each entry goes to its
    event_type sublog AND a user-shard sublog."""
    ev = _events_log(spark, sf_dir)
    addrs = F.array(
        F.col("event_type"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")),
    )
    routed = fanout(ev.withColumn("addrs", addrs), F.col("addrs"))
    return routed.groupBy("addr").agg(F.count("*").alias("card"))


# ---------------------------------------------------------------------------
# Relational/analytic queries (Spark-first surface; also the bench set)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary (exact decimal sums)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") <= F.lit("1998-09-02").cast("date")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, scale=6).alias("sum_disc_price"),
            dsum(charge, scale=6).alias("sum_charge"),
            pround(dsum("l_quantity") / F.count("*"), 6).alias("avg_qty"),
            pround(dsum("l_extendedprice") / F.count("*"), 6).alias("avg_price"),
            pround(dsum("l_discount", scale=6) / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3-style shipping priority: top-10 open orders by revenue.
    customer is broadcast (small dim); ties broken by orderkey."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1998-01-01").cast("date")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # no explicit broadcast hint: customer SCALES with the data, so
        # the right strategy is size-dependent — stats/AQE broadcast it
        # at small SF and shuffle-join it at 100 TB
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_orderpriority")
        .agg(dsum(rev, scale=6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5-style local-supplier volume for ASIA, 1996: the
    dimension chain (region→nation→supplier/customer) is broadcast."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer/supplier scale with the data — no explicit hints;
        # only the fixed-size region/nation chain inside `dims` stays
        # broadcast-worthy by stats at any SF
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            dims,
            (li.l_suppkey == dims.s_suppkey)
            & (customer.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(rev, scale=6).alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6-style forecasting revenue change: pure filter +
    aggregate — every predicate must reach the parquet scan
    (PushedFilters), no shuffle beyond the single-row agg."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=6).alias("revenue"),
        F.count("*").alias("n"),
    )


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14-style promo revenue share: lineitem joins a broadcast
    part dim; conditional aggregation over the join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-03-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)  # part scales; let stats pick
        .agg(
            dsum(promo, scale=6).alias("promo_revenue"),
            dsum(rev, scale=6).alias("total_revenue"),
        )
    )


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4-style order-priority check: orders in 1996-Q1 having
    at least one late lineitem — a LEFT SEMI join (the EXISTS shape;
    no fan-out, lineitem only contributes existence)."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    # the synthetic lineitem carries only l_shipdate; "late" = shipped
    # more than a year after the order window opened
    late = _t(spark, sf_dir, "lineitem").where(
        F.to_date("l_shipdate") > F.lit("1997-01-01").cast("date")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join (NOT EXISTS): customers with no orders in 1997H2+,
    counted per market segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.to_date("o_orderdate") >= F.lit("1997-07-01").cast("date")
    ).select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10-style returned-item report: revenue lost to returns
    per customer over one quarter, top 20. Fact-side filters (return
    flag, date window) cut before the join; nation stays broadcast-able
    (fixed size), customer/orders shuffle on their keys."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders").where(
        (F.to_date("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev, scale=6).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18-style large-volume customers: orders whose total
    quantity exceeds 200 (the IN + GROUP BY/HAVING subquery as a
    semi-join against a pre-aggregate), top 100 by order value."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity", scale=6).alias("total_qty"))
        .where(F.col("total_qty") > 200)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22-style global sales opportunity: customers with
    above-average positive balance and no recent orders (since
    1999-01-01), summarized per nation — a decorrelated scalar
    subquery (broadcast one-row average) composed with an anti-join."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        (dsum("c_acctbal", scale=6) / F.count("*")).alias("__avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.to_date("o_orderdate") >= F.lit("1999-01-01").cast("date"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal", scale=6).alias("totacctbal"),
        )
    )


def q_events_window_funcs(spark, sf_dir):
    """Ordered analytics over the event stream (lag delta, 3-row moving
    average, running total) — per-user windows ordered by event_id
    (pure int64 ordering: engine-portable, unlike the nanos timestamp
    DuckDB reads at µs precision). All sums are exact decimal; the
    moving average divides the decimal frame-sum (as double) by the
    frame count, the same expression tree as the oracle."""
    ev = _events(spark, sf_dir).where(F.col("user_id") % 53 == 7)
    w = Window.partitionBy("user_id").orderBy("event_id")
    frame3 = w.rowsBetween(-2, Window.currentRow)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = F.col("value").cast("decimal(38,6)")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        pround(
            F.sum(dec).over(frame3).cast("double") / F.count("*").over(frame3), 6
        ).alias("move_avg3"),
        F.sum(dec).over(run).cast("double").alias("running_sum"),
    )


def q_events_anomaly(spark, sf_dir):
    """Trailing-window anomaly detection: per (event_type, day) count
    vs the mean/σ of the 7 PRECEDING days (a rows-frame that excludes
    the current row — the standard leak-free baseline), flagging days
    above 2σ. Exact integer sums; σ via sqrt (IEEE-correctly-rounded,
    so cross-engine bit-exact, unlike ln); variance as E[x²]−E[x]²
    with the identical expression tree in the oracle. Two exchanges:
    the daily count aggregates on (event_type, day), then the trailing
    window repartitions on event_type alone."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    cnt = F.count("*").over(w)
    mean = F.sum("n").over(w).cast("double") / cnt
    var = (
        F.sum(F.col("n") * F.col("n")).over(w).cast("double") / cnt
        - mean * mean
    )
    sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
    return (
        daily.select(
            "event_type",
            "day",
            "n",
            F.when(cnt >= 3, pround(mean, 6)).alias("trail_mean"),
            F.when(cnt >= 3, pround(sigma, 6)).alias("trail_sigma"),
            (
                F.when(
                    cnt >= 3, F.col("n").cast("double") > mean + 2.0 * sigma
                ).otherwise(F.lit(False))
            ).alias("is_anomaly"),
        )
    )


def q_orders_constraints(spark, sf_dir):
    """Declarative data-quality report (operators.constraints): every
    row-local rule + uniqueness compile into ONE aggregation over one
    scan (map-side-combinable conditional sums); the referential-
    integrity rule adds one broadcast anti-join against the customer
    keys. Output is a handful of rows regardless of input size —
    the Deequ-style gate a pipeline runs before trusting a table."""
    from margaret_spark.operators import constraints as C

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return C.constraint_report(
        orders,
        [
            C.not_null("o_custkey"),
            C.unique("o_orderkey"),
            C.in_range("o_totalprice", 0.0, 1e9),
            C.in_set("o_orderstatus", ["O", "F", "P"]),
            C.foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )


def q_customers_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary) per customer
    from orders: days since last order relative to the corpus max
    date, order count, exact-decimal total spend, and a fixed-
    threshold segment label. The max date is a broadcast 1-row
    aggregate (tiny dim — the cost is one extra stage, acceptable for
    a once-per-run scalar); everything else is one shuffle on the
    customer key."""
    orders = _t(spark, sf_dir, "orders")
    maxd = F.broadcast(
        orders.agg(F.to_date(F.max("o_orderdate")).alias("__maxd"))
    )
    per_cust = (
        orders.crossJoin(maxd)
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("__maxd"), F.to_date("o_orderdate")))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    seg = (
        F.when(
            (F.col("recency_days") <= 30) & (F.col("frequency") >= 10),
            F.lit("champion"),
        )
        .when(F.col("recency_days") <= 30, F.lit("recent"))
        .when(F.col("frequency") >= 10, F.lit("loyal"))
        .otherwise(F.lit("at_risk"))
    )
    return per_cust.select(
        F.col("o_custkey").alias("custkey"),
        "recency_days",
        "frequency",
        "monetary",
        seg.alias("segment"),
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17-style small-quantity revenue: lineitems below 20% of
    their part's average quantity — the correlated scalar subquery
    decorrelated into an aggregate + equi-join on partkey."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        pround(
            (dsum("l_quantity") / F.count("*")) * F.lit(0.2), 6
        ).alias("__thresh")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < F.col("__thresh"))
        .agg(
            dsum("l_extendedprice").alias("sum_price"),
            F.count("*").alias("n"),
        )
    )


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7-style two-nation volume: revenue shipped between
    NATION_1 and NATION_2 (both directions) by year. The fixed-size
    nation dim joins twice under different roles; the fact chain
    shuffles on its join keys."""
    nation = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    supp_n = F.broadcast(nation.select(
        F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation")
    ))
    cust_n = F.broadcast(nation.select(
        F.col("n_nationkey").alias("__cnk"), F.col("n_name").alias("cust_nation")
    ))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(supp_n, supplier.s_nationkey == F.col("__snk"))
        .join(cust_n, customer.c_nationkey == F.col("__cnk"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.to_date("l_shipdate")).alias("l_year"),
        )
        .agg(dsum(rev, scale=6).alias("revenue"))
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19-style disjunctive-predicate revenue: OR of
    brand/size/quantity conjunctions across the part join — the shape
    that exercises predicate normalization and join-condition
    filtering."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 30)
        & F.col("l_quantity").between(10, 25)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(dsum(rev, scale=6).alias("revenue"), F.count("*").alias("n"))
    )


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2-style minimum-cost supplier: for each EUROPE-shippable
    part of one size/type, the supplier(s) with minimum account balance
    among those that actually ship it. The synthetic schema has no
    partsupp, so part↔supplier pairs derive from lineitem; the
    correlated MIN subquery is decorrelated into a partition-window
    minimum (one shuffle on p_partkey serves both the min and the
    filter)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    # nation/region are fixed-size at any SF — broadcast; supplier
    # scales, so its join strategy is left to stats
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    w = Window.partitionBy("p_partkey")
    return (
        part.join(ps, part.p_partkey == ps.l_partkey)
        .join(supp, ps.l_suppkey == supp.s_suppkey)
        .withColumn("__min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("__min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "s_suppkey")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(100)
    )


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8-style national market share: of all PROMO-part revenue
    sold to ASIA customers, the share supplied by NATION_2, by order
    year. The nation dim joins twice under different roles (customer
    region membership, supplier nation name)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cust_n = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            F.col("n_nationkey").alias("__cnk")
        )
    )
    supp_n = F.broadcast(
        nation.select(F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(cust_n, customer.c_nationkey == F.col("__cnk"))
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(supp_n, supplier.s_nationkey == F.col("__snk"))
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.year(F.to_date("o_orderdate")).alias("o_year"))
        .agg(
            pround(dsum(nat_rev, scale=6) / dsum(rev, scale=6), 6).alias("mkt_share")
        )
    )


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9-style product-type profit: per supplier nation and
    order year, profit on 'gear' parts. Without ps_supplycost the cost
    side is p_retailprice·quantity — the plan shape (fact chain joined
    to part + supplier-nation, signed decimal aggregation) is Q9's."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("gear"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.to_date("o_orderdate")).alias("o_year"),
        )
        .agg(dsum(amount, scale=6).alias("sum_profit"))
    )


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11-style important stock: parts whose shipped value from
    NATION_3 suppliers exceeds a fraction of the national total — the
    GROUP BY + HAVING-over-scalar-subquery shape. The one-row total is
    broadcast; both sides aggregate through the same exact decimal
    path, so the threshold compare is engine-portable."""
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = F.col("l_extendedprice") * F.col("l_quantity")
    base = li.join(supp, li.l_suppkey == supp.s_suppkey)
    grouped = base.groupBy("l_partkey").agg(dsum(val, scale=6).alias("value"))
    total = base.agg((dsum(val, scale=6) * F.lit(0.001)).alias("__thresh"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("__thresh"))
        .select("l_partkey", "value")
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12-style shipping-priority check: 1996 lineitems by line
    status (the synthetic schema's stand-in for ship mode), counting
    critical- vs low-priority orders — join + conditional aggregation."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13-style customer order-count distribution: LEFT OUTER
    join so zero-order customers survive, then a histogram of
    per-customer counts (two cascaded aggregations)."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15-style top supplier: supplier(s) hitting the maximum
    half-year revenue — the revenue view + scalar-max subquery, with
    the one-row max broadcast back over the view."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1996-07-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    revenue = li.groupBy("l_suppkey").agg(dsum(rev, scale=6).alias("total_revenue"))
    mx = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    supplier = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__max_rev"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16-style parts/supplier relationship: distinct supplier
    count per (brand, type, size) over shippable pairs, excluding one
    brand, a size set, and low-balance suppliers (the complaints
    anti-join)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 1000).select(
        F.col("s_suppkey").alias("__bad")
    )
    return (
        ps.join(part, ps.l_partkey == part.p_partkey)
        .join(bad_supp, ps.l_suppkey == F.col("__bad"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20-style part promotion: NATION_2 suppliers who shipped
    more than 30% of some 'small' part's 1996 volume — nested aggregate
    threshold + semi-join chain, decorrelated into two aggregations
    sharing one shuffle key (l_partkey)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_name").startswith("small")).select(
        "p_partkey"
    )
    li96 = li.join(part, li.l_partkey == part.p_partkey, "left_semi")
    per_ps = li96.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity").alias("qty")
    )
    per_part = li96.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (dsum("l_quantity") * F.lit(0.3)).alias("__thresh")
    )
    qualified = (
        per_ps.join(per_part, per_ps.l_partkey == F.col("__pk"))
        .where(F.col("qty") > F.col("__thresh"))
        .select("l_suppkey")
        .distinct()
    )
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualified, F.col("s_suppkey") == qualified.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21-style suppliers who kept orders waiting: NATION_1
    suppliers with a returned line in a finished multi-supplier order
    where no OTHER supplier had a return — the EXISTS + NOT-EXISTS
    pair as a semi-join then anti-join, both on (orderkey, suppkey≠)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    ).distinct()
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3"))
        .distinct()
    )
    return (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("__ok2")) & (l1.l_suppkey != F.col("__sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("__ok3"))
            & (F.col("l_suppkey") != F.col("__sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def q_orders_topn_per_cust(spark, sf_dir):
    """Top-3 orders per customer by price (rank window, id tiebreak)
    for the first 50 customers — the grouped-top-k pattern."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_events_daily(spark, sf_dir):
    """Tumbling daily window per event_type — the batch twin of the
    streaming windowed aggregation (SURVEY §2.2 op 15 / streaming).
    Session timezone is UTC, so to_date matches the oracle's
    CAST(ts AS DATE) on the naive µs timestamps."""
    ev = _events(spark, sf_dir)
    day = F.to_date("ts")
    return (
        ev.groupBy(day.alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dsum("value", scale=6).alias("sum_value"),
            pround(dsum("value", scale=6) / F.count("*"), 6).alias("avg_value"),
        )
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000


def q_events_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): per-user session
    windows with event counts and value totals — the batch twin of a
    streaming session-window aggregation. One shuffle on user_id
    shared by both windows and the final grouping."""
    # integer microseconds on both engines: unix_micros here,
    # epoch_us() in the DuckDB oracle
    ev = _events(spark, sf_dir).withColumn("tsu", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    new_sess = F.when(
        F.lag("tsu").over(w).isNull()
        | ((F.col("tsu") - F.lag("tsu").over(w)) > F.lit(_SESSION_GAP_US)),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("tsu", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("__new", new_sess)
        .withColumn("session_idx", F.sum("__new").over(run).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("tsu").alias("start_ts"),
            F.max("tsu").alias("end_ts"),
            dsum("value", scale=6).alias("sum_value"),
        )
    )


def q_events_asof(spark, sf_dir):
    """As-of join (purchase → most recent at-or-before click per
    user), aggregated per user. The union+window formulation shuffles
    once on user_id with zero row explosion, and the per-user rollup
    reuses that partitioning (operators/temporal.py; DuckDB oracle is
    a native ASOF LEFT JOIN). Gap arithmetic is integer microseconds
    on both engines (tie-proof: output uses only matched timestamps,
    never matched payloads)."""
    ev = _events(spark, sf_dir).withColumn("tsu", F.unix_micros("ts"))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "tsu", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "tsu")
    joined = asof_join(
        purchases, clicks, on="tsu", by="user_id", direction="backward"
    )
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.count("tsu_matched").alias("n_matched"),
        F.sum(F.col("tsu") - F.col("tsu_matched")).alias("sum_gap_us"),
    )


_RANGE_JOIN_WINDOW_US = 24 * 3600 * 1_000_000


def q_events_range_join(spark, sf_dir):
    """Bounded range join (clicks within 24 hours strictly after
    each error, same user), aggregated per user. The interval
    predicate becomes an equi-join on (user_id, time-bucket) with each
    error row covering ≤ 2 buckets — bounded pair counts per task
    regardless of key heat (operators/temporal.py)."""
    ev = _events(spark, sf_dir).withColumn("tsu", F.unix_micros("ts"))
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "tsu", "event_id"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("tsu").alias("ctsu"),
        F.col("value").alias("cvalue"),
    )
    pairs = range_join(
        errors,
        clicks,
        on="tsu",
        right_on="ctsu",
        lower=0,
        upper=_RANGE_JOIN_WINDOW_US,
        by="user_id",
        include_lower=False,
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("event_id").alias("n_errors"),
        dsum("cvalue", scale=4).alias("click_value"),
    )


def q_events_cube(spark, sf_dir):
    """CUBE (event_type, user_id % 10): all four grouping-set levels
    in one pass."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("user_shard", (F.col("user_id") % 10).cast("long"))
        .cube("event_type", "user_shard")
        .agg(F.count("*").alias("n"))
    )


def q_events_rollup(spark, sf_dir):
    """ROLLUP (event_type, day): grouping-set totals at three levels in
    one pass (partial aggregation handles all levels map-side)."""
    ev = _events(spark, sf_dir)
    day = F.to_date("ts")
    return (
        ev.withColumn("day", day)
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n"), dsum("value", scale=6).alias("sum_value"))
    )


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark ``percentile``
    == DuckDB ``quantile_cont``: both compute the same linear
    interpolation over the sorted group)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        pround(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        pround(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
    )


def q_events_distinct_users(spark, sf_dir):
    """Exact COUNT(DISTINCT user) per event_type via the salted
    two-phase plan (functions.skew): the hot event_type's user set is
    partitioned across salt buckets by value hash — no single reducer
    holds a whole hot key's state."""
    from margaret_spark.functions.skew import salted_distinct_count

    ev = _events(spark, sf_dir)
    return salted_distinct_count(ev, ["event_type"], "user_id", salt=16)


def q_events_funnel(spark, sf_dir):
    """view→click→purchase funnel per user
    (operators.temporal.funnel): deepest ordered stage reached, with
    each stage's binding (earliest qualifying) event time. One
    shuffle on user_id; stages are stacked unbounded-min windows, not
    self-joins."""
    from margaret_spark.operators.temporal import funnel

    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_type"
    )
    return funnel(ev, "user_id", "tsu", "event_type", ["view", "click", "purchase"])


def q_events_approx_distinct(spark, sf_dir):
    """HLL++ approximate COUNT(DISTINCT user) per event_type — the
    sketch path for cardinality at 100 TB: fixed-size mergeable state
    per group (vs. the exact salted plan's full key set), partial
    aggregation map-side, one narrow shuffle of sketches. No SQL
    oracle (HLL layouts are engine-specific); tests bound the relative
    error against the exact twin (q_events_distinct_users)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


def q_events_approx_quantiles(spark, sf_dir):
    """Approximate p50/p95/p99 of value per event_type
    (Greenwald-Khanna sketch): bounded-memory mergeable summaries —
    the quantile path that scales where exact interpolation
    (q_events_quantiles) needs a per-group sort. No SQL oracle
    (sketch semantics are engine-specific); tests bound the rank
    error against the exact twin."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("approx_pcts")
    )


def q_stream_events_daily(spark, sf_dir):
    """events consumed as a STREAM: file-source + watermarked 1-day
    tumbling window, drained with availableNow and materialized — the
    result must equal the batch/SQL daily counts exactly. Puts the
    Structured Streaming path itself on the oracle-checked surface."""
    import tempfile

    from margaret_spark.streaming import windowed_agg

    # the file source wants a directory: stream the sf dir, filtered
    # down to the events table's file
    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = sdf.select(F.col("ts").alias("ets"), "event_type")
    agg = windowed_agg(ev, "ets", keys=["event_type"], window="1 day", watermark="0 seconds")

    from margaret_spark.streaming.sinks import (
        read_batch_sink,
        start_stream,
        write_batch,
    )

    base = tempfile.mkdtemp(prefix="stream_daily_")
    try:
        sink = os.path.join(base, "sink")

        # update-mode emits each key's CURRENT count when it changes;
        # stamping the batch id lets the read take latest-per-key —
        # all executor-side (no driver dict)
        def on_batch(bdf, bid):
            write_batch(bdf.withColumn("__b", F.lit(bid)), bid, sink)

        start_stream(
            agg.writeStream.foreachBatch(on_batch).outputMode("update"),
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        out = read_batch_sink(
            spark, sink,
            "window_start timestamp, event_type string, n long, __b long",
        )
        return out.groupBy(
            F.to_date("window_start").alias("day"), "event_type"
        ).agg(F.max_by("n", "__b").cast("long").alias("n"))
    finally:
        _defer_cleanup(base)


def q_events_pivot(spark, sf_dir):
    """Pivoted daily event matrix: one row per day, one column per
    event type (explicit category list — an open-ended pivot would
    need a driver-side distinct pass before planning). Spark compiles
    pivot-with-count to TWO aggregates: a count keyed on (day,
    event_type), then the pivotfirst aggregate keyed on day — two
    exchanges, both map-side combined."""
    ev = _events(spark, sf_dir)
    cats = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", cats)
        .count()
    )
    # pivot leaves NULL for absent (day, type) cells; the count is 0
    return out.select(
        "day", *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c) for c in cats]
    )


def q_stream_events_enriched(spark, sf_dir):
    """STREAM-STATIC join on the graded surface: events consumed as a
    stream (availableNow) joined per micro-batch against the static
    customer dimension (broadcast — the stream side never shuffles),
    aggregated to per-nation event counts. The oracle is the plain
    batch join, so the streaming join path itself is oracle-checked."""
    import tempfile

    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    cust = F.broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    joined = sdf.join(cust, sdf.user_id == cust.c_custkey)

    from margaret_spark.streaming.sinks import (
        read_batch_sink,
        start_stream,
        write_batch,
    )

    base = tempfile.mkdtemp(prefix="stream_enrich_")
    try:
        sink = os.path.join(base, "sink")

        # per-batch aggregate PARTIALS written executor-side; the read
        # sums them — append semantics, replay-idempotent via the
        # overwrite-per-batch partition rule
        def on_batch(bdf, bid):
            write_batch(
                bdf.groupBy("c_nationkey").agg(F.count("*").alias("n")),
                bid, sink,
            )

        start_stream(
            joined.writeStream.foreachBatch(on_batch),
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        out = read_batch_sink(spark, sink, "c_nationkey long, n long")
        return out.groupBy("c_nationkey").agg(
            F.sum("n").cast("long").alias("n_events")
        )
    finally:
        _defer_cleanup(base)


def q_stream_events_asof(spark, sf_dir):
    """The AS-OF join AS A STATEFUL STREAMING OPERATOR
    (streaming/stateful.stream_asof_join, applyInPandasWithState):
    purchases and clicks tagged into one keyed stream, the state
    store holding each user's click-timestamp history, one match row
    per purchase — semantics Spark's built-in stream-stream joins
    cannot express. Per-user partial aggregates (not match rows) are
    merged additively across micro-batches on the driver — the same
    accumulate-partials pattern as the other stream harnesses — then
    aggregated identically to the batch events_asof,
    and checked against the SAME DuckDB native ASOF JOIN oracle: the
    custom streaming operator itself is on the hash-exact surface."""
    import shutil
    import tempfile

    from margaret_spark.streaming.stateful import stream_asof_join

    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    tagged = sdf.where(F.col("event_type").isin("purchase", "click")).select(
        F.col("user_id").alias("k"),
        F.when(F.col("event_type") == "purchase", F.lit("L"))
        .otherwise(F.lit("R"))
        .alias("side"),
        F.unix_micros("ts").alias("tsu"),
    )
    # only per-user PARTIALS cross the driver (count / matched-count /
    # gap-sum merge additively across micro-batches) — never the
    # per-event match rows
    acc: dict = {}

    def on_rows(pdf):
        for r in pdf.itertuples(index=False):
            k = int(r.k)
            n, m, g = acc.get(k, (0, 0, 0))
            if pd.isna(r.tsu_matched):
                acc[k] = (n + 1, m, g)
            else:
                acc[k] = (n + 1, m + 1, g + int(r.tsu) - int(r.tsu_matched))

    ckpt = tempfile.mkdtemp(prefix="stream_asof_")
    try:
        stream_asof_join(tagged, ckpt, on_rows)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    rows = [
        (k, n, m, g if m else None) for k, (n, m, g) in acc.items()
    ]
    return spark.createDataFrame(
        rows, "user_id long, n_purchases long, n_matched long, sum_gap_us long"
    )


def q_stream_topk_windowed(spark, sf_dir):
    """WINDOWED streaming top-k: the same stateful bounded-heap
    operator, keyed on a (day-bucket | event_type) composite — the
    per-time-window leaderboard (top 3 events per type per day). The
    state key IS the window, so closed windows cost exactly k entries
    forever and no window ever rescans history; the composite-string
    key shows the operator composes to any keying without code
    changes. Hash-exact against the batch ranking window partitioned
    by (day, type)."""
    import tempfile

    from pyspark.sql import Window

    from margaret_spark.streaming.stateful import stream_topk

    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    tagged = sdf.where(F.col("value").isNotNull()).select(
        F.concat(
            F.date_format("ts", "yyyy-MM-dd"), F.lit("|"), F.col("event_type")
        ).alias("k"),
        F.col("event_id").alias("item"),
        F.col("value").alias("score"),
    )
    base = tempfile.mkdtemp(prefix="stream_topk_w_")
    out = os.path.join(base, "out")

    def on_batch(bdf, bid):
        bdf.withColumn("__bid", F.lit(bid)).write.mode("append").parquet(out)

    try:
        stream_topk(tagged, 3, os.path.join(base, "ckpt"), on_batch)
        res = spark.read.parquet(out)
        final = (
            res.withColumn("__mx", F.max("__bid").over(Window.partitionBy("k")))
            .where(F.col("__bid") == F.col("__mx"))
            .select(
                F.split_part(F.col("k"), F.lit("|"), F.lit(1)).alias("day"),
                F.split_part(F.col("k"), F.lit("|"), F.lit(2)).alias("event_type"),
                F.col("item").alias("event_id"),
                "score",
                "rank",
            )
        )
    finally:
        _defer_cleanup(base)
    return final


def q_stream_topk(spark, sf_dir):
    """Streaming per-key top-k retrieval
    (streaming/stateful.stream_topk, applyInPandasWithState): per
    event_type, the 5 highest-value events, maintained as a BOUNDED
    per-key heap in the state store (O(keys·k) state forever) and
    re-emitted on change. Micro-batch outputs are sunk to parquet
    with their batch id — no driver collect — and the latest emission
    per key is read back for grading. Hash-exact against the batch
    window row_number() OVER (PARTITION BY event_type ORDER BY value
    DESC, event_id): incremental top-k merge under a total order is
    exact regardless of micro-batching. NULL scores are excluded on
    both sides (no rank under a total order)."""
    import tempfile

    from pyspark.sql import Window

    from margaret_spark.streaming.stateful import stream_topk

    sdf = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    tagged = sdf.where(F.col("value").isNotNull()).select(
        F.col("event_type").alias("k"),
        F.col("event_id").alias("item"),
        F.col("value").alias("score"),
    )
    base = tempfile.mkdtemp(prefix="stream_topk_")
    out = os.path.join(base, "out")

    def on_batch(bdf, bid):
        bdf.withColumn("__bid", F.lit(bid)).write.mode("append").parquet(out)

    try:
        stream_topk(tagged, 5, os.path.join(base, "ckpt"), on_batch)
        res = spark.read.parquet(out)
        final = (
            res.withColumn(
                "__mx", F.max("__bid").over(Window.partitionBy("k"))
            )
            .where(F.col("__bid") == F.col("__mx"))
            .select(
                F.col("k").alias("event_type"),
                F.col("item").alias("event_id"),
                "score",
                "rank",
            )
        )
    finally:
        _defer_cleanup(base)
    return final


def q_events_resample(spark, sf_dir):
    """Time-series resampling with gap filling
    (operators.timeseries.resample): the high-value event stream
    bucketed onto a dense 6-hour grid per event_type — empty buckets
    MATERIALIZED (n=0, NULL sum) and forward-filled (last_value
    IGNORE NULLS), the step between raw events and anything assuming
    a dense time axis. The value filter keeps the stream sparse so
    gaps actually occur. All epoch-µs integer arithmetic + exact
    DECIMAL sums — hash-exact."""
    from margaret_spark.operators.timeseries import resample

    ev = _events(spark, sf_dir).where(F.col("value") >= 150.0)
    return resample(
        ev, "event_type", "ts", "value", interval_s=21_600
    )


def q_events_skew_report(spark, sf_dir):
    """Key-distribution diagnostic (functions.skew.key_skew_report):
    the top-20 heaviest user_ids with their share of the event table —
    the pre-flight a 100 TB pipeline runs before choosing a join/agg
    strategy (a key above ~1/salt of the table wants the salted
    two-phase operators this module provides). Map-side-combined
    count per key, TakeOrdered top-k, window over the 20 survivors;
    shares are IEEE double of exact integers — hash-exact."""
    from margaret_spark.functions.skew import key_skew_report

    return key_skew_report(_events(spark, sf_dir), "user_id", k=20)


def q_events_cms(spark, sf_dir):
    """Count-Min sketch (functions.cms): depth-4 × width-64 frequency
    sketch of user_id, probed back over the distinct users and joined
    to the exact counts — est_n ≥ exact_n always (the CMS guarantee),
    with visible overcounts at width 64. Unlike HLL/GK, the sketch is
    deterministic given the md5 hash family, so sketch AND estimates
    are hash-exact cross-engine. The sketch aggregation's shuffle is
    bounded by depth·width rows regardless of input size."""
    from margaret_spark.functions.cms import cms_estimate, cms_sketch

    ev = _events(spark, sf_dir).select("user_id").where(
        F.col("user_id").isNotNull()
    )
    sk = cms_sketch(ev, "user_id", depth=4, width=64)
    est = cms_estimate(sk, ev.distinct(), "user_id", depth=4, width=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("est").cast("long").alias("est_n"),
        F.col("exact_n").cast("long").alias("exact_n"),
        (F.col("est") - F.col("exact_n")).cast("long").alias("overcount"),
    )


def q_events_hist_quantiles(spark, sf_dir):
    """Quantiles off the additive equi-width histogram
    (operators.profiling.histogram_quantiles): per event_type, the
    p10/p50/p90/p99 of value by cumulative-count interpolation — the
    deterministic, MERGEABLE quantile summary beside the
    engine-internal GK (approx_quantiles, graded rows-only). Integer
    cumsums + ceil(q·N) ranks + one interpolation tree: hash-exact.
    One bounded aggregation; everything after is ≤ groups×bins rows."""
    from margaret_spark.operators.profiling import histogram_quantiles

    ev = _events(spark, sf_dir)
    return histogram_quantiles(
        ev, "value", [0.1, 0.5, 0.9, 0.99], bins=64, group_col="event_type"
    )


def q_events_hll(spark, sf_dir):
    """HyperLogLog register table (functions.hll): 256 registers over
    user_id on the deterministic md5 hash family — unlike the engine-
    internal approx_count_distinct, the sketch TABLE reproduces
    bit-for-bit in any engine (60-bit hex hash, bucket = h mod 256,
    rank = first-1-bit position of the 52-bit value field via exact
    string ops). One aggregation, shuffle bounded by 256 rows."""
    from margaret_spark.functions.hll import hll_sketch

    ev = _events(spark, sf_dir).select("user_id").where(
        F.col("user_id").isNotNull()
    )
    return hll_sketch(ev, "user_id", p=8)


def q_events_hll_estimate(spark, sf_dir):
    """The RAW HLL estimator beside the exact count: α·m²·2^K over an
    integer harmonic sum (each summand an exact power of two
    accumulated as a long — order-independent), one IEEE division,
    pround — hash-exact, which log-based sketch estimators never are.
    The production small-range correction (ln — not cross-engine
    bit-identical) is pinned in pytest instead."""
    from margaret_spark.functions.hll import hll_estimate, hll_sketch

    ev = _events(spark, sf_dir).select("user_id").where(
        F.col("user_id").isNotNull()
    )
    est = hll_estimate(hll_sketch(ev, "user_id", p=8), p=8, corrected=False)
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("exact_n"))
    return est.crossJoin(exact)


def q_events_zorder_key(spark, sf_dir):
    """Z-order/Morton layout key (operators.layout, the Delta/Iceberg
    OPTIMIZE ZORDER construction): events keyed by the bit-interleave
    of (user_id mod 256, hour-of-day) — 8 bits each, bit j of column
    i at position j·2+i. write_zordered clusters files by contiguous
    z-ranges so row-group min/max stats bound BOTH dimensions (the
    pruning payoff is pinned on real parquet footers in
    tests/test_layout.py); this graded surface is the key arithmetic
    itself, hash-exact (pure integer shifts summed over disjoint
    bits)."""
    from margaret_spark.operators.layout import zorder_key

    ev = _t(spark, sf_dir, "events")
    ub = F.pmod(F.col("user_id"), F.lit(256)).cast("long")
    hb = F.hour(F.col("ts")).cast("long")
    return ev.select(
        "event_id",
        ub.alias("ub"),
        hb.alias("hb"),
        zorder_key([ub, hb], bits=8).alias("zkey"),
    )


def q_events_kmv(spark, sf_dir):
    """KMV distinct sketch (functions.kmv, Beyer et al. 2007): the 64
    smallest distinct md5-derived 48-bit user hashes — the one sketch
    in the family that supports set operations (intersection
    estimates, which HLL registers cannot express). One distinct
    aggregate + TakeOrdered(64); hash-exact."""
    from margaret_spark.functions.kmv import kmv_sketch

    ev = _t(spark, sf_dir, "events")
    return kmv_sketch(ev, "user_id", k=64)


def q_events_kmv_estimate(spark, sf_dir):
    """The kth-minimum distinct estimator over the KMV sketch:
    (n_sketch, kth, estimate) with estimate = (k−1)·2^48/h_(k) when
    the sketch is full, exact count otherwise. At sf0.01 (150 distinct
    users > k=64) the estimator path engages. Hash-exact: integer
    inputs under one IEEE multiply/divide + pround."""
    from margaret_spark.functions.kmv import kmv_estimate, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    return kmv_estimate(kmv_sketch(ev, "user_id", k=64), k=64)


def q_events_kmv_intersect(spark, sf_dir):
    """KMV multiset intersection — "how many users do two corpora
    SHARE" without an exact join: sketch A = purchasers with
    user_id%3≠0, sketch B = even users; X = the union's KMV, K∩ = X
    members present in both sides, est_intersection = (K∩/|X|)·
    est(|A∪B|). The set-operation capability that justifies KMV next
    to HLL. Hash-exact."""
    from margaret_spark.functions.kmv import kmv_intersect, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    a = kmv_sketch(
        ev.where(
            (F.col("event_type") == "purchase") & (F.col("user_id") % 3 != 0)
        ),
        "user_id",
        k=64,
    )
    b = kmv_sketch(ev.where(F.col("user_id") % 2 == 0), "user_id", k=64)
    return kmv_intersect(a, b, k=64)


def q_events_hll_groups(spark, sf_dir):
    """Per-group HLL (functions.hll with group_col): one independent
    256-register sketch per event_type, raw estimates beside exact
    distinct counts — the per-segment cardinality tracker. Same
    hash-exact arithmetic as events_hll_estimate, shuffle bounded by
    groups × 256 rows."""
    from margaret_spark.functions.hll import hll_estimate, hll_sketch

    ev = _events(spark, sf_dir).select("event_type", "user_id").where(
        F.col("user_id").isNotNull()
    )
    sk = hll_sketch(ev, "user_id", p=8, group_col="event_type")
    est = hll_estimate(sk, p=8, corrected=False, group_col="event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_n")
    )
    return est.join(exact, "event_type")


def q_stream_histogram(spark, sf_dir):
    """Streaming equi-width histogram (streaming/cms.py
    stream_histogram): the distribution member of the
    additive-partial family — a FIXED grid (32 bins over [0, 4096])
    so per-micro-batch partials merge by re-sum; the global histogram
    equals the batch histogram of the whole corpus, which is exactly
    what the oracle states."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_histogram, stream_histogram

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("string").alias("v")
    )
    base = tempfile.mkdtemp(prefix="stream_hist_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="v", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_histogram(
            log,
            F.col("value").cast("double"),
            sink,
            os.path.join(base, "ckpt"),
            bins=32,
            lo=0.0,
            hi=4096.0,
            available_now=True,
        )
        out = read_histogram(spark, sink).select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("n").cast("long").alias("n"),
        )
        return out
    finally:
        _defer_cleanup(base)


def q_events_bloom(spark, sf_dir):
    """Bloom filter (functions.bloom): m=512/k=4 membership filter
    built over the EVEN user ids, probed back over every distinct
    user and compared to ground truth — member is TRUE for every
    inserted key (no false negatives, the Bloom guarantee), and the
    visible false positives at this fill rate are themselves
    deterministic: the bit table uses the same md5 hash family as the
    CMS, so filter AND verdicts are hash-exact cross-engine. Build is
    one distinct aggregation bounded by m rows; the probe broadcasts
    the bit table."""
    from margaret_spark.functions.bloom import bloom_build, bloom_probe

    ev = _events(spark, sf_dir).select("user_id").where(
        F.col("user_id").isNotNull()
    )
    ins = ev.where(F.col("user_id") % 2 == 0)
    bits = bloom_build(ins, "user_id", m_bits=512, k_hashes=4)
    probed = bloom_probe(
        bits, ev.distinct(), "user_id", m_bits=512, k_hashes=4
    )
    return probed.select(
        "user_id",
        F.col("member"),
        (F.col("user_id") % 2 == 0).alias("actual"),
    )


def q_stream_bloom(spark, sf_dir):
    """Streaming Bloom filter (streaming/cms.py stream_bloom): the
    membership twin of stream_cms — each micro-batch writes its own
    partial bit table (overwrite per batch=<id>, replay-idempotent),
    and the global filter is the union-distinct of the partials (bits
    OR). The merged filter equals the batch filter of the whole
    corpus, which is exactly what the oracle states."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_bloom, stream_bloom

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    base = tempfile.mkdtemp(prefix="stream_bloom_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="source", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_bloom(
            log,
            F.col("value"),
            sink,
            os.path.join(base, "ckpt"),
            m_bits=256,
            k_hashes=4,
            available_now=True,
        )
        out = read_bloom(spark, sink).select(
            F.col("bit").cast("long").alias("bit")
        )
        return out
    finally:
        _defer_cleanup(base)


def q_stream_kmv(spark, sf_dir):
    """Streaming KMV (streaming/cms.stream_kmv): the set-operations
    member of the mergeable-partial family — each micro-batch writes
    its own <= k smallest distinct user hashes (replay-idempotent
    batch=<id> overwrite), and the global sketch is the k smallest of
    their union, equal to the batch sketch of the whole stream
    (min-k is a lossless union fold) — exactly what the oracle
    states. Completes the streaming twins: CMS sum, Bloom OR, HLL
    max, histogram add, KMV union-cut."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_kmv, stream_kmv

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    base = tempfile.mkdtemp(prefix="stream_kmv_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.LongType())
        log.append_df(ev, value_col="user_id", order_by="event_id")
        sink = os.path.join(base, "sink")
        stream_kmv(
            log, F.col("value"), sink, os.path.join(base, "ckpt"), k=64
        )
        out = read_kmv(spark, sink, k=64)
        return out
    finally:
        _defer_cleanup(base)


def q_stream_hll(spark, sf_dir):
    """Streaming HyperLogLog (streaming/cms.py stream_hll): the
    cardinality member of the additive-partial trio — each micro-batch
    writes its own partial register table (replay-idempotent
    batch=<id> overwrite), and the global sketch is the per-bucket MAX
    of the partials, equal to the batch sketch of the whole corpus —
    which is exactly what the oracle states."""
    import tempfile

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import read_hll, stream_hll

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    base = tempfile.mkdtemp(prefix="stream_hll_")
    try:
        log = OffsetLog(spark, os.path.join(base, "log"), value_type=T.StringType())
        log.append_df(docs, value_col="source", order_by="doc_id")
        sink = os.path.join(base, "sink")
        stream_hll(
            log,
            F.col("value"),
            sink,
            os.path.join(base, "ckpt"),
            p=8,
            available_now=True,
        )
        out = read_hll(spark, sink).select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("maxrank").cast("int").alias("maxrank"),
        )
        return out
    finally:
        _defer_cleanup(base)


def q_events_json(spark, sf_dir):
    """JSON codec surface (§2.5 op 37): extract props.k, aggregate."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.count("k").alias("n_with_k"),
        )
    )
