"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on a seeded CC-style
corpus (smoke check).  ``queries()`` — one entry per implemented operator
from SURVEY.md §2 plus the training-data operators; each takes
``(spark, sf_dir)`` and returns a DataFrame.  ``oracle_sql()`` — DuckDB
equivalents over the same parquet views; seeded sketch queries whose
semantics are deterministic but not SQL-recomputable (MinHash/SimHash
pair lists, LSH/IVF ANN) use frozen-golden VALUES twins
(``tools/freeze_pair_oracles.py``).

Column names are aliased identically on both sides (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


# lazy table handles, memoized per (application, dir, table): each
# `spark.read.parquet` pays ~110 ms of file listing + footer schema
# inference (measured r7), and the suite re-reads the same handful of
# tables for every query construction.  This caches the UNRESOLVED
# scan plan only — never data or results; every execution still scans
# the parquet inputs (the per-session file-listing cache the guide §6
# recommends, and what a production session gets from registering the
# tables once).  It assumes the sf dirs are static: a handle is never
# refreshed, so rewriting a table's files mid-session leaves its
# handle on the old file listing and schema.
_TABLES: dict[tuple[str, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # oracle SQL runs in DuckDB (TZ-naive); pin the Spark session to UTC
    # so timestamp truncation/formatting agrees regardless of host TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    df = _TABLES.get(key)
    if df is None:
        if _TABLES and next(iter(_TABLES))[0] != app:
            # a new session: drop the dead session's handles
            _TABLES.clear()
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLES[key] = df
    return df


def _par(spark: SparkSession, df: DataFrame, key: str = "doc_id"
         ) -> DataFrame:
    """Spread rows across the session's task slots before a per-row-
    heavy kernel — the one place query paths choose an input layout.
    The small bench parquet tables are one file with one row group —
    one scan task — and seeded corpora are one local relation, so
    without this every map-heavy stage (n-gram explodes, pandas-UDF
    kernels, quantized dot products) serializes on a single core
    (measured r7: doc_categories 2.08 s / dsir passes 7-8 s, each in a
    1-task stage).  Real corpora bring many splits; this hash
    repartition stands in for them at bench scale.  Results are
    partitioning-independent, so values are unchanged."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, key)


# ---------------------------------------------------------------------------
# entry: flagship extraction pipeline over the seeded corpus
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Extraction pipeline on 200 seeded corpus rows + the sf0.001
    documents table through the categorizer — returns per-category/status
    counts (stable schema, >0 rows)."""
    from docvault_ocr_service_spark import corpus
    from docvault_ocr_service_spark.functions.udfs import run_extraction
    from docvault_ocr_service_spark.schemas import INPUT_SCHEMA

    pages = spark.createDataFrame(corpus.corpus_pdf(200),
                                  schema=INPUT_SCHEMA)
    results = run_extraction(_par(spark, pages, "url"))
    return (
        results.groupBy("status", "category")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg("confidence"), 3).alias("avg_confidence"))
        .orderBy("status", "category")
    )


# ---------------------------------------------------------------------------
# relational coverage (TPC-H-flavored; scans/joins/aggregates — SURVEY §2.4)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
              F.sum("l_quantity").alias("sum_qty"),
              F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
              F.round(F.sum(F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))), 2)
               .alias("sum_disc_price"),
              F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
              F.count("*").alias("count_order"),
          )
    )


def q3_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1995-03-15")
    # the segment filter keeps ~1/5 of customers — too big to broadcast
    # at 10^9-customer scale; AQE will still broadcast when it fits
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .groupBy("l_orderkey",
                   F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                   "o_orderpriority")
          .agg(F.round(F.sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount"))), 2)
                .alias("revenue"))
          .where(F.col("revenue") > 1000)
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
          .join(cust, (orders.o_custkey == cust.c_custkey)
                & (cust.c_nationkey == supp.s_nationkey))
          .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
          .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
          .groupBy("n_name")
          .agg(F.round(F.sum(F.col("l_extendedprice")
                             * (1 - F.col("l_discount"))), 2)
                .alias("revenue"))
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 flavor: EXISTS via left-semi join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01"))
    late_items = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1996-07-01").select("l_orderkey")
    return (orders.join(late_items,
                        orders.o_orderkey == late_items.l_orderkey,
                        "left_semi")
                  .groupBy("o_orderpriority")
                  .agg(F.count("*").alias("order_count")))


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 flavor: pure filter + aggregate (pushdown showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1996-01-01")
                     & (F.col("l_shipdate") < "1997-01-01")
                     & (F.col("l_discount").between(0.05, 0.07))
                     & (F.col("l_quantity") < 24))
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 * F.col("l_discount")), 2)
                    .alias("revenue"),
                   F.count("*").alias("n_items")))


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 flavor: bilateral shipping volume between two nations
    per ship year (two dimension broadcasts, one fact shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    # customer is NOT broadcast: at real TPC-H scale it is a fact-sized
    # table — AQE picks the strategy; supplier/nation stay broadcast
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
          .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nk"))
          .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nk"))
          .where(((F.col("cust_nation") == "NATION_2")
                  & (F.col("supp_nation") == "NATION_7"))
                 | ((F.col("cust_nation") == "NATION_7")
                    & (F.col("supp_nation") == "NATION_2"))))
    return (joined.groupBy("supp_nation", "cust_nation",
                           F.year("l_shipdate").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items")))


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 flavor: revenue lost to returned items per customer."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01"))
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # exact arithmetic: per-row revenue quantized to 1e-4 (identical
    # doubles on both engines round identically), summed as BIGINT —
    # immune to the FP sum-order penny drift a 600-group rollup hits
    rev_e4 = F.round(F.col("l_extendedprice")
                     * (1 - F.col("l_discount")) * 10000, 0).cast("long")
    # customer not broadcast (fact-sized at real scale); nation is tiny
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
          .join(cust, orders.o_custkey == cust.c_custkey)
          .join(F.broadcast(nation),
                cust.c_nationkey == nation.n_nationkey)
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(F.sum(rev_e4).alias("revenue_e4")))
    return out.where(F.col("revenue_e4") > 3000 * 10000)


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: promo parts' revenue share in one month."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01")
        & (F.col("l_shipdate") < "1996-10-01"))
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev)
                        .otherwise(0.0)) / F.sum(rev), 6)
         .alias("promo_revenue_pct"),
        F.count("*").alias("n_items"))


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 flavor: disjunctive brand/size/quantity brackets —
    the predicate-pushdown-through-OR stress case."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#2")
           & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#3")
           & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30))))
    return j.where(bracket).agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_items"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 flavor: suppliers achieving the maximum quarterly
    revenue (correlated max as a scalar agg + broadcast join — no
    single-partition window exchange)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01"))
    supp = _t(spark, sf_dir, "supplier")
    rev_e4 = F.round(F.col("l_extendedprice")
                     * (1 - F.col("l_discount")) * 10000, 0).cast("long")
    per_supp = (li.groupBy("l_suppkey")
                .agg(F.sum(rev_e4).alias("total_revenue_e4")))
    mx = per_supp.agg(F.max("total_revenue_e4").alias("__mx"))
    top = (per_supp.join(F.broadcast(mx))
           .where(F.col("total_revenue_e4") == F.col("__mx"))
           .drop("__mx"))
    return (top.join(F.broadcast(supp),
                     top.l_suppkey == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue_e4"))


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 flavor: customers with any order whose total quantity
    exceeds a threshold (aggregate-then-semi-join shape)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .where(F.col("total_qty") > 150))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("o_orderdate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.col("total_qty").cast("double").alias("total_qty")))


def q_rollup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over orders."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
              .agg(F.count("*").alias("n_orders"),
                   F.round(F.sum("o_totalprice"), 2).alias("total"))
              .select(F.coalesce("o_orderstatus", F.lit("ALL"))
                       .alias("status"),
                      F.coalesce("o_orderpriority", F.lit("ALL"))
                       .alias("priority"),
                      "n_orders", "total")
    )


def q_pivot_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation: order counts per customer
    segment × order status."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .agg(*[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0))
             .alias(f"n_{s.lower()}")
            for s in ("O", "F", "P")
        ])
    )


def q_customers_without_orders(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Anti join: customers that never ordered, counted per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    idle = cust.join(orders,
                     cust.c_custkey == orders.o_custkey, "left_anti")
    return (idle.join(F.broadcast(nation),
                      idle.c_nationkey == nation.n_nationkey)
                .groupBy("n_name")
                .agg(F.count("*").alias("n_idle_customers")))


def q_top_suppliers_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank: top-3 suppliers by revenue within each nation."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = (li.groupBy("l_suppkey")
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))), 2)
                   .alias("revenue")))
    joined = (rev.join(F.broadcast(supp),
                       rev.l_suppkey == supp.s_suppkey)
                 .join(F.broadcast(nation),
                       supp.s_nationkey == nation.n_nationkey))
    w = Window.partitionBy("n_name").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey").asc())
    return (joined.withColumn("rnk", F.row_number().over(w))
                  .where(F.col("rnk") <= 3)
                  .select("n_name", "s_suppkey", "revenue", "rnk"))


def q_distinct_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + conditional count over part."""
    part = _t(spark, sf_dir, "part")
    return part.agg(
        F.count_distinct("p_type").alias("n_types"),
        F.count_distinct("p_brand").alias("n_brands"),
        F.sum(F.when(F.col("p_size") > 25, 1).otherwise(0))
         .cast("long").alias("n_large"),
    )


# ---------------------------------------------------------------------------
# events: windowed/time-series operators
# ---------------------------------------------------------------------------

def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type")
          .agg(F.count("*").alias("n_events"),
               F.round(F.sum("value"), 3).alias("sum_value"))
    )


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via window functions."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_break = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    with_sid = with_break.withColumn(
        "session_no",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        with_sid.groupBy("user_id", "session_no")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 3).alias("session_value"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n_events").alias("max_session_events"),
             F.round(F.sum("session_value"), 3).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# documents: text-analysis operators (native columnar)
# ---------------------------------------------------------------------------

def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per event type (linear interpolation)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6)
                  .alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 6)
                  .alias("p90"),
                 F.round(F.min("value"), 6).alias("vmin"),
                 F.round(F.max("value"), 6).alias("vmax")))


def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click annotated with the user's most recent prior
    (or simultaneous) purchase value; aggregated per user for stability."""
    from docvault_ocr_service_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("pvalue")))
    clicks = ev.where(F.col("event_type") == "click") \
        .select("event_id", "user_id", "ts")
    joined = asof_join(clicks, purchases, key="user_id", order="ts",
                       payload_cols=("pvalue",))
    return (joined.groupBy("user_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.sum(F.when(F.col("pvalue_asof").isNull(), 1)
                        .otherwise(0)).cast("long")
                  .alias("clicks_before_any_purchase"),
                 F.round(F.sum(F.coalesce("pvalue_asof", F.lit(0.0))), 3)
                  .alias("sum_asof_value")))


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.functions.textstats import token_count

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count(F.col("text")).alias("n_tok"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_tok"), 6).alias("avg_tokens"),
                 F.max("n_tok").cast("long").alias("max_tokens"),
                 F.sum("n_tok").cast("long").alias("total_tokens"))
    )


def doc_stopword_punct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.functions.textstats import (
        STOPWORDS_EN, punct_ratio, stopword_ratio)

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            stopword_ratio(F.col("text"), STOPWORDS_EN).alias("sw"),
            punct_ratio(F.col("text")).alias("pr"))
        .groupBy("lang")
        .agg(F.round(F.avg("sw"), 6).alias("avg_stopword_ratio"),
             F.round(F.avg("pr"), 6).alias("avg_punct_ratio"))
    )


def source_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup — the per-host analytics a crawl
    pipeline runs to decide which sources to keep (fully columnar; the
    oracle re-derives the composite quality score in SQL)."""
    from docvault_ocr_service_spark.functions.textstats import (
        quality_score, token_count)

    docs = _t(spark, sf_dir, "documents")
    return (docs.select("source",
                        quality_score(F.col("text")).alias("q"),
                        token_count(F.col("text")).alias("n_tok"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("q"), 6).alias("avg_quality"),
                 F.round(F.min("q"), 6).alias("min_quality"),
                 F.round(F.max("q"), 6).alias("max_quality"),
                 F.round(F.avg("n_tok"), 6).alias("avg_tokens")))


def pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): documents are laid into
    512-token context windows in doc_id order; the oracle recomputes the
    prefix-sum assignment per doc in SQL."""
    from docvault_ocr_service_spark.functions.textstats import token_count
    from docvault_ocr_service_spark.operators.packing import pack_sequences

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
            .select("doc_id",
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens")))
    packed = pack_sequences(docs, "doc_id", "n_tokens", window=512)
    return packed.select("doc_id", "n_tokens", "start_tok",
                         "first_win", "last_win", "n_windows_spanned")


def url_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 grouping (functions/web.py::registrable_domain): hosts
    with flat TLDs, multi-label public suffixes (co.uk / com.au /
    github.io), PSL WILDCARD rules (*.ck, *.kawasaki.jp), PSL
    EXCEPTION rules (!www.ck, !city.kawasaki.jp), subdomain prefixes,
    raw IPs and single labels roll up to their registrable domain;
    DuckDB recomputes the domain from the same keying formulas."""
    from docvault_ocr_service_spark.functions.web import (
        with_registrable_domain)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    site = F.concat(F.lit("site"), (d % 7).cast("string"))
    suffix = (F.when(d % 12 == 0, F.lit("com"))
              .when(d % 12 == 1, F.lit("co.uk"))
              .when(d % 12 == 2, F.lit("github.io"))
              .when(d % 12 == 3, F.lit("org"))
              .when(d % 12 == 4, F.lit("com.au"))
              .when(d % 12 == 5, F.lit("de"))
              .when(d % 12 == 6, F.lit("ck"))
              # r6: rules only the packaged full-list snapshot carries
              .when(d % 12 == 9, F.lit("hokkaido.jp"))
              .when(d % 12 == 10, F.lit("k12.ca.us"))
              .when(d % 12 == 11, F.lit("sch.uk"))
              .otherwise(F.lit("kawasaki.jp")))
    name = (F.when((d % 12 == 7) & (d % 2 == 0), F.lit("city"))
            .when(d % 12 == 8, F.lit("www"))
            .otherwise(site))
    prefix = (F.when(d % 3 == 0, F.lit(""))
              .when(d % 3 == 1, F.lit("www."))
              .otherwise(F.lit("a.b.")))
    tld = F.when(d % 12 == 8, F.lit("ck")).otherwise(suffix)
    host = (F.when(d % 11 == 0,
                   F.concat(F.lit("192.168.0."), (d % 5).cast("string")))
            .when(d % 13 == 0, F.lit("localhost"))
            .otherwise(F.concat(prefix, name, F.lit("."), tld)))
    return (with_registrable_domain(docs.select("doc_id"), host,
                                    "domain")
            .select("domain")
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n"))
            .orderBy("domain"))


def url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host rollup (functions/web.py): synthetic
    crawl URLs with mixed-case authorities, default ports, fragments and
    query strings are canonicalized columnar-ly, grouped by parsed host.
    The oracle re-derives canonicalization with SQL regexes."""
    from docvault_ocr_service_spark.functions.web import (
        canonicalize_url, url_host, url_query)

    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 4 == 0, F.lit("HoSt")).otherwise(F.lit("host")),
        (d % 23).cast("string"),
        F.when(d % 4 == 0, F.lit(".ExAmple.COM"))
         .otherwise(F.lit(".example.com")),
        F.when(d % 3 == 0,
               F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
         .otherwise(F.lit("")),
        F.lit("/Path/"), d.cast("string"),
        F.when(d % 5 == 0, F.lit("?ref=Abc")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#Frag")).otherwise(F.lit("")))
    docs = (_t(spark, sf_dir, "documents").where(d < 400)
            .select("doc_id", raw.alias("raw_url")))
    canon = canonicalize_url(F.col("raw_url"))
    enriched = docs.select(
        "doc_id", "raw_url", canon.alias("url"),
        url_host(canon).alias("host"),
        url_query(canon).alias("query"))
    return (enriched.groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.count("query").alias("n_with_query"),
                 F.sum((F.col("url") != F.col("raw_url"))
                       .cast("long")).alias("n_canon_changed")))


def doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix sampler: 1500 tokens per source, rows taken in
    md5-of-id order with the boundary row included; oracle recomputes
    the windowed prefix sum."""
    from docvault_ocr_service_spark.functions.textstats import (
        sample_to_token_budget, token_count)

    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    token_count(F.col("text")).alias("n_tok")))
    out = sample_to_token_budget(docs, "source", "n_tok", 1500,
                                 F.col("doc_id").cast("string"))
    return out.select("doc_id", "source",
                      F.col("n_tok").cast("long").alias("n_tok"))


def sitemap_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery: per-host sitemap XML is composed from doc ids
    (entity-escaped query strings included), then sitemap_urls must
    recover exactly one unescaped URL per doc — the oracle knows the
    expected set without parsing XML."""
    from docvault_ocr_service_spark.functions.web import sitemap_urls

    d = F.col("doc_id")
    entries = (_t(spark, sf_dir, "documents").where(d < 400)
               .select(F.concat(F.lit("h"), (d % 10).cast("string"))
                       .alias("host"),
                       F.concat(F.lit("<url><loc> https://h"),
                                (d % 10).cast("string"), F.lit("/p/"),
                                d.cast("string"),
                                F.lit("?a=1&amp;b=2 </loc></url>"))
                       .alias("entry")))
    sitemaps = (entries.groupBy("host")
                .agg(F.concat_ws(
                    "", F.sort_array(F.collect_list("entry")))
                    .alias("sitemap_xml")))
    return sitemap_urls(sitemaps)


def robots_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness filter (functions/web.py::filter_by_robots): synthetic
    per-host robots.txt (blanket disallow / longest-prefix allow-beats-
    disallow / query-targeted disallow / no robots at all) applied to
    synthetic crawl URLs with query strings; the oracle re-derives every
    verdict from the same rule literals (RFC 9309 matches rule prefixes
    against path-plus-query)."""
    from docvault_ocr_service_spark.functions.web import filter_by_robots

    d = F.col("doc_id")
    urls = (_t(spark, sf_dir, "documents").where(d < 400)
            .select("doc_id",
                    F.concat(F.lit("https://host"),
                             (d % 23).cast("string"),
                             F.lit(".example.com/Path/"),
                             d.cast("string"),
                             F.lit("?q="),
                             (d % 7).cast("string")).alias("url")))
    hosts = spark.range(23).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(F.col("id") % 3 == 0,
               F.lit("User-agent: *\nDisallow: /Path/1\n"
                     "Allow: /Path/12\n"
                     "Disallow: /Path/3?q=3\n"
                     "Disallow: /Path/72?q=2\n"))
         .when(F.col("id") % 3 == 1,
               F.lit("User-agent: *\nDisallow: /\n"))
         .otherwise(F.lit(None)).alias("robots_txt"))
    robots = hosts.where(F.col("robots_txt").isNotNull())
    out = filter_by_robots(urls, robots, keep_denied=True)
    return out.select("doc_id", F.col("robots_allowed").alias("allowed"))


def doc_nfc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC hygiene, oracle-checked against DuckDB's
    nfc_normalize: texts are salted with decomposed sequences (e +
    combining acute) and the normalizer must merge them."""
    from docvault_ocr_service_spark.functions.textstats import (
        nfc_normalize_text)

    aug = F.concat(F.col("text"),
                   F.lit(" café lévy Å"))
    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 300) & F.col("text").isNotNull())
            .select("doc_id", aug.alias("t")))
    out = docs.select(
        "doc_id",
        F.length("t").alias("len_raw"),
        F.col("t").alias("t"),
        nfc_normalize_text(F.col("t")).alias("nfc"))
    return out.agg(
        F.count("*").alias("n_docs"),
        F.sum("len_raw").cast("long").alias("chars_raw"),
        F.sum(F.length("nfc")).cast("long").alias("chars_nfc"),
        F.sum((F.col("nfc") != F.col("t")).cast("long"))
         .alias("n_changed"))


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.functions.textstats import detect_lang

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", detect_lang(F.col("text")).alias("lang_pred"))
            .groupBy("lang", "lang_pred")
            .agg(F.count("*").alias("n_docs"))
    )


def doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    groups = exact_dedup(docs, "doc_id", "text")
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("dup_count").alias("n_docs"),
        F.max("dup_count").alias("max_group"),
        F.sum(F.when(F.col("dup_count") > 1, 1).otherwise(0))
         .alias("n_dup_groups"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.btrim("text")), r"\s+", " ")
    return (
        docs.select("lang", F.md5(normalized).alias("fp"))
            .groupBy("lang")
            .agg(F.count_distinct("fp").alias("n_distinct_fp"),
                 F.count("*").alias("n_docs"))
    )


def doc_sample_tenth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/10 content-hash sample (portable across engines —
    unlike seeded RNG sampling, the same rows come back on any re-run)."""
    from docvault_ocr_service_spark.functions.textstats import (
        deterministic_sample, token_count)

    docs = _t(spark, sf_dir, "documents")
    sample = deterministic_sample(docs, F.col("text"), 10)
    return (sample.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(token_count(F.col("text"))).cast("long")
                  .alias("total_tokens"),
                 F.min("doc_id").alias("min_id")))


def doc_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.functions.udfs import with_category

    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return (
        with_category(docs, "text")
        .groupBy("category")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# extraction kernels verified against constructed documents (strong oracle)
# ---------------------------------------------------------------------------

_ORDER_DOC = (
    "Invoice: A{key} Date: {date} Amount Due: ${amt}.00 "
    "Contact: cust{cust}@example.com"
)


def _order_text_col() -> F.Column:
    return F.concat(
        F.lit("Invoice: A"), F.col("o_orderkey").cast("string"),
        F.lit(" Date: "), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit(" Amount Due: $"),
        (F.col("o_orderkey") % 900 + 100).cast("string"),
        F.lit(".00 Contact: cust"), F.col("o_custkey").cast("string"),
        F.lit("@example.com"),
    )


def invoice_metadata_from_orders(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Run the real metadata UDF over deterministically constructed invoice
    texts; the oracle computes the *expected* extraction analytically."""
    from docvault_ocr_service_spark.extract.metadata import extract_metadata
    from pyspark.sql import types as T

    @F.pandas_udf(T.StructType([
        T.StructField("n_dates", T.IntegerType()),
        T.StructField("first_date", T.StringType()),
        T.StructField("n_amounts", T.IntegerType()),
        T.StructField("amount_total", T.DoubleType()),
        T.StructField("first_email", T.StringType()),
        T.StructField("first_invoice_no", T.StringType()),
    ]))
    def md(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            m = extract_metadata(t or "")
            rows.append({
                "n_dates": len(m["dates"]),
                "first_date": (min(m["dates"]).isoformat()
                               if m["dates"] else None),
                "n_amounts": len(m["amounts"]),
                "amount_total": float(sum(m["amounts"])),
                "first_email": m["emails"][0] if m["emails"] else None,
                "first_invoice_no": (m["invoice_numbers"][0]
                                     if m["invoice_numbers"] else None),
            })
        return pd.DataFrame(rows)

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(F.col("o_orderkey").alias("okey"),
                      md(_order_text_col()).alias("m"))
              .select("okey", "m.n_dates", "m.first_date", "m.n_amounts",
                      "m.amount_total", "m.first_email", "m.first_invoice_no")
    )


def categorize_orders_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorizer over constructed clear-winner texts; oracle knows the
    expected label per template."""
    from docvault_ocr_service_spark.functions.udfs import with_category

    orders = _t(spark, sf_dir, "orders")
    text = (
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(
            "INVOICE Invoice Number: INV-42 Amount Due: $100.00 "
            "payment terms net 30 days bill to customer"))
         .when(F.col("o_orderkey") % 3 == 1, F.lit(
            "RECEIPT Store receipt subtotal: $5.00 total: $6.00 "
            "thank you for shopping cash change: $1.00"))
         .otherwise(F.lit("zzz qqq www"))
    )
    docs = orders.select(F.col("o_orderkey"), text.alias("text"))
    return (with_category(docs, "text")
            .groupBy("category")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("category_confidence"), 6)
                  .alias("avg_conf")))


# ---------------------------------------------------------------------------
# dedup operators (documents ∪ shifted copy ⇒ known duplicate pairs)
# ---------------------------------------------------------------------------

_SHIFT = 1_000_000


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text")
    # the shingle/signature kernels downstream are per-row heavy and
    # the source is a 1-split file — spread first (see _par)
    return _par(spark, docs.unionByName(copy))


def minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (finds the corpus's planted
    near-duplicates).  The pair set depends on the seeded hash family,
    so its oracle is a frozen-golden VALUES twin; the analytically
    SQL-checkable invariant lives in ``minhash_recall``."""
    from docvault_ocr_service_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_doubled_docs(spark, sf_dir),
                              "doc_id", "text", min_jaccard=0.95)
    return pairs.select("a", "b", F.round("est_jaccard", 6)
                        .alias("est_jaccard"))


def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-0 pair summary (includes planted near-dups whose
    token bags coincide).  Frozen-golden VALUES oracle; the analytic
    invariant lives in ``simhash_recall``."""
    from docvault_ocr_service_spark.operators.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(_doubled_docs(spark, sf_dir),
                                "doc_id", "text", max_hamming=0)
    # tiny-vocab soups collapse to few sign patterns → huge pair sets;
    # summarize instead of materializing the quadratic list
    return pairs.agg(F.count("*").alias("n_pairs"),
                     F.count_distinct("a").alias("n_docs_with_dup"))


def _exact_dup_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (a < b) pairs with byte-identical text in the doubled corpus."""
    d = _doubled_docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h"))
    return (d.alias("l")
            .join(d.alias("r"), (F.col("l.h") == F.col("r.h"))
                  & (F.col("l.doc_id") < F.col("r.doc_id")))
            .select(F.col("l.doc_id").alias("a"),
                    F.col("r.doc_id").alias("b")))


def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: LSH recovers 100% of exact-duplicate pairs (identical
    text ⇒ identical signature ⇒ same band keys)."""
    from docvault_ocr_service_spark.operators.dedup import minhash_lsh_pairs

    truth = _exact_dup_truth(spark, sf_dir)
    found = minhash_lsh_pairs(_doubled_docs(spark, sf_dir),
                              "doc_id", "text", min_jaccard=0.95) \
        .select("a", "b").withColumn("hit", F.lit(1))
    joined = truth.join(found, ["a", "b"], "left")
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_recovered"),
    )


def simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.operators.dedup import simhash_near_pairs

    truth = _exact_dup_truth(spark, sf_dir)
    found = simhash_near_pairs(_doubled_docs(spark, sf_dir),
                               "doc_id", "text", max_hamming=0) \
        .select("a", "b").withColumn("hit", F.lit(1))
    joined = truth.join(found, ["a", "b"], "left")
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_recovered"),
    )


def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal, oracle-
    checked end-to-end: multi-line pages are composed (shared header +
    body + unique footer) and ``dedup_lines`` must strip every line that
    occurs in >1 distinct document — the header always, the body only
    when the corpus contains exact-duplicate texts.  The oracle reruns
    the whole pipeline in SQL and compares per-doc md5 of the cleaned
    text."""
    from docvault_ocr_service_spark.operators.dedup import dedup_lines

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 150) & F.col("text").isNotNull())
            .select("doc_id",
                    F.concat_ws(
                        "\n",
                        F.lit("SHARED HEADER BOILERPLATE LINE"),
                        F.col("text"),
                        F.concat(F.lit("unique footer "),
                                 F.col("doc_id"))).alias("text")))
    out = dedup_lines(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").cast("long").alias("clean_chars"))


def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced inspection set: exactly 3 docs per source, chosen by
    md5-of-id order (deterministic, engine-portable); oracle recomputes
    with QUALIFY row_number."""
    from docvault_ocr_service_spark.functions.textstats import (
        stratified_sample)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, "source",
                             F.col("doc_id").cast("string"), 3)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition metrics over composed
    multi-line pages (duplicated body line + a repeated-word tail);
    oracle reruns the same explode/groupBy pipeline in SQL."""
    from docvault_ocr_service_spark.functions.textstats import (
        repetition_signals)

    docs = (_t(spark, sf_dir, "documents")
            .where((F.col("doc_id") < 200) & F.col("text").isNotNull())
            .select("doc_id",
                    F.concat(F.col("text"), F.lit("\n"), F.col("text"),
                             F.lit("\ntail tail tail "),
                             F.col("doc_id").cast("string"))
                    .alias("text")))
    out = repetition_signals(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"))


def dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a deterministic pair graph (chains of
    four docs per decade): min-label propagation must converge to the
    analytic component ids (operators/dedup.py::connected_components —
    the transitive closure step group-exact dedup needs)."""
    from docvault_ocr_service_spark.operators.dedup import (
        connected_components)

    d = F.col("doc_id")
    edges = (_t(spark, sf_dir, "documents")
             .where((d < 300) & (d % 10 < 3))
             .select(d.alias("a"), (d + 1).alias("b")))
    return connected_components(edges).select("node", "component")


def image_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: perceptual image dedup (dHash + Hamming pigeonhole
    blocking) recovers 100% of exact image duplicates — an identical
    PNG decodes to an identical dHash, so every doubled pair collides
    at Hamming 0."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import image_dhash
    from docvault_ocr_service_spark.operators.dedup import (
        hamming_near_pairs)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 100)

    @F.pandas_udf(T.BinaryType())
    def mk_png(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            d = int(d)
            pix = np.fromfunction(
                lambda y, x: (x * (d % 7 + 1) + y * (d % 5 + 1) + d) % 256,
                (16, 16)).astype("uint8")
            out.append(encode_png(pix))
        return pd.Series(out)

    base = docs.select("doc_id", mk_png(F.col("doc_id")).alias("payload"))
    doubled = base.unionByName(
        base.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "payload"))
    media = doubled.select(F.col("doc_id").cast("string").alias("media_id"),
                           "payload")
    sigs = image_dhash(media).select(F.col("doc").cast("long").alias("doc"),
                                     "dhash")
    found = hamming_near_pairs(sigs, max_hamming=2, sig_col="dhash") \
        .select("a", "b").withColumn("hit", F.lit(1))
    truth = docs.select(F.col("doc_id").alias("a"),
                        (F.col("doc_id") + _SHIFT).alias("b"))
    joined = truth.join(found, ["a", "b"], "left")
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_recovered"),
    )


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/contamination.py): corpus
    docs sharing any word 8-gram with a benchmark slice, oracle-checked
    via list_intersect over the same gram sets."""
    from docvault_ocr_service_spark.operators.contamination import (
        ngram_contamination)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300) \
        .select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0).select("text")
    return ngram_contamination(docs, bench, "doc_id", "text", n=8)


def minhash_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: incremental dedup against a persisted signature index
    drops EVERY re-crawled copy — an identical text has an identical
    signature, so all its band keys collide with the index row and the
    verified estimate is 1.0.  (The continuous-crawl operator:
    operators/dedup.py::minhash_dedup_incremental.)"""
    from docvault_ocr_service_spark.operators.dedup import (
        minhash_dedup_incremental, minhash_signatures)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = minhash_signatures(docs, "doc_id", "text")
    new = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text")
    unique, pairs = minhash_dedup_incremental(
        new, index, "doc_id", "text", min_jaccard=0.95)
    n_new = docs.agg(F.count("*").alias("n_new"))
    n_dropped = (pairs.select("b").distinct()
                 .agg(F.count("*").alias("n_dropped")))
    n_unique = unique.agg(F.count("*").alias("n_unique"))
    return n_new.crossJoin(n_dropped).crossJoin(n_unique)


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over the deterministic pair set doc_id < 250 —
    fully SQL-expressible, so the oracle recomputes it from scratch."""
    from docvault_ocr_service_spark.operators.dedup import (
        ngram_jaccard_pairs)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text") \
        .where(F.col("doc_id") < 250)
    ids = docs.select(F.col("doc_id").alias("a"))
    pairs = ids.crossJoin(docs.select(F.col("doc_id").alias("b"))) \
               .where(F.col("a") < F.col("b"))
    exact = ngram_jaccard_pairs(docs, pairs, "doc_id", "text")
    return (exact.where(F.col("jaccard") >= 0.15)
                 .select("a", "b", F.round("jaccard", 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.operators.similarity import (
        brute_force_topk)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = _par(spark, emb.where(F.col("vec_id") >= 5), "vec_id")
    return brute_force_topk(corpus, queries, k=5).select(
        "query_id", "vec_id", "rank")


def knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized top-k (operators/similarity.py::int8_topk) on
    the same query/corpus split as knn_bruteforce.  Per-vector scales
    cancel in the cosine, so scoring is an exact BIGINT dot product +
    integer square norms; the one float ratio per pair is micro-
    quantized before ranking.  DuckDB replays quantization, integer
    dot and ranking value-for-value."""
    from docvault_ocr_service_spark.operators.similarity import (
        int8_topk)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = _par(spark, emb.where(F.col("vec_id") >= 5), "vec_id")
    return int8_topk(corpus, queries, k=5) \
        .orderBy("query_id", "rank")


def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search, oracle-checked: each query's
    top-3 among corpus vectors sharing its label (the predicate joins
    BEFORE the distance math); DuckDB recomputes with
    list_cosine_similarity + QUALIFY under the same label equality."""
    from docvault_ocr_service_spark.operators.similarity import (
        filtered_topk)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding")
    corpus = emb.where(F.col("vec_id") >= 5)
    return filtered_topk(corpus, queries, k=3, filter_col="label") \
        .select("query_id", "vec_id", "label", "rank")


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from docvault_ocr_service_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = _par(spark, emb.where(F.col("vec_id") >= 5), "vec_id")
    return lsh_topk(corpus, queries, k=5, dim=dim, n_planes=6,
                    n_tables=16, n_probes=2) \
        .select("query_id", "vec_id", "rank")


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (scale path #2); frozen-golden VALUES
    oracle (approximate results differ from brute force by design)."""
    from docvault_ocr_service_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    corpus = emb.where(F.col("vec_id") >= 5)
    return ivf_topk(corpus, queries, k=5, dim=dim, n_centroids=16,
                    nprobe=6).select("query_id", "vec_id", "rank")


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
           .groupBy("label", "pos")
           .agg(F.round(F.avg("v"), 4).alias("centroid_v"))
    )


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on a doubled corpus; the oracle
    recomputes the exact brute-force truth in SQL (at the 0.999999
    threshold the LSH pair set equals it)."""
    from docvault_ocr_service_spark.operators.similarity import (
        embedding_near_dup_pairs)

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "embedding"))
    dim = len(emb.select("embedding").first()[0])
    pairs = embedding_near_dup_pairs(doubled, dim, id_col="vec_id",
                                     min_cosine=0.999999)
    return pairs.select("a", "b")


def embedding_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: the OR-amplified multi-table LSH recovers 100% of the
    doubled-corpus exact pairs — an identical vector hashes to the same
    bucket in EVERY table, so (i, i+SHIFT) always collides."""
    from docvault_ocr_service_spark.operators.similarity import (
        embedding_near_dup_pairs)

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "embedding"))
    dim = len(emb.select("embedding").first()[0])
    truth = emb.select(F.col("vec_id").alias("a"),
                       (F.col("vec_id") + _SHIFT).alias("b"))
    found = embedding_near_dup_pairs(doubled, dim, id_col="vec_id",
                                     min_cosine=0.999999) \
        .select("a", "b").withColumn("hit", F.lit(1))
    joined = truth.join(found, ["a", "b"], "left")
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_recovered"),
    )


def _self_query_ann_recall(found: DataFrame) -> DataFrame:
    """Shared invariant shape: every self-query must retrieve a vector at
    cosine ≈ 1.0 (its own corpus copy is a guaranteed candidate)."""
    per_q = found.groupBy("query_id").agg(F.max("score").alias("best"))
    return per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum((F.col("best") >= 0.999999).cast("long")).alias("n_perfect"),
    )


def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: multi-table LSH always retrieves the exact duplicate of
    a self-query — identical vectors share every table's bucket, so the
    candidate set contains the copy and exact re-rank scores it 1.0."""
    from docvault_ocr_service_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _SHIFT).alias("query_id"), "embedding")
    found = lsh_topk(emb, queries, k=5, dim=dim, n_planes=6,
                     n_tables=16, n_probes=2)
    return _self_query_ann_recall(found)


def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: IVF always retrieves the exact duplicate of a
    self-query — an identical vector quantizes to the same nearest
    centroid, which is always among the query's nprobe probed lists."""
    from docvault_ocr_service_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + _SHIFT).alias("query_id"), "embedding")
    found = ivf_topk(emb, queries, k=5, dim=dim, n_centroids=16, nprobe=4)
    return _self_query_ann_recall(found)


# ---------------------------------------------------------------------------
# rows-only showcase ops (non-SQL-expressible)
# ---------------------------------------------------------------------------

def corpus_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extraction pipeline over 300 seeded corpus rows."""
    from docvault_ocr_service_spark import corpus
    from docvault_ocr_service_spark.functions.udfs import run_extraction
    from docvault_ocr_service_spark.schemas import INPUT_SCHEMA

    pages = spark.createDataFrame(corpus.corpus_pdf(300),
                                  schema=INPUT_SCHEMA)
    res = run_extraction(_par(spark, pages, "url"))
    return (res.groupBy("status", "source", "category")
               .agg(F.count("*").alias("n_docs")))


def pipeline_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSITION oracle: run_crawl_pipeline end to end (WARC →
    robots → resumable extraction → curation → exact decontamination →
    packing, plans/pipeline.py) over a deterministic 62-page WARC
    fixture (60 seeded corpus rows + one robots-blocked page + one
    mirror duplicate) with a benchmark equal to one surviving doc's
    golden extracted text.  Every stage is individually oracle-checked
    elsewhere; this row pins that the WIRING preserves the counts.
    DuckDB carries the frozen VALUES twin (the numbers are functions of
    the seeded corpus only — sf-independent, partitioning-independent;
    same freeze discipline as corpus_extract_stats)."""
    import json
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from docvault_ocr_service_spark import corpus
    from docvault_ocr_service_spark.plans.pipeline import (
        run_crawl_pipeline)
    from docvault_ocr_service_spark.sources.warc import encode_warc

    ts = datetime(2024, 3, 1, tzinfo=timezone.utc)
    recs = []
    for i in range(60):
        r = corpus.generate_row(i)
        recs.append({"url": r["url"], "warc_ts": ts,
                     "html": r["html"] or (r["text"] or "").encode()})
    recs.append({"url": "https://blocked.example/private/x",
                 "warc_ts": ts,
                 "html": b"<html><body><p>"
                         + b"never fetched " * 30 + b"</p></body></html>"})
    # mirror a doc that SURVIVES curation (row 23, contract_en) so the
    # exact-dedup stage visibly removes one row in the funnel
    r23 = corpus.generate_row(23)
    recs.append({"url": "https://mirror.example/copy-of-23",
                 "warc_ts": ts,
                 "html": r23["html"] or (r23["text"] or "").encode()})

    goldens = json.load(open("/root/repo/tests/goldens/"
                             "corpus_goldens.json"))
    # benchmark = a surviving doc's golden text -> the exact 8-gram
    # screen must drop it (decontaminated >= 1)
    bench_text = goldens["full_text"][recs[23]["url"]]

    tmp = tempfile.mkdtemp(prefix="pipeline_oracle_")
    try:
        import os

        warc_dir = os.path.join(tmp, "warc")
        os.makedirs(warc_dir)
        half = len(recs) // 2
        with open(os.path.join(warc_dir, "a.warc.gz"), "wb") as f:
            f.write(encode_warc(recs[:half], gzip_members=True))
        with open(os.path.join(warc_dir, "b.warc.gz"), "wb") as f:
            f.write(encode_warc(recs[half:], gzip_members=True))
        robots = spark.createDataFrame(
            [("blocked.example", "User-agent: *\nDisallow: /private\n")],
            ["host", "robots_txt"])
        bench = spark.createDataFrame([(bench_text,)], ["text"])
        rep = run_crawl_pipeline(
            spark, warc_dir, os.path.join(tmp, "state"),
            os.path.join(tmp, "out"), robots_df=robots,
            benchmark_df=bench, window=512)
        funnel = {r["stage"]: r["n"] for r in spark.read.parquet(
            os.path.join(tmp, "out", "funnel")).collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    row = (rep.pages_in, rep.robots_blocked, rep.extracted_done,
           rep.curated, rep.decontaminated, rep.total_tokens,
           rep.n_windows, funnel["input"], funnel["non_null"],
           funnel["quality_gated"], funnel["exact_unique"],
           funnel["near_unique"])
    return spark.createDataFrame(
        [tuple(int(x) for x in row)],
        "pages_in long, robots_blocked long, extracted_done long, "
        "curated long, decontaminated long, total_tokens long, "
        "n_windows long, funnel_input long, funnel_non_null long, "
        "funnel_quality_gated long, funnel_exact_unique long, "
        "funnel_near_unique long")


def semdedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py::semdedup — Abbas et al.
    2023): 200 deterministic md5-derived 8-dim vectors (pinned max
    pairwise cosine 0.9678 between distinct docs — tests/test_semdedup
    .py) plus an EXACT clone (id+100000) for every doc_id % 3 == 0.
    At min_cosine 0.9999 the duplicate groups are exactly the planted
    clone pairs regardless of how k-means clusters (identical vectors
    always share a cluster and tie on centroid distance, so the
    keep-lowest-id tiebreak fires) — DuckDB recomputes the kept set as
    the originals."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.operators.similarity import semdedup

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def mk_vec(ids: pd.Series) -> pd.Series:
        import hashlib

        return pd.Series([
            [float(int(hashlib.md5(f"{int(d)}:{k}".encode())
                       .hexdigest()[:8], 16) % 2001 - 1000)
             for k in range(8)]
            for d in ids])

    base = docs.select(F.col("doc_id").cast("long").alias("vec_id"),
                       mk_vec("doc_id").alias("embedding"))
    clones = base.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = base.unionByName(clones)
    kept = semdedup(corpus, dim=8, n_centroids=4, min_cosine=0.9999)
    return kept.select("vec_id").orderBy("vec_id")


def dsir_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (functions/dsir.py — Xie et al.
    2023): raw = documents < 400, target = the doc_id % 7 == 0 slice;
    hashed unigram+bigram buckets (md5-prefix, 256-bucket space),
    add-1-smoothed log ratios, per-doc importance, Gumbel-top-50.
    DuckDB replays the whole computation value-for-value (md5-prefix
    bucketing and the multiplicative-hash Gumbel keys are
    engine-portable by construction)."""
    from docvault_ocr_service_spark.functions.dsir import dsir_resample

    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .where(F.col("doc_id") < 400))
    target = docs.where(F.col("doc_id") % 7 == 0).select("text")
    picked = dsir_resample(docs, target, "doc_id", k=50, hex_chars=2)
    return picked.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("importance", 6).alias("importance"),
        F.round("score", 6).alias("score"),
    ).orderBy(F.col("score").desc(), "doc_id")


def quality_classifier_stats(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Trained fastText-style quality classifier (functions/
    quality_classifier.py): positives = documents < 200 verbatim,
    negatives = the same docs with word order REVERSED (identical
    unigrams — only the bigram buckets separate the classes), 3
    full-batch integer-quantized GD iterations over the 256-bucket
    space, then map-only scoring of the originals.  Because every
    cross-row accumulation is an exact scaled-integer sum and the
    update uses truncating division, DuckDB replays the entire
    training trajectory value-for-value (3 unrolled iterations)."""
    from docvault_ocr_service_spark.functions.quality_classifier import (
        score_quality, train_quality_classifier)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text")) \
        .where(F.col("doc_id") < 200)
    reversed_text = F.array_join(
        F.reverse(F.split(F.btrim("text"), r"\s+")), " ")
    labeled = docs.select(
        F.col("doc_id").cast("long").alias("id"), "text",
        F.lit(1).cast("long").alias("label")
    ).unionByName(docs.select(
        (F.col("doc_id") + 100000).cast("long").alias("id"),
        reversed_text.alias("text"),
        F.lit(0).cast("long").alias("label")))
    model = train_quality_classifier(_par(spark, labeled, "id"), "id",
                                     iters=3, hex_chars=2)
    scored = score_quality(docs.where(F.col("doc_id") < 60),
                           model, "doc_id", hex_chars=2)
    return scored.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("quality_margin", 6).alias("quality_margin"),
        F.round("quality_score", 6).alias("quality_score"),
    ).orderBy("doc_id")


def justext_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText main-content extraction (functions/justext.py,
    Pomikálek 2011) under the driver gate: a deterministic HTML page
    is built per doc — nav links (bad), a stopword filler paragraph
    whose repeat count sweeps the length thresholds (short → neargood
    → good), the doc's own ASCII-projected text prefix (class
    data-dependent), an occasional short "Edit" stub, a second filler
    on a different cadence, and a copyright footer (bad) — then
    classified context-free + context-sensitively.  The DuckDB twin
    replays the FULL pipeline (segmentation regexes, densities, both
    window passes) value-for-value; main_len applies the \\n\\n-join
    length formula."""
    from docvault_ocr_service_spark.functions.justext import (
        justext_classify)

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "text").where(F.col("doc_id") < 150)
    body = F.regexp_replace(
        F.regexp_replace(
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 120),
            "[^ -~]", " "),
        "[<>&]", " ")
    unit = "the fox ran to the den and it was dark in the pit "
    filler1 = F.repeat(F.lit(unit), (F.col("doc_id") % 5 + 1).cast("int"))
    filler2 = F.repeat(F.lit(unit),
                       ((F.col("doc_id") * 3 + 1) % 5 + 1).cast("int"))
    html = F.concat(
        F.lit('<div><a href="/">Home</a> <a href="/a">About pages</a>'
              '</div>'),
        F.lit("<p>"), filler1, F.lit("</p>"),
        F.lit("<p>"), body, F.lit("</p>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("<p>Edit this</p>")).otherwise(F.lit("")),
        F.lit("<p>"), filler2, F.lit("</p>"),
        F.lit("<p>© 2024 Example Corp</p>"))
    paras = justext_classify(docs.select("doc_id", html.alias("html")))
    n_good = F.sum((F.col("class") == "good").cast("long"))
    return (paras.groupBy("id")
            .agg(F.count("*").cast("long").alias("n_paragraphs"),
                 n_good.alias("n_good"),
                 F.sum((F.col("class") == "bad").cast("long"))
                 .alias("n_bad"),
                 F.sum((F.col("cf_class") == "short").cast("long"))
                 .alias("n_short_cf"),
                 F.sum((F.col("cf_class") == "neargood").cast("long"))
                 .alias("n_neargood_cf"),
                 (F.sum(F.when(F.col("class") == "good",
                               F.col("length")).otherwise(F.lit(0)))
                  + 2 * F.greatest(n_good - 1, F.lit(0)))
                 .cast("long").alias("main_len"))
            .select(F.col("id").cast("long").alias("doc_id"),
                    "n_paragraphs", "n_good", "n_bad", "n_short_cf",
                    "n_neargood_cf", "main_len")
            .orderBy("doc_id"))


def png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked: deterministic 16×16 gray
    gradient PNGs are built per doc_id, decoded through the pure-Python
    PNG codec (zlib inflate + unfiltering), and their quality metrics
    (app/ocr_service.py:100-133 analogue) aggregated; DuckDB recomputes
    brightness/contrast analytically from the pixel formula
    v = (doc_id*7 + k²) % 256 — an end-to-end encode→decode→stats check."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 300)

    @F.pandas_udf(T.BinaryType())
    def mk_png(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            k = np.arange(256)
            pix = ((int(d) * 7 + k * k) % 256) \
                .astype("uint8").reshape(16, 16)
            out.append(encode_png(pix))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_png(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status", "width", "height",
        F.round("brightness", 6).alias("brightness"),
        F.round("contrast", 6).alias("contrast"))


def jpeg_flat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG codec under the driver gate: a flat-color image's DC
    quantization error at quality 85 is < 0.5/pixel, so encode→decode is
    EXACT — brightness equals the color and contrast is 0, per doc."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.jpeg import encode_jpeg
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.BinaryType())
    def mk_jpeg(ids: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series([
            encode_jpeg(np.full((16, 24), (int(d) * 13) % 256,
                                dtype=np.uint8), quality=85)
            for d in ids])

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_jpeg(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status", "width", "height",
        F.round("brightness", 6).alias("brightness"),
        F.round("contrast", 6).alias("contrast"))


def jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive JPEG (SOF2) under the driver gate: per doc, a
    structured image is encoded both baseline and progressive (scan
    script — band split, DC/AC successive-approximation depth — keyed on
    doc_id) and both are decoded; progressive reorders the same
    quantized coefficients, so the pixel mismatch count is exactly 0."""
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 150)

    @F.pandas_udf(T.LongType())
    def prog_vs_base(ids: pd.Series) -> pd.Series:
        import numpy as np

        from docvault_ocr_service_spark.extract.jpeg import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive)

        bands_opts = (((1, 5), (6, 63)), ((1, 63),))
        out = []
        for d in ids:
            d = int(d)
            img = np.clip(np.fromfunction(
                lambda y, x: (d * 13) % 200 + 40 * np.sin(x / 3 + d)
                + 20 * np.cos(y / 2), (16, 24)), 0, 255).astype(np.uint8)
            base = decode_jpeg(encode_jpeg(img, quality=80))
            prog = decode_jpeg(encode_jpeg_progressive(
                img, quality=80, dc_al=d % 3, ac_al=d % 3,
                bands=bands_opts[d % 2]))
            out.append(int((base != prog).sum()))
        return pd.Series(out)

    return docs.select("doc_id",
                       prog_vs_base(F.col("doc_id")).alias("n_mismatch"))


def jpeg_arith_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded JPEG (extract/jpeg_arith.py, T.81 QM coder)
    under the driver gate — BOTH processes: per doc a deterministic
    image is encoded sequential-arithmetic (SOF9, Annex F statistics;
    subsampling / restart interval keyed on doc_id) AND
    progressive-arithmetic (SOF10, Annex G.2 models; scan script /
    successive-approximation depth keyed on doc_id), plus baseline
    Huffman.  All encoders share the quantized-coefficient front
    half, so both decoded pixel mismatch counts are exactly 0 for
    every doc."""
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 120)

    schema = T.StructType([
        T.StructField("n_mismatch", T.LongType()),
        T.StructField("n_mismatch_prog", T.LongType()),
    ])

    @F.pandas_udf(schema)
    def arith_vs_huffman(ids: pd.Series) -> pd.DataFrame:
        import numpy as np

        from docvault_ocr_service_spark.extract.jpeg import (
            decode_jpeg, encode_jpeg)
        from docvault_ocr_service_spark.extract.jpeg_arith import (
            encode_jpeg_arith, encode_jpeg_progressive_arith)

        seq_out, prog_out = [], []
        for d in ids:
            d = int(d)
            gray = np.clip(np.fromfunction(
                lambda y, x: (d * 17) % 180 + 35 * np.sin(x / 4 + d)
                + 25 * np.cos(y / 3), (16, 24)), 0, 255).astype(np.uint8)
            img = np.dstack([gray[:16, :16]] * 3) if d % 5 == 0 else gray
            sub = "420" if d % 5 == 0 and d % 2 == 0 else "444"
            ri = (0, 0, 2, 0, 3)[d % 5]
            huff = decode_jpeg(encode_jpeg(img, quality=80,
                                           subsampling=sub))
            arith = decode_jpeg(encode_jpeg_arith(
                img, quality=80, subsampling=sub, restart_interval=ri))
            seq_out.append(int((arith != huff).sum()))
            bands = (((1, 63),), ((1, 5), (6, 63)),
                     ((1, 2), (3, 20), (21, 63)))[d % 3]
            prog = decode_jpeg(encode_jpeg_progressive_arith(
                img, quality=80, subsampling=sub, restart_interval=ri,
                bands=bands, dc_al=d % 3, ac_al=(d + 1) % 3))
            prog_out.append(int((prog != huff).sum()))
        return pd.DataFrame({"n_mismatch": seq_out,
                             "n_mismatch_prog": prog_out})

    return docs.select("doc_id", arith_vs_huffman(F.col("doc_id"))
                       .alias("r")).select("doc_id", "r.n_mismatch",
                                           "r.n_mismatch_prog")


def tiff_compressed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-TIFF codecs under the driver gate: per doc, a
    deterministic 16×16 gradient is written as LZW, PackBits,
    LZW+horizontal-predictor or Adobe-deflate TIFF (compression keyed
    on doc_id) and decoded through extract_media_features.  All four
    are lossless, so
    DuckDB recomputes brightness/contrast analytically from the pixel
    formula v = (doc_id*11 + 3k) % 256 — parity with the reference's
    PIL-backed compressed multi-frame TIFF handling
    (tests/test_document_processor.py:157-176)."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_tiff_gray
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 240)

    @F.pandas_udf(T.BinaryType())
    def mk_tiff(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            d = int(d)
            k = np.arange(256)
            pix = ((d * 11 + 3 * k) % 256).astype("uint8").reshape(16, 16)
            kw = ({"compression": "lzw"},
                  {"compression": "packbits"},
                  {"compression": "lzw", "predictor": True},
                  {"compression": "deflate"})[d % 4]
            out.append(encode_tiff_gray([pix], **kw))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_tiff(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status", "width", "height",
        F.round("brightness", 6).alias("brightness"),
        F.round("contrast", 6).alias("contrast"))


def tiff_jpeg6_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Old-style JPEG-in-TIFF (Compression=6, TIFF 6.0 §22 — the last
    PIL-coverable TIFF variant, app/document_processor.py:99-176) under
    the driver gate: per doc a flat 16×24 gray page (value (doc_id*7)%
    256) is wrapped as an old-style TIFF — even docs via the
    JPEGInterchangeFormat pointer pair, odd docs with the 513/514 tags
    blanked so decode exercises the SOI-led-strip fallback layout —
    and decoded through extract_media_features.  Flat blocks make the
    lossy JPEG exact, so DuckDB recomputes brightness analytically."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_tiff_gray
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 120)

    @F.pandas_udf(T.BinaryType())
    def mk_tiff6(ids: pd.Series) -> pd.Series:
        import numpy as np

        from docvault_ocr_service_spark.extract.images import (
            retag_tiff_ifd)

        out = []
        for d in ids:
            d = int(d)
            pix = np.full((16, 24), (d * 7) % 256, dtype=np.uint8)
            t = encode_tiff_gray([pix], compression="jpeg_old")
            if d % 2:
                # blank the interchange pointer tags (proper IFD walk —
                # a find() could hit strip bytes): decode must fall
                # back to the strips-hold-a-full-stream layout some
                # old-style writers produced
                t = retag_tiff_ifd(t, {513: 59513, 514: 59514})
            out.append(t)
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_tiff6(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status", "width", "height",
        F.round("brightness", 6).alias("brightness"),
        F.round("contrast", 6).alias("contrast"))


def tiff_g4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT Group 4 fax TIFF under the driver gate: per doc a 16×16
    bilevel page (black iff x < doc_id%17, MinIsWhite) encodes through
    the pure-Python T.6 coder and decodes via extract_media_features;
    brightness/contrast are exact binomial formulas DuckDB recomputes
    (p = black fraction: brightness 255(1-p), contrast 255·sqrt(p(1-p)))."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_tiff_g4
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 240)

    @F.pandas_udf(T.BinaryType())
    def mk_g4(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            k = int(d) % 17
            img = (np.arange(16)[None, :] < k).astype("uint8") \
                * np.ones((16, 1), dtype="uint8")
            out.append(encode_tiff_g4([img]))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        mk_g4(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status", "width", "height",
        F.round("brightness", 6).alias("brightness"),
        F.round("contrast", 6).alias("contrast")).orderBy("doc_id")


def page_metadata_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction under the driver gate: deterministic
    page markup per doc (title/description/og/canonical/lang keyed on
    doc_id, with the meta attribute order flipping on doc_id%2 to
    exercise both regex arms) goes through the real columnar extractor;
    DuckDB recomputes every field with CASE/concat."""
    from docvault_ocr_service_spark.functions.pagemeta import (
        extract_page_metadata)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    desc_meta = F.when(
        d % 2 == 0,
        F.concat(F.lit('<meta name="description" content="About '),
                 (d % 7).cast("string"), F.lit('.">')),
    ).otherwise(
        F.concat(F.lit('<meta content="About '), (d % 7).cast("string"),
                 F.lit('." name="description">')))
    lang = F.element_at(F.array(F.lit("en"), F.lit("pl-PL"),
                                F.lit("de")), (d % 3 + 1).cast("int"))
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html lang="'), lang, F.lit('"><head><title> Doc '),
            ds, F.lit(' </title>'), desc_meta,
            F.lit('<meta property="og:title" content="OG '), ds,
            F.lit('"><link rel="canonical" href="https://host'),
            (d % 20).cast("string"), F.lit(".example/canon/"), ds,
            F.lit('"></head><body>x</body></html>'),
        ).alias("html_text"))
    meta = extract_page_metadata(page)
    return meta.select("doc_id", "title", "description", "og_title",
                       "canonical_url", "html_lang")


def feed_item_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS item extraction under the driver gate: per doc a feed with
    doc_id%3+1 items (titles/links/dates keyed on doc_id and item index)
    built as markup, parsed back by the real regexp path; DuckDB
    recomputes the exploded items analytically."""
    from docvault_ocr_service_spark.functions.pagemeta import (
        extract_feed_items)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 300)
    d = F.col("doc_id")

    def item(k):
        ks = F.lit(str(k))
        return F.when(
            d % 3 >= k - 1,
            F.concat(F.lit("<item><title>T"), d.cast("string"),
                     F.lit("-"), ks,
                     F.lit("</title><link>https://feed"),
                     (d % 9).cast("string"), F.lit(".example/i"),
                     ks, F.lit("</link></item>"))).otherwise(F.lit(""))

    feed = docs.select(
        d.cast("string").alias("url"),
        F.concat(F.lit("<rss><channel>"), item(1), item(2), item(3),
                 F.lit("</channel></rss>")).alias("xml"))
    items = extract_feed_items(feed)
    return items.select(
        F.col("feed").cast("long").alias("doc_id"),
        "item_no", "item_title", "item_link")


def gopher_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher rule set (Rae et al. 2021 A1.1) over the real
    documents table, aggregated per source; DuckDB recomputes every rule
    with list lambdas."""
    from docvault_ocr_service_spark.functions.textstats import gopher_rules

    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "source", "text"))
    rules = gopher_rules(docs)
    cnt = [F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long").alias(c)
           for c in ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                     "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
                     "r_stopwords", "gopher_pass")]
    return (rules.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"), *cnt)
            .orderBy("source"))


def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring under the driver gate: a char-
    trigram model (add-one smoothing) trains on the doc_id<100 slice
    and scores every document; DuckDB recomputes the model AND the
    scores from scratch.  Perplexity quantized to 1e-4 so sum-order FP
    drift can't flip the hash."""
    from docvault_ocr_service_spark.functions.ngram_lm import (
        score_perplexity, train_char_trigram_lm)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    c3, c2, v = train_char_trigram_lm(docs.where(F.col("doc_id") < 100))
    out = score_perplexity(_par(spark, docs), c3, c2, v)
    return out.select(
        "doc_id", "n_trigrams",
        F.floor(F.col("ppl") * 10000 + 0.5).cast("long").alias("ppl_q"))


def page_hreflang_extraction(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """hreflang alternate-language links (functions/pagemeta.py::
    extract_hreflang — translation groups a multilingual corpus
    balances instead of near-deduping): fixtures plant 1+(d%3)
    alternates in both attribute orders plus an x-default; DuckDB
    rebuilds the pages and replays the same regexes."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.pagemeta import (
        extract_hreflang)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.StringType())
    def mk_html(ids: pd.Series) -> pd.Series:
        langs = ("en", "fr", "de", "es")

        def page(i: int) -> str:
            tags = []
            for k in range(1 + i % 3):
                lang = langs[(i + k) % 4]
                target = f"https://ex.com/{lang}/p/{i}"
                tags.append(
                    f'<link rel="alternate" hreflang="{lang}" '
                    f'href="{target}">'
                    if (i + k) % 2 == 0 else
                    f'<link href="{target}" hreflang={lang} '
                    f'rel=alternate>')
            if i % 5 == 0:
                tags.append('<link rel="alternate" '
                            'hreflang="x-default" '
                            f'href="https://ex.com/p/{i}">')
            return (f"<html><head>{''.join(tags)}</head>"
                    f"<body><p>page {i}</p></body></html>")

        return pd.Series([page(int(i)) for i in ids])

    url = F.concat(F.lit("https://ex.com/p/"),
                   F.col("doc_id").cast("string"))
    base = docs.select(url.alias("url"),
                       mk_html(F.col("doc_id")).alias("html_text"))
    return extract_hreflang(base).orderBy("url", "hreflang", "alt_url")


def page_jsonld_extraction(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """JSON-LD structured data (functions/pagemeta.py::extract_jsonld
    — publishers' schema.org blocks, the cleanest title/date/author
    source for recency weighting): deterministic pages carry an
    Article block (two attribute spellings), an invalid block on every
    sixth doc, and none on every fourth; DuckDB rebuilds the same
    html, runs the same RE2 block match, and extracts the same JSON
    paths with validity guards."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.pagemeta import (
        extract_jsonld)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.StringType())
    def mk_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            if i % 4 == 1:
                return f"<html><body><p>plain page {i}</p></body></html>"
            attr = ('type="application/ld+json"' if i % 2 == 0
                    else "type=application/ld+json")
            body = ('{"@type":"Article","headline":"Story ' + str(i)
                    + '","datePublished":"2024-0' + str(1 + i % 9)
                    + '-01","author":{"name":"Writer ' + str(i % 12)
                    + '"}}')
            blocks = f"<script {attr}>{body}</script>"
            if i % 6 == 0:
                blocks += ("<script type='application/ld+json'>"
                           "{not valid json</script>")
            return (f"<html><head>{blocks}</head><body>"
                    f"<p>page {i}</p></body></html>")

        return pd.Series([page(int(i)) for i in ids])

    url = F.concat(F.lit("https://ex.com/p/"),
                   F.col("doc_id").cast("string"))
    base = docs.select(url.alias("url"),
                       mk_html(F.col("doc_id")).alias("html_text"))
    return extract_jsonld(base).orderBy("url", "block_idx")


def doc_text_hygiene_stats(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Homoglyph folding + adjacent-line collapse (functions/
    textstats.py::fold_confusables / collapse_repeated_lines — the
    anti-SEO hygiene pass before hash dedup/decontamination): fixtures
    plant Cyrillic/fullwidth look-alikes, zero-width characters and
    stuttered lines by doc_id formula; DuckDB rebuilds the same text
    and replays the SAME translate table, zero-width class and
    index-aware line filter — the folded string compares
    byte-identically."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.textstats import (
        collapse_repeated_lines, fold_confusables)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")

    @F.pandas_udf(T.StringType())
    def mk_text(ids: pd.Series) -> pd.Series:
        def build(i: int) -> str:
            first = (f"pаypаl аlert {i}" if i % 2 == 0       # Cyrillic а
                     else f"paypal alert {i}")
            mid = "\n".join([f"repeat me {i % 7}"] * (1 + i % 4))
            tail = (f"ＦＵＬＬ　ｗｉｄｔｈ {i}" if i % 3 == 0
                    else f"plain tail {i}")
            zw = ("zero​width" if i % 5 == 0       # ZWSP inside
                  else "zero\u00a0width")            # NBSP otherwise
            return "\n".join([first, mid, tail, zw])

        return pd.Series([build(int(i)) for i in ids])

    base = docs.withColumn("text", mk_text(d))
    text = F.col("text")
    return (base.select(
        "doc_id",
        fold_confusables(text).alias("folded"),
        F.size(F.split(text, r"\n")).alias("n_lines_before"),
        F.size(F.split(collapse_repeated_lines(text), r"\n"))
        .alias("n_lines_after"))
        .orderBy("doc_id"))


def corpus_datasheet_stats(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """The one-call dataset datasheet (plans/report.py::
    corpus_datasheet — size, token percentiles, language mix, exact-dup
    rate, domain concentration): run over the documents table with
    formula-derived urls; DuckDB recomputes every cell (tokenizer sums,
    quantile_cont percentiles, md5 dup grouping, domain rollup)."""
    from docvault_ocr_service_spark.plans.report import corpus_datasheet

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text",
                                                 "lang")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://sub"), (d % 3).cast("string"),
                   F.lit(".site"), (d % 9).cast("string"),
                   F.lit(".co.uk/p/"), d.cast("string"))
    return corpus_datasheet(docs.withColumn("url", url),
                            url_col="url")


def mp4_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/QuickTime container metadata (extract/video.py — the video
    sibling of the MP3/FLAC header parsers; frame decode needs ffmpeg
    so the media path lands honest metadata_only:mp4 rows):
    deterministic ISO-BMFF skeletons parse back through the real media
    decode path; DuckDB replays duration (both floor divisions of the
    timescale roundtrip), dims and track counts from the same
    formulas."""
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 150)

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("decode_status", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ])

    def check(batches):
        from docvault_ocr_service_spark.extract.video import (
            encode_mp4_stub)
        from docvault_ocr_service_spark.functions.multimodal import (
            _decode_row)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                ts = (600, 1000, 90000)[d % 3]
                tracks = [(320 + d, 240 + d % 100)]
                if d % 4 == 0:
                    tracks.append((0, 0))        # audio-only track
                payload = encode_mp4_stub(
                    1000 + d * 37, timescale=ts,
                    tracks=tuple(tracks))
                row = _decode_row(str(d), "video", payload)
                rows.append((d, row["decode_status"], row["width"],
                             row["height"], row["n_frames"],
                             int(row["features"][0])))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    return docs.mapInPandas(check, schema=out_schema).orderBy("doc_id")


def media_exif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction without pixel decode (extract/exif.py — the
    orientation/provenance/geotag-privacy signals a media pipeline
    reads before anything else): real JPEGs get a crafted APP1 Exif
    segment from doc_id formulas (one in four docs carries none, one
    in five carries a GPS IFD); the parser reads them back through
    the Spark kernel and DuckDB replays every field from the same
    formulas."""
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 150)

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("datetime", T.StringType()),
        T.StructField("pixel_x", T.IntegerType()),
        T.StructField("pixel_y", T.IntegerType()),
        T.StructField("has_gps", T.BooleanType()),
    ])

    def check(batches):
        import numpy as np

        from docvault_ocr_service_spark.extract.exif import (
            build_exif_app1, parse_exif)
        from docvault_ocr_service_spark.extract.jpeg import encode_jpeg

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                img = np.full((8, 8, 3), (d * 7) % 256, np.uint8)
                jpg = encode_jpeg(img)
                if d % 4 != 3:
                    app1 = build_exif_app1(
                        orientation=1 + d % 8,
                        make=f"Make{d % 6}",
                        model=f"Model {d % 10}",
                        datetime_str=f"2024:{1 + d % 9:02d}:01 "
                                     f"10:00:00",
                        pixel_x=100 + d, pixel_y=200 + d % 50,
                        with_gps=(d % 5 == 0))
                    jpg = jpg[:2] + app1 + jpg[2:]
                m = parse_exif(jpg)
                rows.append((d, m["orientation"], m["make"],
                             m["model"], m["datetime"], m["pixel_x"],
                             m["pixel_y"], m["has_gps"]))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    return docs.mapInPandas(check, schema=out_schema).orderBy("doc_id")


def doc_mixed_language_stats(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Per-paragraph language segmentation (functions/textstats.py::
    paragraph_language_profile — what doc-level language ID gets
    wrong on bilingual pages): fixtures plant en/pl/de/unidentifiable
    paragraphs by doc_id formula; DuckDB splits the same text, votes
    each paragraph with the same marker lists, and replays dominance,
    language counts and the mixed flag."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.textstats import (
        paragraph_language_profile)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.StringType())
    def mk_text(ids: pd.Series) -> pd.Series:
        def build(i: int) -> str:
            t = "the cat and the dog with many words are here"
            if i % 3 == 0:
                t += "\n\njest dom się czy dla nas teraz"
            if i % 9 == 0:
                t += "\n\nale od na do o jak być nie zawsze"
            if i % 4 == 0:
                t += "\n\nder hund und die katze nicht das haus"
            if i % 5 == 0:
                t += "\n\nzzz qqq xyzzy blorp"
            return t

        return pd.Series([build(int(i)) for i in ids])

    base = docs.withColumn("text", mk_text(F.col("doc_id")))
    return (paragraph_language_profile(base)
            .orderBy("doc_id"))


def doc_domain_cap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (functions/web.py::cap_per_domain
    — the C4/FineWeb anti-SEO-spam measure): a planted link-farm
    domain carrying 60% of the corpus is capped at max_pages=20 while
    small legitimate sites pass untouched; DuckDB replays the
    md5-deterministic keep set with QUALIFY."""
    from docvault_ocr_service_spark.functions.web import cap_per_domain

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = (F.when(d % 10 < 6, F.lit("spam.example"))
            .otherwise(F.concat(F.lit("site"), (d % 5).cast("string"),
                                F.lit(".example"))))
    url = F.concat(F.lit("https://"), host, F.lit("/page/"),
                   d.cast("string"))
    capped = cap_per_domain(docs.withColumn("url", url), max_pages=20)
    return (capped
            .select(F.regexp_extract("url", r"https://([^/]+)/", 1)
                    .alias("domain"), "doc_id")
            .groupBy("domain")
            .agg(F.count("*").cast("long").alias("n_kept"),
                 F.min("doc_id").alias("min_kept_id"))
            .orderBy("domain"))


def doc_domain_split_stats(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Leakage-safe corpus splits (functions/web.py::split_by_domain):
    the split key is the registrable domain, so every subdomain page
    of a site lands in the same split — DuckDB recomputes the md5
    bucket per domain and the invariant that no domain straddles
    splits is pinned by construction (counts grouped by split must
    match the domain-level recomputation exactly)."""
    from docvault_ocr_service_spark.functions.web import split_by_domain

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://sub"), (d % 3).cast("string"),
                   F.lit(".site"), (d % 7).cast("string"),
                   F.lit(".co.uk/p/"), d.cast("string"))
    out = split_by_domain(docs.withColumn("url", url),
                          valid_pct=20, test_pct=20)
    return (out.groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct(
                     F.regexp_extract("url", r"\.(site\d+\.co\.uk)/",
                                      1)).cast("long")
                 .alias("n_domains"))
            .orderBy("split"))


def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (functions/ngram_lm.py::
    ppl_buckets — Wenzek et al. 2020 §4.3, the slice selection step
    after LM scoring): per-language ntile(3) over quantized perplexity
    ascending, unscorable docs in an explicit bucket; DuckDB recomputes
    the trigram model, the scores, AND the ntile split."""
    from docvault_ocr_service_spark.functions.ngram_lm import (
        ppl_buckets, score_perplexity, train_char_trigram_lm)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text",
                                                 "lang")
    c3, c2, v = train_char_trigram_lm(docs.where(F.col("doc_id") < 100))
    scored = (score_perplexity(_par(spark, docs), c3, c2, v)
              .withColumn("ppl_q",
                          F.floor(F.col("ppl") * 10000 + 0.5)
                          .cast("long"))
              .join(docs.select("doc_id", "lang"), "doc_id"))
    return (ppl_buckets(scored)
            .groupBy("lang", "ppl_bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.coalesce(F.sum("ppl_q"), F.lit(0)).cast("long")
                 .alias("sum_ppl_q"))
            .orderBy("lang", "ppl_bucket"))


def bpe_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE under the driver gate: merges trained on a doc
    slice (vocab-table iteration, deterministic top-1), every document
    encoded with them, and decode(encode(text)) compared against the
    whitespace-normalized source — the tokenizer identity the oracle
    can assert corpus-wide (n_roundtrip_ok must equal n_docs; n_merges
    is the requested 8, pinned)."""
    from docvault_ocr_service_spark.functions.bpe import (
        decode_bpe, encode_bpe, train_bpe)

    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "text")
                .where(F.col("text").isNotNull()
                       & (F.length(F.trim("text")) > 0)))
    merges = train_bpe(docs.where(F.col("doc_id") < 60), n_merges=8)
    enc = encode_bpe(docs, merges)
    normalized = F.btrim(F.regexp_replace(F.col("text"), r"\s+", " "))
    return enc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(decode_bpe(F.col("bpe_tokens")) == normalized, 1)
              .otherwise(0)).cast("long").alias("n_roundtrip_ok"),
        F.lit(len(merges)).cast("int").alias("n_merges"))


def frontier_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier expansion under the driver gate: anchor markup per
    doc links to 3 formula-derived urls; the REAL pipeline (link extract
    → canonicalize → seen anti-join → host-rank join → per-host
    politeness window → global top-30) picks the next fetch batch, and
    DuckDB recomputes the whole batch analytically."""
    from docvault_ocr_service_spark.plans.frontier import build_frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")

    def target(k):
        return F.concat(F.lit("https://host"),
                        ((d * 7 + k) % 20).cast("string"),
                        F.lit(".example/x"),
                        ((d + k) % 50).cast("string"))

    anchors = [F.concat(F.lit('<a href="'), target(k), F.lit('">l</a>'))
               for k in (1, 2, 3)]
    pages = docs.select(
        F.concat(F.lit("https://host"), (d % 20).cast("string"),
                 F.lit(".example/p"), d.cast("string")).alias("url"),
        F.concat(*anchors).alias("html_text"))
    seen = (spark.range(20).crossJoin(
                spark.range(10).withColumnRenamed("id", "j"))
            .select(F.concat(F.lit("https://host"),
                             F.col("id").cast("string"),
                             F.lit(".example/x"),
                             F.col("j").cast("string")).alias("url")))
    ranks = spark.range(20).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        ((F.col("id") % 5) / 10.0).alias("rank"))
    out = build_frontier(pages, seen, None, ranks,
                         per_host_limit=2, limit=30)
    return out.select("url", "host", F.round("rank", 6).alias("rank"))


def fuzzy_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash) benchmark decontamination: every 10th document
    doubles as a benchmark item; the screen must recover each item's
    own source doc at est_jaccard 1.0 (the analytic invariant — extra
    near-dup hits are hash-family-dependent and not pinned here, like
    the recall-style dedup oracles)."""
    from docvault_ocr_service_spark.operators.contamination import (
        fuzzy_contamination)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5000).alias("bench_id"), "text")
    hits = fuzzy_contamination(docs, bench, "doc_id", "text")
    self_hits = hits.agg(
        F.sum(F.when((F.col("bench_id") == F.col("doc_id") + 5000)
                     & (F.col("est_jaccard") == 1.0), 1).otherwise(0))
         .cast("long").alias("n_self_hits"))
    n_bench = bench.agg(F.count("*").cast("long").alias("n_bench"))
    return self_hits.crossJoin(n_bench)    # two scalar frames


def sitemap_lastmod_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap <url> entry parsing with <lastmod> (functions/web.py::
    sitemap_entries — the table plan_recrawl consumes): per doc a
    synthetic urlset with two entries cycling W3C-datetime /
    date-only / invalid / absent lastmod forms; DuckDB recomputes
    urls and parsed timestamps (as strings) from the same formulas."""
    from docvault_ocr_service_spark.functions.web import sitemap_entries

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")
    lastmod1 = (F.when(d % 4 == 0,
                       F.concat(F.lit("<lastmod>2024-02-"),
                                F.lpad((d % 28 + 1).cast("string"), 2, "0"),
                                F.lit("T06:30:00Z</lastmod>")))
                .when(d % 4 == 1,
                      F.concat(F.lit("<lastmod>2024-03-"),
                               F.lpad((d % 28 + 1).cast("string"), 2, "0"),
                               F.lit("</lastmod>")))
                .when(d % 12 == 2, F.lit("<lastmod>2024</lastmod>"))
                .when(d % 12 == 6, F.lit("<lastmod>2024-05</lastmod>"))
                .when(d % 4 == 2, F.lit("<lastmod>soonish</lastmod>"))
                .otherwise(F.lit("")))
    xml = F.concat(
        F.lit("<urlset><url><loc>https://m.example/a"), d.cast("string"),
        F.lit("</loc>"), lastmod1, F.lit("</url><url><loc> https://m.example/b"),
        d.cast("string"), F.lit(" </loc></url></urlset>"))
    sm = docs.select(F.lit("m.example").alias("host"), xml.alias("sitemap_xml"))
    out = sitemap_entries(sm)
    return out.select(
        "host", "url",
        F.date_format("lastmod", "yyyy-MM-dd HH:mm:ss").alias("lastmod"),
    ).orderBy("url")


def dedup_keep_best_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted canonical selection (operators/dedup.py::
    dedup_keep_best): exact-dup clusters over the doubled corpus (pairs
    from content-hash equality, resolved through the real
    connected-components + quality window) must keep exactly the
    highest-quality member per content group — which DuckDB recomputes
    directly as an argmax per md5(text)."""
    docs = _doubled_docs(spark, sf_dir).select(
        "doc_id", "text",
        ((F.col("doc_id") * 37) % 97).cast("double").alias("q"))
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    pairs = (hashed.alias("l").join(
                 hashed.alias("r"),
                 (F.col("l.h") == F.col("r.h"))
                 & (F.col("l.doc_id") < F.col("r.doc_id")))
             .select(F.col("l.doc_id").alias("a"),
                     F.col("r.doc_id").alias("b")))
    from docvault_ocr_service_spark.operators.dedup import dedup_keep_best

    kept = dedup_keep_best(docs, pairs, "doc_id", "q")
    return kept.select(F.col("doc_id").cast("long").alias("doc_id")) \
        .orderBy("doc_id")


def recrawl_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (plans/frontier.py::plan_recrawl): sitemap
    lastmod and crawl-state timestamps derived from doc_id formulas
    produce the new/modified/expired partition; DuckDB recomputes the
    reasons and the md5-ordered global cap."""
    from docvault_ocr_service_spark.plans.frontier import plan_recrawl

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 300)
    d = F.col("doc_id")
    url = F.concat(F.lit("https://s.example/p"), d.cast("string"))
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    lastmod = F.when(d % 5 == 4, F.lit(None).cast("timestamp")) \
        .otherwise(F.timestamp_seconds(
            F.unix_timestamp(base) + (d % 90) * 86400))
    sitemap = docs.select(url.alias("url"), lastmod.alias("lastmod"))
    # state: every 7th url unknown (new); others crawled day (d%60)
    state = (docs.where(d % 7 != 0)
             .select(url.alias("url"),
                     F.timestamp_seconds(
                         F.unix_timestamp(base) + (d % 60) * 86400)
                     .alias("last_crawled")))
    now = "2024-03-15 00:00:00"
    out = plan_recrawl(sitemap, state, now, default_ttl_days=30,
                       limit=100)
    return out.orderBy("url")


def domain_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality blocklist (functions/web.py::
    derive_domain_blocklist): documents map to synthetic registrable
    domains; the page-level verdict is two Gopher rules (word count in
    [50, 100000], mean word length in [3, 10]) computed columnar-ly,
    degraded deterministically for spam-keyed domains; DuckDB
    recomputes verdicts, rates and block flags."""
    from docvault_ocr_service_spark.functions.web import (
        derive_domain_blocklist)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    domain = F.concat(F.lit("d"), (d % 30).cast("string"),
                      F.lit(".example"))
    # spam-keyed domains (d%30 in {0,1,2}) get their text truncated to
    # 10 words -> fails the 50-word floor on every page
    toks = F.split(F.col("text"), " ")
    text = F.when(d % 30 < 3,
                  F.concat_ws(" ", F.slice(toks, 1, 10))) \
        .otherwise(F.col("text"))
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    mean_len = (F.aggregate(words, F.lit(0).cast("long"),
                            lambda acc, w: acc + F.length(w))
                .cast("double") / n_words)
    passed = ((n_words >= 50) & (n_words <= 100_000)
              & (mean_len >= 3.0) & (mean_len <= 10.0))
    base = docs.select(domain.alias("domain"), passed.alias("passed"))
    return derive_domain_blocklist(base).orderBy("domain")


def anchor_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inlink anchor-text aggregation (operators/linkgraph.py::
    anchor_text_index): anchor markup with formula-derived targets and
    phrases (incl. nested tags the extractor must strip) rolls up to
    per-target inlink counts and the top anchor; DuckDB rebuilds the
    triple set and the count-desc window analytically."""
    from docvault_ocr_service_spark.operators.linkgraph import (
        anchor_text_index)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")

    def anchor(k):
        return F.concat(
            F.lit(f'<a href="https://host'),
            ((d * 7 + k) % 20).cast("string"),
            F.lit(".example/x"), ((d + k) % 50).cast("string"),
            F.lit('">anchor <b>phrase</b> '),
            ((d + k) % 5).cast("string"), F.lit("</a>"))

    pages = docs.select(
        F.concat(F.lit("https://src"), d.cast("string"),
                 F.lit(".example/p")).alias("url"),
        F.concat(anchor(1), anchor(2), anchor(3)).alias("html_text"))
    out = anchor_text_index(pages)
    return out.select(
        "dst",
        F.col("n_inlinks").cast("long").alias("n_inlinks"),
        F.col("n_distinct_anchors").cast("long")
         .alias("n_distinct_anchors"),
        F.element_at("top_anchors", 1).alias("top_anchor"),
    ).orderBy("dst")


def host_boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-scoped boilerplate removal (operators/dedup.py::
    strip_host_boilerplate): synthetic hosts carry an identical
    menu/footer line on every page plus one unique content line; hosts
    with ≥3 pages lose exactly the template chrome, singleton hosts
    stay untouched.  DuckDB recomputes the per-host page counts, kept
    line counts and kept chars analytically."""
    from docvault_ocr_service_spark.operators.dedup import (
        strip_host_boilerplate)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    host = F.when(d % 10 == 0,
                  F.concat(F.lit("solo"), d.cast("string"))) \
        .otherwise(F.concat(F.lit("h"), (d % 7).cast("string")))
    content = F.concat(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)),
        F.lit(" page "), d.cast("string"), F.lit("."))
    page = F.concat(
        F.lit("MENU "), host, F.lit(" NAV BAR HERE\n"),
        content, F.lit("\n"),
        F.lit("Copyright "), host, F.lit(" footer line here."))
    pages = docs.select(d.alias("doc_id"), host.alias("host"),
                        page.alias("text"))
    out = strip_host_boilerplate(pages, "doc_id", "host", "text")
    return (out.groupBy("host")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum(F.size(F.split(F.col("clean_text"), "\n")))
                  .cast("long").alias("kept_lines"),
                 F.sum(F.length("clean_text")).cast("long")
                  .alias("clean_chars"))
            .orderBy("host"))


def robots_sitemap_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap: directive extraction from robots.txt (sitemaps.org
    protocol — global, not group-scoped): synthetic robots bodies carry
    0-2 directives in mixed case/indentation plus commented and
    lookalike lines, keyed on doc_id; DuckDB recomputes the exploded
    (host, sitemap_url) set."""
    from docvault_ocr_service_spark.functions.web import (
        robots_sitemap_urls)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 40).cast("string"),
                    F.lit(".example"))
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.when(d % 3 == 0, F.concat(
            F.lit("Sitemap: https://"), host, F.lit("/s"),
            d.cast("string"), F.lit(".xml\n"))).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(
            F.lit("  sitemap:https://"), host,
            F.lit("/extra.xml\n"))).otherwise(F.lit("")),
        F.lit("# Sitemap: https://commented.example/no.xml\n"
              "NotSitemap: https://lookalike.example/no.xml\n"))
    robots = docs.select(d.alias("doc_id"), host.alias("host"),
                         body.alias("robots_txt"))
    return (robots_sitemap_urls(robots)
            .groupBy("host")
            .agg(F.count("*").cast("long").alias("n_directives"),
                 F.min("sitemap_url").alias("first_url"))
            .orderBy("host"))


def doc_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8-as-latin1 mojibake repair (functions/textstats.py::
    fix_mojibake): accented phrases are planted per doc clean,
    single-corrupted, or double-corrupted (keyed doc_id%3), repaired,
    and compared engine-side against the known clean form; DuckDB pins
    the expected changed/repaired pattern analytically."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.textstats import (
        fix_mojibake)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    phrases = ["café déjà-vu", "łódź świt", "naïve façade", "über straße"]

    def corrupt(s: str) -> str:
        b = s.encode("utf-8")
        try:
            return b.decode("cp1252")
        except UnicodeDecodeError:
            return b.decode("latin-1")

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def plant(ids: pd.Series, texts: pd.Series) -> pd.Series:
        out = []
        for d, t in zip(ids, texts):
            d = int(d)
            # ASCII-project the carrier text so the oracle's expected
            # changed/repaired pattern holds for ANY corpus content
            # (a non-cp1252 doc char would abort the repair)
            t = (t or "").encode("ascii", "ignore").decode()
            phrase = phrases[d % 4]
            planted = phrase
            if d % 3 >= 1:
                planted = corrupt(planted)
            if d % 3 == 2:
                planted = corrupt(planted)
            out.append([f"{t} {planted}", f"{t} {phrase}"])
        return pd.Series(out)

    base = docs.withColumn("pair", plant(F.col("doc_id"), F.col("text")))
    base = base.select(
        "doc_id",
        F.element_at("pair", 1).alias("dirty"),
        F.element_at("pair", 2).alias("clean"))
    fixed = base.withColumn("fixed", fix_mojibake(F.col("dirty")))
    return fixed.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("fixed") != F.col("dirty")).alias("changed"),
        (F.col("fixed") == F.col("clean")).alias("repaired"),
    ).orderBy("doc_id")


def c4_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2), aggregated per
    source.  The documents table is single-line word soup, so each doc
    first becomes a multi-line page (sentence lines built from its own
    tokens + planted short/unterminated/javascript/lorem-ipsum/brace
    lines keyed on doc_id); DuckDB rebuilds the identical page and
    recomputes the full line + page filter."""
    from docvault_ocr_service_spark.functions.textstats import c4_rules

    docs = _t(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")
    d = F.col("doc_id")
    toks = F.split(F.col("text"), " ")

    def sent(start, punct):
        return F.concat(F.concat_ws(" ", F.slice(toks, start, 8)),
                        F.lit(punct))

    lines = [
        F.concat(sent(1, "."), F.lit(" "), sent(9, "!")),
        sent(17, "?"),
        F.lit("too short."),
        F.concat_ws(" ", F.slice(toks, 25, 6)),
    ]
    page = F.concat_ws("\n", *lines)
    page = F.when(d % 5 == 0, F.concat(
        page, F.lit("\nplease enable javascript to continue today.")
    )).otherwise(page)
    page = F.when(d % 7 == 0, F.concat(
        page, F.lit("\nlorem ipsum dolor sit amet here."))).otherwise(page)
    page = F.when(d % 11 == 0, F.concat(
        page, F.lit("\na config { brace } example line."))).otherwise(page)

    out = c4_rules(docs.withColumn("text", page))
    return (out.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("c4_pass"), 1).otherwise(0))
                  .cast("long").alias("n_pass"),
                 F.sum("c4_kept_lines").cast("long").alias("kept_lines"),
                 F.sum(F.length("c4_text")).cast("long")
                  .alias("clean_chars"),
                 F.sum("c4_sentences").cast("long").alias("sentences"))
            .orderBy("source"))


def frontier_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay-weighted politeness caps in the frontier: hosts
    declare robots Crawl-delay 120/45/25/none (keyed h%4), the batch
    window is 60 s, so per-host budgets become 0/1/2/flat-cap-3; DuckDB
    recomputes the capped batch analytically."""
    from docvault_ocr_service_spark.plans.frontier import build_frontier

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")

    def target(k):
        return F.concat(F.lit("https://host"),
                        ((d * 7 + k) % 20).cast("string"),
                        F.lit(".example/x"),
                        ((d + k) % 50).cast("string"))

    anchors = [F.concat(F.lit('<a href="'), target(k), F.lit('">l</a>'))
               for k in (1, 2, 3)]
    pages = docs.select(
        F.concat(F.lit("https://host"), (d % 20).cast("string"),
                 F.lit(".example/p"), d.cast("string")).alias("url"),
        F.concat(*anchors).alias("html_text"))
    seen = (spark.range(20).crossJoin(
                spark.range(10).withColumnRenamed("id", "j"))
            .select(F.concat(F.lit("https://host"),
                             F.col("id").cast("string"),
                             F.lit(".example/x"),
                             F.col("j").cast("string")).alias("url")))
    ranks = spark.range(20).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        ((F.col("id") % 5) / 10.0).alias("rank"))
    robots = spark.range(20).select(
        F.concat(F.lit("host"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(F.col("id") % 4 == 0, F.lit("Crawl-delay: 120\n"))
             .when(F.col("id") % 4 == 1, F.lit("Crawl-delay: 45\n"))
             .when(F.col("id") % 4 == 2, F.lit("Crawl-delay: 25\n"))
             .otherwise(F.lit(""))).alias("robots_txt"))
    out = build_frontier(pages, seen, robots, ranks,
                         per_host_limit=3, limit=30, batch_window_s=60)
    return out.select("url", "host", F.round("rank", 6).alias("rank"))


def doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing (p_i ∝ f_i^(1/2), total 100)
    over the documents table; DuckDB recomputes the quotas and the
    md5-ordered draw."""
    from docvault_ocr_service_spark.functions.textstats import (
        temperature_sample)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_sample(docs, "source",
                             F.col("doc_id").cast("string"),
                             total_rows=100, temperature=2.0)
    return out.select("doc_id", "source")


def doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. ExactSubstr, k-gram form) over
    the real documents table: tokens covered by any corpus-duplicated
    8-gram are removed.  DuckDB recomputes the whole pass — grams via
    list_slice over a lateral series, the same \\x1f-joined gram keys,
    coverage, and reassembly — and both sides report the md5 of the
    cleaned text."""
    from docvault_ocr_service_spark.operators.substring_dedup import (
        dedup_exact_substrings)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup_exact_substrings(docs, k=8)
    return out.select(
        "doc_id", "n_tokens", "n_removed",
        F.md5(F.col("clean_text")).alias("clean_md5"))


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link graph + fixed-iteration PageRank under the driver gate:
    deterministic anchor markup per doc (host doc_id%20 links to hosts
    (doc_id*7+k)%20, k=1..3) goes through the REAL pipeline — columnar
    href extraction → weighted host multigraph (self-loops dropped) →
    3 PageRank iterations with dangling-mass handling — while DuckDB
    recomputes the edges analytically and unrolls the same 3 iterations
    in SQL.  Ranks quantized to micro-units (BIGINT) so sum-order FP
    drift can't flip the hash."""
    from docvault_ocr_service_spark.operators.linkgraph import (
        extract_links, host_edges, pagerank)

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def host_of(e):
        return F.concat(F.lit("host"), (e % 20).cast("long").cast("string"),
                        F.lit(".example"))

    anchors = [
        F.concat(F.lit('<a href="https://'),
                 host_of(F.col("doc_id") * 7 + k),
                 F.lit(f'/x{k}">l</a> '))
        for k in (1, 2, 3)
    ]
    page = docs.select(
        F.concat(F.lit("https://"), host_of(F.col("doc_id")),
                 F.lit("/p"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(*anchors).alias("html_text"))
    pr = pagerank(host_edges(extract_links(page)), damping=0.85, iters=3)
    return pr.select(
        "host",
        F.round(F.col("rank") * 1e6, 0).cast("long").alias("rank_micro"))


def host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (operators/linkgraph.py::hits) under the
    driver gate, on the same deterministic 20-host fixture graph as
    host_pagerank: host doc_id%20 links to hosts (doc_id*7+k)%20,
    k=1..3, through the REAL pipeline (columnar href extraction →
    weighted multigraph → 3 L1-normalized HITS iterations) while
    DuckDB recomputes the edges analytically and unrolls the same 3
    iterations in SQL.  Scores quantized to micro-units (BIGINT) so
    sum-order FP drift can't flip the hash."""
    from docvault_ocr_service_spark.operators.linkgraph import (
        extract_links, hits, host_edges)

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def host_of(e):
        return F.concat(F.lit("host"), (e % 20).cast("long").cast("string"),
                        F.lit(".example"))

    anchors = [
        F.concat(F.lit('<a href="https://'),
                 host_of(F.col("doc_id") * 7 + k),
                 F.lit(f'/x{k}">l</a> '))
        for k in (1, 2, 3)
    ]
    page = docs.select(
        F.concat(F.lit("https://"), host_of(F.col("doc_id")),
                 F.lit("/p"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(*anchors).alias("html_text"))
    hs = hits(host_edges(extract_links(page)), iters=3)
    return hs.select(
        "host",
        F.round(F.col("hub") * 1e6, 0).cast("long").alias("hub_micro"),
        F.round(F.col("auth") * 1e6, 0).cast("long").alias("auth_micro"),
    ).orderBy("host")


_BM25_QUERIES = [
    (1, "fast hash join"),
    (2, "window agg merge"),
    (3, "customer query line"),
    (4, "big vector scan table"),
]


def bm25_search_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/search.py) over the real documents
    table: four fixed queries, top-5 each.  Scores are exact BIGINT
    sums of micro-quantized per-term contributions (quantized BEFORE
    the cross-row sum, so partitioning can't reorder float adds);
    DuckDB rebuilds the postings/lengths/df tables and replays the
    same Lucene-shaped formula, ties broken on doc_id both sides."""
    from docvault_ocr_service_spark.operators.search import bm25_topk

    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "text"))
    # pandas → Arrow: lands as JVM-side batches, no Python-worker
    # parallelize tasks in the broadcast build (same trick as the
    # classifier's weight table)
    queries = spark.createDataFrame(
        pd.DataFrame(_BM25_QUERIES,
                     columns=["query_id", "query_text"]),
        schema="query_id long, query_text string")
    return bm25_topk(docs, queries, top_k=5) \
        .orderBy("query_id", "rank")


def html_table_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> extraction (functions/tables_html.py) over pages
    synthesized deterministically from the documents table: every doc
    gets a specs table with a <th> header row + 1+doc_id%3 data rows
    carrying planted entities (&amp;, &nbsp;, &#39;) and markup, docs
    with doc_id%7==0 an empty spacer <tr></tr> (dropped), docs with
    doc_id%5==0 a second upper-case single-row table.  DuckDB builds
    the identical strings and replays the RE2-compatible regex
    pipeline (lazy table/row/cell matches, tag-strip, entity order,
    whitespace collapse) byte-for-byte."""
    from docvault_ocr_service_spark.functions.tables_html import (
        extract_tables)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    data_rows = F.array_join(F.transform(
        F.sequence(F.lit(0), (i % 3).cast("int")),
        lambda j: F.concat(
            F.lit("<tr><td>k&amp;"), i.cast("string"), F.lit("-"),
            j.cast("string"),
            F.lit("</td><td><b>v</b>&nbsp;"),
            (i * 7 + j).cast("string"),
            F.lit("&#39;</td></tr>"))), "")
    spacer = F.when(i % 7 == 0, F.lit("<tr></tr>")).otherwise(F.lit(""))
    second = F.when(
        i % 5 == 0,
        F.concat(F.lit("<TABLE><TR><TD>x"), i.cast("string"),
                 F.lit("</TD></TR></TABLE>"))).otherwise(F.lit(""))
    page = docs.select(
        F.concat(F.lit("https://t.example/p"), i.cast("string"))
        .alias("url"),
        F.concat(
            F.lit("<html><body><table class=\"specs\">"
                  "<tr><th>Name</th><th>Value</th></tr>"),
            spacer, data_rows,
            F.lit("</table><p>gap</p>"), second,
            F.lit("</body></html>")).alias("html_text"))
    return (extract_tables(page)
            .select("url", "table_idx", "row_idx",
                    F.col("n_cells"),
                    "is_header",
                    F.array_join("cells", "|").alias("cells_joined"))
            .orderBy("url", "table_idx", "row_idx"))


def bloom_contamination_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom screen-then-verify decontamination
    (operators/contamination.py::bloom_contamination) with the
    benchmark drawn deterministically from the corpus itself
    (doc_id % 83 == 0 → 7 docs at sf0.01), so exact hits are
    guaranteed and the observable false-positive split is a pure
    function of the text.  hex_chars=5 (1M-slot filter) + k=2 keeps
    the filter sparse (FP band visible but small at any sf).  DuckDB rebuilds the filter's
    position set from the same md5 prefixes and replays the
    all-k-positions-set membership test bit-for-bit."""
    from docvault_ocr_service_spark.operators.contamination import (
        bloom_contamination)

    # the screen is shuffle-free until its final groupBy, so its
    # parallelism is the INPUT partitioning
    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "text"))
    bench = docs.where(F.col("doc_id") % 83 == 0).select("text")
    return bloom_contamination(docs, bench, "doc_id", "text",
                               n=13, hex_chars=5, k=2) \
        .orderBy("doc_id")


def corpus_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift (functions/collocations.py::corpus_drift):
    corpus A = even doc_ids, corpus B = odd doc_ids with " drifted"
    planted 1+doc_id%3 times — the rising list must surface the
    planted term and both KL directions go positive.  DuckDB replays
    the add-1-smoothed distributions, the 1e-12-quantized per-term
    contributions and the ordered term lists value-for-value."""
    from docvault_ocr_service_spark.functions.collocations import (
        corpus_drift)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") % 2 == 0).select("text")
    b = docs.where(F.col("doc_id") % 2 == 1).select(
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.repeat(F.lit(" drifted"),
                          (1 + F.col("doc_id") % 3).cast("int")))
        .alias("text"))
    return corpus_drift(a, b, top_k=5)


def doc_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (functions/textstats.py::split_sentences
    / sentence_stats) over the documents table with terminators
    planted deterministically (every " value " token becomes "! ", so
    sentence counts vary per doc).  DuckDB replays the RE2-compatible
    sentence regex, trim + empty-drop, and the exact-sum mean."""
    from docvault_ocr_service_spark.functions.textstats import (
        sentence_stats)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.regexp_replace(F.coalesce(F.col("text"), F.lit("")),
                         " value ", "! ")
    return (sentence_stats(docs.select("doc_id", t.alias("text")))
            .select("doc_id", "n_sentences",
                    "mean_sentence_chars_micro", "max_sentence_chars")
            .orderBy("doc_id"))


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (functions/chunking.py) over the real
    documents table: 64-token windows, 16-token overlap (stride 48);
    the last window always reaches the final token.  Chunk text is
    md5-fingerprinted so the compare stays light; DuckDB rebuilds the
    windows with 1-based inclusive list slices and integer-division
    start math (Spark's double-div + int-cast truncates, DuckDB's
    double→int cast ROUNDS — the twin must use `//`)."""
    from docvault_ocr_service_spark.functions.chunking import (
        chunk_documents)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (chunk_documents(docs, chunk_tokens=64, overlap=16)
            .select("doc_id", "chunk_idx", "n_tokens",
                    F.md5(F.col("chunk_text")).alias("chunk_md5"))
            .orderBy("doc_id", "chunk_idx"))


def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary diagnostics (functions/collocations.py::
    vocab_stats): token/vocab totals, hapax fraction, top-100
    coverage and the least-squares Zipf slope over the 500 most
    frequent terms — regression sums taken over per-term quantized
    longs so DuckDB replays the slope value-for-value."""
    from docvault_ocr_service_spark.functions.collocations import (
        vocab_stats)

    docs = _t(spark, sf_dir, "documents")
    return vocab_stats(docs, zipf_top=500)


_CODE_SNIPPET = ("int sum(int[] arr) {\n    int total = 0;\n"
                 "    for (i = 0; i < n; i++) {\n"
                 "        total += arr[i];\n    }\n"
                 "    return total;\n}\n")


def doc_code_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose signals (functions/textstats.py::code_signals)
    over the documents table with planted source code: docs with
    doc_id%9==0 are replaced by 1+doc_id%3 repetitions of a C-ish
    snippet (every line ends ;{}, indented body, keyword hits), the
    rest keep their prose — the composite gate must fire exactly on
    the planted set.  DuckDB replays every signal from the identical
    construction."""
    from docvault_ocr_service_spark.functions.textstats import (
        code_signals)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    t = F.when(i % 9 == 0,
               F.repeat(F.lit(_CODE_SNIPPET), (1 + i % 3).cast("int"))) \
        .otherwise(F.col("text"))
    return (code_signals(docs.select("doc_id", t.alias("text")))
            .select("doc_id", "symbol_char_frac_micro",
                    "semicolon_eol_frac_micro", "indent_frac_micro",
                    "keyword_count", "is_code_like")
            .orderBy("doc_id"))


def page_outline_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline extraction (functions/pagemeta.py::
    extract_outline) over pages synthesized from the documents table:
    an <h1> with a planted entity, 1+doc_id%4 <h2> sections (one with
    nested markup), an empty <h3> (dropped, slot preserved) and a
    conditional <h6>.  DuckDB builds identical strings and replays
    the regex + cleaning chain."""
    from docvault_ocr_service_spark.functions.pagemeta import (
        extract_outline)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    sections = F.array_join(F.transform(
        F.sequence(F.lit(0), (i % 4).cast("int")),
        lambda j: F.concat(
            F.lit("<h2>Part&nbsp;"), (i * 3 + j).cast("string"),
            F.lit(" <b>of</b> doc</h2>"))), "")
    tail = F.when(i % 6 == 0,
                  F.concat(F.lit("<h6>tail "), i.cast("string"),
                           F.lit("</h6>"))).otherwise(F.lit(""))
    page = docs.select(
        F.concat(F.lit("https://o.example/p"), i.cast("string"))
        .alias("url"),
        F.concat(F.lit("<html><body><h1>Doc &amp; "), i.cast("string"),
                 F.lit("</h1><p>x</p>"), sections,
                 F.lit("<h3>  </h3>"), tail,
                 F.lit("</body></html>")).alias("html_text"))
    return extract_outline(page).orderBy("url", "heading_idx")


def cdx_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-J index planning (sources/cdx.py) through the REAL text
    pipeline: two crawl snapshots per doc are serialized as CDX-J
    lines (plus planted garbage lines), parsed back with parse_cdxj,
    reduced to latest captures and digest-anti-joined against the
    first snapshot's digests — surviving rows are exactly the docs
    whose content changed (doc_id%3==0) minus 404s (%11) and non-text
    mimes (%13).  DuckDB computes the surviving set analytically
    (same arithmetic, same md5 digests)."""
    from docvault_ocr_service_spark.sources.cdx import (
        parse_cdxj, plan_fetch, surt_key)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (i % 20).cast("string"),
                   F.lit(".example/d"), i.cast("string"))
    key = surt_key(url)
    digest1 = F.concat(F.lit("sha1:"), F.md5(i.cast("string")))
    digest2 = F.when(i % 3 == 0, F.concat(digest1, F.lit("-new"))) \
        .otherwise(digest1)
    status = F.when(i % 11 == 0, F.lit("404")).otherwise(F.lit("200"))
    mime = F.when(i % 13 == 0, F.lit("application/pdf")) \
        .otherwise(F.lit("text/html"))

    def line(ts, digest, length, offset, fname):
        return F.concat(
            key, F.lit(" "), F.lit(ts), F.lit(' {"url": "'), url,
            F.lit('", "mime": "'), mime, F.lit('", "status": "'),
            status, F.lit('", "digest": "'), digest,
            F.lit('", "length": "'), length.cast("string"),
            F.lit('", "offset": "'), offset.cast("string"),
            F.lit('", "filename": "'), F.lit(fname), F.lit('"}'))

    lines = docs.select(F.explode(F.array(
        line("20240101000000", digest1, i + 100, i * 1000, "w1.warc.gz"),
        line("20240601000000", digest2, i + 200, i * 1000 + 1,
             "w2.warc.gz"),
        F.concat(F.lit("garbage "), i.cast("string")),
    )).alias("line"))

    captures = parse_cdxj(lines)
    seen = docs.select(
        F.concat(F.lit("sha1:"), F.md5(i.cast("string")))
        .alias("digest"))
    return (plan_fetch(captures, seen)
            .select("urlkey", "ts", "digest", "length", "offset",
                    "filename")
            .orderBy("urlkey"))


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 bigram collocations by PMI over the real documents table
    (functions/collocations.py): exact integer counts, one fixed
    double expression for the PMI, micro-quantized before the
    deterministic (pmi_micro, w1, w2) ordering — DuckDB rebuilds the
    unigram/bigram count tables and replays the identical formula."""
    from docvault_ocr_service_spark.functions.collocations import (
        bigram_pmi)

    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return bigram_pmi(docs, min_count=5, top_k=40)


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit over the real documents table: per-type match
    counts + scrubbed-text length, aggregated per source.  DuckDB applies
    the byte-identical RE2-compatible regexes in the same order."""
    from docvault_ocr_service_spark.functions.pii import scrub_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scrubbed = scrub_pii(docs)
    return (scrubbed.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_email").cast("long").alias("n_email"),
                 F.sum("n_card").cast("long").alias("n_card"),
                 F.sum("n_ipv4").cast("long").alias("n_ipv4"),
                 F.sum("n_phone").cast("long").alias("n_phone"),
                 F.sum(F.length("text_clean")).cast("long")
                  .alias("clean_chars"))
            .orderBy("source"))


def hocr_word_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hOCR serialization (reference output_format='hocr',
    app/ocr_service.py:321,382-384,414): serialize each document as an
    hOCR page and parse word/line structure back OUT of the emitted
    XML, so the oracle validates the serializer end-to-end — DuckDB
    recomputes token counts, non-blank-line counts and total token
    chars (== sum of word bbox extents) directly from the source
    text."""
    from docvault_ocr_service_spark.extract.hocr import to_hocr

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    @F.pandas_udf("string")
    def mk(doc_id: pd.Series, text: pd.Series,
           lang: pd.Series) -> pd.Series:
        return pd.Series([
            to_hocr(f"doc://{d}", [t or ""], 95.0, lg)
            for d, t, lg in zip(doc_id, text, lang)])

    h = docs.withColumn("hocr", mk(F.col("doc_id"), F.col("text"),
                                   F.col("lang")))
    starts = F.expr(
        r"regexp_extract_all(hocr, 'bbox (\\d+) 0 (\\d+) 1; x_wconf', 1)")
    ends = F.expr(
        r"regexp_extract_all(hocr, 'bbox (\\d+) 0 (\\d+) 1; x_wconf', 2)")
    return h.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(starts).cast("long").alias("n_words"),
        F.expr("size(regexp_extract_all(hocr, '(class=\"ocr_line\")', 1))")
         .cast("long").alias("n_lines"),
        F.aggregate(
            F.zip_with(ends, starts,
                       lambda e, s: e.cast("long") - s.cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
         .alias("span_chars"),
    ).orderBy("doc_id")


def media_preprocess_decisions(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The full adaptive OCR preprocessing (O2: CLAHE → brightness →
    bilateral → threshold → deskew, app/ocr_service.py:135-246) under
    the driver gate: three deterministic 16×16 fixture classes keyed on
    doc_id%3 (flat-dark → aggressive/CLAHE/bilateral/threshold,
    bright checkerboard → medium, crisp checkerboard → light) whose
    decision columns DuckDB recomputes with a CASE."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import (
        preprocess_media)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 240)

    @F.pandas_udf(T.BinaryType())
    def mk_img(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            d = int(d)
            if d % 3 == 0:                       # flat dark → aggressive
                pix = np.full((16, 16), 20 + d % 40, dtype=np.uint8)
            elif d % 3 == 1:                     # bright → medium
                pix = np.empty((16, 16), dtype=np.uint8)
                pix[::2], pix[1::2] = 120, 255
            else:                                # crisp → light
                pix = np.empty((16, 16), dtype=np.uint8)
                pix[::2], pix[1::2] = 60, 190
            out.append(encode_png(pix))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        mk_img(F.col("doc_id")).alias("payload"))
    pre = preprocess_media(media)
    return pre.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "status", "enhance_level", "psm", "thresholded",
        "clahe", "bilateral",
        F.round("deskew_angle", 6).alias("deskew_angle"),
        "width", "height")


def wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio path under the driver gate: deterministic DC-signal WAVs
    (amplitude and length keyed on doc_id) parse to exactly-computable
    sample counts, durations, and mean amplitudes — int16 quantization
    is floor(a*32767)/32768, reproduced in SQL."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.audio import encode_wav
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.BinaryType())
    def mk_wav(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            d = int(d)
            a = ((d % 16) + 1) / 20.0
            n = 1000 + d % 50
            out.append(encode_wav(np.full(n, a), 8000))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("kind"),
        mk_wav(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status",
        F.col("n_frames").alias("n_samples"),
        F.element_at("features", 1).alias("duration_ms"),
        F.round("brightness", 9).alias("mean_amplitude"))


def mp3_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 frame-header metadata under the driver gate: structurally
    valid Layer-III fixtures (rate/bitrate/channel-mode/ID3-prefix
    keyed on doc_id) parsed by the frame walker; DuckDB recomputes
    frame counts, exact durations and channel counts from the same
    keying formulas."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.audio import encode_mp3_frames
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.BinaryType())
    def mk_mp3(ids: pd.Series) -> pd.Series:
        out = []
        for d in ids:
            d = int(d)
            out.append(encode_mp3_frames(
                n_frames=10 + d % 20,
                bitrate_kbps=(32, 128)[d % 2],
                sample_rate=(44100, 22050, 8000)[d % 3],
                mono=(d % 5 == 0),
                id3_bytes=(d % 7) * 9))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("kind"),
        mk_mp3(F.col("doc_id")).alias("payload"))
    feats = extract_media_features(media, fake=False)
    return feats.select(
        F.col("media_id").cast("long").alias("doc_id"),
        "decode_status",
        F.col("n_frames").cast("long").alias("n_frames"),
        F.round(F.element_at("features", 1), 6).alias("duration_ms"),
        F.element_at("features", 2).cast("long").alias("sample_rate"),
        F.element_at("features", 3).cast("long").alias("channels"))


def thumbnail_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail JPEG output arm (app/thumbnail_generator.py:26-65:
    output_format + quality ladder): deterministic gray PNG fixtures →
    generate_thumbnails(output_format='jpeg', quality cycling
    high/medium/low) → decode our own JPEG bytes back and report the
    DECODED pixel dimensions plus a brightness-roundtrip bound
    (|mean(decoded) - mean(box-downsampled source)| < 3 gray levels).
    The oracle recomputes the dims from the reference size formula and
    pins the bound as an invariant."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import (
        generate_thumbnails)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 100)

    def fixture(d: int):
        import numpy as np

        w = 16 + (d % 50) * 7
        h = 16 + ((d * 3) % 40) * 5
        return np.fromfunction(
            lambda y, x: (x + y + d) % 256, (h, w)).astype("uint8")

    @F.pandas_udf(T.BinaryType())
    def mk_png(ids: pd.Series) -> pd.Series:
        return pd.Series([encode_png(fixture(int(d))) for d in ids])

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("decoded_width", T.IntegerType()),
        T.StructField("decoded_height", T.IntegerType()),
        T.StructField("mean_close", T.BooleanType()),
    ])

    def verify(batches):
        import numpy as np

        from docvault_ocr_service_spark.extract.images import resize_box
        from docvault_ocr_service_spark.extract.jpeg import decode_jpeg

        for pdf in batches:
            rows = []
            for mid, status, fmt, thumb in zip(
                    pdf["media_id"], pdf["status"], pdf["format"],
                    pdf["thumb"]):
                d = int(mid)
                if thumb is None:
                    # a regression row surfaces as a value mismatch
                    # (status + nulls), not a task-killing TypeError
                    rows.append((d, status, fmt, None, None, False))
                    continue
                img = decode_jpeg(bytes(thumb))
                src = fixture(d)
                th, tw = img.shape[:2]
                want = (src if src.shape == (th, tw)
                        else resize_box(src, tw, th))
                close = abs(float(img.mean()) - float(want.mean())) < 3.0
                rows.append((d, status, fmt, tw, th, bool(close)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        mk_png(F.col("doc_id")).alias("payload"))
    # quality ladder exercised: doc_id%3 picks high/medium/low batches
    parts = []
    for r, q in enumerate(("high", "medium", "low")):
        parts.append(generate_thumbnails(
            media.where(F.col("media_id").cast("long") % 3 == r),
            max_size=128, output_format="jpeg", quality=q))
    thumbs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (thumbs.select("media_id", "status", "format", "thumb")
            .mapInPandas(verify, schema=out_schema)
            .orderBy("doc_id"))


def webp_thumbnail_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail WEBP output arm (app/thumbnail_generator.py:60,229 —
    the reference's third output format): deterministic RGB PNG
    fixtures → generate_thumbnails(output_format='webp') → decode our
    own lossless VP8L bytes back and require EXACT pixel equality with
    the box-downsampled source (lossless codec ⇒ a stronger bound than
    the JPEG arm's brightness tolerance).  The oracle recomputes dims
    from the reference size formula and pins exactness."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import (
        generate_thumbnails)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 80)

    def fixture(d: int):
        import numpy as np

        w = 16 + (d % 40) * 3
        h = 16 + ((d * 3) % 30) * 2
        base = np.fromfunction(
            lambda y, x: (x + y + d) % 256, (h, w)).astype("uint8")
        return np.dstack([base, base[::-1], (base * 3 + d) % 256]) \
            .astype("uint8")

    @F.pandas_udf(T.BinaryType())
    def mk_png(ids: pd.Series) -> pd.Series:
        return pd.Series([encode_png(fixture(int(d))) for d in ids])

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("format", T.StringType()),
        T.StructField("decoded_width", T.IntegerType()),
        T.StructField("decoded_height", T.IntegerType()),
        T.StructField("pixels_exact", T.BooleanType()),
    ])

    def verify(batches):
        import numpy as np

        from docvault_ocr_service_spark.extract.images import resize_box
        from docvault_ocr_service_spark.extract.webp import decode_webp

        for pdf in batches:
            rows = []
            for mid, status, fmt, thumb in zip(
                    pdf["media_id"], pdf["status"], pdf["format"],
                    pdf["thumb"]):
                d = int(mid)
                if thumb is None:
                    # a regression row surfaces as a value mismatch
                    # (status + nulls), not a task-killing TypeError
                    rows.append((d, status, fmt, None, None, False))
                    continue
                img = decode_webp(bytes(thumb))
                src = fixture(d)
                th, tw = img.shape[:2]
                want = (src if src.shape[:2] == (th, tw)
                        else resize_box(src, tw, th))
                exact = np.array_equal(img, want)
                rows.append((d, status, fmt, tw, th, bool(exact)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        mk_png(F.col("doc_id")).alias("payload"))
    thumbs = generate_thumbnails(media, max_size=48,
                                 output_format="webp")
    return (thumbs.select("media_id", "status", "format", "thumb")
            .mapInPandas(verify, schema=out_schema)
            .orderBy("doc_id"))


def canonical_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical + meta-robots extraction (functions/web.py —
    the publisher-signal pass a polite corpus builder honors next to
    robots.txt): fixtures plant canonical links and robots metas in
    BOTH attribute orders; DuckDB rebuilds the same html strings and
    replays the same RE2 patterns, so the regex semantics themselves
    are what the oracle pins."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.web import (
        canonical_url, robots_meta_directives)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.StringType())
    def mk_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            head = ""
            if i % 5 == 0:
                target = f"https://canon.example/page{(i // 5) % 10}"
                head += (f'<link rel="canonical" href="{target}">'
                         if i % 2 == 0 else
                         f'<link href="{target}" rel=canonical>')
            if i % 7 == 0:
                content = ("noindex, nofollow" if i % 14 == 0
                           else "noindex")
                head += (f'<meta name="robots" content="{content}">'
                         if i % 3 == 0 else
                         f'<meta content="{content}" name=robots>')
            return (f"<html><head>{head}</head><body>"
                    f"<p>body of page {i}</p></body></html>")

        return pd.Series([page(int(i)) for i in ids])

    html = mk_html(F.col("doc_id"))
    url = F.concat(F.lit("https://site"),
                   (F.col("doc_id") % 20).cast("string"),
                   F.lit(".example/page/"),
                   F.col("doc_id").cast("string"))
    meta = robots_meta_directives(html)
    return (docs.select(
        "doc_id",
        canonical_url(html).alias("canonical"),
        F.coalesce(canonical_url(html), url).alias("canonical_key"),
        meta["noindex"].alias("noindex"),
        meta["nofollow"].alias("nofollow"))
        .orderBy("doc_id"))


def canonical_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-grouping arm: mirror/variant pages sharing a
    rel=canonical target collapse into one group before dedup — the
    40 canonical-bearing fixture docs land in 10 groups of 4; every
    other page keys by its own url (group size 1, filtered out)."""
    base = canonical_url_stats(spark, sf_dir)
    return (base.groupBy("canonical_key")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("noindex").cast("long")).cast("long")
                 .alias("n_noindex"))
            .where(F.col("n_docs") > 1)
            .orderBy("canonical_key"))


def doc_markdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown conversion (extract/markdown.py — the
    structure-preserving serialization pass; no reference counterpart,
    its HTML path flattens to text): deterministic pages (heading,
    link+bold paragraph, a 2+(d%3)-item list, a verbatim code fence)
    convert to markdown whose EXACT string DuckDB rebuilds from the
    same formulas — byte-identical markdown, hash-compared by the
    driver."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.markdown import (
        markdown_column)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)
    d = F.col("doc_id")

    @F.pandas_udf(T.StringType())
    def mk_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            items = "".join(f"<li>item {j} of {i}</li>"
                            for j in range(2 + i % 3))
            return (
                f"<html><body><h1>Doc {i} Title</h1>"
                f"<p>Intro paragraph for document {i}, with a "
                f'<a href="https://ex.com/{i}">profile link</a> and '
                f"<b>bold claims</b>.</p>"
                f"<ul>{items}</ul>"
                f"<pre>code line {i}\nindent {i % 7}</pre>"
                f"<script>ignored()</script></body></html>")

        return pd.Series([page(int(i)) for i in ids])

    md = markdown_column(mk_html(d))
    return (docs.select("doc_id", md.alias("md"))
            .withColumn("md_len", F.length("md"))
            .orderBy("doc_id"))


def readability_extract_stats(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Arc90-Readability container scoring (extract/readability.py +
    functions/readability.py — the north-star's 'link-density,
    text-density, tag-weight scoring over block nodes' heuristic):
    deterministic pages with a link-nav header, a negative-class
    sidebar, a positive-class content div holding 2+(d%4) paragraphs,
    and a footer — the content div must win for every doc, and DuckDB
    replays the winner's paragraph count, byte length, and integer
    content score (tag weight 5 + class hint 25 + per-paragraph
    1 + commas + min(len/100, 3)) from the same string formulas."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.functions.readability import (
        readability_extract_df)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 150)
    d = F.col("doc_id")
    n_p = (d % 4 + 2).cast("int")

    @F.pandas_udf(T.StringType())
    def mk_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            n = i % 4 + 2
            paras = "".join(
                f"<p>Paragraph {j} of document {i} carries "
                f"deterministic prose, clause {i % 5}, clause {j}, "
                f"and a stable reader-facing tail"
                + "x" * ((i % 3) * 30) + ".</p>"
                for j in range(n))
            return (
                '<html><body>'
                '<div class="header"><ul>'
                '<li><a href="/">Home page link</a></li>'
                '<li><a href="/about">About the site</a></li>'
                '</ul></div>'
                '<div class="sidebar"><p>Related sponsored links and '
                'further reading suggestions here.</p>'
                '<a href="/x">more</a></div>'
                f'<div class="content"><h1>Title {i}</h1>{paras}</div>'
                '<div class="footer"><p>Copyright, terms, privacy, '
                'contact, sitemap, and other boilerplate rows.</p>'
                '</div></body></html>')

        return pd.Series([page(int(i)) for i in ids])

    out = readability_extract_df(
        docs.withColumn("html", mk_html(d)))
    r = F.col("readability")
    return (out.select(
        "doc_id",
        r["tag"].alias("tag"),
        r["n_paragraphs"].alias("n_paragraphs"),
        F.length(r["text"]).alias("text_len"),
        r["score"].cast("long").alias("score_q"),
        (r["link_density"] == 0.0).alias("no_links_in_winner"))
        .orderBy("doc_id"))


def cdx_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDX-planned COMPOSITION oracle (round-6 wiring of
    sources/cdx.py into plans/pipeline.py): an indexed WARC fixture —
    30 seeded corpus rows, plus a superseded older capture of row 0
    (different digest; latest-wins must drop it), plus a same-digest
    recrawl of row 1 (the urlkey collapse keeps one) — runs through
    run_crawl_pipeline(cdx_dir=...) with digests of rows 2 and 3
    pre-seeded in the seen-store, so exactly those two captures are
    skipped without touching the archive.  DuckDB carries the frozen
    VALUES twin (numbers are functions of the seeded corpus only —
    sf-independent; same freeze discipline as pipeline_funnel_stats)."""
    import hashlib
    import os
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from docvault_ocr_service_spark import corpus
    from docvault_ocr_service_spark.plans.pipeline import (
        run_crawl_pipeline)
    from docvault_ocr_service_spark.sources.warc import (
        encode_warc_indexed)

    ts = datetime(2024, 3, 1, tzinfo=timezone.utc)
    ts_old = datetime(2023, 11, 1, tzinfo=timezone.utc)
    recs, payloads = [], []
    for i in range(30):
        r = corpus.generate_row(i)
        payloads.append(r["html"] or (r["text"] or "").encode())
        recs.append({"url": r["url"], "warc_ts": ts,
                     "html": payloads[i]})
    # superseded older capture of row 0 (stale content, own digest)
    recs.append({"url": recs[0]["url"], "warc_ts": ts_old,
                 "html": b"<html><body><p>stale older capture"
                         b"</p></body></html>"})
    # unchanged recrawl of row 1: same payload at the same ts would be
    # one capture; keep the same digest at ts (collapse keeps one row)
    recs.append({"url": recs[1]["url"], "warc_ts": ts,
                 "html": payloads[1]})

    tmp = tempfile.mkdtemp(prefix="cdx_pipeline_oracle_")
    try:
        warc_dir = os.path.join(tmp, "warc")
        cdx_dir = os.path.join(tmp, "cdx")
        os.makedirs(warc_dir)
        os.makedirs(cdx_dir)
        blob, lines = encode_warc_indexed(recs, "crawl0.warc.gz")
        with open(os.path.join(warc_dir, "crawl0.warc.gz"), "wb") as f:
            f.write(blob)
        with open(os.path.join(cdx_dir, "crawl0.cdx"), "w") as f:
            f.write("\n".join(lines) + "\n")
        seen_dir = os.path.join(tmp, "seen")
        spark.createDataFrame(
            [("sha1:" + hashlib.sha1(payloads[i]).hexdigest(),)
             for i in (2, 3)], "digest string") \
            .write.parquet(seen_dir)
        rep = run_crawl_pipeline(
            spark, warc_dir, os.path.join(tmp, "state"),
            os.path.join(tmp, "out"), cdx_dir=cdx_dir,
            seen_digests_dir=seen_dir, window=512)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    row = (rep.cdx_planned, rep.cdx_skipped, rep.pages_in,
           rep.extracted_done, rep.curated, rep.total_tokens,
           rep.n_windows)
    return spark.createDataFrame(
        [tuple(int(x) for x in row)],
        "cdx_planned long, cdx_skipped long, pages_in long, "
        "extracted_done long, curated long, total_tokens long, "
        "n_windows long")


def webp_transform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP8L §3.4 transforms (extract/webp.py): per doc, a ≤16-color
    image round-trips through the COLOR_INDEXING encoder (bit-bundled
    indices) and a gradient image through SUBTRACT_GREEN — both real
    transform bitstreams decoded back to exact pixels; DuckDB replays
    the palette size and dims and pins the equality booleans."""
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 100)

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_colors", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("palette_exact", T.BooleanType()),
        T.StructField("palette_smaller", T.BooleanType()),
        T.StructField("sg_exact", T.BooleanType()),
    ])

    def check(batches):
        import numpy as np

        from docvault_ocr_service_spark.extract.webp import (
            decode_webp, encode_webp_lossless)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 18 + d % 23
                h = 10 + (d * 3) % 17
                n_colors = 2 + d % 15        # 2..16: always bundled
                # deterministic palette + index pattern
                pal = np.array(
                    [[(c * 37 + d) % 256, (c * 91 + 2 * d) % 256,
                      (c * 53 + 5 * d) % 256]
                     for c in range(n_colors)], dtype=np.uint8)
                idx = (np.add.outer(np.arange(h), np.arange(w)) + d) \
                    % n_colors
                img = pal[idx]
                enc = encode_webp_lossless(img, palette=True)
                lit = encode_webp_lossless(img)
                pal_ok = bool(np.array_equal(decode_webp(enc), img))
                # gradient image through subtract-green
                base = (np.add.outer(np.arange(h) * 3,
                                     np.arange(w) * 7) + d) % 256
                grad = np.dstack([base, (base + 40) % 256,
                                  (base + 90) % 256]).astype("uint8")
                sg = encode_webp_lossless(grad, subtract_green=True)
                sg_ok = bool(np.array_equal(decode_webp(sg), grad))
                rows.append((d, n_colors, w, h, pal_ok,
                             len(enc) < len(lit), sg_ok))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    return docs.mapInPandas(check, schema=out_schema).orderBy("doc_id")


def webp_backref_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP8L LZ77 backward references, both directions (extract/
    webp.py): run-heavy deterministic fixtures → encode with
    backrefs=True → decode back (exact pixel equality), the backref
    stream must be strictly smaller than the literal-only stream, and
    parse_webp_meta must recover the header dims both for our VP8L
    bytes and for a crafted lossy-VP8 keyframe header (the
    metadata-only path for wild files the reference would hand to PIL,
    app/document_processor.py:99-176).  The oracle recomputes the
    fixture dims and pins every boolean."""
    import struct

    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 100)

    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels_exact", T.BooleanType()),
        T.StructField("backref_smaller", T.BooleanType()),
        T.StructField("meta_ok", T.BooleanType()),
        T.StructField("vp8_status", T.StringType()),
        T.StructField("vp8_width", T.IntegerType()),
        T.StructField("vp8_height", T.IntegerType()),
    ])

    def check(batches):
        import numpy as np

        from docvault_ocr_service_spark.extract.webp import (
            decode_webp, encode_webp_lossless, parse_webp_meta)
        from docvault_ocr_service_spark.functions.multimodal import (
            _decode_row)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                w = 20 + d % 30
                h = 12 + (d * 7) % 20
                # banded rows: dist-1 runs inside each row, dist-w
                # row copies inside each 4-row band — both reference
                # kinds fire on every fixture
                band = (np.arange(h) // 4 * 13 + d) % 256
                img = np.repeat(band[:, None], w, axis=1) \
                    .astype("uint8")
                img = np.dstack([img, (img + 7) % 256,
                                 img[::-1]]).astype("uint8")
                enc = encode_webp_lossless(img, backrefs=True)
                lit = encode_webp_lossless(img)
                back = decode_webp(enc)
                meta = parse_webp_meta(enc)
                meta_ok = (meta["variant"] == "vp8l"
                           and meta["width"] == w
                           and meta["height"] == h)
                # wild lossy-VP8 keyframe header → metadata-only row
                body = bytes(3) + b"\x9d\x01\x2a" \
                    + struct.pack("<HH", w * 2, h * 2)
                chunk = b"VP8 " + struct.pack("<I", len(body)) + body
                riff = b"WEBP" + chunk
                vp8 = b"RIFF" + struct.pack("<I", len(riff)) + riff
                row = _decode_row(str(d), "image", vp8)
                rows.append((d, w, h, bool(np.array_equal(back, img)),
                             len(enc) < len(lit), bool(meta_ok),
                             row["decode_status"], row["width"],
                             row["height"]))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              out_schema.fields])

    return docs.mapInPandas(check, schema=out_schema).orderBy("doc_id")


def thumbnail_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail sink (S8), oracle-checked: deterministic gray PNGs of
    varying sizes are decoded, thumbnailed through the reference's exact
    size formula (app/thumbnail_generator.py:155-188 — no upscale,
    truncating aspect math), and the output dimensions compared against
    a SQL recomputation."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.extract.images import encode_png
    from docvault_ocr_service_spark.functions.multimodal import (
        generate_thumbnails)

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .where(F.col("doc_id") < 200)

    @F.pandas_udf(T.BinaryType())
    def mk_png(ids: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for d in ids:
            w = 16 + (int(d) % 50) * 7
            h = 16 + ((int(d) * 3) % 40) * 5
            pix = np.fromfunction(
                lambda y, x: (x + y + int(d)) % 256, (h, w)) \
                .astype("uint8")
            out.append(encode_png(pix))
        return pd.Series(out)

    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        mk_png(F.col("doc_id")).alias("payload"))
    thumbs = generate_thumbnails(media, max_size=128)
    return thumbs.select(
        F.col("media_id").cast("long").alias("doc_id"), "status",
        "original_width", "original_height", "width", "height")


def stream_batch_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once, oracle-checked: the same document slice
    runs through ``stream_extract_merge`` (file-source micro-batches →
    foreachBatch MERGE) and through the batch ``run_extract_job``, and
    the two result/checkpoint states must agree row-for-row — url set,
    status, extracted text, confidence.  The oracle recomputes the url
    count from the slice; any streaming duplicate, loss, or divergence
    drops a *_match count below n_urls and fails the value compare."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from docvault_ocr_service_spark.operators.checkpoint import (
        ParquetCheckpointStore)
    from docvault_ocr_service_spark.plans.extract_job import run_extract_job
    from docvault_ocr_service_spark.streaming.stream import (
        stream_extract_merge)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    inp = docs.select(
        F.concat(F.lit("https://corpus.local/"), F.col("doc_id"))
         .alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text", "lang",
        (F.col("doc_id") % 2).alias("__f"))

    work = tempfile.mkdtemp(prefix="stream_eq_")
    try:
        src = os.path.join(work, "in")
        os.makedirs(src)
        # two source files → two micro-batches (maxFilesPerTrigger=1)
        for part in range(2):
            inp.where(F.col("__f") == part).drop("__f").coalesce(1) \
                .write.mode("append").parquet(src)
        q = stream_extract_merge(
            spark, src, os.path.join(work, "state_s"),
            os.path.join(work, "ckpt"), max_files_per_trigger=1)
        q.awaitTermination()
        run_extract_job(spark, inp.drop("__f"),
                        os.path.join(work, "state_b"))

        s = ParquetCheckpointStore(spark, os.path.join(work, "state_s")) \
            .read_results_current() \
            .select("url", F.col("status").alias("s_status"),
                    F.col("text").alias("s_text"),
                    F.col("confidence").alias("s_conf"))
        b = ParquetCheckpointStore(spark, os.path.join(work, "state_b")) \
            .read_results_current() \
            .select("url", F.col("status").alias("b_status"),
                    F.col("text").alias("b_text"),
                    F.col("confidence").alias("b_conf"))
        row = (s.join(b, "url", "full")
               .agg(F.count("*").alias("n_urls"),
                    F.sum(F.when(F.col("s_status").eqNullSafe(
                        F.col("b_status")), 1).otherwise(0))
                     .alias("status_match"),
                    F.sum(F.when(F.col("s_text").eqNullSafe(
                        F.col("b_text")), 1).otherwise(0))
                     .alias("text_match"),
                    F.sum(F.when(F.col("s_conf").eqNullSafe(
                        F.col("b_conf")), 1).otherwise(0))
                     .alias("conf_match"))
               .first())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_schema = T.StructType([
        T.StructField("n_urls", T.LongType()),
        T.StructField("status_match", T.LongType()),
        T.StructField("text_match", T.LongType()),
        T.StructField("conf_match", T.LongType()),
    ])
    return spark.createDataFrame([(row["n_urls"], row["status_match"],
                                   row["text_match"], row["conf_match"])],
                                 schema=out_schema)


def warc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC codec invariant, oracle-checked: document texts are encoded
    into per-shard .warc.gz archives (per-record gzip members + HTTP
    framing, sources/warc.py) and parsed back; every record must survive
    byte-identical.  The oracle recomputes the record count from the
    same slice — n_match < n_records would fail the hash compare."""
    from pyspark.sql import types as T

    from docvault_ocr_service_spark.sources.warc import (
        encode_warc, parse_warc)

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200) \
        .select("doc_id", "text")

    out_schema = T.StructType([
        T.StructField("n_records", T.LongType()),
        T.StructField("n_match", T.LongType()),
    ])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        recs = [{"url": f"https://corpus.local/{d}", "warc_ts": None,
                 "html": (t or "").encode("utf-8")}
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        parsed = list(parse_warc(encode_warc(recs, gzip_members=True)))
        match = sum(1 for r, p in zip(recs, parsed)
                    if p["url"] == r["url"] and p["html"] == r["html"])
        return pd.DataFrame({"n_records": [len(parsed)],
                             "n_match": [match]})

    per_shard = (docs.withColumn("__g", F.col("doc_id") % 8)
                 .groupBy("__g").applyInPandas(kernel, schema=out_schema))
    return per_shard.agg(
        F.sum("n_records").cast("long").alias("n_records"),
        F.sum("n_match").cast("long").alias("n_match"))


def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing (deterministic fake decode) over documents."""
    from docvault_ocr_service_spark.functions.multimodal import (
        extract_media_features)

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_media_features(media, fake=True)
    return feats.agg(
        F.count("*").alias("n_media"),
        F.count_distinct("content_digest").alias("n_distinct"),
        F.round(F.sum("n_bytes"), 0).alias("total_bytes"),
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order matters: the driver's CORRECTNESS gate checks the
    # FIRST 50 entries.  Round-6 rotation (the gate prefix moves each
    # round so no entry's driver stamp goes stale): block 1a = the
    # EIGHTEEN r2/r3-stamped core entries displaced from the round-5
    # gate (slots 1-18, executing the staged rotation — after this
    # round no entry's latest driver stamp is older than r4); block 1b
    # = queries whose code changed in round 6 (connected_components /
    # pagerank now localCheckpoint per iteration — value-identical,
    # re-verified locally, but changed code re-gates); block 1c =
    # queries NEW in round 6 (brand-new queries always gate in their
    # birth round); block 1d = r4-stamped entries, oldest stamps
    # first, filling the prefix to exactly 50; block 2 = everything
    # else (r4/r5-stamped, unchanged, still covered by
    # tools/check_oracles.py locally every round).  After EVERY edit
    # here run `list(queries())[:50]` and re-check the blocks.
    return {
        # -- block 1a: r2/r3-stamped core, rotated back into the gate ----
        "doc_fingerprints": doc_fingerprints,
        "doc_stratified_sample": doc_stratified_sample,
        "categorize_orders_docs": categorize_orders_docs,
        "simhash_dup_pairs": simhash_dup_pairs,
        "simhash_recall": simhash_recall,
        "minhash_incremental_recall": minhash_incremental_recall,
        "benchmark_contamination": benchmark_contamination,
        "doc_repetition_stats": doc_repetition_stats,
        "image_near_dup_recall": image_near_dup_recall,
        "ngram_jaccard_dups": ngram_jaccard_dups,
        "knn_bruteforce": knn_bruteforce,
        "knn_filtered": knn_filtered,
        "url_host_stats": url_host_stats,
        "doc_nfc_stats": doc_nfc_stats,
        "q_customers_without_orders": q_customers_without_orders,
        "q_distinct_part_types": q_distinct_part_types,
        "doc_sample_tenth": doc_sample_tenth,
        "doc_token_stats": doc_token_stats,
        # -- block 1b: code changed in round 6 (localCheckpoint loops) ---
        "dup_components": dup_components,
        "dedup_keep_best_stats": dedup_keep_best_stats,
        "host_pagerank": host_pagerank,
        "url_registrable_domains": url_registrable_domains,
        "doc_langid": doc_langid,
        # -- block 1c: NEW in round 6 ------------------------------------
        "webp_backref_stats": webp_backref_stats,
        "cdx_pipeline_stats": cdx_pipeline_stats,
        "readability_extract_stats": readability_extract_stats,
        "doc_markdown_stats": doc_markdown_stats,
        "canonical_url_stats": canonical_url_stats,
        "canonical_dup_groups": canonical_dup_groups,
        "ccnet_ppl_buckets": ccnet_ppl_buckets,
        "doc_domain_cap_stats": doc_domain_cap_stats,
        "doc_domain_split_stats": doc_domain_split_stats,
        "doc_mixed_language_stats": doc_mixed_language_stats,
        "media_exif_stats": media_exif_stats,
        "mp4_video_stats": mp4_video_stats,
        "corpus_datasheet_stats": corpus_datasheet_stats,
        "webp_transform_stats": webp_transform_stats,
        "doc_text_hygiene_stats": doc_text_hygiene_stats,
        "page_jsonld_extraction": page_jsonld_extraction,
        "page_hreflang_extraction": page_hreflang_extraction,
        # -- block 1d: r4-stamped fill (oldest stamps first, to 50) ------
        "fuzzy_contamination_stats": fuzzy_contamination_stats,
        "warc_roundtrip_stats": warc_roundtrip_stats,
        "doc_substring_dedup": doc_substring_dedup,
        "doc_temperature_mix": doc_temperature_mix,
        "page_metadata_extraction": page_metadata_extraction,
        "feed_item_extraction": feed_item_extraction,
        "doc_lm_perplexity": doc_lm_perplexity,
        "gopher_filter_stats": gopher_filter_stats,
        "c4_filter_stats": c4_filter_stats,
        "doc_mojibake_repair": doc_mojibake_repair,
        # ---- end of gate prefix (50) -----------------------------------
        # -- block 2: r4/r5-driver-green, unchanged ----------------------
        "robots_sitemap_directives": robots_sitemap_directives,
        "host_boilerplate_stats": host_boilerplate_stats,
        "anchor_text_stats": anchor_text_stats,
        "domain_blocklist_stats": domain_blocklist_stats,
        "recrawl_batch": recrawl_batch,
        "frontier_batch": frontier_batch,
        "frontier_crawl_delay": frontier_crawl_delay,
        "doc_pii_scrub": doc_pii_scrub,
        "hocr_word_stats": hocr_word_stats,
        "knn_lsh": knn_lsh,
        "knn_ivf": knn_ivf,
        "knn_lsh_recall": knn_lsh_recall,
        "knn_ivf_recall": knn_ivf_recall,
        "embedding_near_dup_recall": embedding_near_dup_recall,
        "embedding_centroids": embedding_centroids,
        "embedding_near_dups": embedding_near_dups,
        "corpus_extract_stats": corpus_extract_stats,
        "png_pixel_stats": png_pixel_stats,
        "jpeg_flat_roundtrip": jpeg_flat_roundtrip,
        "jpeg_progressive_stats": jpeg_progressive_stats,
        "tiff_compressed_stats": tiff_compressed_stats,
        "tiff_g4_stats": tiff_g4_stats,
        "media_preprocess_decisions": media_preprocess_decisions,
        "wav_audio_stats": wav_audio_stats,
        "mp3_audio_stats": mp3_audio_stats,
        "thumbnail_dims": thumbnail_dims,
        "thumbnail_jpeg_stats": thumbnail_jpeg_stats,
        "stream_batch_equivalence": stream_batch_equivalence,
        "media_feature_stats": media_feature_stats,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_segment_revenue": q3_segment_revenue,
        "q4_order_priority": q4_order_priority,
        "q10_returned_revenue": q10_returned_revenue,
        "q18_large_orders": q18_large_orders,
        "doc_categories": doc_categories,
        "q_rollup_priority": q_rollup_priority,
        "q_pivot_segment": q_pivot_segment,
        "q_top_suppliers_window": q_top_suppliers_window,
        "events_hourly": events_hourly,
        "events_sessions": events_sessions,
        "events_asof_purchase": events_asof_purchase,
        "events_value_quantiles": events_value_quantiles,
        "doc_exact_dups": doc_exact_dups,
        "source_quality_stats": source_quality_stats,
        "minhash_dup_pairs": minhash_dup_pairs,
        "line_dedup_clean": line_dedup_clean,
        "minhash_recall": minhash_recall,
        "invoice_metadata_from_orders": invoice_metadata_from_orders,
        "robots_filter_stats": robots_filter_stats,
        "q5_nation_revenue": q5_nation_revenue,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "q14_promo_share": q14_promo_share,
        "q19_bracket_revenue": q19_bracket_revenue,
        "q15_top_supplier": q15_top_supplier,
        "doc_stopword_punct": doc_stopword_punct,
        "doc_token_budget_mix": doc_token_budget_mix,
        "sitemap_url_extraction": sitemap_url_extraction,
        "pack_windows": pack_windows,
        "pipeline_funnel_stats": pipeline_funnel_stats,
        "webp_thumbnail_stats": webp_thumbnail_stats,
        "tiff_jpeg6_stats": tiff_jpeg6_stats,
        "sitemap_lastmod_extraction": sitemap_lastmod_extraction,
        "bpe_roundtrip_stats": bpe_roundtrip_stats,
        "semdedup_stats": semdedup_stats,
        "dsir_resample_stats": dsir_resample_stats,
        "jpeg_arith_stats": jpeg_arith_stats,
        "quality_classifier_stats": quality_classifier_stats,
        "justext_stats": justext_stats,
        "host_hits": host_hits,
        "bm25_search_stats": bm25_search_stats,
        "pmi_collocations": pmi_collocations,
        "bloom_contamination_stats": bloom_contamination_stats,
        "html_table_extraction": html_table_extraction,
        "knn_int8": knn_int8,
        "cdx_fetch_plan": cdx_fetch_plan,
        "page_outline_extraction": page_outline_extraction,
        "doc_code_signals": doc_code_signals,
        "corpus_vocab_stats": corpus_vocab_stats,
        "doc_chunking": doc_chunking,
        "doc_sentence_stats": doc_sentence_stats,
        "corpus_drift_stats": corpus_drift_stats,
    }


def oracle_sql() -> dict[str, str]:
    from docvault_ocr_service_spark.oracles import build_oracles

    return build_oracles()
