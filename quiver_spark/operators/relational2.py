"""Second relational battery: statistical aggregates, quantiles, ordered
aggregation, array/JSON scalar functions, RANGE window frames, correlated
aggregates.

Statistical moments (stddev/var/corr) are computed from exact DECIMAL power
sums on both sides — Spark's and DuckDB's built-in one-pass implementations
accumulate floats in different orders, so the built-ins can't hash-match;
the moment-sum formulation is order-insensitive and bit-identical (modulo a
final rounding that absorbs the decimal→double ULP at >2^53 scaled sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from quiver_spark.functions import dec
from quiver_spark.registry import register
from quiver_spark.tables import load, maybe_broadcast


@register(
    "agg_stats_moments",
    oracle="""
WITH sums AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(sx / n, 6) AS mean_qty,
       ROUND((sxx - sx * sx / n) / (n - 1), 4) AS var_qty,
       ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
       ROUND((n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6) AS corr_qty_price
FROM sums
""",
    tags=("agg", "stats"),
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev / variance / correlation from exact decimal moment sums."""
    li = load(spark, sf_dir, "lineitem")
    q, p = dec("l_quantity", "decimal(18,2)"), dec("l_extendedprice", "decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).cast("double").alias("sx"),
        F.sum(q * q).cast("double").alias("sxx"),
        F.sum(p).cast("double").alias("sy"),
        F.sum(p * p).cast("double").alias("syy"),
        F.sum(q * p).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ["n", "sx", "sxx", "sy", "syy", "sxy"])
    return sums.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round((sxx - sx * sx / n) / (n - 1), 4).alias("var_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("stddev_qty"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@register(
    "agg_quantiles",
    oracle="""
SELECT o_orderstatus,
       ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders
GROUP BY o_orderstatus
""",
    tags=("agg", "quantile"),
)
def agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation quantiles (Spark percentile ==
    quantile_cont semantics; rounding absorbs the interpolation-formula
    ULP difference between engines)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "agg_minby_maxby",
    oracle="""
SELECT o_orderstatus,
       CAST(MAX(o_orderkey) AS BIGINT) AS last_key,
       MAX_BY(o_totalprice, o_orderkey) AS last_price,
       MIN_BY(o_totalprice, o_orderkey) AS first_price,
       MAX_BY(o_orderpriority, o_orderkey) AS last_priority
FROM orders
GROUP BY o_orderstatus
""",
    tags=("agg", "ordered"),
)
def agg_minby_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN_BY/MAX_BY keyed on the unique orderkey (deterministic ties)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max("o_orderkey").cast("bigint").alias("last_key"),
        F.expr("max_by(o_totalprice, o_orderkey)").alias("last_price"),
        F.expr("min_by(o_totalprice, o_orderkey)").alias("first_price"),
        F.expr("max_by(o_orderpriority, o_orderkey)").alias("last_priority"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
SELECT n_name,
       array_to_string(list_sort(list(s_name)), '|') AS suppliers,
       COUNT(*) AS cnt
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("agg", "collect"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → sort → join (deterministic ordered aggregation)."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias(
                "suppliers"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "scalar_array_funcs",
    oracle="""
SELECT doc_id,
       len(toks) AS n_toks,
       toks[1] AS first_tok,
       array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 5), '|') AS top5_sorted,
       list_contains(toks, 'the') AS has_the,
       len(list_distinct(toks)) AS n_distinct
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
""",
    tags=("scalar", "array"),
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function battery over tokenized documents."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.element_at(toks, 1).alias("first_tok"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), "|"
        ).alias("top5_sorted"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


@register(
    "scalar_json_funcs",
    oracle="""
SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       COUNT(*) AS cnt
FROM events
GROUP BY 1
""",
    tags=("scalar", "json"),
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (get_json_object ≡ json_extract_string)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.get_json_object("props", "$.k").cast("int").alias("k")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "window_range_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4)))
            OVER (PARTITION BY o_custkey ORDER BY day_num
                  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS spend_30d
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_num
    FROM orders
)
""",
    tags=("window", "range-frame"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (30-day trailing spend). RANGE includes all peers, so
    ties need no breaker — deterministic by construction."""
    o = load(spark, sf_dir, "orders").withColumn(
        "day_num",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


@register(
    "correlated_small_quantity",
    oracle="""
SELECT COUNT(*) AS cnt,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem,
     (SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey) a
WHERE l_partkey = pk AND l_quantity < 0.5 * avg_qty
""",
    tags=("subquery", "join", "tpch"),
)
def correlated_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style correlated aggregate, decorrelated into a self-join
    on the per-part average (what Catalyst does to the subquery form)."""
    li = load(spark, sf_dir, "lineitem")
    avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    return (
        li.join(maybe_broadcast(avg), li.l_partkey == avg.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            ),
        )
    )


@register(
    "setop_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
    tags=("setop",),
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "window_distribution_funcs",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROW_NUMBER()   OVER w AS rn,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST()    OVER w, 6) AS cdist,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
       LEAD(o_orderkey, 1, -1) OVER w AS next_key
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
    tags=("window", "distribution"),
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/analytic window battery: percent_rank and cume_dist are
    exact integer-ratio divisions under a unique ordering (bit-identical
    both sides); nth_value/first_value use the default running frame."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.lead("o_orderkey", 1, -1).over(w).alias("next_key"),
    )


@register(
    "agg_string_ordered",
    oracle="""
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_csv,
       COUNT(*) AS cnt
FROM orders
WHERE o_custkey < 20
GROUP BY o_orderpriority
""",
    tags=("agg", "string-agg", "ordered"),
)
def agg_string_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect → sort → join gives
    deterministic CSV regardless of partitioning (the shuffle-order-proof
    formulation of string_agg ... ORDER BY)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.col("o_orderkey"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("keys_csv"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "scalar_regexp_funcs",
    oracle="""
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       regexp_replace(text, '[aeiou]', '_', 'g') AS devoweled_prefix,
       len(regexp_extract_all(text, 'scan')) AS scan_count,
       regexp_matches(text, 'join.*join') AS double_join,
       regexp_extract(source, '([a-z]+)([0-9]+)', 2) AS source_num
FROM (SELECT doc_id, SUBSTR(text, 1, 60) AS text, source FROM documents)
""",
    tags=("scalar", "regexp"),
)
def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery (extract / replace / count / match) over document
    prefixes. Patterns are restricted to the RE2 ∩ Java-regex common
    subset so both engines agree byte-for-byte."""
    from quiver_spark.tables import load as _load

    d = _load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("text"), "source"
    )
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("text", r"[aeiou]", "_").alias("devoweled_prefix"),
        F.size(F.expr("regexp_extract_all(text, 'scan', 0)")).alias("scan_count"),
        F.col("text").rlike("join.*join").alias("double_join"),
        F.regexp_extract("source", r"([a-z]+)([0-9]+)", 2).alias("source_num"),
    )


@register(
    "setop_bag_semantics",
    oracle="""
SELECT nationkey, COUNT(*) AS cnt FROM (
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey FROM supplier
) GROUP BY nationkey
""",
    tags=("setop", "bag"),
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference — each supplier occurrence cancels
    one customer occurrence of the same nation), aggregated to a stable
    histogram."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "setop_intersect_all",
    oracle="""
SELECT nationkey, COUNT(*) AS cnt FROM (
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey FROM supplier
) GROUP BY nationkey
""",
    tags=("setop", "bag"),
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection: min of per-side multiplicities)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "approx_distinct_parts",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_5pct
FROM lineitem GROUP BY l_returnflag
""",
    tags=("agg", "approx"),
    bench=True,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct. Sketch estimates are
    engine-specific, so the oracle-checkable surface is the exact count
    plus a deterministic boolean asserting the HLL estimate lands within
    a 5% envelope of it (HLL++ at rsd=0.02 is deterministic for fixed
    data, so the boolean is stable; the oracle side is simply TRUE)."""
    li = load(spark, sf_dir, "lineitem")
    # round 16 (guide §2.3): dedup (flag, partkey) FIRST — map-side
    # partial aggregation shrinks the shuffle to the distinct pairs and
    # the mixed distinct/non-distinct Expand (2x every row) disappears.
    # HLL insertion is idempotent per value, so the sketch over distinct
    # inputs is BIT-IDENTICAL to the sketch over all occurrences.
    # PRECONDITION (ADVICE r16): count(1)-over-distinct equals
    # countDistinct only for NON-NULL keys — true for TPC-H's NOT NULL
    # l_partkey; a nullable key would need a `l_partkey IS NOT NULL`
    # filter before the distinct (countDistinct and
    # approx_count_distinct both ignore NULLs).
    dedup = li.select("l_returnflag", "l_partkey").distinct()
    return (
        dedup.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.count(F.lit(1)).alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            # 5% relative envelope with a small absolute floor: tiny groups
            # at low scale factors would otherwise hard-fail on an estimate
            # 1-2 off a single-digit exact count
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= F.greatest(0.05 * F.col("exact_parts"), F.lit(2.0))
            ).alias("within_5pct"),
        )
    )
