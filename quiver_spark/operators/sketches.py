"""Mergeable-sketch operators (SURVEY §2.3 custom-operator row, the
driver's "novel sketch" example): a count-min sketch built and queried as
DataFrames.

The sketch itself is a (depth × width) grid of counters; BUILD is one
map-side hash + groupBy (fully parallel, counters merge by addition — the
sketch is a monoid, so 1000 executors each build partial sketches and the
shuffle adds them). QUERY is a broadcast lookup of each key's d cells and a
min. Hashes are md5-based so DuckDB reproduces the exact grid."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quiver_spark.registry import register
from quiver_spark.tables import load

CM_DEPTH = 4
CM_WIDTH = 64


def _bucket_spark(row: int, key: str = "event_type") -> F.Column:
    """Bucket of `key` in hash row `row`: first 8 md5 hex chars as int."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{row}:"), F.col(key))), 1, 8), 16, 10)
        .cast("bigint") % CM_WIDTH
    )


def _cells() -> F.Column:
    """Generator of the {CM_DEPTH} (hrow, bucket) cells of each row's key."""
    args = [F.lit(CM_DEPTH)]
    for r in range(CM_DEPTH):
        args += [F.lit(r), _bucket_spark(r)]
    return F.stack(*args).alias("hrow", "bucket")


def _bucket_sql(row: int, key: str = "event_type") -> str:
    return (
        f"(('0x' || substr(md5('{row}:' || {key}), 1, 8))::BIGINT % {CM_WIDTH})"
    )


@register(
    "sketch_count_min",
    oracle=f"""
WITH cells AS (
    {" UNION ALL ".join(f'''
    SELECT {r} AS hrow, {_bucket_sql(r)} AS bucket, COUNT(*) AS c
    FROM events GROUP BY 2''' for r in range(CM_DEPTH))}
),
keys AS (SELECT DISTINCT event_type FROM events),
est AS (
    SELECT k.event_type,
           MIN(c.c) AS cm_estimate
    FROM keys k
    JOIN cells c
      ON {" OR ".join(f"(c.hrow = {r} AND c.bucket = {_bucket_sql(r, 'k.event_type')})" for r in range(CM_DEPTH))}
    GROUP BY k.event_type
),
exact AS (SELECT event_type, COUNT(*) AS exact_cnt FROM events GROUP BY event_type)
SELECT e.event_type, x.exact_cnt, CAST(e.cm_estimate AS BIGINT) AS cm_estimate
FROM est e JOIN exact x ON e.event_type = x.event_type
""",
    tags=("sketch", "count-min", "agg"),
)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of event_type frequencies: build the {CM_DEPTH}×{CM_WIDTH}
    counter grid, then point-query every distinct key and compare to the
    exact count (estimate ≥ exact always; equality when no collisions).

    BUILD is one pass over the raw events: a ``stack`` emits each event's
    {CM_DEPTH} (hrow, bucket) cells into one groupBy. The exact counts are
    one groupBy(event_type); its rows are the distinct keys, which probe
    their cells through the same ``stack``, a broadcast join to the grid
    and a min."""
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(_cells())
        .groupBy("hrow", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        exact.select("event_type", "exact_cnt", _cells())
        .join(F.broadcast(cells), ["hrow", "bucket"])
        .groupBy("event_type", "exact_cnt")
        .agg(F.min("c").cast("bigint").alias("cm_estimate"))
    )


#: fixed-bin histogram sketch: bins per column, quantile probe points
HIST_BINS = 200
HIST_QS = "array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D)"
HIST_QS_SQL = "(VALUES (0.25),(0.5),(0.75),(0.9),(0.99))"


@register(
    "sketch_histogram_quantiles",
    oracle=f"""
WITH stats AS (
    SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
           COUNT(*) AS n
    FROM orders
),
bins AS (
    SELECT LEAST(CAST(FLOOR(((o_totalprice - mn) / (mx - mn))
                            * {HIST_BINS}) AS BIGINT),
                 {HIST_BINS} - 1) AS b
    FROM orders, stats
),
hist AS (SELECT b, COUNT(*) AS c FROM bins GROUP BY b),
cum AS (
    SELECT b, SUM(c) OVER (ORDER BY b) AS cum_c FROM hist
),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM {HIST_QS_SQL} t(q))
SELECT q,
       MIN(b) AS bin,
       MIN(mn + (CAST(b AS DOUBLE) * ((mx - mn) / {HIST_BINS})))
           AS est_lo
FROM qs
JOIN cum ON cum_c >= q * (SELECT n FROM stats)
CROSS JOIN stats
GROUP BY q
""",
    tags=("sketch", "quantile", "histogram"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram sketch + quantile estimation over
    o_totalprice: pass 1 is an exact global (min, max, n); pass 2 bins
    every value into {HIST_BINS} equal-width buckets (a monoid — partial
    histograms from 1000 executors merge by addition, the same posture as
    the count-min grid); quantile q is estimated as the lower edge of the
    first bin whose cumulative count reaches q·n.

    Every arithmetic step (subtract, divide, multiply, floor) is a single
    correctly-rounded IEEE op on identical operands, so bin assignment and
    edge estimates are bit-identical across engines. The cumulative window
    runs over ≤{HIST_BINS} rows — driver-scale by construction."""
    o = load(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor(
                ((F.col("o_totalprice") - F.col("mn"))
                 / (F.col("mx") - F.col("mn")))
                * HIST_BINS
            ).cast("bigint"),
            F.lit(HIST_BINS - 1),
        ).alias("b"),
        "mn",
        "mx",
        "n",
    )
    hist = binned.groupBy("b", "mn", "mx", "n").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    cum = hist.withColumn(
        "cum_c",
        F.sum("c").over(
            Window.partitionBy("mn").orderBy("b")  # one tiny partition
        ),
    )
    qs = spark.range(1).select(
        F.explode(F.expr(HIST_QS)).alias("q")
    )
    step = (F.col("mx") - F.col("mn")) / HIST_BINS
    return (
        qs.join(cum, F.col("cum_c") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.min("b").alias("bin"),
            F.min(F.col("mn") + (F.col("b").cast("double") * step)).alias(
                "est_lo"
            ),
        )
    )


@register(
    "sketch_hll_union",
    oracle="""
WITH per AS (
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_cust
    FROM orders GROUP BY o_orderpriority
),
tot AS (SELECT COUNT(DISTINCT o_custkey) AS union_exact FROM orders)
SELECT o_orderpriority, exact_cust, TRUE AS within_5pct,
       union_exact, TRUE AS union_within_5pct
FROM per, tot
""",
    tags=("sketch", "hll", "agg"),
)
def sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog sketches as FIRST-CLASS VALUES (Spark's
    Datasketches `hll_sketch_agg` binary), not just a scalar estimate:
    one sketch of the ordering customers is built PER PRIORITY CLASS,
    then the five sketches MERGE (`hll_union_agg`) into the global
    distinct estimate — the exact posture of 1000 executors shipping
    partial sketches upward, or of pre-aggregated per-partition sketches
    answering ad-hoc union queries without rescanning data. Sketch bytes
    are engine-specific, so the oracle-checkable surface is the exact
    counts plus deterministic booleans asserting both the per-class and
    merged estimates land within a 5% envelope (lgConfigK=12 ≈ 1.6% rsd;
    estimates are deterministic for fixed data)."""
    o = load(spark, sf_dir, "orders")
    per = o.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", 12).alias("sk"),
        F.countDistinct("o_custkey").alias("exact_cust"),
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    tot = o.agg(F.countDistinct("o_custkey").alias("union_exact"))
    env = lambda est, exact: (  # noqa: E731 — 5% envelope, small-group floor
        F.abs(est - F.col(exact))
        <= F.greatest(0.05 * F.col(exact), F.lit(2.0))
    )
    return (
        per.select(
            "o_orderpriority",
            "exact_cust",
            env(F.hll_sketch_estimate("sk"), "exact_cust").alias("within_5pct"),
        )
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "exact_cust",
            "within_5pct",
            "union_exact",
            env(F.col("union_est"), "union_exact").alias("union_within_5pct"),
        )
    )
