"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry exercises one operator family from SURVEY.md §2 on the driver's
testdata tables.  The ``events`` table is the transcript stand-in
(FIXTURES.md F6: user_id ↔ conv_id, event_type ↔ role/tool, value ↔ channel);
``documents``/``embeddings`` drive the training-data-pipeline operators.

Contract discipline:
  * every computed column is aliased identically in the Spark query and the
    SQL oracle (the driver hashes values after sorting columns by name);
  * floats are rounded to 6 dp on BOTH sides (summation-order noise);
  * sums are cast to BIGINT in DuckDB (its SUM yields HUGEINT) and kept LONG
    in Spark;
  * divisions use try_divide ↔ nullif(x,0) so both sides yield NULL.

Kernels that SQL cannot express (Weiszfeld geomedian, FFT discordance,
fourier bands, DTW, minhash/simhash banding) appear in QUERIES without an
ORACLES entry → the driver records the weaker rows-only check; their exact
semantics are pytest-verified against hdstats_oracle instead.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import materialize
from .schema import CHANNELS

# ---------------------------------------------------------------- helpers

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
#: per-bucket channel vector for the events table (the "band" axis)
EVENT_CHANNELS = tuple(f"cnt_{t}" for t in EVENT_TYPES) + ("v_sum", "v_max", "n_events")

STOPWORDS = ("the", "a", "of", "and", "key", "value")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return materialize.table(spark, f"{sf_dir}/{name}.parquet")


def _events_cached(build):
    """Decorator for a shared intermediate over the events table: calls of
    ``build(spark, sf_dir, *args)`` return its DataFrame cached, built once
    per session, arguments and events-file state by the registry."""

    @functools.wraps(build)
    def lookup(spark, sf_dir, *args):
        return materialize.cached(
            spark,
            (build.__name__, sf_dir, *args),
            [f"{sf_dir}/events.parquet"],
            lambda: build(spark, sf_dir, *args),
        )

    return lookup


def _r6(c):
    return F.round(c, 6)


def _event_buckets(spark, sf_dir, unit="hour") -> DataFrame:
    """events → (user_id, bucket, channel vector) — the events-table analogue
    of rollup_raw.  The hourly tier is the shared base of seven queries (the
    dense tiers, mad_vs_centroid, dist_to_centroid, derived-measure and
    fixed-grid mirrors): in the production engine it is a materialized
    rollup tier; here the registry holds it cached."""
    if unit == "hour":
        return _event_buckets_1h(spark, sf_dir)
    return _bucket_vectors(spark, sf_dir, unit)


@_events_cached
def _event_buckets_1h(spark, sf_dir):
    return _bucket_vectors(spark, sf_dir, "hour")


def _bucket_vectors(spark, sf_dir, unit):
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"cnt_{t}")
        for t in EVENT_TYPES
    ]
    aggs += [
        F.sum("value").alias("v_sum"),
        F.max("value").alias("v_max"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    return ev.groupBy("user_id", F.date_trunc(unit, "ts").alias("bucket")).agg(*aggs)


_EVENT_BUCKETS_SQL = """
    SELECT user_id, date_trunc('{unit}', ts) AS bucket,
           {cnts},
           sum(value) AS v_sum, max(value) AS v_max,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
""".strip()


def _event_buckets_sql(unit="hour"):
    cnts = ",\n           ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_{t}"
        for t in EVENT_TYPES
    )
    return _EVENT_BUCKETS_SQL.format(unit=unit, cnts=cnts)


# ---------------------------------------------------------------- tier rollups

def q_rollup_1m(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        _r6(F.sum("value")).alias("v_sum"),
        _r6(F.avg("value")).alias("v_avg"),
        _r6(F.min("value")).alias("v_min"),
        _r6(F.max("value")).alias("v_max"),
    )


SQL_ROLLUP_1M = """
SELECT user_id, date_trunc('minute', ts) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS v_sum,
       round(avg(value), 6) AS v_avg,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max
FROM events GROUP BY 1, 2
"""


def _rollup_sums(spark, sf_dir, unit):
    """Engine-style composable rollup (sums only) at the given unit — built by
    CASCADING from the minute tier, which is what the oracle's direct GROUP BY
    must equal (retention-tier invariant)."""
    t1m = _minute_sums(spark, sf_dir)
    return t1m.groupBy("user_id", F.date_trunc(unit, "bucket").alias("bucket")).agg(
        F.sum("n_events").alias("n_events"),
        _r6(F.sum("v_sum")).alias("v_sum"),
        _r6(F.min("v_min")).alias("v_min"),
        _r6(F.max("v_max")).alias("v_max"),
    )


@_events_cached
def _minute_sums(spark, sf_dir):
    """The minute tier IS the engine's materialized base rollup tier (the
    same rationale as the hourly bucket tier): the registry holds it
    cached, so the 1h and 1d cascades share one materialization instead
    of each re-aggregating the raw events."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", F.date_trunc("minute", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


def q_rollup_1h_cascade(spark, sf_dir):
    return _rollup_sums(spark, sf_dir, "hour")


def q_rollup_1d_cascade(spark, sf_dir):
    return _rollup_sums(spark, sf_dir, "day")


def _sql_rollup_direct(unit):
    return f"""
SELECT user_id, date_trunc('{unit}', ts) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS v_sum,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------- gap-fill

def q_derived_measures(spark, sf_dir):
    """Query-time derived measures recomputed from tier sums (means/rates
    are never stored, always derived):
    events-per-minute rate and value-per-event over the hourly tier."""
    b = _event_buckets(spark, sf_dir, "hour")
    return b.select(
        "user_id",
        "bucket",
        _r6(F.col("n_events") / F.lit(60.0)).alias("events_per_min"),
        _r6(F.try_divide(F.col("v_sum"), F.col("n_events"))).alias("value_per_event"),
        _r6(F.try_divide(F.col("cnt_error").cast("double"), F.col("n_events"))).alias("error_rate"),
    )


def _sql_derived_measures():
    return f"""
WITH b AS ({_event_buckets_sql('hour')})
SELECT user_id, bucket,
       round(n_events / 60.0, 6) AS events_per_min,
       round(v_sum / nullif(n_events, 0), 6) AS value_per_event,
       round(CAST(cnt_error AS DOUBLE) / nullif(n_events, 0), 6) AS error_rate
FROM b
"""


@_events_cached
def _gapfill_ff(spark, sf_dir):
    """Cached forward-filled series (completion phase 1, tsslow.py:11-17)
    — the shared sub-plan of gapfill_locf (which rounds it) and
    gapfill_completion (which additionally fills residual leading holes).
    The window expression is UNCHANGED from the per-query builds; caching
    just lets the two queries (and bench repeats) materialize the one
    expensive per-user ordered window once, like the rollup tiers."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.when(F.col("event_type") != "error", F.col("value"))
    return ev.select(
        "event_id", "user_id", F.last(v, ignorenulls=True).over(w).alias("_ff")
    )


def q_gapfill_locf(spark, sf_dir):
    """Forward-fill of a sparsified measure (completion phase 1,
    tsslow.py:11-17): 'error' rows carry no value."""
    return _gapfill_ff(spark, sf_dir).select(
        "event_id",
        "user_id",
        _r6(F.col("_ff")).alias("v_filled"),
    )


SQL_GAPFILL_LOCF = """
SELECT event_id, user_id,
       round(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
FROM events
"""


def q_gapfill_completion(spark, sf_dir):
    """Full completion semantics (tsslow.py:10-26): forward-fill, then fill
    residual leading holes with the per-series mean of the filled series."""
    ff = _gapfill_ff(spark, sf_dir)
    wall = Window.partitionBy("user_id")
    return ff.select(
        "event_id",
        "user_id",
        _r6(F.coalesce(F.col("_ff"), F.avg("_ff").over(wall))).alias("v_completed"),
    )


SQL_GAPFILL_COMPLETION = """
WITH ff AS (
  SELECT event_id, user_id,
         last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _ff
  FROM events
)
SELECT event_id, user_id,
       round(coalesce(_ff, avg(_ff) OVER (PARTITION BY user_id)), 6) AS v_completed
FROM ff
"""


# ---------------------------------------------------------------- change features

@_events_cached
def _hourly_mean(spark, sf_dir):
    """Cached per-user hourly MEAN series — the shared input of
    change_features and complexity (the same materialized-rollup
    rationale as the cached bucket/minute tiers).  The Average aggregate
    is UNCHANGED from the per-query builds — it just materializes once."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.avg("value").alias("v"))
    )


def q_change_features(spark, sf_dir):
    """ts.pyx:195-209 change features over each user's hourly mean series."""
    hourly = _hourly_mean(spark, sf_dir)
    from .operators.features import change_features

    out = change_features(hourly, "v", order_col="bucket", key_col="user_id")
    return out.select(
        "user_id",
        _r6("mean_change").alias("mean_change"),
        _r6("median_change").alias("median_change"),
        _r6("mean_abs_change").alias("mean_abs_change"),
        _r6("mean_central_diff").alias("mean_central_diff"),
    )


SQL_CHANGE_FEATURES = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS v
  FROM events GROUP BY 1, 2
), d AS (
  SELECT user_id,
         v - lag(v) OVER w AS diff,
         (lag(v) OVER w - 2*v + lead(v) OVER w) / 2.0 AS central,
         row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM hourly WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
)
SELECT user_id,
       round(avg(diff), 6) AS mean_change,
       round(median(diff), 6) AS median_change,
       round(avg(abs(diff)), 6) AS mean_abs_change,
       round(avg(CASE WHEN rn > 1 AND rn < n THEN central END), 6) AS mean_central_diff
FROM d GROUP BY user_id
"""


def q_complexity(spark, sf_dir):
    """ts.pyx:212-219 over each user's hourly mean series (population σ)."""
    hourly = _hourly_mean(spark, sf_dir)
    from .operators.features import complexity

    out = complexity(hourly, "v", order_col="bucket", key_col="user_id")
    return out.select("user_id", _r6("complexity").alias("complexity"))


SQL_COMPLEXITY = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS v
  FROM events GROUP BY 1, 2
), z AS (
  SELECT user_id, bucket,
         (v - avg(v) OVER (PARTITION BY user_id))
           / nullif(stddev_pop(v) OVER (PARTITION BY user_id), 0) AS zv
  FROM hourly
), d AS (
  SELECT user_id, zv - lag(zv) OVER (PARTITION BY user_id ORDER BY bucket) AS dz
  FROM z
)
SELECT user_id, round(sum(dz * dz), 6) AS complexity
FROM d GROUP BY user_id
"""


def q_wiener_smooth(spark, sf_dir, k=3):
    """Reference Wiener smoothing (tsslow.py:29-30) over each user's hourly
    mean series — fully SQL-expressible, so DuckDB-checked."""
    from .operators.smooth import wiener_smooth

    hourly = _hourly_mean(spark, sf_dir)
    out = wiener_smooth(hourly, "v", k=k, key_col="user_id")
    return out.select("user_id", "bucket", _r6("v_smooth").alias("v_smooth"))


SQL_WIENER_SMOOTH = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, avg(value) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, bucket, v,
         sum(v) OVER w / 3.0 AS lm,
         sum(v * v) OVER w / 3.0 - (sum(v) OVER w / 3.0) * (sum(v) OVER w / 3.0) AS lv
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
), n AS (SELECT avg(lv) AS noise FROM s)
SELECT user_id, bucket,
       round(CASE WHEN lv < noise THEN lm
                  ELSE (v - lm) * (1 - noise / nullif(lv, 0)) + lm END, 6) AS v_smooth
FROM s CROSS JOIN n
"""


# ---------------------------------------------------------------- MAD trio vs centroid

def q_mad_vs_centroid(spark, sf_dir):
    """The MAD pipeline shape (geomad.pyx:200-350) with an SQL-checkable
    centroid (arithmetic mean) standing in for the geomedian: per-user median
    of {euclidean, cosine, Bray-Curtis} distance between each hourly channel
    vector and the user's mean vector.  The gm-based variant is
    q_geomedian/q_mads (rows-only)."""
    b = _event_buckets(spark, sf_dir, "hour")
    chans = list(EVENT_CHANNELS)
    cent = b.groupBy("user_id").agg(
        *[F.avg(c).alias(f"c_{c}") for c in chans]
    )
    # unhinted: one centroid row per user scales with the corpus; AQE
    # broadcasts when genuinely small, else the shuffled join co-partitions
    j = b.join(cent, "user_id")
    diffsq = sum(
        ((F.col(c) - F.col(f"c_{c}")) * (F.col(c) - F.col(f"c_{c}")) for c in chans[1:]),
        (F.col(chans[0]) - F.col(f"c_{chans[0]}")) * (F.col(chans[0]) - F.col(f"c_{chans[0]}")),
    )
    dot = sum((F.col(c) * F.col(f"c_{c}") for c in chans[1:]), F.col(chans[0]) * F.col(f"c_{chans[0]}"))
    na = sum((F.col(c) * F.col(c) for c in chans[1:]), F.col(chans[0]) * F.col(chans[0]))
    nb = sum((F.col(f"c_{c}") * F.col(f"c_{c}") for c in chans[1:]), F.col(f"c_{chans[0]}") * F.col(f"c_{chans[0]}"))
    adiff = sum((F.abs(F.col(c) - F.col(f"c_{c}")) for c in chans[1:]), F.abs(F.col(chans[0]) - F.col(f"c_{chans[0]}")))
    asum = sum((F.abs(F.col(c) + F.col(f"c_{c}")) for c in chans[1:]), F.abs(F.col(chans[0]) + F.col(f"c_{chans[0]}")))
    d = j.select(
        "user_id",
        F.sqrt(diffsq).alias("_ed"),
        (F.lit(1.0) - F.try_divide(dot, F.sqrt(na) * F.sqrt(nb))).alias("_cd"),
        F.try_divide(adiff, asum).alias("_bd"),
    )
    return d.groupBy("user_id").agg(
        _r6(F.median("_ed")).alias("emad"),
        _r6(F.median("_cd")).alias("smad"),
        _r6(F.median("_bd")).alias("bcmad"),
    )


def _sql_mad_vs_centroid():
    chans = list(EVENT_CHANNELS)
    diffsq = " + ".join(f"(b.{c} - c.c_{c}) * (b.{c} - c.c_{c})" for c in chans)
    dot = " + ".join(f"b.{c} * c.c_{c}" for c in chans)
    na = " + ".join(f"b.{c} * b.{c}" for c in chans)
    nb = " + ".join(f"c.c_{c} * c.c_{c}" for c in chans)
    adiff = " + ".join(f"abs(b.{c} - c.c_{c})" for c in chans)
    asum = " + ".join(f"abs(b.{c} + c.c_{c})" for c in chans)
    cents = ", ".join(f"avg({c}) AS c_{c}" for c in chans)
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
c AS (SELECT user_id, {cents} FROM b GROUP BY user_id),
d AS (
  SELECT b.user_id,
         sqrt({diffsq}) AS _ed,
         1.0 - ({dot}) / nullif(sqrt({na}) * sqrt({nb}), 0) AS _cd,
         ({adiff}) / nullif(({asum}), 0) AS _bd
  FROM b JOIN c ON b.user_id = c.user_id
)
SELECT user_id,
       round(median(_ed), 6) AS emad,
       round(median(_cd), 6) AS smad,
       round(median(_bd), 6) AS bcmad
FROM d GROUP BY user_id
"""


# ---------------------------------------------------------------- sessionize / topk / pivot

def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-minute idle rule) — the streaming-tier
    analogue of per-conversation segmentation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    s = ev.select("user_id", flag.alias("_new"))
    return s.groupBy("user_id").agg(F.sum("_new").alias("n_sessions"))


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS _new
  FROM events
)
SELECT user_id, CAST(sum(_new) AS BIGINT) AS n_sessions FROM g GROUP BY user_id
"""


def q_session_concurrency(spark, sf_dir, max_session_hours: int = 24 * 7):
    """RANGE (interval) join — the second join shape Spark lacks natively:
    for every gap-based session interval, count ALL events (any user) whose
    timestamp falls inside it — no shared key between the sides, so a naive
    theta join is a cross product.  Spark-first scale pattern: explode each
    interval to the hour buckets it covers (bounded fan-out = session
    length in hours), equi-join events on their own hour bucket, then apply
    the exact range predicate — each event's hour matches exactly one
    exploded hour per session, so no dedup pass is needed and the join
    stays an equi-join at 10^12 events.

    The 30-minute gap rule does NOT cap a continuously-active session, so
    one pathological weeks-long session would fan out to thousands of rows;
    ``max_session_hours`` bounds the explode with a LOUD executor-side
    raise (wired into the sequence bound itself so column pruning cannot
    elide it) — silent truncation would return wrong counts, and a session
    beyond the bound means the sessionization rule, not this query, needs
    revisiting.  Oracle: DuckDB's plain theta join (BETWEEN), an
    independent formulation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sx = ev.select("user_id", "ts", F.sum(flag).over(run).alias("session_idx"))
    sessions = sx.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    span_h = (
        F.unix_timestamp("session_end") - F.unix_timestamp("session_start")
    ) / 3600
    end_guarded = F.when(
        span_h <= F.lit(max_session_hours), F.date_trunc("hour", "session_end")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"session_concurrency: session longer than {max_session_hours}h "
                    "(explode fan-out bound) for user_id="
                ),
                F.col("user_id").cast("string"),
            )
        )
    )
    sh = sessions.select(
        "user_id",
        "session_idx",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "session_start"),
                end_guarded,
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour"),
    )
    eh = ev.select(F.date_trunc("hour", "ts").alias("hour"), F.col("ts").alias("e_ts"))
    return (
        sh.join(eh, "hour")
        .filter((F.col("e_ts") >= F.col("session_start")) & (F.col("e_ts") <= F.col("session_end")))
        .groupBy("user_id", F.col("session_idx").cast("int").alias("session_idx"),
                 "session_start", "session_end")
        .agg(F.count(F.lit(1)).alias("n_concurrent"))
    )


SQL_SESSION_CONCURRENCY = """
WITH f AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
              THEN 1 ELSE 0 END AS _new
  FROM events
), sx AS (
  SELECT user_id, ts,
         sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM f
), s AS (
  SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end
  FROM sx GROUP BY 1, 2
)
SELECT s.user_id, CAST(s.session_idx AS INT) AS session_idx,
       s.session_start, s.session_end,
       CAST(count(*) AS BIGINT) AS n_concurrent
FROM s JOIN events e ON e.ts BETWEEN s.session_start AND s.session_end
GROUP BY 1, 2, 3, 4
"""


def q_topk_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), _r6(F.sum("value")).alias("v_sum")
    )
    # orderBy().limit(k) plans as TakeOrderedAndProject (per-partition top-k +
    # driver merge) — no global single-partition window Exchange; rnk is then
    # derived on the 10 surviving rows only.
    top = agg.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10)
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "user_id", "n_events", "v_sum", "rnk"
    )


SQL_TOPK_USERS = """
WITH agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 6) AS v_sum
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, v_sum,
       CAST(row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS INT) AS rnk
FROM agg QUALIFY rnk <= 10
"""


def q_events_rollup_totals(spark, sf_dir):
    """Grouping-sets surface (SURVEY §2.2): event counts and value sums at
    (user, type), (user), and grand-total granularities in ONE pass —
    ``df.rollup`` plans a single Expand + hash aggregate, the relational
    idiom for multi-granularity tier summaries (subtotal rows carry NULL
    group keys + GROUPING() markers, matching ANSI ROLLUP)."""
    ev = _t(spark, sf_dir, "events")
    # DECIMAL sums: the grand-total grouping set folds the WHOLE table into
    # one accumulation, where float summation order (Spark partials vs
    # DuckDB) could straddle a 6-dp rounding boundary; decimal addition is
    # exact and associative, so the subtotal rows hash identically at any
    # partitioning (each value quantizes to 6 dp identically in both
    # engines — doubles have no exact decimal midpoints)
    return ev.rollup("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.grouping("user_id").cast("int").alias("g_user"),
        F.grouping("event_type").cast("int").alias("g_type"),
    )


SQL_EVENTS_ROLLUP_TOTALS = """
SELECT user_id, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(GROUPING(user_id) AS INT) AS g_user,
       CAST(GROUPING(event_type) AS INT) AS g_type
FROM events GROUP BY ROLLUP (user_id, event_type)
"""


def q_events_pivot(spark, sf_dir):
    """Conditional-aggregation pivot: per-user counts by event type."""
    ev = _t(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"cnt_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)


def _sql_events_pivot():
    cnts = ",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_{t}"
        for t in EVENT_TYPES
    )
    return f"SELECT user_id,\n       {cnts}\nFROM events GROUP BY user_id"


# ---------------------------------------------------------------- relational (scan/join/agg)

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style scan+filter+agg over lineitem (predicate pushdown
    showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """orders ⋈ customer + top-10 by revenue.  The customer side is left
    unhinted — it is a dim table but still grows with scale factor, and AQE
    picks the broadcast at runtime when it fits (the plan still shows
    BroadcastHashJoin at bench scale)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    agg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(_r6(F.sum("o_totalprice")).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )
    # TakeOrderedAndProject instead of an un-partitioned window (scale: the
    # aggregated row set never funnels through one task)
    top = agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "c_custkey", "c_name", "revenue", "n_orders", "rnk"
    )


SQL_TOP_CUSTOMERS = """
WITH agg AS (
  SELECT c_custkey, c_name, round(sum(o_totalprice), 6) AS revenue,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_name
)
SELECT c_custkey, c_name, revenue, n_orders,
       CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rnk
FROM agg QUALIFY rnk <= 10
"""


# ---------------------------------------------------------------- documents: text analysis & dedup

def _quality_cols(text_col="text"):
    """Shared token-count / stopword / quality expressions — doc_stats and
    corpus_filter must score documents identically or their 'quality'
    columns silently disagree."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    stop_arr = F.array(*[F.lit(x) for x in STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    n_tok = F.size(toks)
    quality = (
        F.least(n_tok.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.try_divide(n_stop.cast("double"), F.lit(len(STOPWORDS))) * 0.5
    )
    return toks, n_tok, n_stop, quality


def _sql_quality_expr():
    toks = "string_split_regex(trim(text), '\\s+')"
    return (
        f"least(len({toks}) / 100.0, 1.0) * 0.5 + "
        f"len(list_intersect(list_distinct({toks}), {list(STOPWORDS)})) / {float(len(STOPWORDS))} * 0.5"
    )


def q_doc_stats(spark, sf_dir):
    """Token counting + quality scoring (training-data text analysis)."""
    from .operators.partitioning import ensure_min_partitions

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    _, n_tok, n_stop, quality = _quality_cols()
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").alias("n_chars_eng"),
        _r6(F.try_divide(F.length("text").cast("double"), n_tok)).alias("chars_per_token"),
        n_stop.alias("n_stop_distinct"),
        _r6(quality).alias("quality"),
    )


_SQL_DOC_STATS = f"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
       CAST(length(text) AS INT) AS n_chars_eng,
       round(CAST(length(text) AS DOUBLE) / nullif(len(string_split_regex(trim(text), '\\s+')), 0), 6) AS chars_per_token,
       CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
                               {list(STOPWORDS)})) AS INT) AS n_stop_distinct,
       round({_sql_quality_expr()}, 6) AS quality
FROM documents
"""


def q_dup_clusters(spark, sf_dir, n=2, threshold=0.04, max_doc_freq=200):
    """Near-duplicate CLUSTERING — pair lists aren't what a curation
    pipeline consumes; it needs each document labeled with its duplicate
    component so one canonical survives per cluster.  Connected components
    over the exact n-gram Jaccard pair graph via alternating
    large-star/small-star (operators.dedup.connected_components): rounds
    are O(log component size), NOT O(diameter) like min-label propagation,
    so a 10^12-doc corpus with one long duplication chain converges in a
    handful of shuffles instead of hitting a round guard; the convergence
    probe rides the same aggregation job that materializes each round's
    edge set (no per-round driver probe job).  Singleton documents never
    enter the loop — only the pair-graph edges do — and get their own id
    via the final left join.  Oracle: DuckDB recursive-CTE reachability
    with min-root aggregation — an independent textbook formulation of the
    same components."""
    from .operators.dedup import connected_components, shingle_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(
        d, threshold=threshold, n=n, max_doc_freq=max_doc_freq
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels, _rounds = connected_components(pairs)
    return (
        d.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("root", "doc_id").alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("root", "doc_id"))
            .cast("int")
            .alias("is_canonical"),
        )
    )


def _sql_dup_clusters(n=2, threshold=0.04, max_doc_freq=200):
    return f"""
WITH RECURSIVE {_sql_jaccard_pairs_cte(n, threshold, max_doc_freq)}, edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM p
), reach AS (
  SELECT doc_id AS node, doc_id AS root FROM documents
  UNION
  SELECT e.dst AS node, r.root
  FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(root) AS cluster_id,
       CAST(node = min(root) AS INT) AS is_canonical
FROM reach GROUP BY node
"""


def q_decontaminate(spark, sf_dir, n=6, bench_mod=50):
    """Benchmark decontamination over the documents table: every doc
    sharing ≥1 word n-gram with the pseudo-benchmark set (doc_id % 50 == 0
    — a deterministic stand-in for an eval suite, which naturally flags
    the benchmark docs themselves plus their near-duplicates, exactly what
    decontamination is for).  Operator: operators.dedup.decontaminate —
    broadcast benchmark n-gram set + map-only corpus probe.  Oracle: the
    same n-gram construction the jaccard CTE uses, as an independent
    DuckDB join."""
    from .operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % bench_mod == 0)
    return decontaminate(d, bench, n=n)


def q_decontaminate_bloom(spark, sf_dir, n=6, bench_mod=50):
    """decontaminate with method='bloom' — the bounded-memory dirty set
    (vectorized NumPy Bloom over the benchmark shingles' xxhash64 pairs,
    built distributed, broadcast as bytes, map-only probe, exact re-verify
    join for Bloom hits only).  Result is bit-identical to the broadcast
    method, so it shares _sql_decontaminate as its oracle; bench-only
    (COVERAGE.md) — the broadcast form holds the ledger slot."""
    from .operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % bench_mod == 0)
    return decontaminate(d, bench, n=n, method="bloom")


def _sql_decontaminate(n=6, bench_mod=50):
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                               i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS shingle
  FROM t
), dirty AS (
  SELECT DISTINCT shingle FROM s WHERE doc_id % {bench_mod} = 0
), hits AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_dirty
  FROM s JOIN dirty USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n_dirty, 0) AS n_dirty_ngrams,
       CAST(coalesce(h.n_dirty, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_asof_join_events(spark, sf_dir):
    """AS-OF join — the point-in-time feature join Spark has no native
    operator for (and the classic training-data leakage guard): each event
    is matched to the latest COMPLETED hourly aggregate of its user (bucket
    whose end ≤ event time).  Spark-first formulation: union the bucket
    availability points with the event stream, one hash partition on
    user_id, and a running ``last(..., ignorenulls)`` window — a single
    shuffle + sort, no range-join row explosion, the plan you'd run at
    10^12 events.  The DuckDB oracle is the engine-native ``ASOF JOIN``,
    so the semantics are checked against a first-class implementation."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_in_hour"))
        .select(
            "user_id",
            (F.col("bucket") + F.expr("INTERVAL 1 HOUR")).alias("t"),
            F.lit(0).alias("is_event"),
            F.struct("bucket", "n_in_hour").alias("bstate"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    e = ev.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("struct<bucket:timestamp_ntz,n_in_hour:bigint>").alias("bstate"),
        "event_id",
    )
    # bucket availability sorts BEFORE events at equal t ⇒ ts >= avail is
    # inclusive, matching ASOF's >= semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = b.unionByName(e).withColumn(
        "m", F.last("bstate", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("is_event") == 1) & F.col("m").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("m.bucket").alias("prev_hour"),
            F.col("m.n_in_hour").alias("prev_hour_events"),
        )
    )


SQL_ASOF_JOIN_EVENTS = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, count(*) AS n_in_hour
  FROM events GROUP BY 1, 2
), ba AS (
  SELECT user_id, bucket, bucket + INTERVAL 1 HOUR AS avail_ts, n_in_hour FROM b
)
SELECT e.event_id, e.user_id, ba.bucket AS prev_hour,
       CAST(ba.n_in_hour AS BIGINT) AS prev_hour_events
FROM events e ASOF JOIN ba
  ON e.user_id = ba.user_id AND e.ts >= ba.avail_ts
"""


def q_corpus_filter(spark, sf_dir, min_tokens=20, max_tokens=10_000, min_quality=0.3):
    """The composed keep/drop decision a training-data pipeline actually
    ships: token-count bounds + quality floor + exact-dedup canonicalization
    (keep only the min-doc_id copy of each content hash) in ONE relational
    pass — the length/quality exprs are pure JVM columns and the
    canonical-copy test is a window min over md5(text), so no joins, no
    shuffles beyond the one hash partition."""
    d = _t(spark, sf_dir, "documents")
    _, n_tok, _, quality = _quality_cols()
    w = Window.partitionBy(F.md5("text"))
    is_canon = (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
    drop_len = ((n_tok < min_tokens) | (n_tok > max_tokens)).cast("int")
    drop_q = (_r6(quality) < min_quality).cast("int")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        _r6(quality).alias("quality"),
        is_canon.alias("is_canonical"),
        drop_len.alias("drop_len"),
        drop_q.alias("drop_lowq"),
        (
            (is_canon == 1) & (drop_len == 0) & (drop_q == 0)
        ).cast("int").alias("keep"),
    )


def _sql_corpus_filter(min_tokens=20, max_tokens=10_000, min_quality=0.3):
    toks = "string_split_regex(trim(text), '\\s+')"
    q = _sql_quality_expr()
    return f"""
WITH s AS (
  SELECT doc_id,
         CAST(len({toks}) AS INT) AS n_tokens,
         round({q}, 6) AS quality,
         CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_canonical
  FROM documents
)
SELECT doc_id, n_tokens, quality, is_canonical,
       CAST(n_tokens < {min_tokens} OR n_tokens > {max_tokens} AS INT) AS drop_len,
       CAST(quality < {min_quality} AS INT) AS drop_lowq,
       CAST(is_canonical = 1 AND NOT (n_tokens < {min_tokens} OR n_tokens > {max_tokens})
            AND quality >= {min_quality} AS INT) AS keep
FROM s
"""


def q_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash: canonical = min doc_id per md5(text)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_md5, min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint (lowercase, collapse whitespace)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
    "it": ("il", "e", "di"),
}


def q_lang_id(spark, sf_dir):
    """Marker-occurrence language-ID heuristic: one word-boundary regex scan
    per language (JVM-side), argmax with alphabetical tie-break."""
    from .operators.partitioning import ensure_min_partitions

    # the per-language regex battery runs in the scan stage — widen a
    # narrow (single-split) input or the whole corpus scans on one core
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    scores = [
        F.struct(
            F.regexp_count(F.lower("text"), F.lit(r"\b(" + "|".join(ms) + r")\b")).alias("s"),
            F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tb"),
            F.lit(lang).alias("lang"),
        )
        for lang, ms in sorted(_LANG_MARKERS.items())
    ]
    best = F.greatest(*scores)  # struct compare: score, then reversed-alpha tb
    return d.select("doc_id", best.getField("lang").alias("pred_lang"))


def _sql_lang_id():
    arms = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, '{lang}' AS lang, "
        f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ms)})\\b')) AS sc "
        "FROM documents"
        for lang, ms in sorted(_LANG_MARKERS.items())
    )
    return f"""
WITH s AS (
{arms}
)
SELECT doc_id, lang AS pred_lang FROM s
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, lang ASC) = 1
"""


# ---------------------------------------------------------------- embeddings: similarity search

def _parquet_rows(path):
    """Row count of a parquet file-or-dir from footers only — zero Spark
    jobs (the _embeddings_meta pattern, table-agnostic)."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
    else:
        files = [path]
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def _parquet_col_max(path, col):
    """Exact column max of a parquet file-or-dir from FOOTER row-group
    statistics — zero Spark jobs.  Only INT32/INT64 columns qualify:
    their min/max stats are exact (strings may be truncated, and float
    stats follow NaN/-0.0 rules that differ from Spark's max), so when
    every non-empty row group carries them the result equals
    ``agg(max(col))``.  Returns None (caller falls back to the Spark job)
    for any other physical type or if any row group lacks the statistic."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
    else:
        files = [path]
    best = None
    for p in files:
        md = pq.ParquetFile(p).metadata
        try:
            ci = md.schema.names.index(col)
        except ValueError:
            return None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            cc = rg.column(ci)
            if cc.physical_type not in ("INT32", "INT64"):
                return None
            st = cc.statistics
            if st is None or not st.has_min_max:
                return None
            best = st.max if best is None else max(best, st.max)
    return best


_EMB_MIRROR_TARGET = 2000  # sf0.1 embeddings rows
_DOC_MIRROR_TARGET = 5000  # sf0.1 documents rows


def _quad_mirror_modulus(n_rows, target, label):
    """Deterministic cohort cap for the by-design QUADRATIC verify mirrors
    (all-pairs embedding twin, 8-bit-band simhash_poly): above ~2× the
    sf0.1 table size, keep only ``id % K == 0`` with K = ceil(n / target),
    holding the mirror's all-pairs work at sf0.1 scale forever.  K = 1 (a
    no-op — identical rows, identical CORRECTNESS hashes) at sf ≤ 0.1; the
    oracle SQL applies the same formula from count(*), so capped runs stay
    hash-comparable at any sf.  Logged per the no-silent-caps rule."""
    if n_rows <= 2 * target + target // 2:  # sf0.1 × 2.5 headroom
        return 1
    k = -(-n_rows // target)
    print(
        f"[quad-mirror cap] {label}: n={n_rows} > sf0.1-scale; keeping "
        f"id % {k} == 0 (~{n_rows // k} rows) — bounded-oracle mirror, "
        f"scale path is the LSH/64-bit variant",
        flush=True,
    )
    return k


def _embeddings_meta(sf_dir, with_dim=True):
    """(n_rows, dim) of the embeddings table from parquet FOOTERS — zero
    Spark jobs.  Replaces the r3 pattern of a full-corpus ``count()``
    (auto-k sizing) plus a ``first()`` (dim probe) per query, each of which
    was a separate Spark job on the hot path.

    ``with_dim=False`` skips the one-row-group column read (callers that
    only need the size guard shouldn't pay a column-chunk read); the dim
    probe scans files for the first non-empty row group, so empty leading
    part files don't break it."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not files:
            raise FileNotFoundError(f"no parquet data files under {path}")
    else:
        files = [path]
    metas = {p: pq.ParquetFile(p) for p in files}
    n = sum(m.metadata.num_rows for m in metas.values())
    if not with_dim:
        return n, None
    for p in files:
        if metas[p].metadata.num_rows:
            first = metas[p].read_row_group(0, columns=["embedding"])
            return n, len(first.column(0)[0])
    raise ValueError(f"embeddings table at {path} has no rows to probe dim from")


def _collect_embeddings(spark, sf_dir, predicate=None, max_rows=1_000_000):
    """Small-side embedding matrix for broadcasting (ids, float64 matrix,
    norms).  At 100 TB the small side is the query/codebook table; the
    corpus always stays distributed.

    Hard guard: collecting is only legitimate for BOUNDED reference sets
    (query batches, codebooks, oracle fixtures).  A corpus larger than
    ``max_rows`` raises instead of OOMing the driver — use the bucketed
    ``operators.dedup.dedup_embedding_lsh`` / ``operators.simsearch`` paths
    for unbounded corpora."""
    import numpy as np

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if predicate is None:
        # unfiltered collect: answer the size guard from the parquet footers
        # (metadata-only) and collect with a plain fully-parallel toPandas().
        # The r3 guard used limit(max_rows+1).toPandas(), but Spark executes
        # LIMIT as CollectLimit with incremental scale-up jobs at narrow
        # initial parallelism — a 3.7× regression on this query's bench time.
        n, _ = _embeddings_meta(sf_dir, with_dim=False)
        if n > max_rows:
            raise ValueError(
                f"refusing to collect {n} (> {max_rows}) embeddings to the "
                "driver; use dedup_embedding_lsh / knn_lsh / knn_ivf for "
                "unbounded corpora"
            )
        pdf = e.toPandas()
    else:
        # predicate pushed down: footers can't answer the post-filter count;
        # the early-terminating LIMIT probe stays (filtered reference sets
        # are tiny — query batches, fixtures — so CollectLimit is cheap here)
        pdf = e.filter(predicate).limit(max_rows + 1).toPandas()
        if len(pdf) > max_rows:
            raise ValueError(
                f"refusing to collect >{max_rows} embeddings to the driver; "
                "use dedup_embedding_lsh / knn_lsh / knn_ivf for unbounded "
                "corpora"
            )
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, M, np.sqrt((M * M).sum(axis=1))


def q_knn_cosine(spark, sf_dir, k=5, n_queries=5):
    """Brute-force cosine top-k — the exact ANN baseline.  The tiny query set
    is broadcast as a NumPy matrix; the distributed corpus streams through a
    mapInPandas GEMM (Arrow batches × BLAS), then one window picks top-k."""
    import numpy as np
    import pandas as pd

    qids, Q, qnorm = _collect_embeddings(spark, sf_dir, F.col("vec_id") < n_queries)
    sc = spark.sparkContext
    bq = sc.broadcast((qids, Q, qnorm))
    corpus = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= n_queries)

    def gemm(batches):
        ids_q, Qm, qn = bq.value
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            S = (X @ Qm.T) / (xn[:, None] * qn[None, :])  # (batch, nq)
            nb, nq = S.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(ids_q, nb),
                    "neighbor_id": np.repeat(pdf["vec_id"].to_numpy(), nq),
                    "_sim": S.ravel(),
                }
            )

    sims = corpus.select("vec_id", "embedding").mapInPandas(
        gemm, "query_id long, neighbor_id long, _sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", _r6("_sim").alias("cos_sim"), "rnk")
    )


def _sql_knn_cosine(k=5, n_queries=5):
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS _sim
  FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id, round(_sim, 6) AS cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY _sim DESC, neighbor_id ASC) AS INT) AS rnk
FROM sims QUALIFY rnk <= {k}
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-label elementwise centroid (posexplode + re-agg)."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("dim0", "val"))
    return (
        x.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(_r6(F.avg("val")).alias("centroid"))
    )


SQL_EMBEDDING_CENTROIDS = """
WITH x AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS dim,
         unnest(embedding) AS val
  FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim, round(avg(val), 6) AS centroid
FROM x GROUP BY label, dim
"""


def q_embedding_dups(spark, sf_dir, threshold=0.4):
    """Embedding-cosine near-duplicate pairs (vec_id a < b, sim ≥ τ).

    Broadcast the (small) reference matrix, stream the distributed corpus
    through a mapInPandas GEMM, keep pairs with ROUNDED sim ≥ τ.  τ=0.4 on
    this synthetic corpus (no pair exceeds 0.6); production dedup uses 0.9+.
    For corpora too large to broadcast, dedup_embedding_lsh (operators/dedup)
    is the bucketed scale path."""
    import numpy as np
    import pandas as pd

    n_vecs = _parquet_rows(f"{sf_dir}/embeddings.parquet")
    K = _quad_mirror_modulus(n_vecs, _EMB_MIRROR_TARGET, "embedding_dups")
    pred = (F.col("vec_id") % K == 0) if K > 1 else None
    ids, M, norms = _collect_embeddings(spark, sf_dir, predicate=pred)
    bref = spark.sparkContext.broadcast((ids, M, norms))
    corpus = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if pred is not None:
        corpus = corpus.filter(pred)

    def gemm(batches):
        rid, RM, rn = bref.value
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xids = pdf["vec_id"].to_numpy(dtype=np.int64)
            xn = np.sqrt((X * X).sum(axis=1))
            S = np.round((X @ RM.T) / (xn[:, None] * rn[None, :]), 6)
            ii, jj = np.nonzero((S >= threshold) & (xids[:, None] < rid[None, :]))
            yield pd.DataFrame(
                {"id_a": xids[ii], "id_b": rid[jj], "cos_sim": S[ii, jj]}
            )

    from .operators.partitioning import ensure_min_partitions

    return ensure_min_partitions(corpus).mapInPandas(
        gemm, "id_a long, id_b long, cos_sim double"
    )


def _sql_embedding_dups(threshold=0.4):
    # same deterministic cohort cap as _quad_mirror_modulus (no-op ≤ sf0.1)
    t = _EMB_MIRROR_TARGET
    return f"""
WITH kk AS (
  SELECT CASE WHEN count(*) > 2 * {t} + {t} // 2
              THEN CAST(ceil(count(*) / {t}.0) AS BIGINT) ELSE 1 END AS k
  FROM embeddings
), e AS (SELECT vec_id, embedding FROM embeddings, kk WHERE vec_id % kk.k = 0)
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cos_sim >= {threshold}
"""


def q_embedding_dups_lsh(spark, sf_dir, threshold=0.4):
    """The AT-SCALE embedding near-dup path: LSH bucket self-join + exact
    re-rank (operators/dedup.dedup_embedding_lsh) — nothing collected to the
    driver.  Rows-only at the driver (LSH recall <1 structurally); recall vs
    the exact pairs is pytest-verified (test_dedup_simsearch)."""
    from .operators.dedup import dedup_embedding_lsh

    e = _t(spark, sf_dir, "embeddings")
    # n and dim from parquet footers — the r3 version paid a full corpus
    # count() (auto-k) plus a first() (dim) as extra Spark jobs per call
    n_vecs, dim = _embeddings_meta(sf_dir)
    # target_bucket=16: random synthetic embeddings are near-orthogonal, so
    # candidate volume (≈ bucket²·buckets·tables) is the cost driver; smaller
    # buckets trade a little recall for ~5× fewer exact re-ranks
    return dedup_embedding_lsh(
        e, dim, threshold=threshold, tables=32, target_bucket=16, n_vecs=n_vecs
    )


def q_embedding_dups_lsh_exact(spark, sf_dir, threshold=0.4):
    """dedup_embedding_lsh driven through its degenerate-exact setting —
    k=0 hyperplanes put every vector in one bucket (signature 0), so the
    bucket self-join, candidate distinct and GEMM re-rank all execute yet
    cover every pair exactly once — DuckDB-hash-checkable with the same
    all-pairs oracle as the exact GEMM variant.  The auto-sized bucketed
    variant (q_embedding_dups_lsh) stays the scale default; this mirror
    proves the self-join/re-rank/τ-filter algebra."""
    from .operators.dedup import dedup_embedding_lsh

    e = _t(spark, sf_dir, "embeddings")
    n_vecs, dim = _embeddings_meta(sf_dir)
    # single-bucket degenerate mode is all-pairs: same deterministic cohort
    # cap as the exact GEMM twin (no-op ≤ sf0.1; the k>0 bucketed variant
    # is the scale path and stays uncapped)
    K = _quad_mirror_modulus(n_vecs, _EMB_MIRROR_TARGET, "embedding_dups_lsh_exact")
    if K > 1:
        e = e.filter(F.col("vec_id") % K == 0)
    return dedup_embedding_lsh(e, dim, threshold=threshold, k=0, tables=1)


def q_knn_lsh_exact(spark, sf_dir):
    """knn_lsh driven through its degenerate-exact setting — k=0, tables=1
    collapses every signature to 0, the bucket equi-join yields all
    query×corpus pairs, and the exact re-rank + top-k is provably brute
    force — DuckDB-hash-checkable (same rounded-sim ranking oracle as
    knn_ivf_exact).  The k=4/tables=32 variant (q_knn_lsh) stays the scale
    default."""
    from .operators.simsearch import knn_lsh

    e = _t(spark, sf_dir, "embeddings")
    _, dim = _embeddings_meta(sf_dir)
    return knn_lsh(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5), dim,
        topk=5, k=0, tables=1,
    )


def q_dist_to_centroid(spark, sf_dir):
    """Per-observation distance table (reference cosdist/eucdist,
    ts.pyx:56-114 — the (m,q,n) PER-TIME output, not its median): euclidean +
    cosine distance of every hourly channel vector to the series centroid.
    Pure JVM column expressions; DuckDB-hash-checked."""
    b = _event_buckets(spark, sf_dir, "hour")
    chans = list(EVENT_CHANNELS)
    cent = b.groupBy("user_id").agg(*[F.avg(c).alias(f"c_{c}") for c in chans])
    # unhinted, same rationale as q_mad_vs_centroid's centroid join
    j = b.join(cent, "user_id")
    diffsq = sum(
        ((F.col(c) - F.col(f"c_{c}")) * (F.col(c) - F.col(f"c_{c}")) for c in chans[1:]),
        (F.col(chans[0]) - F.col(f"c_{chans[0]}")) * (F.col(chans[0]) - F.col(f"c_{chans[0]}")),
    )
    dot = sum((F.col(c) * F.col(f"c_{c}") for c in chans[1:]), F.col(chans[0]) * F.col(f"c_{chans[0]}"))
    na = sum((F.col(c) * F.col(c) for c in chans[1:]), F.col(chans[0]) * F.col(chans[0]))
    nb = sum((F.col(f"c_{c}") * F.col(f"c_{c}") for c in chans[1:]), F.col(f"c_{chans[0]}") * F.col(f"c_{chans[0]}"))
    return j.select(
        "user_id",
        "bucket",
        _r6(F.sqrt(diffsq)).alias("eucdist"),
        _r6(F.lit(1.0) - F.try_divide(dot, F.sqrt(na) * F.sqrt(nb))).alias("cosdist"),
    )


def _sql_dist_to_centroid():
    chans = list(EVENT_CHANNELS)
    diffsq = " + ".join(f"(b.{c} - c.c_{c}) * (b.{c} - c.c_{c})" for c in chans)
    dot = " + ".join(f"b.{c} * c.c_{c}" for c in chans)
    na = " + ".join(f"b.{c} * b.{c}" for c in chans)
    nb = " + ".join(f"c.c_{c} * c.c_{c}" for c in chans)
    cents = ", ".join(f"avg({c}) AS c_{c}" for c in chans)
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
c AS (SELECT user_id, {cents} FROM b GROUP BY user_id)
SELECT b.user_id, b.bucket,
       round(sqrt({diffsq}), 6) AS eucdist,
       round(1.0 - ({dot}) / nullif(sqrt({na}) * sqrt({nb}), 0), 6) AS cosdist
FROM b JOIN c ON b.user_id = c.user_id
"""


def q_geomedian_1d(spark, sf_dir):
    """DuckDB-green evidence for the Weiszfeld kernel itself: at p=1 the
    geometric median degenerates to the 1-D median, and on an ODD-length
    integer series that median is a unique anchor point the iteration
    converges onto — so the batched kernel's output equals SQL median() after
    2-dp rounding.  Series = each user's hourly event count, truncated to odd
    length (drop the last bucket when even)."""
    from .operators.series import geomedian_mads_flat

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    wall = Window.partitionBy("user_id")
    odd = (
        hourly.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .filter(F.col("_rn") <= F.col("_n") - (F.lit(1) - F.col("_n") % 2))
        .select(F.col("user_id").cast("string").alias("conv_id"), "bucket", "v")
    )
    gm = geomedian_mads_flat(odd, ["v"], with_mads=False)
    return gm.select(
        F.col("conv_id").alias("user_id"),
        F.round(F.col("gm_v").cast("double"), 2).alias("gm_v"),
    )


SQL_GEOMEDIAN_1D = """
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, CAST(count(*) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), o AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM hourly
)
SELECT CAST(user_id AS VARCHAR) AS user_id, round(median(v), 2) AS gm_v
FROM o WHERE rn <= n - (1 - n % 2) GROUP BY user_id
"""


def q_symmetry(spark, sf_dir):
    """Reference ``symmetry`` (ts.pyx:231-243): cosine distance between each
    series' time-mean channel vector and its geomedian composite (rows-only;
    the gm is non-SQL-expressible)."""
    from .operators.features import symmetry_agg
    from .operators.series import geomedian_mads_prepared

    dense, chans = _dense_event_series(spark, sf_dir)
    gm = geomedian_mads_prepared(_gm_prepared(spark, sf_dir), chans, with_mads=False)
    return symmetry_agg(dense, gm.drop("n"), chans)


# ------------------------------------------------- kernel aggregates (rows-only)
# Non-SQL-expressible reference kernels: the driver records rows-only checks;
# exact semantics are pytest-verified against hdstats_oracle at Spark level
# (tests/test_kernels_spark.py) and per batch (tests/test_kernels_batched.py).

def _dense_event_series(spark, sf_dir):
    return _dense_tier(spark, sf_dir), list(EVENT_CHANNELS)


@_events_cached
def _dense_tier(spark, sf_dir):
    """The dense gap-filled tier, the shared input of every series kernel —
    in the production engine it is a materialized retention-tier table
    (TierPipeline); here the registry holds it cached, so the kernel
    queries materialize the densify+completion windows ONCE per session
    and reuse one DataFrame instead of re-planning it per query."""
    from .operators.gapfill import completion, densify

    tier = (
        _event_buckets(spark, sf_dir, "hour")
        .withColumn("conv_id", F.col("user_id").cast("string"))
        .drop("user_id")
    )
    chans = list(EVENT_CHANNELS)
    return completion(densify(tier, "1h", chans), chans)


@_events_cached
def _series_events(spark, sf_dir):
    """Cached one-row-per-series table (value col ``n_events``) over the
    completion-filled dense tier — shared input of fourier_features,
    discordance, dtw_area, area_warp, dtw_path and number_peaks.  Each of
    those queries used to rebuild the identical groupBy+collect_list plan
    (~0.5 s of shuffle+object churn apiece at sf0.1); the registry holds
    it once per session, like the dense tier itself."""
    from .operators.series import series_table

    return series_table(_dense_tier(spark, sf_dir), ["n_events"])


@_events_cached
def _series0_events(spark, sf_dir):
    """Cached series table over the ZERO-filled tier (the dtw_diag /
    dtw_diag_path / discordance_lp_identity integer-exact grid)."""
    from .operators.series import series_table

    return series_table(_dense0_event_series(spark, sf_dir), ["n_events"])


@_events_cached
def _gm_prepared(spark, sf_dir):
    """Cached flat composite input over the dense tier (hash-partitioned,
    within-partition-sorted — the expensive prefix of geomedian_mads_flat,
    ~1M-row exchange + Tungsten sort at sf0.1): the with-MADs composite
    (q_geomedian_mads) and the gm-only pass symmetry needs share ONE sort.
    The other composites (q_geomedian_1d, q_mads_fixed_p1) run the same
    flat path over their own inputs through geomedian_mads_flat."""
    from .operators.series import prepare_flat

    return prepare_flat(*_dense_event_series(spark, sf_dir))


def q_geomedian_mads(spark, sf_dir):
    """Flagship: nangeomedian_pcm + MAD trio as one batched continuous
    aggregate (geomedian.pyx:472-517, geomad.pyx:200-350) — the flat
    zero-copy mapInArrow path (no collect_list; the composite-tier build
    path at 10^6+ series, and the engine's only composite path —
    pytest-checked against hdstats_oracle)."""
    from .operators.series import geomedian_mads_prepared

    return geomedian_mads_prepared(_gm_prepared(spark, sf_dir), EVENT_CHANNELS)


def q_fourier_features(spark, sf_dir):
    """fourier_mean/std/median bands (ts.pyx:159-192) of the hourly event
    rate per user — batched length-class FFT over the series table, the
    engine's only Spark path for these bands (pytest-pinned to
    hdstats_oracle)."""
    from .operators.series import fourier_features_batched

    st = _series_events(spark, sf_dir)
    return fourier_features_batched(st, "n_events", n=3, step=5)


def q_discordance(spark, sf_dir):
    """FFT low-pass residual vs the area curve (ts.pyx:140-156).  Phase 1:
    tiny groupBy(t) area-mean aggregate, |ifft|-low-passed on the driver and
    broadcast (O(max series length) rows — inherent to the reference's
    broadcast-back semantics).  Phase 2: batched per-series Re(ifft) low-pass
    over the series table."""
    import numpy as np

    from .operators.series import discordance_batched

    dense, _ = _dense_event_series(spark, sf_dir)
    n = 10
    area = (
        dense.groupBy("t")
        .agg(F.avg(F.col("n_events").cast("float")).alias("mv"))
        .orderBy("t")
        .collect()
    )
    curve = np.asarray([r["mv"] for r in area], dtype=np.float32)
    Y = np.fft.fft(curve)
    Y[n:] = 0.0
    area_lp = np.abs(np.fft.ifft(Y)).astype(np.float32)  # |ifft| (ts.pyx:146)
    st = _series_events(spark, sf_dir)
    return discordance_batched(st, "n_events", area_lp, n=n)


@_events_cached
def _area_median(spark, sf_dir, zero_filled):
    """Per-t median of ``n_events`` over the completion-filled (or the
    zero-filled) dense tier.  The O(max series length) aggregate is shared
    by every area-referenced kernel query (dtw_area, area_warp, dtw_path on
    the completion tier; dtw_diag/dtw_diag_path on the zero-filled tier)
    and, through the CacheManager's plan match, by area_l1_to_median's join
    side: the registry holds it cached once per tier."""
    dense = _dense0_event_series(spark, sf_dir) if zero_filled else _dense_tier(spark, sf_dir)
    return dense.groupBy("t").agg(
        F.expr("percentile(cast(n_events as double), 0.5)").alias("mv")
    )


def _area_median_curve(spark, sf_dir, zero_filled=False):
    """``_area_median`` as a float64 curve: a ~10³-row fetch off the cache."""
    import numpy as np

    rows = _area_median(spark, sf_dir, zero_filled).orderBy("t").collect()
    return np.asarray([r["mv"] for r in rows], dtype=np.float64)


def q_dtw_area(spark, sf_dir):
    """Sakoe-Chiba-banded DTW of each user's hourly series to the area median
    curve (dtw.pyx:35-53), batched wavefront kernel."""
    from .operators.series import dtw_area_batched

    ref = _area_median_curve(spark, sf_dir)
    st = _series_events(spark, sf_dir)
    return dtw_area_batched(st, "n_events", ref, window=8)


def q_area_l1_to_median(spark, sf_dir):
    """Reference area_warp_similarity's collapsed semantics (ts.pyx:246-256:
    series and area-median enter DTW as single n-dim points → L1/2) computed
    relationally in double precision — the DuckDB-hash-green evidence for the
    area-warp math (the float32 kernel variant is q_area_warp, pytest-pinned
    to the oracle)."""
    dense, _ = _dense_event_series(spark, sf_dir)
    med = dense.groupBy("t").agg(
        F.expr("percentile(cast(n_events as double), 0.5)").alias("mv")
    )
    j = dense.select("conv_id", "t", F.col("n_events").cast("double").alias("v")).join(
        F.broadcast(med), "t"
    )
    return (
        j.groupBy(F.col("conv_id").alias("user_id"))
        .agg(_r6(F.sum(F.abs(F.col("mv") - F.col("v"))) / 2).alias("area_l1"))
    )


SQL_AREA_L1_TO_MEDIAN = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, b0, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id, g.bucket,
         CAST(epoch(g.bucket - g.b0) / 3600 AS INT) AS t, b.n_events
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
), ff AS (
  SELECT user_id, bucket, t,
         last_value(n_events IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
  FROM d
), comp AS (
  SELECT user_id, t, coalesce(f1, avg(f1) OVER (PARTITION BY user_id)) AS v
  FROM ff
), med AS (
  SELECT t, median(v) AS mv FROM comp GROUP BY t
)
SELECT CAST(comp.user_id AS VARCHAR) AS user_id,
       round(sum(abs(med.mv - comp.v)) / 2, 6) AS area_l1
FROM comp JOIN med USING (t) GROUP BY comp.user_id
"""


@_events_cached
def _dense0_event_series(spark, sf_dir):
    """Zero-filled (not completion-filled) hourly tier — the integer grid
    the dtw_diag exactness argument needs.  r3 measured the cache both ways
    with TWO consumers (dtw_diag, dtw_diag_path) and left it uncached; r4
    added two more (discordance_lp_identity, fourier_const_bands — the
    latter reads it twice via the twin union), so the ~1.5 s prep now
    repays materialization: the registry holds it cached, exactly like the
    completion-filled dense tier."""
    from .operators.gapfill import densify

    tier = (
        _event_buckets(spark, sf_dir, "hour")
        .withColumn("conv_id", F.col("user_id").cast("string"))
        .drop("user_id")
    )
    return densify(tier, "1h", ["n_events"]).withColumn(
        "n_events", F.coalesce(F.col("n_events").cast("double"), F.lit(0.0))
    )


def q_dtw_diag(spark, sf_dir):
    """Banded DTW with window=0 — the band pins the warp to the diagonal
    (dtw.pyx:35-53 with w=0), so dist = Σᵢ|xᵢ−refᵢ| / (r+c): fully
    SQL-expressible, yet the Spark side runs the REAL wavefront DP kernel
    end-to-end (dtw_dist_batch, window=0) — the DuckDB-hash-green evidence
    for the banded DTW path.

    Exactness: the grid is the zero-filled (not completion-filled) per-user
    hourly event-count series, so every value is an integer and the per-t
    median across users is a multiple of 0.5; float32 partial sums of halves
    are exact below 2²³, and un-normalizing (×2n, snap to halves) removes the
    one inexact f32 division."""
    from .operators.series import dtw_area_batched

    ref = _area_median_curve(spark, sf_dir, zero_filled=True)
    st = _series0_events(spark, sf_dir)
    d = dtw_area_batched(st, "n_events", ref, window=0)
    lens = st.select(F.col("conv_id"), F.col("n"))
    return (
        d.join(lens, "conv_id")
        .select(
            F.col("conv_id").alias("user_id"),
            # dist·2n is an exact multiple of 0.5; snap away the f32 division
            (F.round(F.col("dtw_dist").cast("double") * 2 * F.col("n") * 2) / 2)
            .alias("dtw_diag"),
        )
    )


def _sql_dtw_diag():
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, b0, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id,
         CAST(epoch(g.bucket - g.b0) / 3600 AS INT) AS t,
         coalesce(CAST(b.n_events AS DOUBLE), 0.0) AS v
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
), med AS (
  SELECT t, median(v) AS mv FROM d GROUP BY t
)
SELECT CAST(d.user_id AS VARCHAR) AS user_id,
       round(sum(abs(d.v - med.mv)) * 2) / 2 AS dtw_diag
FROM d JOIN med USING (t) GROUP BY d.user_id
"""


def q_dtw_diag_path(spark, sf_dir):
    """The FULL batched DTW artifact (fill + lockstep backtrack,
    series.dtw_path_batched) run end-to-end with window=0: the band pins
    the optimal path to the main diagonal (i=j=step, length n) and the
    distance to Σ|xᵢ−refᵢ|/(2n) — both fully SQL-expressible, so the
    backtrack kernel itself gets a DuckDB-hash-green row (dtw.pyx:35-53 +
    :109-121 degenerate).  Same zero-filled integer grid + snap-to-halves
    exactness as q_dtw_diag."""
    from .operators.series import dtw_path_batched

    ref = _area_median_curve(spark, sf_dir, zero_filled=True)
    path = dtw_path_batched(_series0_events(spark, sf_dir), "n_events", ref, window=0)
    return path.select(
        F.col("conv_id").alias("user_id"),
        "step",
        "i",
        "j",
        # dist·2n is an exact multiple of 0.5 (integer grid, median of
        # integers) — un-normalize and snap away the f32 division.  rint,
        # not round: one value per path row (~10^6 at sf0.1), and Spark's
        # round goes through a BigDecimal per row (~8× rint's cost there)
        (F.rint(F.col("dtw_dist").cast("double") * 2 * F.col("n") * 2) / 2)
        .alias("dtw_diag"),
    )


def _sql_dtw_diag_path():
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, b0, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id,
         CAST(epoch(g.bucket - g.b0) / 3600 AS INT) AS t,
         coalesce(CAST(b.n_events AS DOUBLE), 0.0) AS v
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
), med AS (
  SELECT t, median(v) AS mv FROM d GROUP BY t
), dist AS (
  SELECT CAST(d.user_id AS VARCHAR) AS user_id,
         round(sum(abs(d.v - med.mv)) * 2) / 2 AS dtw_diag,
         count(*) AS n
  FROM d JOIN med USING (t) GROUP BY d.user_id
)
SELECT user_id,
       CAST(unnest(generate_series(0, CAST(n - 1 AS INT))) AS INT) AS step,
       CAST(unnest(generate_series(0, CAST(n - 1 AS INT))) AS INT) AS i,
       CAST(unnest(generate_series(0, CAST(n - 1 AS INT))) AS INT) AS j,
       dtw_diag
FROM dist
"""


def q_symmetry_vs_median(spark, sf_dir):
    """The reference symmetry formula (ts.pyx:231-243: cosine distance of the
    per-series time-mean channel vector to a composite) with the per-channel
    MEDIAN composite standing in for the geomedian — fully relational, hence
    DuckDB-hash-green; the gm variant stays rows-only (q_symmetry), exactly
    the area_warp → area_l1_to_median mirror pattern."""
    b = _event_buckets(spark, sf_dir, "hour")
    chans = list(EVENT_CHANNELS)
    agg = b.groupBy("user_id").agg(
        *[F.avg(c).alias(f"m_{c}") for c in chans],
        *[F.median(F.col(c).cast("double")).alias(f"md_{c}") for c in chans],
    )
    dot = sum(
        (F.col(f"m_{c}") * F.col(f"md_{c}") for c in chans[1:]),
        F.col(f"m_{chans[0]}") * F.col(f"md_{chans[0]}"),
    )
    na = sum(
        (F.col(f"m_{c}") * F.col(f"m_{c}") for c in chans[1:]),
        F.col(f"m_{chans[0]}") * F.col(f"m_{chans[0]}"),
    )
    nb = sum(
        (F.col(f"md_{c}") * F.col(f"md_{c}") for c in chans[1:]),
        F.col(f"md_{chans[0]}") * F.col(f"md_{chans[0]}"),
    )
    return agg.select(
        "user_id",
        _r6(F.lit(1.0) - F.try_divide(dot, F.sqrt(na) * F.sqrt(nb))).alias("symmetry"),
    )


def _sql_symmetry_vs_median():
    chans = list(EVENT_CHANNELS)
    means = ", ".join(f"avg({c}) AS m_{c}" for c in chans)
    meds = ", ".join(f"median(CAST({c} AS DOUBLE)) AS md_{c}" for c in chans)
    dot = " + ".join(f"m_{c} * md_{c}" for c in chans)
    na = " + ".join(f"m_{c} * m_{c}" for c in chans)
    nb = " + ".join(f"md_{c} * md_{c}" for c in chans)
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
a AS (SELECT user_id, {means}, {meds} FROM b GROUP BY user_id)
SELECT user_id,
       round(1.0 - ({dot}) / nullif(sqrt({na}) * sqrt({nb}), 0), 6) AS symmetry
FROM a
"""


def q_discordance_lp_identity(spark, sf_dir):
    """``discordance`` (ts.pyx:140-156) driven through its degenerate-EXACT
    setting — DuckDB-hash-green evidence for the batched FFT kernel:

      * low-pass cutoff n ≥ every series length ⇒ ``Yp[:, n:] = 0`` zeroes
        nothing and the per-series low-pass is Re(ifft(fft(x))), which casts
        back to the float32 input BIT-exactly (the complex128 round-trip
        error ~1e-13 is far below half a float32 ULP);
      * an antisymmetric TWIN of every series (same grid, negated values)
        makes the per-t area mean cancel to exactly 0.0 (integer partial
        sums are exact in double in any order), so |ifft(fft(0))| ≡ 0;
      * the grid is zero-filled integer event counts, so the kernel's
        float32 residual mean is EXACTLY f32(Σx)/f32(L) (integer partial
        sums are exact in float32 below 2²⁴), which the oracle replicates
        with DuckDB REAL arithmetic — bit-equal, verified over randomized
        trials, not rounding luck.

    The real kernel (kernels_np.discordance_batch: batched fft, slice-zero,
    ifft, residual, mean) executes end-to-end; only the SETTING is
    degenerate — same pattern as dtw_diag / knn_lsh_exact."""
    import numpy as np

    from .operators.series import discordance_batched

    dense0 = _dense0_event_series(spark, sf_dir)
    twin = dense0.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("~"))
    ).withColumn("n_events", -F.col("n_events"))
    both = dense0.unionByName(twin)
    n_lp = 1 << 30  # ≥ any series length: the low-pass becomes the identity
    area = (
        both.groupBy("t")
        .agg(F.avg(F.col("n_events").cast("float")).alias("mv"))
        .orderBy("t")
        .collect()
    )
    curve = np.asarray([r["mv"] for r in area], dtype=np.float32)
    Y = np.fft.fft(curve)  # exact zeros in, exact zeros out
    area_lp = np.abs(np.fft.ifft(Y)).astype(np.float32)
    # the twins exist only to cancel the area curve (the groupBy above);
    # phase 2 treats each series independently, so the kernel runs on the
    # originals alone — identical output at half the FFT work
    st = _series0_events(spark, sf_dir)
    out = discordance_batched(st, "n_events", area_lp, n=n_lp)
    return out.select(
        F.col("conv_id").alias("user_id"),
        F.round(F.col("discordance").cast("double"), 6).alias("discordance"),
    )


def _sql_discordance_lp_identity():
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, b0, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id, coalesce(CAST(b.n_events AS DOUBLE), 0.0) AS v
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
)
-- area curve cancels to exactly 0, so discordance = the kernel's float32
-- mean of the integer series: f32(S)/f32(L), replicated in REAL arithmetic
SELECT CAST(user_id AS VARCHAR) AS user_id,
       round(CAST(CAST(CAST(sum(v) AS REAL) / CAST(count(*) AS REAL) AS REAL) AS DOUBLE), 6)
         AS discordance
FROM d GROUP BY user_id
"""


def q_fourier_const_bands(spark, sf_dir):
    """``fourier_mean/std/median`` (ts.pyx:159-192) driven through the
    constant-series degenerate — DuckDB-hash-green evidence for
    kernels_np.fourier_batch: each user's series is replaced by its constant
    total event count, whose spectrum is all-DC; every band starts at
    coefficient 1 (the reference skips DC), so all nine band stats are 0 up
    to FFT noise ~1e-9 ≪ the 6-dp rounding (a band whose slice lies beyond
    the series length is NaN → NULL on both sides).  The real kernel —
    length-class stacking, batched complex128 FFT, |·| band slicing,
    mean/std/median reductions — executes end-to-end."""
    from .operators.series import fourier_features_batched, series_table

    dense0 = _dense0_event_series(spark, sf_dir)
    wall = Window.partitionBy("conv_id")
    flat = dense0.withColumn(
        "n_events", F.sum("n_events").over(wall).cast("double")
    )
    st = series_table(flat, ["n_events"])
    out = fourier_features_batched(st, "n_events", n=3, step=5)
    cols = [f"{stat}_{k}" for stat in ("fmean", "fstd", "fmedian") for k in range(3)]
    return out.select(
        F.col("conv_id").alias("user_id"),
        *[
            F.round(
                F.when(F.isnan(F.col(c)), None).otherwise(F.col(c)).cast("double"), 6
            ).alias(c)
            for c in cols
        ],
    )


def _sql_fourier_const_bands(n=3, step=5):
    bands = ", ".join(
        f"CASE WHEN L > {1 + k * step} THEN 0.0 END AS {stat}_{k}"
        for stat in ("fmean", "fstd", "fmedian")
        for k in range(n)
    )
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), lens AS (
  SELECT user_id, CAST(epoch(b1 - b0) / 3600 AS BIGINT) + 1 AS L FROM bounds
)
SELECT CAST(user_id AS VARCHAR) AS user_id, {bands} FROM lens
"""


_FOURIER_FIXED_L = 16  # > 1 + 2*5: all three bands (k = 1..15) are defined


def q_fourier_fixed16(spark, sf_dir, n=3, step=5):
    """``fourier_mean/std/median`` (ts.pyx:159-192) on NON-degenerate data —
    the first hash-green fourier mirror whose spectra are not trivially
    zero: every user's hourly series is truncated/zero-padded to a FIXED
    length L=16 (the first 16 buckets from its own start), so the whole
    cohort is one length class and the real batched kernel
    (kernels_np.fourier_batch: complex128 FFT over the stacked cohort, |·|
    band slicing, float64 mean/std/median, float32 cast) runs end-to-end on
    real event counts.

    The fixed L is what makes a SQL oracle possible: with L known at
    query-build time the DFT becomes 15 pairs of plain weighted sums with
    PRECOMPUTED cos/sin constants inlined as literals (the poly31 trick
    applied to |Y_k|) — an independent naive-DFT formulation of the same
    spectrum.  Exactness: both sides round through float32 (CAST AS REAL in
    the oracle) before the 6-dp hash rounding; the engines' float64
    summation-order differences (~1e-13 relative) sit ~1e5 below float32
    resolution, so the casts agree (verified mismatch-free on all sf dirs —
    same argument as discordance_lp_identity, but on non-zero spectra)."""
    from .operators.series import fourier_features_batched, series_table

    st = series_table(_fixed16_grid(spark, sf_dir).drop("t"), ["n_events"])
    out = fourier_features_batched(st, "n_events", n=n, step=step)
    cols = [f"{stat}_{k}" for stat in ("fmean", "fstd", "fmedian") for k in range(n)]
    return out.select(
        F.col("conv_id").alias("user_id"),
        *[F.round(F.col(c).cast("double"), 6).alias(c) for c in cols],
    )


def _sql_fourier_fixed16(n=3, step=5):
    import numpy as np

    L = _FOURIER_FIXED_L
    ks = range(1, n * step + 1)
    # the inlined DFT basis: repr() round-trips each double exactly, so the
    # oracle's constants are bit-identical to cos/sin evaluated here
    rows = ",\n    ".join(
        f"({k}, {t}, {float(np.cos(-2.0 * np.pi * k * t / L))!r}, "
        f"{float(np.sin(-2.0 * np.pi * k * t / L))!r})"
        for k in ks
        for t in range(L)
    )
    stats = ", ".join(
        f"round(CAST(CAST({expr} AS REAL) AS DOUBLE), 6) AS {stat}_{j}"
        for j in range(n)
        for stat, expr in (
            (
                "fmean",
                f"avg(mag) FILTER (WHERE band = {j})",
            ),
            (
                "fstd",
                f"stddev_pop(mag) FILTER (WHERE band = {j})",
            ),
            (
                "fmedian",
                f"median(mag) FILTER (WHERE band = {j})",
            ),
        )
    )
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
b0 AS (SELECT user_id, min(bucket) AS b0 FROM b GROUP BY user_id),
grid AS (
  SELECT user_id, b0, unnest(generate_series(0, {L - 1})) AS t FROM b0
), d AS (
  SELECT g.user_id, g.t, coalesce(CAST(b.n_events AS DOUBLE), 0.0) AS v
  FROM grid g LEFT JOIN b
    ON b.user_id = g.user_id AND b.bucket = g.b0 + to_hours(g.t)
), consts(k, t, c, s) AS (
  VALUES
    {rows}
), dft AS (
  SELECT d.user_id, consts.k,
         sqrt(pow(sum(d.v * consts.c), 2) + pow(sum(d.v * consts.s), 2)) AS mag
  FROM d JOIN consts ON consts.t = d.t
  GROUP BY 1, 2
), banded AS (
  SELECT user_id, CAST(floor((k - 1) / {step}) AS INT) AS band, mag FROM dft
)
SELECT CAST(user_id AS VARCHAR) AS user_id, {stats}
FROM banded GROUP BY user_id
"""


def _fixed16_grid(spark, sf_dir):
    """The fixed-L=16 per-user grid (first 16 hourly buckets from each
    user's own start, zero-filled) shared by the fourier_fixed16 and
    discordance_fixed16 non-degenerate mirrors."""
    L = _FOURIER_FIXED_L
    b = (
        _event_buckets(spark, sf_dir, "hour")
        .select(F.col("user_id").cast("string").alias("conv_id"), "bucket", "n_events")
    )
    b0 = b.groupBy("conv_id").agg(F.min("bucket").alias("b0"))
    grid = b0.select(
        "conv_id",
        "b0",
        F.explode(F.sequence(F.lit(0), F.lit(L - 1))).alias("t"),
    ).select(
        "conv_id",
        "t",
        (F.col("b0") + F.col("t") * F.expr("INTERVAL 1 HOUR")).alias("bucket"),
    )
    return grid.join(b, ["conv_id", "bucket"], "left").select(
        "conv_id",
        "t",
        "bucket",
        F.coalesce(F.col("n_events").cast("double"), F.lit(0.0)).alias("n_events"),
    )


_SQL_FIXED16_GRID = """
WITH b AS ({buckets}),
b0 AS (SELECT user_id, min(bucket) AS b0 FROM b GROUP BY user_id),
grid AS (
  SELECT user_id, b0, unnest(generate_series(0, 15)) AS t FROM b0
), d AS (
  SELECT g.user_id, g.t, coalesce(CAST(b.n_events AS DOUBLE), 0.0) AS v
  FROM grid g LEFT JOIN b
    ON b.user_id = g.user_id AND b.bucket = g.b0 + to_hours(g.t)
)"""


def q_discordance_fixed16(spark, sf_dir, n_lp=10):
    """``discordance`` (ts.pyx:140-156) on NON-degenerate data — the second
    fixed-L mirror: real spectra, real low-pass, real area curve, through
    the REAL batched kernel (discordance_batched: complex128 FFT,
    truncate-at-n, Re(ifft) per series; |ifft| area curve broadcast), over
    the same fixed-16 cohort as fourier_fixed16.

    SQL-expressibility: truncate-at-n ∘ FFT ∘ iFFT is a CIRCULANT linear
    map, so with L fixed both the per-series low-pass and the area
    transfer reduce to 16 precomputed constants c[dt] =
    (1/L)·Σ_{{k<n}} e^{{2πik·dt/L}} — x_lp[t] = Σ_s x[s]·Re(c[t−s]) and the
    area curve's complex pre-|·| parts are the same sums over the mean
    curve.  Exactness chain: the zero-filled grid is INTEGER, so the mean
    curve's f64 average is bit-identical across engines before its float32
    cast; x_lp/area_lp round through float32 (f64 summation-order noise
    ~1e5 below f32 resolution, the fourier_fixed16 argument); and the
    final residual mean replicates numpy's float32 PAIRWISE summation tree
    for n=16 (8 accumulators r[i]+r[i+8], pairwise combine, divide by 16 —
    verified bitwise against np.mean on 20k random vectors) as nested
    REAL-cast additions, so even the f32-accumulated reduction is
    reproduced exactly, not approximated."""
    import numpy as np

    from .operators.series import discordance_batched, series_table

    dense = _fixed16_grid(spark, sf_dir)
    curve_rows = (
        dense.groupBy("t")
        .agg(F.avg(F.col("n_events").cast("float")).alias("mv"))
        .orderBy("t")
        .collect()
    )
    curve = np.asarray([r["mv"] for r in curve_rows], dtype=np.float32)
    Y = np.fft.fft(curve)
    Y[n_lp:] = 0.0
    area_lp = np.abs(np.fft.ifft(Y)).astype(np.float32)
    st = series_table(dense.drop("t"), ["n_events"])
    out = discordance_batched(st, "n_events", area_lp, n=n_lp)
    return out.select(
        F.col("conv_id").alias("user_id"),
        F.round(F.col("discordance").cast("double"), 6).alias("discordance"),
    )


def _sql_discordance_fixed16(n_lp=10):
    import numpy as np

    L = _FOURIER_FIXED_L
    # circulant transfer constants of truncate(n_lp) ∘ FFT ∘ iFFT
    consts = []
    for dt in range(L):
        c = sum(np.exp(2j * np.pi * k * dt / L) for k in range(n_lp)) / L
        consts.append((dt, float(c.real), float(c.imag)))
    rows = ",\n    ".join(f"({dt}, {re!r}, {im!r})" for dt, re, im in consts)
    # numpy float32 pairwise mean for n=16: acc_i = r_i + r_{i+8} (8 accs),
    # pairwise combine, divide by 16 — every node explicitly rounded to REAL
    acc = [f"CAST(r{i} + r{i + 8} AS REAL)" for i in range(8)]
    p = [f"CAST({acc[2 * i]} + {acc[2 * i + 1]} AS REAL)" for i in range(4)]
    q = [f"CAST({p[0]} + {p[1]} AS REAL)", f"CAST({p[2]} + {p[3]} AS REAL)"]
    mean = f"CAST(CAST({q[0]} + {q[1]} AS REAL) / 16 AS REAL)"
    rcols = ", ".join(
        f"max(CASE WHEN t = {t} THEN r END) AS r{t}" for t in range(L)
    )
    grid = _SQL_FIXED16_GRID.format(buckets=_event_buckets_sql("hour"))
    return f"""{grid}, consts(dt, cre, cim) AS (
  VALUES
    {rows}
), ts16 AS (SELECT unnest(generate_series(0, {L - 1})) AS t),
xbar AS (
  -- integer grid ⇒ the f64 average is bit-identical across engines;
  -- cast through float32 exactly as the kernel's curve ingestion does
  SELECT t, CAST(CAST(avg(v) AS REAL) AS DOUBLE) AS mv FROM d GROUP BY t
), area AS (
  SELECT t2.t,
         sum(x.mv * c.cre) AS are, sum(x.mv * c.cim) AS aim
  FROM xbar x CROSS JOIN ts16 t2
  JOIN consts c ON c.dt = ((t2.t - x.t) % {L} + {L}) % {L}
  GROUP BY t2.t
), alp AS (
  SELECT t, CAST(sqrt(are * are + aim * aim) AS REAL) AS alp FROM area
), xlp AS (
  SELECT d2.user_id, t2.t, CAST(sum(d2.v * c.cre) AS REAL) AS xlp
  FROM d d2 CROSS JOIN ts16 t2
  JOIN consts c ON c.dt = ((t2.t - d2.t) % {L} + {L}) % {L}
  GROUP BY 1, 2
), resid AS (
  SELECT x.user_id, x.t, CAST(x.xlp - a.alp AS REAL) AS r
  FROM xlp x JOIN alp a USING (t)
), wide AS (
  SELECT user_id, {rcols} FROM resid GROUP BY user_id
)
SELECT CAST(user_id AS VARCHAR) AS user_id,
       round(CAST({mean} AS DOUBLE), 6) AS discordance
FROM wide
"""


_MADS_P1_L = 15  # odd: the 1-D median is a unique anchor order statistic


def q_mads_fixed_p1(spark, sf_dir):
    """``emad``/``bcmad`` (geomad.pyx:28-47, 144-167) on NON-degenerate data
    through the REAL batched kernel chain — nangeomedian_batch (Weiszfeld +
    Vardi-Zhang anchor step) feeding mads_batch — the third fixed-L mirror,
    closing the last kernel family without a kernel-driving hash-green row.

    Cohort: each user's first 15 OBSERVED daily buckets (odd L; users with
    fewer than 15 active days excluded on both sides — hourly and
    zero-filled grids degenerate here: virtually every active hour has
    exactly 1 event, so the median collapses to the fill constant), value
    v = 4*least(n_events, 25) + 1.  Daily counts span 1..25, so gm/emad/
    bcmad carry real per-user variance.  At p=1 the geometric median is
    the 1-D median; with odd L that median is a unique integer anchor, and
    the MAD trio collapses to SQL algebra: emad = median|x − gm| (sqrt(d²)
    = |d|), bcmad = median(|x − gm| / |x + gm|).  smad is OMITTED by design: at
    p=1 the cosine distance degenerates to 1 − sign(x·gm) ∈ {0, 2} (a
    parity artifact, not a kernel check) — faking a green row from it would
    prove nothing about smad's vector algebra, which stays pytest-anchored
    (tests/test_kernels_batched.py vs hdstats_oracle geomad).

    Exactness (why 2-dp rounding is PROVABLY tie-free, not hopefully):
    the f32 Weiszfeld iterate converges to the anchor only to within a few
    ulp (measured |gm − median| ≤ 2.1e-5 over 300k random cohorts — f32
    fixed points sit off the anchor), so the oracle must absorb δ ≈ 2e-5
    by rounding, and every rounded quantity must sit far from a rounding
    boundary.  The 4n+1 transform engineers that: (a) gm and emad are
    integers (distance 0.005 to any 2-dp boundary ≫ δ); (b) with all
    values ≡ 1 (mod 4), d = x − gm ≡ 0 and s = x + gm ≡ 2 (mod 4), so
    every bcmad ratio d/s reduces to an odd denominator q ≤ 101 — never
    exactly ON a half-boundary (those need 2³ | q), and ≥ 1/(200·101) =
    4.95e-5 away from one, vs a measured ratio perturbation ≤ 6.4e-7 (the
    δ/s damping); (c) distinct ratios are ≥ 1/101² = 9.8e-5 apart (rational
    spacing), so the δ-perturbed median ORDER cannot swap to a different
    value either.  Verified: 300k/300k simulated cohorts round-identical,
    plus mismatch-free on all sf dirs."""
    from .operators.series import geomedian_mads_flat

    L = _MADS_P1_L
    b = _event_buckets(spark, sf_dir, "day").select(
        F.col("user_id").cast("string").alias("conv_id"), "bucket", "n_events"
    )
    w = Window.partitionBy("conv_id").orderBy("bucket")
    wall = Window.partitionBy("conv_id")
    grid = (
        b.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count(F.lit(1)).over(wall))
        .filter((F.col("_rn") <= L) & (F.col("_cnt") >= L))
        .select(
            "conv_id",
            "bucket",
            (F.lit(4) * F.least(F.col("n_events"), F.lit(25)) + F.lit(1))
            .cast("double")
            .alias("v"),
        )
    )
    out = geomedian_mads_flat(grid, ["v"], with_mads=True)
    return out.select(
        F.col("conv_id").alias("user_id"),
        F.round(F.col("gm_v").cast("double"), 2).alias("gm_v"),
        F.round(F.col("emad").cast("double"), 2).alias("emad"),
        F.round(F.col("bcmad").cast("double"), 2).alias("bcmad"),
    )


def _sql_mads_fixed_p1():
    L = _MADS_P1_L
    return f"""
WITH b AS ({_event_buckets_sql('day')}),
o AS (
  SELECT user_id, n_events,
         row_number() OVER (PARTITION BY user_id ORDER BY bucket) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM b
), d AS (
  SELECT user_id, CAST(4 * least(n_events, 25) + 1 AS DOUBLE) AS v
  FROM o WHERE rn <= {L} AND cnt >= {L}
), m AS (
  -- odd L=15 integers: median() is the exact middle order statistic, the
  -- anchor the f32 Weiszfeld iterate locks onto (± few ulp, absorbed by
  -- the 2-dp round; see q_mads_fixed_p1 docstring)
  SELECT user_id, median(v) AS gm FROM d GROUP BY user_id
), r AS (
  SELECT d.user_id, m.gm,
         CAST(abs(d.v - m.gm) AS REAL) AS ad,
         CAST(abs(d.v - m.gm) / abs(d.v + m.gm) AS REAL) AS ratio
  FROM d JOIN m USING (user_id)
)
SELECT CAST(user_id AS VARCHAR) AS user_id,
       round(CAST(any_value(gm) AS DOUBLE), 2) AS gm_v,
       round(CAST(median(ad) AS DOUBLE), 2) AS emad,
       round(CAST(median(ratio) AS DOUBLE), 2) AS bcmad
FROM r GROUP BY user_id
"""


def q_number_peaks(spark, sf_dir):
    """CWT peak count of each user's hourly event-rate series
    (ts.pyx:222-228, scipy-free ridge-line re-derivation)."""
    from .operators.series import number_peaks_agg

    st = _series_events(spark, sf_dir)
    return number_peaks_agg(st, "n_events", n=10)


def q_number_peaks_w1(spark, sf_dir):
    """``number_peaks`` with widths=[1] — the CWT collapses to ONE ricker
    convolution row, so every stage of the real kernel (cwt, strict
    relative maxima, ridge-line init, the windowed 10th-percentile noise
    floor, the SNR ≥ 1 gate) is relationally expressible: conv = a 10-tap
    weighted neighbor sum, maxima = lag/lead compares, noise = a
    range-joined quantile_cont, count per user — DuckDB-hash-green
    evidence for the peak-counting kernel family (ts.pyx:222-228).

    Exactness: a deterministic t/1024 tiebreaker (exact dyadic) is added to
    the integer grid so no two adjacent convolution values tie — engines
    summing float products in different orders can break exact ties
    differently, and flat runs sit exactly on the SNR boundary; with the
    tiebreaker every comparison is decided by margins ≫ fp error (verified
    mismatch-free over all 1,665 users of sf0.001/0.01/0.1).  Users shorter
    than 10 buckets are excluded on both sides (the kernel truncates its
    wavelet below 10 taps, which would need per-length SQL constants)."""
    from .operators.series import number_peaks_agg, series_table

    dense0 = _dense0_event_series(spark, sf_dir)
    wall = Window.partitionBy("conv_id")
    flat = (
        dense0.withColumn("n_events", F.col("n_events") + F.col("t") / F.lit(1024.0))
        .withColumn("_L", F.count(F.lit(1)).over(wall))
        .filter(F.col("_L") >= 10)
        .drop("_L")
    )
    st = series_table(flat, ["n_events"])
    out = number_peaks_agg(st, "n_events", n=1)
    return out.select(
        F.col("conv_id").alias("user_id"),
        F.col("n_peaks").cast("int").alias("n_peaks"),
    )


def _sql_number_peaks_w1():
    from hdstats_oracle.peaks import ricker

    taps = ricker(10, 1.0)  # same doubles the kernel computes for width 1
    # float() first: numpy >= 2 reprs np.float64 as "np.float64(...)"
    offs = ", ".join(f"({m}, {float(taps[4 - m])!r})" for m in range(-5, 5))
    return f"""
WITH b AS ({_event_buckets_sql('hour')}),
bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, b0, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id,
         CAST(epoch(g.bucket - g.b0) / 3600 AS INT) AS t,
         coalesce(CAST(b.n_events AS DOUBLE), 0.0)
           + CAST(epoch(g.bucket - g.b0) / 3600 AS INT) / 1024.0 AS v
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
), L AS (
  SELECT user_id, count(*) AS n,
         CAST(ceil(count(*) / 20.0) AS INT) // 2 AS half,
         CAST(ceil(count(*) / 20.0) AS INT) // 2
           + CAST(ceil(count(*) / 20.0) AS INT) % 2 - 1 AS hi_off
  FROM d GROUP BY user_id HAVING count(*) >= 10
), offs(m, w) AS (VALUES {offs}),
conv AS (
  -- np.convolve(v, ricker(10,1), mode='same'): conv[t] = sum_m v[t+m]*taps[4-m]
  SELECT d.user_id, d.t, sum(d2.v * o.w) AS c
  FROM d JOIN L USING (user_id) CROSS JOIN offs o
  JOIN d d2 ON d2.user_id = d.user_id AND d2.t = d.t + o.m
  GROUP BY d.user_id, d.t
), mx AS (
  SELECT user_id, t, c,
         c > lag(c)  OVER (PARTITION BY user_id ORDER BY t) AND
         c > lead(c) OVER (PARTITION BY user_id ORDER BY t) AS is_max
  FROM conv
), nz AS (
  -- windowed 10th-percentile noise floor, slice [t-half, t+half+odd-1]
  SELECT c1.user_id, c1.t, quantile_cont(c2.c, 0.10) AS nfloor
  FROM mx c1 JOIN L USING (user_id)
  JOIN conv c2 ON c2.user_id = c1.user_id
     AND c2.t BETWEEN c1.t - L.half AND c1.t + L.hi_off
  WHERE c1.is_max
  GROUP BY c1.user_id, c1.t
), pk AS (
  SELECT m.user_id, count(*) AS np
  FROM mx m JOIN nz ON nz.user_id = m.user_id AND nz.t = m.t
  WHERE m.is_max
    AND CASE WHEN nz.nfloor = 0 THEN m.c <> 0
             ELSE abs(m.c / nz.nfloor) >= 1 END
  GROUP BY m.user_id
)
SELECT CAST(L.user_id AS VARCHAR) AS user_id,
       -- int8 wrap mirrors the kernel's reference-parity tinyint output
       CAST((coalesce(pk.np, 0) + 128) % 256 - 128 AS INT) AS n_peaks
FROM L LEFT JOIN pk USING (user_id)
"""


def q_area_warp(spark, sf_dir):
    """Reference area_warp_similarity semantics exactly (ts.pyx:246-256):
    series and area-median enter DTW as single n-dim points → L1/2."""
    from .operators.series import dtw_area_batched

    ref = _area_median_curve(spark, sf_dir)
    st = _series_events(spark, sf_dir)
    return dtw_area_batched(st, "n_events", ref, l1_mode=True)


# ------------------------------------------------- dedup & similarity (docs)

def q_ngram_jaccard(spark, sf_dir, n=2, threshold=0.04, max_doc_freq=200):
    """Exact word-bigram Jaccard pairs via shingle equi-join (SQL-checkable);
    n=2 because the synthetic corpus has no 5-gram collisions.  The
    document-frequency cap drops shingles hotter than max_doc_freq BEFORE the
    self-join — the standard guard that keeps the join linear-ish when one
    shingle appears in millions of documents (the oracle applies the same
    cap, so semantics stay hash-checked)."""
    from .operators.dedup import shingle_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return shingle_jaccard_pairs(d, threshold=threshold, n=n, max_doc_freq=max_doc_freq)


def _sql_jaccard_pairs_cte(n, threshold, max_doc_freq):
    """Shared CTE chain for the exact n-gram Jaccard pair graph — used by
    both the ngram_jaccard oracle and the dup_clusters oracle so the pair
    semantics (tokenizer, hot-shingle cap, round-6 threshold) can never
    de-sync between them."""
    return f"""t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), s0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                               i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS shingle
  FROM t
), hot AS (
  SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) > {max_doc_freq}
), s AS (
  SELECT s0.* FROM s0 ANTI JOIN hot USING (shingle)
), sz AS (
  SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM s a JOIN s b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), p AS (
  SELECT id_a, id_b, round(common * 1.0 / (sa.sz + sb.sz - common), 6) AS jaccard
  FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE round(common * 1.0 / (sa.sz + sb.sz - common), 6) >= {threshold}
)"""


def _sql_ngram_jaccard(n=2, threshold=0.04, max_doc_freq=200):
    return f"""
WITH {_sql_jaccard_pairs_cte(n, threshold, max_doc_freq)}
SELECT id_a, id_b, jaccard FROM p
"""


def q_minhash_lsh_poly(spark, sf_dir, k=8, bands=4, threshold=0.25, n=2, seed=7):
    """The ENTIRE MinHash+LSH pipeline DuckDB-hash-checked: shingle →
    polynomial byte hash mod M31 (SQL-computable, same trick as the winnowing
    oracle) → k seeded affine permutations → per-doc min aggregates → banded
    bucket self-join → agreement-fraction estimate ≥ τ.  The oracle
    regenerates the identical permutation constants and replays every step
    relationally (band match = OR of per-band conjunctions ≡ the bucket
    equi-join's distinct candidates).  The xxhash64 variant (q_minhash_lsh)
    remains the scale default; this mirror proves the algebra."""
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, k=k, bands=bands, threshold=threshold, n=n, seed=seed,
        hash_mode="poly31",
    )


def _sql_minhash_lsh_poly(k=8, bands=4, threshold=0.25, n=2, seed=7):
    from .operators.dedup import _MERSENNE, minhash_perm_constants

    a, b = minhash_perm_constants(k, seed)
    r = k // bands
    poly = (
        "list_reduce("
        "list_transform(range(1, length(shingle) + 1), "
        "i -> CAST(ascii(substr(shingle, CAST(i AS INT), 1)) AS BIGINT)), "
        f"(acc, x) -> (acc * 257 + x) % {_MERSENNE})"
    )
    mins = ",\n         ".join(
        f"min(({poly} * {a[j]} + {b[j]}) % {_MERSENNE}) AS mh_{j}" for j in range(k)
    )
    band_eq = " OR ".join(
        "(" + " AND ".join(f"sa.mh_{band * r + j} = sb.mh_{band * r + j}" for j in range(r)) + ")"
        for band in range(bands)
    )
    agree = " + ".join(f"CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END" for j in range(k))
    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents
), s AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(toks) - {n - 1}, 0)),
                               i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS shingle
  FROM t
), sig AS (
  SELECT doc_id,
         {mins}
  FROM s GROUP BY doc_id
)
SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
       round(({agree}) * 1.0 / {k}, 6) AS est_jaccard
FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id AND ({band_eq})
WHERE round(({agree}) * 1.0 / {k}, 6) >= {threshold}
"""


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (rows-only; recall pytest-verified
    against exact Jaccard on planted duplicates)."""
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, k=32, bands=8, threshold=0.2, n=2)


def q_simhash_dups(spark, sf_dir):
    """SimHash near-dup pairs, Hamming ≤ 3 via 16-bit band blocking."""
    from .operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=3)


def q_simhash_poly(spark, sf_dir):
    """The ENTIRE SimHash pipeline DuckDB-hash-checked: token → polynomial
    byte hash mod M31 (SQL-computable) → per-bit majority votes weighted by
    token frequency → 31-bit fingerprint → 8/8/8/7-bit band blocking →
    bit_count(xor) ≤ 3.  The oracle replays every step relationally (31
    per-bit vote sums, CASE-built fingerprint, band match = OR of band
    equalities ≡ the bucket equi-join's distinct pairs).  All-integer
    algebra — no rounding anywhere.  The xxhash64 variant (q_simhash_dups)
    remains the scale default; this mirror proves the vote/band/Hamming
    algebra end-to-end through the real mapInPandas kernel."""
    from .operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    # the 8/8/8/7-bit bands of the 31-bit poly fingerprint go quadratic
    # beyond ~50k docs (COVERAGE.md): deterministic cohort cap, no-op ≤ sf0.1
    K = _quad_mirror_modulus(
        _parquet_rows(f"{sf_dir}/documents.parquet"), _DOC_MIRROR_TARGET, "simhash_poly"
    )
    if K > 1:
        d = d.filter(F.col("doc_id") % K == 0)
    return simhash_pairs(d, max_hamming=3, hash_mode="poly31")


def _sql_simhash_poly(max_hamming=3):
    from .operators.dedup import _MERSENNE, simhash_band_layout

    n_bits = 31
    poly = (
        "CASE WHEN length(tok) = 0 THEN 0 ELSE list_reduce("
        "list_transform(range(1, length(tok) + 1), "
        "i -> CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT)), "
        f"(acc, x) -> (acc * 257 + x) % {_MERSENNE}) END"
    )
    vote_sums = ",\n         ".join(
        f"sum((th >> {j}) & 1) AS v{j}" for j in range(n_bits)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN 2 * v{j} > cnt THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(n_bits)
    )
    band_eq = " OR ".join(
        f"(((a.fp >> {shift}) & {mask}) = ((b.fp >> {shift}) & {mask}))"
        for shift, mask in simhash_band_layout(n_bits, n_bands=max_hamming + 1)
    )
    t = _DOC_MIRROR_TARGET
    return f"""
WITH kk AS (
  -- deterministic cohort cap, same formula as _quad_mirror_modulus
  SELECT CASE WHEN count(*) > 2 * {t} + {t} // 2
              THEN CAST(ceil(count(*) / {t}.0) AS BIGINT) ELSE 1 END AS k
  FROM documents
), docs AS (SELECT doc_id, text FROM documents, kk WHERE doc_id % kk.k = 0),
tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM docs
), h AS (
  SELECT doc_id, {poly} AS th FROM tok
), v AS (
  SELECT doc_id, count(*) AS cnt,
         {vote_sums}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, {fp_expr} AS fp FROM v
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id AND ({band_eq})
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


def q_knn_lsh(spark, sf_dir):
    """ANN top-5 by random-hyperplane LSH + exact re-rank (rows-only; recall
    vs brute force pytest-verified)."""
    from .operators.simsearch import knn_lsh

    e = _t(spark, sf_dir, "embeddings")
    _, dim = _embeddings_meta(sf_dir)
    return knn_lsh(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5), dim,
        topk=5, k=4, tables=32,
    )


def q_knn_ivf(spark, sf_dir):
    """IVF ANN top-5 (k-means coarse quantizer + inverted-list equi-join +
    exact re-rank) — the codebook-based scale path alongside LSH (rows-only;
    recall vs brute force pytest-verified)."""
    from .operators.simsearch import knn_ivf

    e = _t(spark, sf_dir, "embeddings")
    # footer row count is an upper bound on the filtered corpus: lets the
    # codebook skip its sizing count() job while it provably resolves to
    # frac=1.0 (bit-identical sample) — the count returns at real scale
    n_total, _ = _embeddings_meta(sf_dir, with_dim=False)
    return knn_ivf(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5),
        topk=5, nlist=16, nprobe=12, n_upper=n_total,
    )


def q_knn_ivf_exact(spark, sf_dir):
    """IVF ANN driven through its degenerate-exact setting — nlist=1 puts
    the whole corpus in one inverted list and nprobe=1 probes it, so the
    k-means codebook, the GEMM assignment, the list equi-join and the exact
    re-rank run end-to-end yet the result is provably brute-force top-k —
    DuckDB-hash-checkable (the knn_cosine oracle, ranking on the 6-dp
    rounded similarity exactly as the IVF re-rank does).  The sampled-
    codebook nlist=16/nprobe=12 variant (q_knn_ivf) stays the scale default;
    this mirror proves the join/re-rank/top-k algebra."""
    from .operators.simsearch import knn_ivf

    e = _t(spark, sf_dir, "embeddings")
    # same footer upper bound as q_knn_ivf (nlist=1 makes the codebook a
    # single centroid, so the skipped count is pure overhead here)
    n_total, _ = _embeddings_meta(sf_dir, with_dim=False)
    return knn_ivf(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5),
        topk=5, nlist=1, nprobe=1, n_upper=n_total,
    )


def _sql_knn_ivf_exact(k=5, n_queries=5):
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_queries}),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS cos_sim
  FROM c CROSS JOIN q
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rnk
FROM sims QUALIFY rnk <= {k}
"""


def q_dtw_path(spark, sf_dir):
    """Full DTW artifacts (dtw.pyx:89-121): banded DTW of each user's hourly
    series vs the area median curve, returning the OPTIMAL WARP PATH as
    (conv_id, step, i, j) rows plus the normalized distance — the
    reference's third output, exposed relationally (rows-only; the batched
    DP + lockstep backtrack is pytest-verified bit-equal to the serial
    optimalpath goldens and, through series.dtw_path_batched, to the
    oracle's local_dtw).  Series of every length in an Arrow batch share one
    padded fill + backtrack, each read at its own corner — no per-series
    Python DP."""
    from .operators.series import dtw_path_batched

    ref = _area_median_curve(spark, sf_dir)
    path = dtw_path_batched(_series_events(spark, sf_dir), "n_events", ref, window=8)
    return path.drop("n")


def q_winnow_overlap(spark, sf_dir):
    """Winnowing fingerprint containment pairs (Schleimer et al. 2003);
    ubiquitous fingerprints (>50 docs — this synthetic corpus reuses a tiny
    vocabulary) are dropped before the self-join.  DuckDB-hash-checked: the
    polynomial k-gram hash (mod 2^31−1 over ASCII bytes) is replicated in
    SQL, and the winnowed fingerprint SET equals the distinct window-min
    values (the rightmost-min tie-break picks a position, not a value)."""
    from .operators.textstats import fingerprint_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return fingerprint_overlap_pairs(d, threshold=0.3, max_doc_freq=50)


def _sql_winnow_overlap(k=8, w=4, threshold=0.3, max_doc_freq=50):
    m31 = (1 << 31) - 1
    powers = [pow(257, k - 1 - j, m31) for j in range(k)]
    hash_expr = " + ".join(
        f"CAST(ascii(substr(text, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
        for j, p in enumerate(powers)
    )
    return f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS L FROM documents
), g AS (
  SELECT doc_id, text, i
  FROM t, unnest(range(1, L - {k} + 2)) AS u(i)
  WHERE L >= {k}
), h AS (
  SELECT doc_id, i, ({hash_expr}) % {m31} AS hv
  FROM g
), wm AS (
  SELECT doc_id,
         min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS wmin,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS nh
  FROM h
), fp AS (
  SELECT DISTINCT doc_id, wmin AS fingerprint FROM wm WHERE rn >= least({w}, nh)
), hot AS (
  SELECT fingerprint FROM fp GROUP BY fingerprint HAVING count(*) > {max_doc_freq}
), fp2 AS (
  SELECT fp.* FROM fp ANTI JOIN hot USING (fingerprint)
), sz AS (
  SELECT doc_id, count(*) AS s FROM fp2 GROUP BY doc_id
), c AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM fp2 a JOIN fp2 b USING (fingerprint)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(common * 1.0 / least(sa.s, sb.s), 6) AS containment
FROM c JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE round(common * 1.0 / least(sa.s, sb.s), 6) >= {threshold}
"""


def q_multimodal_features(spark, sf_dir):
    """Binary-asset feature extraction (decode stubbed, Spark plumbing real):
    assets derived from the documents table (payload = UTF-8 text bytes) →
    16 scalar histogram-feature columns.  Because the asset bytes come from a
    registered table and FakeDecoder is pure byte arithmetic, the whole
    decode→histogram pipeline has an exact DuckDB oracle."""
    from .operators.multimodal import assets_from_docs, extract_features

    d = _t(spark, sf_dir, "documents")
    return extract_features(assets_from_docs(d), dim=16)


def _sql_multimodal_features(dim=16):
    """DuckDB mirror of FakeDecoder + np.histogram over UTF-8 (ASCII) text
    bytes: image → first ⌊√L⌋² bytes /255, audio → all bytes (b−128)/128,
    video → max(L//64,1)·64 bytes (i mod L indexing) /255; 16 uniform bins on
    (−1,1), last bin right-inclusive (bin = least(floor((v+1)·8), 15))."""
    f_cols = ",\n       ".join(
        f"round(sum(CASE WHEN bin = {j} THEN 1 ELSE 0 END) * 1.0 / m, 6) AS f_{j}"
        for j in range(dim)
    )
    return f"""
WITH a AS (
  SELECT CAST(doc_id AS BIGINT) AS asset_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         text, length(text) AS L
  FROM documents
), sized AS (
  SELECT asset_id, kind, text, L,
         CASE kind
           WHEN 'image' THEN CAST(floor(sqrt(L)) AS BIGINT) * CAST(floor(sqrt(L)) AS BIGINT)
           WHEN 'audio' THEN L
           ELSE greatest(L // 64, 1) * 64
         END AS m
  FROM a
), vals AS (
  SELECT asset_id, kind, m,
         ascii(substr(text, CAST(i % L AS INT) + 1, 1)) AS byte
  FROM sized, unnest(range(m)) AS u(i)
), binned AS (
  SELECT asset_id, kind, m,
         least(CAST(floor((CASE WHEN kind = 'audio' THEN (byte - 128.0) / 128.0
                                ELSE byte / 255.0 END + 1.0) * 8.0) AS INT), {dim - 1}) AS bin
  FROM vals
)
SELECT asset_id, kind,
       {f_cols}
FROM binned GROUP BY asset_id, kind, m
"""


def q_compression_roundtrip(spark, sf_dir):
    """Gorilla/delta-of-delta round-trip through Spark: compress the per-user
    hourly tier to multi-series blocks (flat path — no collect_list, one
    vectorized encode per channel per Arrow batch), decompress, return
    per-user checksums.  Because the codec is lossless over the float32-cast
    tier values, the checksums equal a direct SQL computation over the dense
    completed tier — so this row is DuckDB-hash-checked (the bit-level
    round-trip is additionally pytest- and hypothesis-verified)."""
    from .compression.tiercodec import compress_tier_flat, decompress_tier_flat

    tier, chans = _dense_event_series(spark, sf_dir)
    blocks = compress_tier_flat(tier, chans)
    back = decompress_tier_flat(blocks, chans)
    return back.groupBy(F.col("conv_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("v_sum"), 2).alias("v_sum_total"),
    )


SQL_COMPRESSION_ROUNDTRIP = """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, sum(value) AS v_sum
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM b GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
), d AS (
  SELECT g.user_id, g.bucket, b.v_sum
  FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket
), ff AS (
  SELECT user_id, bucket,
         last_value(v_sum IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
  FROM ff_src
), comp AS (
  SELECT user_id,
         CAST(CAST(coalesce(f1, avg(f1) OVER (PARTITION BY user_id)) AS REAL) AS DOUBLE) AS v
  FROM ff
)
SELECT CAST(user_id AS VARCHAR) AS user_id,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(v), 2) AS v_sum_total
FROM comp GROUP BY user_id
""".replace("ff_src", "d")


# ------------------------------------------------------- storage layer (MOR)

#: session-scoped scratch root for the icelite driver query — one mkdtemp per
#: process (repeat runs re-roll the SAME table: overwrite replaces every
#: partition, so results are run-independent), removed at interpreter exit.
_MOR_SCRATCH: list[str] = []


def _mor_scratch_dir() -> str:
    import atexit
    import shutil
    import tempfile

    if not _MOR_SCRATCH:
        d = tempfile.mkdtemp(prefix="hdstats_mor_q_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _MOR_SCRATCH.append(d)
    return _MOR_SCRATCH[0]


def q_mor_upsert(spark, sf_dir):
    """Merge-on-read upsert end-to-end through the icelite table layer
    (SURVEY §2.2 storage; the Iceberg-v2 equality-delete protocol): land
    events in a partitioned icelite table, ``upsert()`` a derived batch
    (values negated for ``event_id % 10 == 3``) as ONE O(batch) commit —
    data files plus per-partition equality-delete key files, no existing
    file read or rewritten — then read back through the PENDING-delete
    path, i.e. the fmt-3 fseq grouping + broadcast left-anti join that
    masks older copies of the upserted keys while the batch's own rows
    (born at the delete's seq) survive.  The oracle replays the merge
    relationally (anti-join + union).  Decimal sums keep the hash exact
    under any partitioning; compaction ≡ pending-read equivalence is
    pytest-anchored in tests/test_icelite_mor.py.  The reference has no
    storage layer (inputs are in-memory arrays, tests/test_pcm.py:10) —
    this row guards the engine's own claimed Iceberg semantics."""
    import os

    from .icelite import IceliteTable

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = IceliteTable(os.path.join(_mor_scratch_dir(), "mor_upsert"))
    # partition on a COPY of event_type: the partition column lives in
    # manifest keys (not data files), and this query groups on it after read
    # bypart clustering: one file per partition value — the documented mode
    # for small commits (this is a correctness mirror over ≤1M rows; a real
    # 100-TB load would use asis/roundrobin for write parallelism)
    t.overwrite_partitions(
        ev.withColumn("pt", F.col("event_type")), "pt", cluster="bypart"
    )
    batch = ev.filter(F.col("event_id") % 10 == F.lit(3)).select(
        "event_id",
        "event_type",
        (-F.col("value")).alias("value"),
        F.col("event_type").alias("pt"),
    )
    t.upsert(batch, key_cols=["event_id"], partition_col="pt", cluster="bypart")
    merged = t.read(spark)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.sum(
            F.when(F.col("event_id") % 10 == F.lit(3), F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,6)")
        )
        .cast("double")
        .alias("sum_upd"),
    )


SQL_MOR_UPSERT = """
WITH batch AS (
  SELECT event_id, event_type, -value AS value
  FROM events WHERE event_id % 10 = 3
), merged AS (
  SELECT e.event_id, e.event_type, e.value
  FROM events e ANTI JOIN batch b ON e.event_id = b.event_id
  UNION ALL
  SELECT event_id, event_type, value FROM batch
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(CASE WHEN event_id % 10 = 3 THEN value ELSE 0.0 END
                     AS DECIMAL(18,6))) AS DOUBLE) AS sum_upd
FROM merged GROUP BY event_type
"""


def q_icelite_scan(spark, sf_dir):
    """Range query through icelite's NATIVE Spark data-source face
    (icelite_source.py, PySpark 4 Python Data Source API): land events in
    a partitioned icelite table whose files are range-clustered on
    event_id, then ``spark.read.format("icelite")`` with a Catalyst range
    filter — ``pushFilters`` converts it into file-level min/max skipping
    (strictly-fewer-files assertion lives in tests/test_icelite_source.py)
    while Spark re-applies the predicate, so semantics are exact.  The
    table is re-rolled deterministically every run (overwrite of every
    partition, then one append commit so the scan crosses a multi-commit
    manifest).  The oracle replays filter+aggregate relationally on the
    raw events.  The reference has no storage layer (inputs are in-memory
    arrays, tests/test_pcm.py:10) — like mor_upsert, this row guards the
    engine's own claimed Iceberg-semantics surface, here wired through
    spark.read instead of the IceliteTable API."""
    import os

    from .icelite import IceliteTable
    from .icelite_source import register

    register(spark)
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = IceliteTable(os.path.join(_mor_scratch_dir(), "ds_scan"))
    base = ev.filter(F.col("event_id") % 20 != F.lit(7))
    tail = ev.filter(F.col("event_id") % 20 == F.lit(7))
    # range-cluster within each partition: disjoint per-file event_id
    # ranges are what make the pushed filter's min/max skipping bite
    t.overwrite_partitions(
        base.withColumn("pt", F.col("event_type")).repartitionByRange(8, "event_id"),
        "pt",
        cluster="asis",
    )
    t.append(
        tail.withColumn("pt", F.col("event_type")).repartitionByRange(2, "event_id"),
        "pt",
        cluster="asis",
    )
    # O(1) driver scalar: the filter literal must be known at plan time for
    # Catalyst to push it down to the data source.  Footer row-group stats
    # answer it exactly with zero Spark jobs (the _embeddings_meta
    # pattern); the full-scan aggregate remains the stats-missing fallback
    hi = _parquet_col_max(f"{sf_dir}/events.parquet", "event_id")
    if hi is None:
        hi = ev.agg(F.max("event_id")).collect()[0][0]
    thr = int(hi) // 5
    df = (
        spark.read.format("icelite")
        .load(t.root)
        .filter(F.col("event_id") <= F.lit(thr))
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


SQL_ICELITE_SCAN = """
WITH thr AS (
  SELECT CAST(floor(max(event_id) / 5.0) AS BIGINT) AS t FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(min(event_id) AS BIGINT) AS min_id,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events, thr WHERE event_id <= thr.t
GROUP BY event_type
"""


def q_icelite_cdc(spark, sf_dir):
    """Changelog scan (CDC) through the icelite table layer
    (``changes_between`` — the Iceberg-changelog / Delta-CDF analogue):
    land events (overwrite, snapshot s1), MOR-upsert a derived batch
    (values negated for ``event_id % 10 == 3``), then MOR-delete the keys
    with ``event_id % 15 == 4`` — and read the row-level changelog from s1
    to head.  The upsert must emit delete(old)+insert(new) pairs under one
    commit step, the key delete must emit deletes of the MERGED state
    (i.e. the semi join runs against a parent that itself carries pending
    equality deletes), and compaction-free appends come straight off the
    manifests.  The oracle replays the change stream relationally
    (anti-join merge + filters).  ``commit_step`` is the commit's seq
    relative to s1, so repeat runs on the re-rolled table hash
    identically.  The reference has no storage layer (inputs are
    in-memory arrays, tests/test_pcm.py:10) — this row guards the
    engine's own claimed Iceberg-semantics surface; replay equivalence
    across every commit kind is pytest-anchored in
    tests/test_icelite_cdc.py."""
    import os

    from .icelite import IceliteTable

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t = IceliteTable(os.path.join(_mor_scratch_dir(), "cdc_q"))
    s1 = t.overwrite_partitions(
        ev.withColumn("pt", F.col("event_type")), "pt", cluster="bypart"
    )
    batch = ev.filter(F.col("event_id") % 10 == F.lit(3)).select(
        "event_id",
        "event_type",
        (-F.col("value")).alias("value"),
        F.col("event_type").alias("pt"),
    )
    t.upsert(batch, key_cols=["event_id"], partition_col="pt", cluster="bypart")
    t.delete_by_keys(
        ev.filter(F.col("event_id") % 15 == F.lit(4)).select("event_id"),
        key_cols=["event_id"],
    )
    ch = t.changes_between(spark, s1.snapshot_id)
    return (
        ch.withColumn("change_type", F.col("_change_type"))
        .withColumn(
            "commit_step", (F.col("_commit_seq") - F.lit(int(s1.seq))).cast("long")
        )
        .groupBy("event_type", "change_type", "commit_step")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


SQL_ICELITE_CDC = """
WITH batch AS (
  SELECT event_id, event_type, -value AS value
  FROM events WHERE event_id % 10 = 3
), merged AS (
  SELECT e.event_id, e.event_type, e.value
  FROM events e ANTI JOIN batch b ON e.event_id = b.event_id
  UNION ALL
  SELECT event_id, event_type, value FROM batch
), all_ch AS (
  SELECT event_type, 'insert' AS change_type, 1 AS commit_step, value FROM batch
  UNION ALL
  SELECT event_type, 'delete', 1, value FROM events WHERE event_id % 10 = 3
  UNION ALL
  SELECT event_type, 'delete', 2, value FROM merged WHERE event_id % 15 = 4
)
SELECT event_type, change_type, CAST(commit_step AS BIGINT) AS commit_step,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM all_ch GROUP BY event_type, change_type, commit_step
"""


# --------------------------------------------------- repetition filtering

#: gate thresholds for the keep decision, scaled to the synthetic 30-word
#: vocabulary so the flag is NON-degenerate (Gopher's published ceilings —
#: 0.20/0.18/0.16, operators/textstats.GOPHER_TOP_NGRAM_MAX — keep 100% of
#: this corpus; these sit near the corpus median so both outcomes occur)
_GOPHER_GATE_THRESHOLDS = {2: 0.04, 3: 0.025, 4: 0.025}


def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition filtering (Rae et al. 2021, Table A1) over
    the documents corpus — per-document word-n-gram repetition metrics
    (top-n-gram share, duplicated-n-gram share for n = 2, 3, 4) and the
    composed keep/drop decision.  One corpus scan, one explode, two-stage
    aggregation whose heavy key contains doc_id (map-side combine, no
    cross-document skew), per-doc pivot, 1:1 join to restore documents
    shorter than the smallest n; all JVM expressions.  Fractions are RAW
    doubles (exact-integer division is engine-independent; rounding can
    land on half boundaries) and the keep flag compares the raw ratios, so
    the oracle is exact at any sf.

    Runs the operator's DEFAULT zero-shuffle ``maponly`` plan (per-doc
    Counters in mapInPandas — bit-identical to the relational plan,
    equality-tested, ~5× faster; the shuffle variant keeps its own bench
    history as ``gopher_repetition_shuffle``)."""
    from .operators.textstats import repetition_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(d, thresholds=_GOPHER_GATE_THRESHOLDS)


def q_gopher_repetition_shuffle(spark, sf_dir):
    """The SQL-mirrorable relational plan of gopher_repetition (explode +
    two-stage agg + pivot) — bench-only twin so the shuffle variant's perf
    history survives the maponly default."""
    from .operators.textstats import repetition_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(d, thresholds=_GOPHER_GATE_THRESHOLDS, method="shuffle")


def _sql_gopher_repetition(th=_GOPHER_GATE_THRESHOLDS):
    return rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
), g AS (
  SELECT doc_id, n, array_to_string(ws[i:i+n-1], ' ') AS gram
  FROM w, (VALUES (2),(3),(4)) ns(n), unnest(range(1, len(ws)-n+2)) t(i)
), c AS (
  SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY ALL
), m AS (
  SELECT doc_id, n, sum(c) AS total, max(c) AS top,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM c GROUP BY ALL
), p AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN top/total END) AS top2_frac,
         max(CASE WHEN n = 2 THEN dup/total END) AS dup2_frac,
         max(CASE WHEN n = 3 THEN top/total END) AS top3_frac,
         max(CASE WHEN n = 3 THEN dup/total END) AS dup3_frac,
         max(CASE WHEN n = 4 THEN top/total END) AS top4_frac,
         max(CASE WHEN n = 4 THEN dup/total END) AS dup4_frac
  FROM m GROUP BY doc_id
)
SELECT w.doc_id, CAST(len(ws) AS INT) AS n_words,
       top2_frac, dup2_frac, top3_frac, dup3_frac, top4_frac, dup4_frac,
       CAST(coalesce(top2_frac, 0) <= {th[2]}
        AND coalesce(top3_frac, 0) <= {th[3]}
        AND coalesce(top4_frac, 0) <= {th[4]} AS INT) AS keep
FROM w LEFT JOIN p ON w.doc_id = p.doc_id
"""


# ---------------------------------------------------------------- registry
#
# The driver's correctness gate checks at most 50 queries() entries per
# round; a registry larger than that silently rotates green evidence out
# (the r4 lesson).  queries() is therefore CURATED to ≤50: every entry gets
# a fresh row every round.  Scale-default variants whose correctness is
# fully anchored elsewhere (an exact/degenerate hash-green mirror of the
# same plan + pytest parity/recall) live in bench_only_queries() — still
# benchmarked every round for cross-round perf comparability, just not
# double-counted in the ledger.  The subsumption argument per retired entry
# is in COVERAGE.md.

def queries():
    return {
        "rollup_1m": q_rollup_1m,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "derived_measures": q_derived_measures,
        "gapfill_completion": q_gapfill_completion,
        "change_features": q_change_features,
        "complexity": q_complexity,
        "wiener_smooth": q_wiener_smooth,
        "sessionize": q_sessionize,
        "session_concurrency": q_session_concurrency,
        "events_rollup_totals": q_events_rollup_totals,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "doc_stats": q_doc_stats,
        "corpus_filter": q_corpus_filter,
        "gopher_repetition": q_gopher_repetition,
        "decontaminate": q_decontaminate,
        "asof_join_events": q_asof_join_events,
        "dup_clusters": q_dup_clusters,
        "fingerprint": q_fingerprint,
        "lang_id": q_lang_id,
        "knn_cosine": q_knn_cosine,
        "embedding_centroids": q_embedding_centroids,
        "embedding_dups": q_embedding_dups,
        "dist_to_centroid": q_dist_to_centroid,
        "geomedian_1d": q_geomedian_1d,
        # kernel aggregates (rows-only checks; pytest-verified vs oracle)
        "geomedian_mads": q_geomedian_mads,
        "symmetry": q_symmetry,
        "fourier_features": q_fourier_features,
        "discordance": q_discordance,
        "area_warp": q_area_warp,
        "area_l1_to_median": q_area_l1_to_median,
        # degenerate-case hash-green mirrors of the kernel paths
        "dtw_diag_path": q_dtw_diag_path,
        "symmetry_vs_median": q_symmetry_vs_median,
        "discordance_lp_identity": q_discordance_lp_identity,
        "discordance_fixed16": q_discordance_fixed16,
        "fourier_fixed16": q_fourier_fixed16,
        "mads_fixed_p1": q_mads_fixed_p1,
        "number_peaks_w1": q_number_peaks_w1,
        # training-data dedup / similarity / multimodal
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh_poly": q_minhash_lsh_poly,
        "simhash_poly": q_simhash_poly,
        "knn_ivf_exact": q_knn_ivf_exact,
        "knn_lsh_exact": q_knn_lsh_exact,
        "embedding_dups_lsh_exact": q_embedding_dups_lsh_exact,
        "winnow_overlap": q_winnow_overlap,
        "multimodal_features": q_multimodal_features,
        "compression_roundtrip": q_compression_roundtrip,
        # storage layer: merge-on-read upsert through icelite (r6), and the
        # native Spark data-source face with pushed-filter file skipping
        "mor_upsert": q_mor_upsert,
        "icelite_scan": q_icelite_scan,
        "icelite_cdc": q_icelite_cdc,
    }


def bench_only_queries():
    """Scale-default variants retired from the ≤50-entry correctness ledger
    (each one's plan algebra is hash-green via an exact/degenerate mirror in
    queries() and its kernel/recall is pytest-anchored — see COVERAGE.md),
    still benched every round so per-query perf history stays comparable."""
    return {
        # r6: retired for mor_upsert — its whole plan algebra (groupBy +
        # conditional sums) is a strict subset of the hash-green rollup_1m
        # channelize pivot; nothing unique remains to guard
        "events_pivot": q_events_pivot,
        # r6: retired for icelite_scan — fourier_fixed16 drives the SAME
        # fourier_batch kernel with non-degenerate spectra (this row's
        # constant-series bands were the weaker, degenerate probe of it)
        "fourier_const_bands": q_fourier_const_bands,
        # r6: retired for icelite_cdc — local_dtw's banded fill is the SAME
        # DP recurrence dtw_diag_path drives hash-green end-to-end (the band
        # only bounds the j-range), and the banded kernel itself stays
        # bit-exact-pytest-anchored vs the serial reference
        # (tests/test_kernels_batched.py)
        "dtw_diag": q_dtw_diag,
        # r6: retired for gopher_repetition — its md5-groupBy duplicate
        # identification is the same decision corpus_filter's hash-green
        # window-min canonicalization makes over the same md5(text) key,
        # and the streaming form keeps its own streamed ≡ batch pytest
        "exact_dedup": q_exact_dedup,
        # bench-only from birth: the relational twin of the hash-green
        # gopher_repetition gate row (bit-identical results, shuffle plan)
        "gopher_repetition_shuffle": q_gopher_repetition_shuffle,
        "rollup_1d_cascade": q_rollup_1d_cascade,
        "decontaminate_bloom": q_decontaminate_bloom,
        "mad_vs_centroid": q_mad_vs_centroid,
        "topk_users": q_topk_users,
        "gapfill_locf": q_gapfill_locf,
        "embedding_dups_lsh": q_embedding_dups_lsh,
        "dtw_area": q_dtw_area,
        "dtw_path": q_dtw_path,
        "number_peaks": q_number_peaks,
        "minhash_lsh": q_minhash_lsh,
        "simhash_dups": q_simhash_dups,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
    }


def oracles():
    return {
        "rollup_1m": SQL_ROLLUP_1M,
        "rollup_1h_cascade": _sql_rollup_direct("hour"),
        "rollup_1d_cascade": _sql_rollup_direct("day"),
        "derived_measures": _sql_derived_measures(),
        "gapfill_locf": SQL_GAPFILL_LOCF,
        "gapfill_completion": SQL_GAPFILL_COMPLETION,
        "change_features": SQL_CHANGE_FEATURES,
        "complexity": SQL_COMPLEXITY,
        "wiener_smooth": SQL_WIENER_SMOOTH,
        "mad_vs_centroid": _sql_mad_vs_centroid(),
        "sessionize": SQL_SESSIONIZE,
        "session_concurrency": SQL_SESSION_CONCURRENCY,
        "topk_users": SQL_TOPK_USERS,
        "events_pivot": _sql_events_pivot(),
        "events_rollup_totals": SQL_EVENTS_ROLLUP_TOTALS,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "top_customers": SQL_TOP_CUSTOMERS,
        "doc_stats": _SQL_DOC_STATS,
        "exact_dedup": SQL_EXACT_DEDUP,
        "corpus_filter": _sql_corpus_filter(),
        "decontaminate": _sql_decontaminate(),
        "decontaminate_bloom": _sql_decontaminate(),
        "asof_join_events": SQL_ASOF_JOIN_EVENTS,
        "dup_clusters": _sql_dup_clusters(),
        "fingerprint": SQL_FINGERPRINT,
        "lang_id": _sql_lang_id(),
        "knn_cosine": _sql_knn_cosine(),
        "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
        "embedding_dups": _sql_embedding_dups(),
        "dist_to_centroid": _sql_dist_to_centroid(),
        "geomedian_1d": SQL_GEOMEDIAN_1D,
        "area_l1_to_median": SQL_AREA_L1_TO_MEDIAN,
        "dtw_diag": _sql_dtw_diag(),
        "dtw_diag_path": _sql_dtw_diag_path(),
        "symmetry_vs_median": _sql_symmetry_vs_median(),
        "discordance_lp_identity": _sql_discordance_lp_identity(),
        "discordance_fixed16": _sql_discordance_fixed16(),
        "fourier_const_bands": _sql_fourier_const_bands(),
        "fourier_fixed16": _sql_fourier_fixed16(),
        "mads_fixed_p1": _sql_mads_fixed_p1(),
        "number_peaks_w1": _sql_number_peaks_w1(),
        "ngram_jaccard": _sql_ngram_jaccard(),
        "minhash_lsh_poly": _sql_minhash_lsh_poly(),
        "simhash_poly": _sql_simhash_poly(),
        "knn_ivf_exact": _sql_knn_ivf_exact(),
        "knn_lsh_exact": _sql_knn_ivf_exact(),
        "embedding_dups_lsh_exact": _sql_embedding_dups(),
        "multimodal_features": _sql_multimodal_features(),
        "compression_roundtrip": SQL_COMPRESSION_ROUNDTRIP,
        "winnow_overlap": _sql_winnow_overlap(),
        "mor_upsert": SQL_MOR_UPSERT,
        "icelite_scan": SQL_ICELITE_SCAN,
        "icelite_cdc": SQL_ICELITE_CDC,
        "gopher_repetition": _sql_gopher_repetition(),
        "gopher_repetition_shuffle": _sql_gopher_repetition(),
    }
