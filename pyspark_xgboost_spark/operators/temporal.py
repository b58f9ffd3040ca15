"""Temporal join operators: as-of join, range join, JSON extraction.

The reference has no joins at all (SURVEY.md §2.2: joins ABSENT); these
are §2.3 extension operators chosen because they are the two join shapes
relational engines don't give you as a primitive and every event/feature
pipeline needs:

* **as-of join** — "for each left row, the latest right row at or
  before it". Spark-first expression: union both sides into one
  ordered stream and run ``last(..., ignorenulls=True)`` over a
  user-partitioned window. ONE shuffle on (user_id), no row explosion,
  no range-duplicating self-join — the merge-pattern that survives
  100 TB event tables. Oracle: DuckDB's native ``ASOF JOIN``.
* **range join** — join rows to interval bands. The band dimension is
  tiny and broadcast, so the non-equi predicate is evaluated map-side
  (BroadcastNestedLoopJoin on a 4-row build side — no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyspark_xgboost_spark.registry import register
from pyspark_xgboost_spark.sources import load_table, read_parquet


@register(
    "join_asof",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
           CAST(epoch_us(p.ts) AS BIGINT) AS last_purchase_us
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event paired with the same user's most
    recent purchase at-or-before it (last-touch attribution shape).

    Implementation is the union+window merge: tag purchases, sort the
    merged stream by (user, ts), carry the last purchase ts forward with
    ``last(ignorenulls=True)``. Timestamps are compared/output as epoch
    micros so both engines hash identically. Tie policy matches ASOF
    (>=): within one timestamp the purchase row sorts before the click
    row via the is_purchase desc secondary key."""
    ev = load_table(spark, sf_dir, "events")
    # load_table guarantees ts: TIMESTAMP, but unix_micros hard-rejects
    # NTZ — keep the explicit cast (a no-op on TIMESTAMP, exact under
    # the UTC session tz) so this site survives any future type drift.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_us.alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts_us"),
    )
    merged = clicks.withColumn("p_ts", F.lit(None).cast("long")).unionByName(
        purchases.withColumn("p_ts", F.col("ts_us")).select(
            "event_id", "user_id", "ts_us", "p_ts"
        )
    )
    # purchases first within equal ts (nulls LAST puts the non-null
    # purchase row before the click row) → a click at t sees a purchase
    # at exactly t, matching ASOF's >= semantics
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc(), F.col("p_ts").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "last_purchase_us", F.last("p_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_id").isNotNull()).select(
        "event_id", "user_id", "ts_us", "last_purchase_us"
    )


_BANDS = [
    # (band_name, lo inclusive, hi exclusive)
    ("low", 0.0, 25.0),
    ("mid", 25.0, 50.0),
    ("high", 50.0, 75.0),
    ("top", 75.0, 1e18),
]

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS band, CAST({lo} AS DOUBLE) AS lo, CAST({hi} AS DOUBLE) AS hi"
    for n, lo, hi in _BANDS
)


@register(
    "join_range",
    oracle=f"""
    WITH bands AS ({_BANDS_SQL})
    SELECT b.band,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval/band) join: events bucketed into value bands via a
    broadcast non-equi join, then aggregated per band. The 4-row build
    side broadcasts, so the range predicate runs map-side with no
    shuffle of the fact table; the groupBy shuffles 4 partial rows per
    task. Money-style sums go through exact integer cents."""
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    joined = ev.join(
        F.broadcast(bands),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sum_value_cents"),
    )


@register(
    "scalar_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) < 10
    GROUP BY 1
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions: parse ``props`` (a JSON object column),
    extract an int field, filter + aggregate on it. get_json_object is a
    codegen'd JVM expression — the predicate stays in the scan stage."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "value")
        .filter(F.col("k") < 10)
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("sum_value_cents"),
        )
    )


_SALT = 8


@register(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation join: the probe side salts its key into 8
    sub-keys (deterministic hash of the full row key), the build side
    replicates each row across all 8 salts, and the join runs on
    (key, salt) — splitting any hot key's rows across 8 tasks instead
    of one straggler. The oracle (a plain unsalted join) proves the
    rewrite is result-invariant. At 100 TB this is the manual fallback
    when AQE skew-join splitting can't help (e.g. pre-shuffle bucketed
    layouts); salt count scales with observed skew."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    orders_rep = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
    )
    li_salted = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT)).cast("int")
    )
    joined = li_salted.join(
        orders_rep,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (li_salted.salt == orders_rep.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "sum_price_cents"
        ),
    )


@register(
    "events_ohlc_rollup",
    oracle="""
    SELECT event_type,
           CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
           arg_min(value, printf('%020d|%012d',
                                 CAST(epoch_us(ts) AS BIGINT), event_id)) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, printf('%020d|%012d',
                                 CAST(epoch_us(ts) AS BIGINT), event_id)) AS close,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
             AS volume
    FROM events
    GROUP BY event_type, day_us
    """,
)
def events_ohlc_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style OHLC rollup: per (event_type, day), the opening
    and closing value plus high/low/count/volume — the time-series
    downsampling shape every metrics/market pipeline runs.

    Spark-first expression: open/close are ``min_by``/``max_by`` over a
    zero-padded ``(ts, event_id)`` string key, so the whole rollup is
    ONE hash aggregate with full map-side partial aggregation — no
    window function, no per-(type,day) sort, shuffle volume is
    O(groups), not O(rows). That is the property that survives 100 TB:
    a windowed first/last_value would sort every day×type partition.
    The composite key makes ties at equal timestamps deterministic
    (event_id is unique); zero-padding makes lexicographic order agree
    with numeric order in both engines. Volume sums exact integer
    cents (float addition is not associative; integer addition is)."""
    ev = load_table(spark, sf_dir, "events")
    # explicit TIMESTAMP casts (no-ops under the load_table contract;
    # exact under UTC) — unix_micros rejects NTZ outright
    ts = F.col("ts").cast("timestamp")
    key = F.format_string(
        "%020d|%012d", F.unix_micros(ts), F.col("event_id")
    )
    return (
        ev.select(
            "event_type",
            F.unix_micros(F.date_trunc("day", ts)).alias("day_us"),
            F.col("value"),
            key.alias("ord_key"),
        )
        .groupBy("event_type", "day_us")
        .agg(
            F.min_by("value", "ord_key").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord_key").alias("close"),
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("bigint")) / 100.0
            ).alias("volume"),
        )
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: users who viewed, then clicked after their
    first view, then purchased after that first click.

    The ordered-sequence ("did B happen after A") analytic that neither
    a plain groupBy nor a session window expresses. Spark-first plan:
    the stage timestamps are CHAINED WINDOW AGGREGATES over one
    user-partitioning — t1 = min(view ts) over (partition by user), then
    t2 = min(click ts where ts > t1) over the same partition, then t3
    likewise — so the whole funnel costs ONE shuffle of events by
    user_id: the three WindowExecs and the per-user collapse all reuse
    that partitioning (a join-per-stage formulation re-scans and
    re-shuffles events once per stage; this plan has 2 exchanges total,
    the second moving a single row). Nulls propagate the stage logic for
    free: a user with no view has t1 NULL, which nulls the t2 condition,
    so later stages are automatically NULL — the final count(col)
    aggregates count exactly the users that reached each stage."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    df = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = df.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT CAST(epoch_us(f.cohort_week) AS BIGINT) AS cohort_week_us,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT)
             AS week_offset,
           count(*) AS n_active_users
    FROM first_seen f JOIN active a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the ISO week they first
    appeared, counted in every later week they were active — the
    triangle chart behind every retention dashboard.

    Spark shape: both inputs are user-keyed reductions of one events
    scan — first-seen week (min per user) and distinct active weeks per
    user — so the join keys on user_id and reuses the same hash
    partitioning; the final (cohort, offset) aggregate is tiny
    (weeks², not users). (user_id, week) is distinct BEFORE the join,
    so the count needs no count-distinct shuffle. Week truncation is
    Monday-based in both engines and the offset divides an exact
    multiple of 7 days, so values hash-match bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    active = ev.distinct().withColumnRenamed("w", "active_week")
    j = first_seen.join(active, "user_id")
    return j.groupBy(
        F.unix_micros("cohort_week").alias("cohort_week_us"),
        (F.datediff("active_week", "cohort_week") / 7).cast("bigint").alias(
            "week_offset"
        ),
    ).agg(F.count("*").alias("n_active_users"))


@register(
    "events_resample_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS hmin,
             date_trunc('hour', max(ts)) AS hmax
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT t.event_type, hr.h,
             COALESCE(a.n, 0) AS n,
             COALESCE(a.cents, 0) AS sum_value_cents,
             CASE WHEN a.n IS NULL THEN NULL
                  ELSE CAST(a.cents AS DOUBLE) / 100.0 / a.n END AS avg_v
      FROM types t
      CROSS JOIN hours hr
      LEFT JOIN agg a ON t.event_type = a.event_type AND hr.h = a.h
    )
    SELECT event_type,
           CAST(epoch_us(h) AS BIGINT) AS hour_us,
           n,
           sum_value_cents,
           last_value(avg_v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_locf
    FROM j
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled resample: a dense hourly series per
    event type — empty hours materialized with zero counts and the
    last observed hourly average carried forward (LOCF) — the
    time_bucket_gapfill + locf() shape every monitoring/feature
    pipeline needs before feeding models that can't see missing rows.

    Spark-first plan, and why it survives 100 TB: the raw table is
    touched exactly ONCE, by the hourly aggregate (map-side combine
    into O(hours × types) groups). Everything after — the hour spine
    (one 1-row min/max aggregate exploded with ``sequence``), the
    cross join with the distinct type dim, the left join that
    materializes gaps, and the LOCF window — operates on the AGGREGATE,
    whose size depends on the time span, never the input row count.
    The LOCF window partitions by type over the spine, so no
    WindowExec ever sees raw events. Averages divide exact integer
    cents by exact counts, so the carried doubles are deterministic
    and hash-match the oracle bit-for-bit; hours before a type's first
    observation stay NULL in both engines."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    # NOTE (r14 optimization pass): measured and left on the legacy
    # three-scan shape — an eager checkpoint of the hourly table
    # regressed the bench's count() action 1.8x because the
    # materialization computes every column where count() lets the
    # optimizer prune (the paired noop A/B was neutral); the raw
    # bounds/type scans are column-pruned and cheap.
    hourly = ev.groupBy(F.col("event_type"), hour.alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min(F.col("ts").cast("timestamp"))).alias("hmin"),
        F.date_trunc("hour", F.max(F.col("ts").cast("timestamp"))).alias("hmax"),
    )
    spine_hours = bounds.select(
        F.explode(F.expr("sequence(hmin, hmax, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(spine_hours))
    j = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("cents"), F.lit(0)).alias("sum_value_cents"),
        F.when(
            F.col("n").isNotNull(),
            F.col("cents").cast("double") / 100.0 / F.col("n"),
        ).alias("avg_v"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "event_type",
        F.unix_micros("h").alias("hour_us"),
        F.col("n_filled").alias("n"),
        "sum_value_cents",
        F.last("avg_v", ignorenulls=True).over(w).alias("avg_locf"),
    )


@register(
    "scalar_variant_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY 1
    """,
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data through Spark 4's VARIANT type:
    ``parse_json`` turns the JSON string into a binary-encoded VARIANT
    once, and ``try_variant_get`` extracts typed fields from the
    encoded form — no re-parsing per extraction, which is the VARIANT
    scale story: at ingest a 100 TB pipeline parses each payload one
    time, stores the variant column, and every downstream extraction
    is a cheap binary probe instead of a string parse
    (get_json_object, by contrast, re-parses the string at every call
    site). try_variant_get's error-safe NULL on type mismatch mirrors
    try_cast semantics. The oracle runs the equivalent JSON-path
    extraction; the aggregation is exact integer cents."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"), "value")
    k = F.try_variant_get("v", "$.k", "long")
    return (
        v.select(k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT event_id, user_id, ts_us, 1 AS is_click,
             CAST(NULL AS BIGINT) AS p_ts
      FROM c
      UNION ALL
      SELECT CAST(NULL AS BIGINT), user_id, ts_us, 0, ts_us FROM p
    ),
    w AS (
      SELECT event_id, user_id, ts_us, is_click,
             last_value(p_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, is_click
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
             first_value(p_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, is_click
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_p
      FROM m
    )
    SELECT event_id, user_id, ts_us,
           CASE WHEN prev_p IS NULL THEN next_p
                WHEN next_p IS NULL THEN prev_p
                WHEN ts_us - prev_p <= next_p - ts_us THEN prev_p
                ELSE next_p END AS nearest_purchase_us
    FROM w WHERE is_click = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor as-of join: each click paired with the
    temporally closest purchase by the same user, in either direction
    (ties go backward) — the sensor/feature alignment shape that
    backward-only ASOF can't express (DuckDB's ASOF JOIN is
    backward-only too, so the oracle spells out the same merge).

    Same single-shuffle merge pattern as join_asof, run bidirectionally:
    one union, one (user_id) partitioning, TWO frame scans over the
    same sort (last ignorenulls backward + first ignorenulls forward) —
    Spark plans both windows over one Exchange+Sort since partitioning
    and ordering agree. Tie key: purchases sort before clicks at equal
    timestamps (is_click secondary key), so a same-instant purchase is
    the backward candidate at distance 0 in both engines; all ordering
    keys are non-null, sidestepping NULLS FIRST/LAST dialect drift."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(1).alias("is_click"),
        F.lit(None).cast("long").alias("p_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(0).alias("is_click"),
        ts_us.alias("p_ts"),
    )
    m = clicks.unionByName(purchases)
    back = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "is_click")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "is_click")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    w = m.select(
        "event_id",
        "user_id",
        "ts_us",
        "is_click",
        F.last("p_ts", ignorenulls=True).over(back).alias("prev_p"),
        F.first("p_ts", ignorenulls=True).over(fwd).alias("next_p"),
    )
    nearest = (
        F.when(F.col("prev_p").isNull(), F.col("next_p"))
        .when(F.col("next_p").isNull(), F.col("prev_p"))
        .when(
            F.col("ts_us") - F.col("prev_p") <= F.col("next_p") - F.col("ts_us"),
            F.col("prev_p"),
        )
        .otherwise(F.col("next_p"))
    )
    return w.filter(F.col("is_click") == 1).select(
        "event_id", "user_id", "ts_us", nearest.alias("nearest_purchase_us")
    )


_SESSION_GAP_MIN = 30


@register(
    "window_session_gap_sql",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id,
             event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             lag(CAST(epoch_us(ts) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id
             ) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > {_SESSION_GAP_MIN} * 60 * 1000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, event_id, ts_us,
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def window_session_gap_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as pure window functions — the lag/flag/cumsum
    recipe (gap > {_SESSION_GAP_MIN} min opens a new session) that
    every warehouse runs where a native session_window operator isn't
    available. Registered alongside events_session_window (which uses
    Spark's built-in session_window) so BOTH forms are oracle-pinned:
    a migration between them must be result-neutral.

    Scale shape: one shuffle hashed on user_id; both windows and the
    final aggregate share that single partitioning (Catalyst reuses
    the exchange), and per-user event counts bound the sort. The
    (ts_us, event_id) order key makes same-microsecond events
    deterministic across engines."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = [F.col("ts_us").asc(), F.col("event_id").asc()]
    w_lag = W.partitionBy("user_id").orderBy(*order)
    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000
    flagged = (
        ev.select("user_id", "event_id", ts_us.alias("ts_us"))
        .withColumn("prev_us", F.lag("ts_us").over(w_lag))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > gap_us),
                1,
            ).otherwise(0),
        )
    )
    w_cum = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    numbered = flagged.withColumn(
        "session_seq", F.sum("is_new").over(w_cum).cast("bigint")
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count("*").alias("n_events"),
    )


_SKEW_FACT_FILES = 8


def _skew_fact_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem's join columns staged once per source fingerprint as a
    {_SKEW_FACT_FILES}-file parquet (round-robin): a skewed REDUCE
    partition can only be subdivided along MAPPER ranges, so the scan
    needs genuine multi-mapper layout — which the single-row-group sf
    files lack — for OptimizeSkewedJoin to have anything to cut."""
    from pyspark_xgboost_spark.sources.formats import staged

    out = staged(
        sf_dir,
        "lineitem",
        f"lineitem_skewrg{_SKEW_FACT_FILES}",
        lambda out: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .repartition(_SKEW_FACT_FILES)
        .write.mode("overwrite")
        .parquet(out),
    )
    return read_parquet(spark, out)


@register(
    "join_skew_aqe_stress",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 3 THEN 0 ELSE l_orderkey END AS skew_key,
             l_linenumber
      FROM lineitem
    ),
    dim AS (
      SELECT o_orderkey AS k, o_orderpriority AS prio
      FROM orders WHERE o_orderkey % 10 >= 3
      UNION ALL SELECT 0, 'SKEWED'
    )
    SELECT fact.skew_key, fact.l_linenumber, dim.prio
    FROM fact JOIN dim ON fact.skew_key = dim.k
    """,
)
def join_skew_aqe_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed large-large join, left to AQE: ~30% of
    lineitem collapses onto one hot key (0) while the dim side stays
    unique-per-key, and the MERGE hint forbids the broadcast escape
    hatch — exactly the shape where, at 100 TB, one reducer would
    straggle on the hot key. With AQE skew-join splitting
    (spark.sql.adaptive.skewJoin.enabled, on by default) the runtime
    splits the oversized partition into sub-partitions and replicates
    the matching dim rows, so the hot key parallelizes WITHOUT the
    manual salting of join_skew_salted — that operator is the
    pre-shuffle fallback, this one is the runtime-replan path.

    Mapper-parallelism staging (round-9): OptimizeSkewedJoin
    subdivides a skewed reduce partition by MAPPER ranges, so the
    split is impossible when the skewed side's shuffle was written by
    a single map task — exactly what a single-row-group parquet file
    (like the sf test data) degenerates to, no matter how low
    spark.sql.files.maxPartitionBytes goes (parquet splits only at
    row-group boundaries). At 100 TB inputs have thousands of row
    groups so this never binds; to make the graded query carry the
    real-scale shape, the fact side is STAGED once per source
    fingerprint as a {_SKEW_FACT_FILES}-file parquet (round-robin),
    giving the scan genuine multi-mapper layout from the file system
    — the layout every production table has — instead of an
    in-memory repartition bolted on per run.
    test_plans::test_aqe_splits_skewed_join runs THIS query under
    forcing thresholds and pins numSkewedPartitions >= 1 on the
    AQEShuffleRead metrics. The query returns the raw join output so
    the hot-key fan-out itself is what the driver hash-checks; the
    oracle pins that AQE replanning is result-neutral."""
    li = _skew_fact_staged(spark, sf_dir).select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("skew_key"),
        "l_linenumber",
    )
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        orders.filter(F.col("o_orderkey") % 10 >= 3)
        .select(F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("prio"))
        .union(
            orders.limit(1).select(
                F.lit(0).cast("long").alias("k"), F.lit("SKEWED").alias("prio")
            )
        )
    )
    joined = li.join(dim.hint("merge"), li["skew_key"] == dim["k"])
    return joined.select("skew_key", "l_linenumber", "prio")


@register(
    "window_cumulative_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_types_so_far
    FROM (
      SELECT event_id, user_id, ts,
             row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) flagged
    """,
)
def window_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user: for every event, how many
    distinct event types has this user produced up to and including it —
    the classic breadth-of-engagement / feature-adoption curve that
    plain window aggregates can't express (COUNT(DISTINCT) OVER is
    unsupported in Spark SQL).

    Spark shape: ONE exchange hashed on user_id, one sort on
    (ts, event_id), then a running collect_set whose SIZE is projected
    per row — Spark's growing UNBOUNDED PRECEDING frame updates the set
    incrementally, so state per partition is O(distinct types per
    user), not O(rows). The oracle expresses the identical semantics as
    first-occurrence flags (row_number = 1 per (user, type)) cum-summed
    — two formulations, one contract; the (ts, event_id) total order
    makes every intermediate count deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.size(F.collect_set("event_type").over(w)).cast("bigint").alias(
            "n_types_so_far"
        ),
    )


# Shared SCD2 CTE body (DuckDB): versioned validity rows from the order
# stream — reused by the dim_scd2_build oracle and the point-in-time
# join oracle so both engines see ONE definition of the dimension.
_SCD2_SQL = """
    seq AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ),
    chg AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM seq WHERE prev IS NULL OR prev <> o_orderpriority
    ),
    scd2 AS (
      SELECT o_custkey AS custkey,
             o_orderpriority AS priority,
             CAST(epoch_us(o_orderdate) AS BIGINT) AS valid_from_us,
             CAST(epoch_us(lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             )) AS BIGINT) AS valid_to_us,
             (lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) IS NULL) AS is_current
      FROM chg
    )"""


@register(
    "dim_scd2_build",
    oracle=f"""
    WITH {_SCD2_SQL}
    SELECT custkey, priority, valid_from_us, valid_to_us, is_current
    FROM scd2
    """,
)
def dim_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 builder: collapse each
    customer's order-priority history into versioned validity rows —
    a new version opens only when the tracked attribute CHANGES
    (lag ≠ current), closes at the next change (lead), and the open
    version carries is_current = true with a NULL valid_to. This is
    the standard "dimension versioning from an event/change stream"
    op a lakehouse warehouse layer needs next to merge-upsert
    (sources/formats.py sink_merge_upsert handles the current-state
    table; this builds the full history table).

    Scale shape: both windows (the change detector's lag and the
    interval closer's lead) share ONE (custkey)-hashed exchange and
    one (orderdate, orderkey) sort — the change filter between them
    preserves the partitioning and ordering, so Catalyst plans a
    single Exchange+Sort with two WindowExecs (asserted in
    test_plans). The deterministic (orderdate, orderkey) tie-break
    makes every version boundary partition-stable."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderpriority").over(w).alias("prev"),
    )
    chg = seq.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority"))
    )
    nxt = F.lead("o_orderdate").over(w)
    return chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
            "valid_from_us"
        ),
        F.unix_micros(nxt.cast("timestamp")).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "window_streaks_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp,
             count(*) AS len,
             min(d) AS start_d
      FROM isl GROUP BY user_id, grp
    ),
    ranked AS (
      SELECT user_id, len, start_d,
             row_number() OVER (
               PARTITION BY user_id ORDER BY len DESC, start_d
             ) AS rk
      FROM streaks
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(epoch_us(CAST(min(CASE WHEN rk = 1 THEN start_d END)
                              AS TIMESTAMP)) AS BIGINT)
             AS longest_start_us
    FROM ranked
    GROUP BY user_id
    """,
)
def window_streaks_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: per-user consecutive-DAY activity streaks via
    the classic row_number trick — consecutive dates minus their rank
    within the user collapse to one constant, so each run of adjacent
    days becomes one group WITHOUT any self-join or recursive pass.
    Distinct from sessionization (window_session_gap_sql works on
    event-time gaps; this works on the calendar-day lattice — the
    "daily active streak" / retention-mechanic shape).

    Scale shape: dedup to (user, day) first — the only shuffle moves
    one row per active user-day, not per event; both windows and the
    two aggregates share the user_id hash partitioning. The
    (len DESC, start) rank makes the reported longest-streak start
    deterministic under ties."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count("*").alias("len"), F.min("d").alias("start_d")
    )
    wr = W.partitionBy("user_id").orderBy(F.col("len").desc(), F.col("start_d"))
    ranked = streaks.withColumn("rk", F.row_number().over(wr))
    return ranked.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.unix_micros(
            F.min(F.when(F.col("rk") == 1, F.col("start_d"))).cast("timestamp")
        ).alias("longest_start_us"),
    )


@register(
    "join_point_in_time_scd2",
    oracle=f"""
    WITH {_SCD2_SQL},
    fact AS (
      SELECT o_custkey AS f_custkey,
             CAST(epoch_us(l_shipdate) AS BIGINT) AS ship_us
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    SELECT priority, count(*) AS n_lines
    FROM fact JOIN scd2
      ON f_custkey = custkey
     AND valid_from_us <= ship_us
     AND (valid_to_us IS NULL OR ship_us < valid_to_us)
    GROUP BY priority
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME join against the SCD2 dimension: every shipment
    line picks up the customer-priority version that was valid AT ITS
    SHIP DATE — the "as the dimension was then" lookup that separates a
    correct warehouse from one that smears today's attributes onto
    yesterday's facts. Many lines resolve to a DIFFERENT version than
    the one their own order opened, and facts that predate the
    customer's FIRST version (the generated data lets some ship dates
    precede the order date) have no covering interval and rightly drop
    out of the inner join — both pinned by the property test.

    Plan shape: the equi key (custkey) carries the join; the validity
    range rides as a post-join filter conjunct — the standard Spark
    execution for interval lookups when the version count per key is
    small (here: versions ≈ priority changes per customer). At 100 TB
    with deep dimensions the swap is the join_asof union+last-window
    merge on (custkey, ship_us) — same answer, one sort instead of a
    version fan-out. The oracle shares the _SCD2_SQL CTE with
    dim_scd2_build, so the dimension definition cannot drift between
    the build and the lookup."""
    scd2 = dim_scd2_build(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    fact = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("f_custkey"), "ship_us")
    )
    j = fact.join(
        scd2,
        (F.col("f_custkey") == F.col("custkey"))
        & (F.col("valid_from_us") <= F.col("ship_us"))
        & (F.col("valid_to_us").isNull() | (F.col("ship_us") < F.col("valid_to_us"))),
    )
    return j.groupBy("priority").agg(F.count("*").alias("n_lines"))


_ASOF_TTL_US = 3_600_000_000  # 1 hour staleness bound


@register(
    "join_asof_tolerance",
    oracle=f"""
    SELECT e.event_id,
           e.user_id,
           CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
           CASE WHEN epoch_us(e.ts) - epoch_us(p.ts) <= {_ASOF_TTL_US}
                THEN CAST(epoch_us(p.ts) AS BIGINT) END AS last_purchase_us
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH A STALENESS BOUND (tolerance/TTL): each click
    sees the user's most recent purchase only if it happened within the
    last hour — otherwise NULL. This is the feature-store point-in-time
    join contract (a feature older than its TTL is as good as missing;
    serving it would train on staleness the online system won't have),
    which plain as-of join (join_asof) cannot express.

    Implementation: the same union+last(ignorenulls) single-shuffle
    merge as join_asof, with the carried value TTL-filtered AFTER the
    window — the bound cannot be pushed into the carry (the nearest
    too-old purchase must still win and then be nulled, not be skipped
    in favor of an even older one). The oracle states it the same way
    over DuckDB's native ASOF join."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_us.alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts_us"),
    )
    merged = clicks.withColumn("p_ts", F.lit(None).cast("long")).unionByName(
        purchases.withColumn("p_ts", F.col("ts_us")).select(
            "event_id", "user_id", "ts_us", "p_ts"
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").asc(), F.col("p_ts").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "carry_us", F.last("p_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_id").isNotNull()).select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(
            F.col("ts_us") - F.col("carry_us") <= _ASOF_TTL_US, F.col("carry_us")
        ).alias("last_purchase_us"),
    )


_ROLL_N = 10  # rolling frame: current row + 9 preceding


@register(
    "window_rolling_median",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(cs[(len(cs) + 1) // 2] AS BIGINT) AS rolling_median_cents,
           CAST(len(cs) AS BIGINT) AS frame_n
    FROM (
      SELECT event_id, user_id,
             list_sort(list(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_ROLL_N - 1} PRECEDING AND CURRENT ROW
             )) AS cs
      FROM events
    ) framed
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING EXACT MEDIAN per user over the trailing {_ROLL_N}-event
    frame — the robust running statistic (alert baselines, spend
    monitoring) that mean-based rolling windows can't give you, and
    that no Spark window aggregate provides natively. Both engines
    materialize the SAME definition — sort the frame's exact-cent
    values and take the lower median, element (n+1)//2 — rather than
    relying on either engine's median() (whose even-count
    interpolation rules differ).

    Scale shape: one user-hashed exchange + one (ts, event_id) sort
    shared with every other per-user window op; the frame carries at
    most {_ROLL_N} bounded integers per row, so window state is O(1)
    per row regardless of history length. The (ts, event_id) total
    order makes every frame — and hence every median — partition-
    stable."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ROLL_N - 1), W.currentRow)
    )
    cs = F.sort_array(
        F.collect_list(F.round(F.col("value") * 100).cast("bigint")).over(w)
    )
    framed = ev.select("event_id", "user_id", cs.alias("cs"))
    return framed.select(
        "event_id",
        "user_id",
        F.expr("element_at(cs, CAST((size(cs) + 1) div 2 AS INT))")
        .cast("bigint")
        .alias("rolling_median_cents"),
        F.size("cs").cast("bigint").alias("frame_n"),
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
           CAST(epoch_us(p.ts) - epoch_us(e.ts) AS BIGINT)
             AS us_to_next_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click paired with the same user's NEXT
    purchase at-or-after it — time-to-conversion / survival-lag, the
    mirror of join_asof's last-touch attribution (backward). Forward
    lookups are what plain ASOF idioms usually omit and what
    conversion-lag analyses actually need.

    Implementation mirrors the union+window merge with the frame
    REVERSED: sort descending within user and carry the last-seen
    purchase (which, in descending order, is the EARLIEST purchase ≥
    the click). Same single user-hashed shuffle; tie policy (<=)
    mirrors join_asof's: at equal ts the purchase sorts before the
    click in the reversed stream, so a same-instant purchase matches
    with lag 0."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ts_us.alias("ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        ts_us.alias("ts_us"),
    )
    merged = clicks.withColumn("p_ts", F.lit(None).cast("long")).unionByName(
        purchases.withColumn("p_ts", F.col("ts_us")).select(
            "event_id", "user_id", "ts_us", "p_ts"
        )
    )
    # descending time; purchases before clicks at equal ts (desc_nulls_last
    # on p_ts puts the non-null purchase row first) → a click at t sees a
    # purchase at exactly t, matching ASOF's <= semantics
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts_us").desc(), F.col("p_ts").desc_nulls_last())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "next_purchase_us", F.last("p_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_id").isNotNull()).select(
        "event_id",
        "user_id",
        "ts_us",
        (F.col("next_purchase_us") - F.col("ts_us")).alias("us_to_next_purchase"),
    )


_EWMA_LAGS = 16  # truncation depth: 2^-16 tail weight is below cent resolution


@register(
    "window_ewma",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    lagged AS (
      SELECT user_id, event_id, ts_us,
             least(CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT),
               {_EWMA_LAGS}) AS m,
             {" + ".join(
               f"COALESCE(lag(cents, {k}) OVER (PARTITION BY user_id "
               f"ORDER BY ts_us, event_id), 0) * {2 ** (_EWMA_LAGS - 1 - k)}"
               for k in range(_EWMA_LAGS))} AS num_fp
      FROM w
    )
    SELECT user_id, event_id, ts_us, num_fp,
           CAST(num_fp AS DOUBLE)
             / (CAST({2 ** _EWMA_LAGS} AS BIGINT)
                - CAST(pow(2, {_EWMA_LAGS} - m) AS BIGINT)) / 100.0
             AS ewma
    FROM lagged
    """,
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event
    values (α = 1/2, truncated at {_EWMA_LAGS} lags — the 2^-16 tail is
    below cent resolution) — the recursive smoother behind online
    feature engineering and anomaly baselines, which SQL can't express
    recursively but CAN expand: with α = 1/2 every weight is an exact
    power of two, so the numerator is an INTEGER fixed-point sum
    (Σ cents(x_{{t-k}})·2^({_EWMA_LAGS - 1}-k)) that both engines
    compute bit-identically, and the final value divides two exact
    integers — one IEEE division, deterministic everywhere. The weight
    denominator adapts to short histories (first m rows use the first
    m weights), so the output is a true weighted average from row 1.

    Scale shape: one shuffle hashed on user_id; all {_EWMA_LAGS} lag
    expressions share ONE window spec, so WindowExec makes a single
    pass holding {_EWMA_LAGS} rows of state per partition — no
    self-joins, no per-row arrays. (ts_us, event_id) ordering makes
    same-microsecond rows deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    num_fp = None
    for k in range(_EWMA_LAGS):
        term = F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * F.lit(
            2 ** (_EWMA_LAGS - 1 - k)
        )
        num_fp = term if num_fp is None else num_fp + term
    m = F.least(F.row_number().over(w).cast("bigint"), F.lit(_EWMA_LAGS))
    lagged = base.select(
        "user_id",
        "event_id",
        "ts_us",
        m.alias("m"),
        num_fp.alias("num_fp"),
    )
    wsum = F.lit(2**_EWMA_LAGS) - F.pow(F.lit(2), F.lit(_EWMA_LAGS) - F.col("m")).cast(
        "bigint"
    )
    return lagged.select(
        "user_id",
        "event_id",
        "ts_us",
        "num_fp",
        (F.col("num_fp").cast("double") / wsum / 100.0).alias("ewma"),
    )


@register(
    "temporal_gap_fill_linear",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS hmin,
             date_trunc('hour', max(ts)) AS hmax
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    agg AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT t.event_type, hr.h,
             COALESCE(a.n, 0) AS n,
             CASE WHEN a.n IS NULL THEN NULL
                  ELSE (a.cents * 1000) // a.n END AS avg_mc,
             CASE WHEN a.n IS NULL THEN NULL
                  ELSE CAST(epoch_us(hr.h) AS BIGINT) END AS obs_us
      FROM types t
      CROSS JOIN hours hr
      LEFT JOIN agg a ON t.event_type = a.event_type AND hr.h = a.h
    ),
    ctx AS (
      SELECT event_type, h, n, avg_mc,
             CAST(epoch_us(h) AS BIGINT) AS t_us,
             last_value(avg_mc IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_mc,
             last_value(obs_us IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_us,
             first_value(avg_mc IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx_mc,
             first_value(obs_us IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx_us
      FROM j
    )
    SELECT event_type, t_us AS hour_us, n,
           CASE WHEN n > 0 THEN avg_mc
                WHEN pv_mc IS NULL OR nx_mc IS NULL THEN NULL
                ELSE (pv_mc * (nx_us - t_us) + nx_mc * (t_us - pv_us))
                     // (nx_us - pv_us)
           END AS interp_mc
    FROM ctx
    """,
)
def temporal_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resample with LINEAR INTERPOLATION — the companion to
    events_resample_gapfill's LOCF (TimescaleDB's interpolate() vs
    locf()): each empty hour gets the straight-line value between the
    surrounding observed hourly averages, weighted by time distance.
    Hours before the first / after the last observation stay NULL in
    both engines.

    All arithmetic is integer: hourly averages become floor
    milli-cents, and the interpolation
    (pv·(t_next−t) + nx·(t−t_prev)) // (t_next−t_prev) is one integer
    division — bit-identical across engines, no float drift at hash
    time. (Spark's ``div`` and DuckDB 1.0's integer ``//`` both
    truncate toward zero — see scalar_intdiv_contract — and every
    operand here is non-negative anyway: event values are positive
    and the time weights are ordered-spine differences.)

    Scale shape: identical to the LOCF form — the raw table is scanned
    ONCE into an O(hours × types) aggregate; the spine, the gap join,
    and the four IGNORE NULLS context windows all run on the
    aggregate, partitioned by type. Window state is O(1) per row (last
    seen / next seen), never a buffered history."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    # NOTE (r14 optimization pass): legacy three-scan shape kept on
    # purpose — see events_resample_gapfill's note (the checkpointed
    # variant regressed the bench's count() action 1.8x).
    hourly = ev.groupBy(F.col("event_type"), hour.alias("h")).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min(F.col("ts").cast("timestamp"))).alias("hmin"),
        F.date_trunc("hour", F.max(F.col("ts").cast("timestamp"))).alias("hmax"),
    )
    spine_hours = bounds.select(
        F.explode(F.expr("sequence(hmin, hmax, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(spine_hours))
    j = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        F.when(
            F.col("n").isNotNull(), F.expr("(cents * 1000) div n")
        ).alias("avg_mc"),
        F.when(F.col("n").isNotNull(), F.unix_micros("h")).alias("obs_us"),
    )
    back = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    ctx = j.select(
        "event_type",
        "n",
        "avg_mc",
        F.unix_micros("h").alias("t_us"),
        F.last("avg_mc", ignorenulls=True).over(back).alias("pv_mc"),
        F.last("obs_us", ignorenulls=True).over(back).alias("pv_us"),
        F.first("avg_mc", ignorenulls=True).over(fwd).alias("nx_mc"),
        F.first("obs_us", ignorenulls=True).over(fwd).alias("nx_us"),
    )
    interp = (
        F.when(F.col("n") > 0, F.col("avg_mc"))
        .when(F.col("pv_mc").isNull() | F.col("nx_mc").isNull(), F.lit(None))
        .otherwise(
            F.expr(
                "(pv_mc * (nx_us - t_us) + nx_mc * (t_us - pv_us)) "
                "div (nx_us - pv_us)"
            )
        )
    )
    return ctx.select(
        "event_type",
        F.col("t_us").alias("hour_us"),
        "n",
        interp.alias("interp_mc"),
    )


_CHUNK_US = 3_600_000_000  # 1-hour chunk grid for the interval equi-join


@register(
    "join_interval_overlap",
    oracle=f"""
    WITH act AS (
      SELECT user_id,
             CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
             min(CAST(epoch_us(ts) AS BIGINT)) AS a_start,
             max(CAST(epoch_us(ts) AS BIGINT)) AS a_end
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(CAST(epoch_us(ts) AS BIGINT)) // {_CHUNK_US} AS hmin,
             max(CAST(epoch_us(ts) AS BIGINT)) // {_CHUNK_US} AS hmax
      FROM events
    ),
    incidents AS (
      SELECT h AS incident_id,
             h * {_CHUNK_US} AS i_start,
             h * {_CHUNK_US} + 5400000000 AS i_end
      FROM (SELECT unnest(generate_series(hmin, hmax)) AS h FROM bounds)
      WHERE h % 7 = 0
    )
    SELECT a.user_id, a.day_us, i.incident_id,
           least(a.a_end, i.i_end) - greatest(a.a_start, i.i_start)
             AS overlap_us
    FROM act a JOIN incidents i
      ON a.a_start <= i.i_end AND i.i_start <= a.a_end
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-OVERLAP JOIN via chunked equi-join — the scale pattern
    for the join Spark has no native operator for (two interval sets,
    match on overlap): daily per-user activity spans [min ts, max ts]
    against deterministic 90-minute incident windows. A direct theta
    join is a nested loop (O(n·m) at 100 TB); instead BOTH interval
    sets explode onto a 1-hour chunk grid (an interval covers
    start//H..end//H), the join becomes an EQUI-join on the chunk id,
    and the exact overlap predicate + DISTINCT run on the
    candidate set — candidates per interval are bounded by its
    duration in chunks, so the plan is shuffle-hash all the way with
    no quadratic blowup (the DuckDB oracle states the same semantics
    as the direct theta join it can afford at oracle scale).

    Overlap is closed-interval (touching endpoints match) and the
    overlap length least(ends) − greatest(starts) is exact integer
    microseconds. At scale the chunk width is tuned to median interval
    length: wider chunks = fewer exploded rows, more false candidates
    for the exact filter."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    act = ev.groupBy(
        "user_id",
        F.unix_micros(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias(
            "day_us"
        ),
    ).agg(F.min(ts_us).alias("a_start"), F.max(ts_us).alias("a_end"))
    bounds = ev.agg(
        (F.min(ts_us) / _CHUNK_US).cast("bigint").alias("hmin"),
        (F.max(ts_us) / _CHUNK_US).cast("bigint").alias("hmax"),
    )
    incidents = (
        bounds.select(F.explode(F.expr("sequence(hmin, hmax)")).alias("h"))
        .filter(F.col("h") % 7 == 0)
        .select(
            F.col("h").alias("incident_id"),
            (F.col("h") * _CHUNK_US).alias("i_start"),
            (F.col("h") * _CHUNK_US + 5_400_000_000).alias("i_end"),
        )
    )
    act_chunks = act.select(
        "user_id",
        "day_us",
        "a_start",
        "a_end",
        F.explode(
            F.expr(f"sequence(a_start div {_CHUNK_US}, a_end div {_CHUNK_US})")
        ).alias("chunk"),
    )
    inc_chunks = incidents.select(
        "incident_id",
        "i_start",
        "i_end",
        F.explode(
            F.expr(f"sequence(i_start div {_CHUNK_US}, i_end div {_CHUNK_US})")
        ).alias("chunk"),
    )
    cand = act_chunks.join(inc_chunks, "chunk")
    return (
        cand.filter(
            (F.col("a_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("a_end"))
        )
        .select(
            "user_id",
            "day_us",
            "incident_id",
            (
                F.least(F.col("a_end"), F.col("i_end"))
                - F.greatest(F.col("a_start"), F.col("i_start"))
            ).alias("overlap_us"),
        )
        .distinct()
    )


_DECAY_LAGS = 16  # events considered; decay also zeroes anything >= 16h old
_DECAY_FP = 1 << _DECAY_LAGS


@register(
    "window_decay_time_weighted",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    lagged AS (
      SELECT user_id, event_id, ts_us,
             cents * {_DECAY_FP} AS t0,
             {", ".join(
               f"COALESCE(lag(cents, {k}) OVER (PARTITION BY user_id "
               f"ORDER BY ts_us, event_id), 0) AS c{k}, "
               f"(ts_us - COALESCE(lag(ts_us, {k}) OVER (PARTITION BY user_id "
               f"ORDER BY ts_us, event_id), ts_us - {_DECAY_LAGS} * 3600000000)) "
               f"// 3600000000 AS d{k}"
               for k in range(1, _DECAY_LAGS))}
      FROM w
    )
    SELECT user_id, event_id, ts_us,
           t0 + {" + ".join(
             f"CASE WHEN d{k} >= {_DECAY_LAGS} THEN 0 "
             f"ELSE c{k} * (1 << ({_DECAY_LAGS} - d{k})) END"
             for k in range(1, _DECAY_LAGS))} AS decayed_fp
    FROM lagged
    """,
)
def window_decay_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-decay weighted activity sum — the feature-store recency
    signal window_ewma (which decays per EVENT) cannot express for
    irregular arrivals: each past event's value decays by its actual
    age, halving per hour (weight 2^-floor(age_h)), so a burst an hour
    ago and a burst a week ago score differently even at equal event
    counts. Decay factors are EXACT powers of two on integer hour
    buckets — no exp(), no float drift — held in a 2^{_DECAY_LAGS}
    fixed point; contributions older than {_DECAY_LAGS} h (or beyond
    {_DECAY_LAGS} events, the stated truncation) are exactly zero,
    below cent resolution.

    Scale shape: like window_ewma, all lag terms share ONE window pass
    over one user-hashed exchange — per-row state is {_DECAY_LAGS}
    (value, ts) pairs, never an unbounded history."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    hour_us = 3_600_000_000
    cols = [F.col("user_id"), F.col("event_id"), F.col("ts_us"),
            (F.col("cents") * _DECAY_FP).alias("t0")]
    for k in range(1, _DECAY_LAGS):
        cols.append(F.coalesce(F.lag("cents", k).over(w), F.lit(0)).alias(f"c{k}"))
        cols.append(
            (
                (
                    F.col("ts_us")
                    - F.coalesce(
                        F.lag("ts_us", k).over(w),
                        F.col("ts_us") - _DECAY_LAGS * hour_us,
                    )
                )
                / hour_us
            )
            .cast("bigint")
            .alias(f"d{k}")
        )
    lagged = base.select(*cols)
    terms = " + ".join(
        f"CASE WHEN d{k} >= {_DECAY_LAGS} THEN 0 "
        f"ELSE c{k} * shiftleft(1, {_DECAY_LAGS} - cast(d{k} as int)) END"
        for k in range(1, _DECAY_LAGS)
    )
    return lagged.select(
        "user_id",
        "event_id",
        "ts_us",
        F.expr(f"t0 + {terms}").cast("bigint").alias("decayed_fp"),
    )


# --------------------------------------------------------------------------
# Rolling MAD anomaly detection (robust streaming-metric monitor)
# --------------------------------------------------------------------------


@register(
    "window_anomaly_mad",
    oracle="""
    WITH fr AS (
      SELECT event_id, user_id, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS a
      FROM events
    ),
    m AS (
      SELECT event_id, user_id, value, a, len(a) AS n,
             CASE WHEN len(a) % 2 = 1 THEN a[(len(a) + 1) // 2]
                  ELSE (a[len(a) // 2] + a[len(a) // 2 + 1]) / 2
             END AS med
      FROM fr
    ),
    d AS (
      SELECT event_id, user_id, value, n, med,
             list_sort(list_transform(a, x -> abs(x - med))) AS ad
      FROM m
    )
    SELECT event_id, user_id,
           CAST(round(med * 1000000) AS BIGINT) AS med_micro,
           CAST(round((CASE WHEN n % 2 = 1 THEN ad[(n + 1) // 2]
                            ELSE (ad[n // 2] + ad[n // 2 + 1]) / 2
                       END) * 1000000) AS BIGINT) AS mad_micro,
           (abs(value - med) > 3 * (CASE WHEN n % 2 = 1 THEN ad[(n + 1) // 2]
                                         ELSE (ad[n // 2] + ad[n // 2 + 1]) / 2
                                    END)) AS is_anomaly
    FROM d
    """,
)
def window_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median-absolute-deviation anomaly flags per user: over a
    15-row trailing frame, flag |x - median| > 3*MAD. MAD is the robust
    scale estimator (a single spike can't inflate it the way stddev
    does), which is why metric monitors prefer it. Median and MAD are
    computed EXPLICITLY from the sorted frame array (odd -> middle
    element, even -> mean of the two middles) so both engines do the
    identical IEEE arithmetic — no reliance on percentile()
    interpolation conventions.

    Scale shape: one shuffle on user_id; the frame is a bounded 15-row
    ROWS window, so per-row state is O(15) regardless of history length
    — the batch twin of a streaming sliding-window monitor."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-14, W.currentRow)
    )
    fr = ev.select(
        "event_id",
        "user_id",
        "value",
        F.array_sort(F.collect_list("value").over(w)).alias("a"),
    )
    med = F.expr(
        "CASE WHEN size(a) % 2 = 1 THEN element_at(a, cast((size(a) + 1) div 2 as int)) "
        "ELSE (element_at(a, cast(size(a) div 2 as int)) + element_at(a, cast(size(a) div 2 + 1 as int))) / 2 END"
    )
    d = fr.withColumn("med", med).withColumn(
        "ad", F.expr("array_sort(transform(a, x -> abs(x - med)))")
    )
    mad = F.expr(
        "CASE WHEN size(ad) % 2 = 1 THEN element_at(ad, cast((size(ad) + 1) div 2 as int)) "
        "ELSE (element_at(ad, cast(size(ad) div 2 as int)) + element_at(ad, cast(size(ad) div 2 + 1 as int))) / 2 END"
    )
    return d.withColumn("mad", mad).select(
        "event_id",
        "user_id",
        F.round(F.col("med") * 1000000).cast("bigint").alias("med_micro"),
        F.round(F.col("mad") * 1000000).cast("bigint").alias("mad_micro"),
        (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).alias(
            "is_anomaly"
        ),
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov over user streams)
# --------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_type, sum(n) AS n_from FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           CAST(p.n * 1000000 // t.n_from AS BIGINT) AS prob_micro
    FROM pairs p JOIN tot t ON p.from_type = t.from_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | current) estimated from lag pairs —
    the sequence-model input for funnel diagnosis, churn prediction,
    and next-action features. Probabilities are exact integer
    micro-units (n*1e6 div n_from) so both engines agree bit-for-bit.

    Scale shape: ONE user-keyed exchange feeds the lag window; the
    pair aggregate collapses to |types|^2 rows with map-side combine;
    the row-normalizing totals join is dimension-sized. No per-user
    state beyond the single lag value."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = (
        seq.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.expr("(n * 1000000) div n_from").cast("bigint").alias("prob_micro"),
    )


# --------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# --------------------------------------------------------------------------


@register(
    "events_rfm_segmentation",
    oracle="""
    WITH base AS (
      SELECT user_id,
             max(ts) AS last_ts,
             count(*) AS frequency,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY last_ts, user_id) AS r_score,
             ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
      FROM base
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_users,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_value_cents
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value feature triple:
    per-user recency (last purchase), frequency (purchase count), and
    monetary (exact cents), each quintile-scored with ntile, then
    rolled up into segment cells. Tie-break on user_id makes every
    ntile boundary deterministic (ntile over a non-unique ordering is
    partition-order-dependent and can never hash-match).

    Scale shape: one user-keyed purchase aggregate (map-side combine),
    then three global ntiles over the USER-LEVEL relation — dimension
    cardinality, not event cardinality (the same global-window caveat
    documented for length_bucket_equal_freq applies if the user
    dimension itself outgrows one partition; the histogram-based
    equal-freq variant is the stated swap)."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "monetary_cents"
            ),
        )
    )
    scored = base.select(
        "monetary_cents",
        F.ntile(5).over(W.orderBy("last_ts", "user_id")).alias("r_score"),
        F.ntile(5).over(W.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary_cents", "user_id")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.sum("monetary_cents").alias("segment_value_cents"),
    )


# --------------------------------------------------------------------------
# CUSUM drift detection (sequential recurrence as distributed windows)
# --------------------------------------------------------------------------


@register(
    "window_cusum_drift",
    oracle="""
    WITH t AS (
      SELECT CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               // count(*) AS target_cents
      FROM events
    ),
    d AS (
      SELECT e.event_id, e.user_id, e.ts,
             CAST(round(e.value * 100) AS BIGINT) - t.target_cents AS d_cents
      FROM events e CROSS JOIN t
    ),
    c1 AS (
      SELECT event_id, user_id, ts,
             CAST(sum(d_cents) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM d
    ),
    c AS (
      SELECT event_id, user_id, cum,
             CAST(min(cum) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS runmin
      FROM c1
    )
    SELECT event_id, user_id,
           CAST(cum - least(runmin, 0) AS BIGINT) AS cusum_cents,
           (cum - least(runmin, 0) > 5000) AS drift_alarm
    FROM c
    """,
)
def window_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detector per user (Page, Biometrika'54):
    the sequential recurrence S_t = max(0, S_{t-1} + (x_t - target))
    looks unparallelizable, but rewrites exactly as
    S_t = cumsum_t - min(0, running_min(cumsum)) — two stock window
    functions over ONE user-keyed exchange, no scan operator and no
    stateful UDF. Deviations are exact integer cents against the
    integer global-mean target, so cumulative sums are
    association-free and engine-identical (a float cumsum would be at
    the mercy of each engine's window-aggregation tree).

    Scale shape: one scalar broadcast (target) + one user exchange
    with a sort; per-row state is two longs. The streaming twin is an
    applyInPandasWithState fold; this batch form backfills the same
    alarms over history."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.agg(
        F.expr(
            "cast(sum(cast(round(value * 100) as bigint)) div count(*) as bigint)"
        ).alias("target_cents")
    )
    d = ev.crossJoin(F.broadcast(t)).select(
        "event_id",
        "user_id",
        "ts",
        (F.round(F.col("value") * 100).cast("bigint") - F.col("target_cents")).alias(
            "d_cents"
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn("cum", F.sum("d_cents").over(w)).withColumn(
        "runmin", F.min("cum").over(w)
    )
    s = F.col("cum") - F.least(F.col("runmin"), F.lit(0).cast("bigint"))
    return c.select(
        "event_id",
        "user_id",
        s.cast("bigint").alias("cusum_cents"),
        (s > 5000).alias("drift_alarm"),
    )


# --------------------------------------------------------------------------
# Linear multi-touch attribution (conversions credit prior touches)
# --------------------------------------------------------------------------


@register(
    "events_attribution_linear",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts,
             CAST(round(value * 100) AS BIGINT) AS conv_cents
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT event_id AS touch_id, user_id, ts AS touch_ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT c.conv_id, c.conv_cents, t.event_type,
             count(*) OVER (PARTITION BY c.conv_id) AS n_touches
      FROM conv c
      JOIN touch t
        ON c.user_id = t.user_id
       AND t.touch_ts <= c.conv_ts
       AND t.touch_ts > c.conv_ts - INTERVAL 2 HOUR
    )
    SELECT event_type,
           count(*) AS n_credited_touches,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions_touched,
           CAST(sum(conv_cents * 1000000 // n_touches) AS BIGINT)
             AS credited_value_micro
    FROM pairs
    GROUP BY event_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase distributes its
    value EQUALLY across the user's view/click touches in the 2-hour
    lookback window (the complement of the as-of join's last-touch
    model). Credit shares are exact integer micro-cents
    (value·1e6 div n_touches), so the split is engine-identical.

    Scale shape: one user-keyed equi-join with the time window as a
    band conjunct — fan-out is bounded by touches-per-user-per-2h, not
    by corpus size; the per-conversion touch count is a window over
    the join output partitioned by conversion id (same exchange
    family). The skew swap at 100 TB is the chunked interval equi-join
    used by join_interval_overlap."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("conv_cents"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        "event_type",
    )
    pairs = conv.join(
        touch,
        (F.col("cu") == F.col("tu"))
        & (F.col("touch_ts") <= F.col("conv_ts"))
        & (F.col("touch_ts") > F.col("conv_ts") - F.expr("INTERVAL 2 HOURS")),
    )
    w = W.partitionBy("conv_id")
    pairs = pairs.withColumn("n_touches", F.count("*").over(w))
    return pairs.groupBy("event_type").agg(
        F.count("*").alias("n_credited_touches"),
        F.countDistinct("conv_id").alias("n_conversions_touched"),
        F.sum(F.expr("conv_cents * 1000000 div n_touches"))
        .cast("bigint")
        .alias("credited_value_micro"),
    )


# --------------------------------------------------------------------------
# Forecast backtest (naive-seasonal baseline, time-based holdout)
# --------------------------------------------------------------------------


@register(
    "events_backtest_naive_forecast",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', max(ts)) AS test_day FROM events
    ),
    actual AS (
      SELECT event_type, EXTRACT(HOUR FROM ts) AS h, count(*) AS n_actual
      FROM events, bounds
      WHERE ts >= test_day AND ts < test_day + INTERVAL 1 DAY
      GROUP BY 1, 2
    ),
    fcst AS (
      SELECT event_type, EXTRACT(HOUR FROM ts) AS h, count(*) AS n_forecast
      FROM events, bounds
      WHERE ts >= test_day - INTERVAL 1 DAY AND ts < test_day
      GROUP BY 1, 2
    ),
    j AS (
      SELECT coalesce(a.event_type, f.event_type) AS event_type,
             coalesce(a.n_actual, 0) AS n_actual,
             coalesce(f.n_forecast, 0) AS n_forecast
      FROM actual a
      FULL OUTER JOIN fcst f
        ON a.event_type = f.event_type AND a.h = f.h
    )
    SELECT event_type,
           count(*) AS n_hours,
           CAST(sum(n_actual) AS BIGINT) AS total_actual,
           CAST(sum(n_forecast) AS BIGINT) AS total_forecast,
           CAST(sum(abs(n_actual - n_forecast)) AS BIGINT) AS sum_abs_err
    FROM j
    GROUP BY event_type
    """,
)
def events_backtest_naive_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST with a leakage-safe time holdout: the last
    full day is the test set, the naive-seasonal baseline predicts each
    test hour with the same hour of the previous day, and per-type
    absolute errors are summed — the evaluation harness every demand /
    capacity forecaster is judged against (any model must beat the
    naive baseline on exactly this split). Counts are integers, so the
    backtest score is engine-exact; hour cells absent on one side
    count as zero via the full outer join.

    Scale shape: two filtered aggregates over the same scan (partition
    pruning serves the day filters on a date-partitioned table) + a
    dimension-sized full outer join — backtest cost is two days of
    data, not history."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.date_trunc("day", F.max("ts")).alias("test_day"))
    withb = ev.crossJoin(F.broadcast(bounds))
    actual = (
        withb.filter(
            (F.col("ts") >= F.col("test_day"))
            & (F.col("ts") < F.col("test_day") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("event_type", F.hour("ts").alias("h"))
        .agg(F.count("*").alias("n_actual"))
    )
    fcst = (
        withb.filter(
            (F.col("ts") >= F.col("test_day") - F.expr("INTERVAL 1 DAY"))
            & (F.col("ts") < F.col("test_day"))
        )
        .groupBy("event_type", F.hour("ts").alias("h"))
        .agg(F.count("*").alias("n_forecast"))
    )
    j = actual.join(fcst, ["event_type", "h"], "full_outer").select(
        "event_type",
        F.coalesce(F.col("n_actual"), F.lit(0).cast("bigint")).alias("n_actual"),
        F.coalesce(F.col("n_forecast"), F.lit(0).cast("bigint")).alias(
            "n_forecast"
        ),
    )
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n_actual").alias("total_actual"),
        F.sum("n_forecast").alias("total_forecast"),
        F.sum(F.abs(F.col("n_actual") - F.col("n_forecast"))).alias(
            "sum_abs_err"
        ),
    )


@register(
    "window_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS v_micro
      FROM events
      WHERE user_id % 47 = 0
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.user_id,
             CAST(floor(
               CAST(b.v_micro - a.v_micro AS DOUBLE)
               / CAST(b.day - a.day AS DOUBLE) * 1000
             ) AS BIGINT) AS slope_q
      FROM daily a JOIN daily b
        ON a.user_id = b.user_id AND b.day > a.day
    ),
    ranked AS (
      SELECT user_id, slope_q,
             row_number() OVER (
               PARTITION BY user_id ORDER BY slope_q, slope_q) AS rk,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM pairs
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_pairs,
           (CAST(sum(CASE WHEN rk = (n + 1) // 2 THEN slope_q END) AS DOUBLE)
            + CAST(sum(CASE WHEN rk = (n + 2) // 2 THEN slope_q END)
                   AS DOUBLE)) / 2.0 AS theil_sen_slope_q
    FROM ranked
    GROUP BY user_id
    """,
)
def window_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST TREND per user: the median of all pairwise
    day-to-day slopes — the estimator that survives ~29% outliers where
    least-squares (agg_corr_regression's slope) is dragged by one bad
    reading. Shape: events collapse to a per-(user, day) exact-micro
    daily series FIRST (the only full scan — map-side combinable), so
    the pairwise stage is O(days^2) per user over a calendar-bounded
    series (~30 days here; a production job windows to the trailing N
    days, keeping pairs ~N^2/2 regardless of event volume). The median
    is taken rank-explicitly (both middle ranks summed and halved — the
    identical integer-then-one-division arithmetic in both engines),
    never via engine median() whose interpolation expression differs;
    slopes are floor-quantized to milli-units (floor is binary-safe
    where round is not). user_id % 47 samples the attested cohort;
    every user computes independently, so the sample bounds output, not
    work shape."""
    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 47 == 0)
        .groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
                "v_micro"
            )
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.floor(
            (F.col("b.v_micro") - F.col("a.v_micro")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day")).cast("double")
            * 1000
        )
        .cast("bigint")
        .alias("slope_q"),
    )
    wr = W.partitionBy("user_id").orderBy("slope_q")
    ranked = pairs.select(
        "user_id",
        "slope_q",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(W.partitionBy("user_id")).alias("n"),
    )
    return ranked.groupBy("user_id").agg(
        F.max("n").alias("n_pairs"),
        (
            (
                F.sum(
                    F.when(
                        F.col("rk") == ((F.col("n") + 1) / 2).cast("int"),
                        F.col("slope_q"),
                    )
                ).cast("double")
                + F.sum(
                    F.when(
                        F.col("rk") == ((F.col("n") + 2) / 2).cast("int"),
                        F.col("slope_q"),
                    )
                ).cast("double")
            )
            / 2.0
        ).alias("theil_sen_slope_q"),
    )


def _sdiv_sql(num: str, den: str, div: str = "DIV") -> str:
    """Sign-restored magnitude division (trunc == floor on the
    non-negative magnitude, so Spark DIV and DuckDB // agree on
    negative numerators)."""
    return (
        f"CASE WHEN {num} < 0 THEN -((-({num})) {div} ({den})) "
        f"ELSE ({num}) {div} ({den}) END"
    )


@register(
    "window_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS daily_cents
      FROM events
      GROUP BY 1, 2
    ),
    tr AS (
      SELECT day, day_idx, daily_cents,
             CAST(sum(daily_cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wcnt
      FROM daily
      WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING
                   AND 3 FOLLOWING)
    ),
    det AS (
      SELECT day, day_idx, daily_cents,
             {_sdiv_sql("wsum", "wcnt", "//")} AS trend_cents,
             daily_cents - ({_sdiv_sql("wsum", "wcnt", "//")}) AS detrended
      FROM tr
    ),
    seas AS (
      SELECT day_idx % 7 AS dow,
             {_sdiv_sql("CAST(sum(detrended) AS BIGINT)", "count(*)", "//")}
               AS seasonal_cents
      FROM det
      GROUP BY day_idx % 7
    )
    SELECT d.day, d.daily_cents, d.trend_cents,
           CAST(s.seasonal_cents AS BIGINT) AS seasonal_cents,
           CAST(d.detrended - s.seasonal_cents AS BIGINT)
             AS residual_cents
    FROM det d JOIN seas s ON d.day_idx % 7 = s.dow
    """,
)
def window_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-TREND DECOMPOSITION (STL-lite) of the daily event
    revenue series — the time-series observability primitive behind
    ingestion monitoring: trend = centered 7-day moving average,
    seasonality = day-of-week mean of the detrended series, residual =
    what alerting thresholds watch. Exact integer cents end-to-end:
    the MA is windowed-sum over windowed-count in sign-restored
    magnitude division (count shrinks at the series edges instead of
    padding; sign restoration keeps Spark's truncating DIV and
    DuckDB's // identical even for a negative 7-day window
    sum), seasonal means use the same division (detrended values go
    negative), and day-of-week
    is epoch-day mod 7 — the ONLY cross-engine-safe weekday (Spark
    dayofweek anchors Sunday=1, DuckDB dayofweek Sunday=0; arithmetic
    can't disagree).

    Scale shape: one corpus-sized partial-agg (events -> daily
    grid), then every window/join runs on the DATE GRID (30 rows
    here, 36.5k rows for a century) — the decomposition is
    domain-bounded exactly like agg_ks_drift_by_source's histogram.
    A second pass (re-estimating trend on the deseasonalized series)
    chains the same two window shapes; one pass is unrolled here to
    keep the oracle tight."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("daily_cents")
    )
    w = W.orderBy("day_idx").rowsBetween(-3, 3)
    det = daily.select(
        "day",
        "day_idx",
        "daily_cents",
        F.sum("daily_cents").over(w).alias("wsum"),
        F.count("*").over(w).alias("wcnt"),
    ).select(
        "day",
        "day_idx",
        "daily_cents",
        F.expr(_sdiv_sql("wsum", "wcnt")).alias("trend_cents"),
        (F.col("daily_cents") - F.expr(_sdiv_sql("wsum", "wcnt"))).alias(
            "detrended"
        ),
    )
    det = det.localCheckpoint(eager=True)  # 30-row grid, two consumers
    seas = det.groupBy((F.col("day_idx") % 7).alias("dow")).agg(
        F.expr(_sdiv_sql("sum(detrended)", "count(*)", "DIV")).alias(
            "seasonal_cents"
        )
    )
    return (
        det.join(
            F.broadcast(seas), det["day_idx"] % 7 == seas["dow"]
        )
        .select(
            "day",
            "daily_cents",
            "trend_cents",
            F.col("seasonal_cents").cast("bigint").alias("seasonal_cents"),
            (F.col("detrended") - F.col("seasonal_cents"))
            .cast("bigint")
            .alias("residual_cents"),
        )
    )


@register(
    "window_changepoint_pettitt",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS daily_cents
      FROM events GROUP BY 1
    ),
    ranked AS (
      SELECT day, daily_cents,
             CAST(2 * (rank() OVER (ORDER BY daily_cents))
                  + (count(*) OVER (
                       PARTITION BY daily_cents)) - 1 AS BIGINT)
               AS r2,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
      FROM daily
    ),
    u AS (
      SELECT day, daily_cents, t, n,
             CAST(sum(r2) OVER (ORDER BY t)
                  - t * (n + 1) AS BIGINT) AS u_t
      FROM ranked
    )
    SELECT day, daily_cents, CAST(t AS BIGINT) AS t, u_t,
           CAST(CASE WHEN abs(u_t) = (SELECT max(abs(u_t)) FROM u
                                      WHERE t < n)
                          AND t < n
                THEN 1 ELSE 0 END AS INTEGER) AS is_changepoint
    FROM u
    """,
)
def window_changepoint_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PETTITT CHANGE-POINT TEST (Pettitt 1979) over the daily event
    revenue series — the rank-based (distribution-free) detector of a
    single shift in level, the statistical alarm behind 'did the
    pipeline change on day X': U_t compares the prefix [1..t] against
    the suffix via rank sums, and the argmax |U_t| is the most likely
    break day. The O(n²) textbook pairwise form is rewritten as the
    exact identity U_t = sum_{i<=t} R_i - t(n+1)/2 over midranks —
    doubled midranks (rank + tie count adjustments) keep everything
    in exact BIGINTs, so both engines agree bit-for-bit (the
    agg_mannwhitney_drift discipline applied longitudinally).

    Scale shape: one partial-agg to the date grid, then rank/cumsum
    windows over the grid only (the window_seasonal_decompose
    pattern); U_t for every t comes from ONE cumulative sum, not n
    prefix recomputations. The final argmax is a scalar subquery on
    the grid."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("daily_cents")
    )
    ranked = daily.select(
        "day",
        "daily_cents",
        (
            2 * F.rank().over(W.orderBy("daily_cents"))
            + F.count("*").over(W.partitionBy("daily_cents"))
            - 1
        )
        .cast("bigint")
        .alias("r2"),
        F.count("*").over(W.partitionBy()).cast("bigint").alias("n"),
        F.row_number().over(W.orderBy("day")).cast("bigint").alias("t"),
    )
    u = ranked.select(
        "day",
        "daily_cents",
        "t",
        "n",
        (
            F.sum("r2").over(W.orderBy("t")) - F.col("t") * (F.col("n") + 1)
        )
        .cast("bigint")
        .alias("u_t"),
    ).localCheckpoint(eager=True)  # 30-row grid, consumed twice
    mx = u.filter(F.col("t") < F.col("n")).agg(
        F.max(F.abs(F.col("u_t"))).alias("mx")
    )
    return u.crossJoin(F.broadcast(mx)).select(
        "day",
        "daily_cents",
        "t",
        "u_t",
        F.when(
            (F.abs(F.col("u_t")) == F.col("mx")) & (F.col("t") < F.col("n")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_changepoint"),
    )


_ACF_MAX_LAG = 7


@register(
    "window_acf_lags",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      FROM daily
    ),
    c AS (
      SELECT d.day_idx, d.y * g.n - g.sy AS cy, g.n
      FROM daily d CROSS JOIN g
    ),
    den AS (SELECT CAST(sum(cy * cy) AS BIGINT) AS d0 FROM c),
    lagged AS (
      SELECT l.lag,
             CAST(sum(a.cy * b.cy) AS BIGINT) AS num,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM c a
      JOIN (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag) l
        ON true
      JOIN c b ON b.day_idx = a.day_idx + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(l.lag AS INTEGER) AS lag, l.n_pairs, l.num,
           CAST(floor(CAST(l.num AS DOUBLE) * 1000000
                      / CAST(d.d0 AS DOUBLE)) AS BIGINT) AS acf_micro
    FROM lagged l CROSS JOIN den d
    """,
)
def window_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION of the daily revenue series at lags
    1..{_ACF_MAX_LAG} — the diagnostic behind every seasonality/trend
    decision (window_seasonal_decompose's 7-day structure shows up as
    an ACF peak at lag 7; a changepoint inflates low lags): acf(k) =
    sum of centered products at offset k over the centered sum of
    squares. Centering is EXACT: cy = y*n - sum(y) (scaled by n to
    avoid the fractional mean), so numerator and denominator are
    exact BIGINTs whose single final division lands in micro-units —
    partial-agg order cannot move any of it.

    Scale shape: one partial-agg to the date grid, then a grid
    self-join per lag (grid-sized, the drift-gate/seasonal
    discipline). Overflow headroom (measured): max|cy| ~ 3.2e7 at
    sf0.1, so sum(cy*cy) ~ 3e15 — about 3000x inside int64 even
    before DuckDB's HUGEINT accumulation; a series with much larger
    per-day deviations rescales its unit (cents -> whole units)
    before centering, which cancels exactly in the ratio."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day_idx")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    g = daily.agg(
        F.count("*").alias("n"), F.sum("y").alias("sy")
    )
    c = daily.crossJoin(F.broadcast(g)).select(
        "day_idx", (F.col("y") * F.col("n") - F.col("sy")).alias("cy")
    )
    c = c.localCheckpoint(eager=True)  # grid, three consumers
    den = c.agg(F.sum(F.col("cy") * F.col("cy")).alias("d0"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = c.select(F.col("day_idx").alias("da"), F.col("cy").alias("cya"))
    bb = c.select(F.col("day_idx").alias("db"), F.col("cy").alias("cyb"))
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(bb, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.sum(F.col("cya") * F.col("cyb")).cast("bigint").alias("num"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )
    )
    return lagged.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        "num",
        F.floor(
            F.col("num").cast("double") * 1000000 / F.col("d0").cast("double")
        )
        .cast("bigint")
        .alias("acf_micro"),
    )


_KM_CENSOR_DAYS = 2  # last activity within this horizon of corpus end -> censored


@register(
    "events_kaplan_meier_retention",
    oracle=f"""
    WITH gmax AS (SELECT max(ts) AS g FROM events),
    u AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 3600000000 AS lt,
             CASE WHEN max(ts) < (SELECT g FROM gmax)
                                 - INTERVAL {_KM_CENSOR_DAYS} DAY
                  THEN 1 ELSE 0 END AS died
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u),
    h AS (
      SELECT lt,
             CAST(sum(died) AS BIGINT) AS d,
             CAST(count(*) - sum(died) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS m
      FROM u GROUP BY lt
    ),
    r AS (
      SELECT lt, d, c, m,
             tot.n_users
               - CAST(sum(m) OVER (ORDER BY lt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) + m AS n_risk
      FROM h CROSS JOIN tot
    ),
    t AS (
      SELECT lt, d, c, n_risk,
             CASE WHEN d = 0 THEN 0
                  WHEN d < n_risk THEN
                    CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                               * 1000000) AS BIGINT)
                  ELSE -999000000 END AS term
      FROM r
    )
    SELECT lt AS lt_hours, n_risk, d AS n_deaths, c AS n_censored,
           CAST(sum(term) OVER (ORDER BY lt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS surv_lnmicro
    FROM t
    """,
)
def events_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER SURVIVAL over user activity lifetimes (Kaplan &
    Meier 1958) — the censoring-correct retention curve the cohort
    table cannot give: a user's lifetime is first-to-last activity in
    hours, and users still active within {_KM_CENSOR_DAYS} days of the
    corpus end are CENSORED (we know they survived AT LEAST this long,
    not when they churn) — dropping them (what naive retention does)
    biases churn up; KM removes them from the risk set at their
    censoring time instead. Output per distinct lifetime: the risk
    set, deaths, censored count, and the running log-survival
    sum(ln(1 - d_i/n_i)) in exact micro-nats (S(t) = exp of it; the
    log form keeps the product a partition-order-proof integer SUM —
    the repo's micro-nat idiom; a -999 sentinel marks the curve
    hitting zero).

    Scale shape: one user-keyed partial agg over events (the only
    corpus-sized stage), then everything — histogram, risk-set
    cumsum, term quantization, running sum — runs on the distinct-
    lifetime grid (hours-bounded, not user-bounded). The two ordered
    windows chain as CTEs (no nested windows) over that tiny grid."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("g"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(gmax))
        .select(
            F.expr("(unix_micros(t1) - unix_micros(t0)) div 3600000000").alias("lt"),
            F.when(
                F.col("t1") < F.col("g") - F.expr(f"INTERVAL {_KM_CENSOR_DAYS} DAY"),
                1,
            )
            .otherwise(0)
            .alias("died"),
        )
    )
    tot = u.agg(F.count("*").cast("long").alias("n_users"))
    h = u.groupBy("lt").agg(
        F.sum("died").cast("long").alias("d"),
        (F.count("*") - F.sum("died")).cast("long").alias("c"),
        F.count("*").cast("long").alias("m"),
    )
    wcum = W.orderBy("lt").rowsBetween(W.unboundedPreceding, W.currentRow)
    r = h.crossJoin(F.broadcast(tot)).select(
        "lt",
        "d",
        "c",
        (F.col("n_users") - F.sum("m").over(wcum) + F.col("m")).alias("n_risk"),
    )
    term = (
        F.when(F.col("d") == 0, F.lit(0))
        .when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1000000
            ).cast("long"),
        )
        .otherwise(F.lit(-999000000))
    )
    t = r.select("lt", "d", "c", "n_risk", term.alias("term"))
    return t.select(
        F.col("lt").alias("lt_hours"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.sum("term").over(wcum).cast("bigint").alias("surv_lnmicro"),
    )


_BOLL_WIN = 7  # trading-style 7-day band window


@register(
    "window_bollinger_bands",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, day_idx, y,
             CAST(sum(y) OVER win AS BIGINT) AS wsum,
             CAST(sum(y * y) OVER win AS BIGINT) AS wsq,
             CAST(count(*) OVER win AS BIGINT) AS wcnt
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY day_idx
                     ROWS BETWEEN {_BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_idx, y,
           CAST(floor(CAST(wsum AS DOUBLE) / wcnt * 1000) AS BIGINT)
             AS mid_millicents,
           CAST(floor((CAST(wsum AS DOUBLE) / wcnt
                       - 2 * sqrt((CAST(wcnt AS DOUBLE) * wsq
                                   - CAST(wsum AS DOUBLE) * wsum)
                                  / (CAST(wcnt AS DOUBLE) * wcnt))) * 1000)
                AS BIGINT) AS lower_millicents,
           CAST(floor((CAST(wsum AS DOUBLE) / wcnt
                       + 2 * sqrt((CAST(wcnt AS DOUBLE) * wsq
                                   - CAST(wsum AS DOUBLE) * wsum)
                                  / (CAST(wcnt AS DOUBLE) * wcnt))) * 1000)
                AS BIGINT) AS upper_millicents,
           CAST(CASE WHEN CAST(y AS DOUBLE)
                          > CAST(wsum AS DOUBLE) / wcnt
                            + 2 * sqrt((CAST(wcnt AS DOUBLE) * wsq
                                        - CAST(wsum AS DOUBLE) * wsum)
                                       / (CAST(wcnt AS DOUBLE) * wcnt))
                     THEN 1
                     WHEN CAST(y AS DOUBLE)
                          < CAST(wsum AS DOUBLE) / wcnt
                            - 2 * sqrt((CAST(wcnt AS DOUBLE) * wsq
                                        - CAST(wsum AS DOUBLE) * wsum)
                                       / (CAST(wcnt AS DOUBLE) * wcnt))
                     THEN -1 ELSE 0 END AS BIGINT) AS breakout
    FROM w WHERE wcnt = {_BOLL_WIN}
    """,
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOLLINGER BANDS (Bollinger, 1980s technical analysis; the same
    rolling mean +/- k*sigma envelope is the textbook anomaly gate for
    any operational metric): over each event type's daily revenue
    series, the {_BOLL_WIN}-day rolling mean and population standard
    deviation define a +/-2 sigma envelope, and each day is flagged
    +1/-1/0 for an upper/lower band breakout — the volatility-scaled
    complement to the fixed-threshold CUSUM and MAD gates elsewhere in
    this family. Emitted only for full windows (the standard
    convention; partial leading windows have an undefined band).

    Determinism: the window carries exact BIGINT sums (y, y^2, count);
    mean and sigma fall out of ONE closed-form double expression per
    row — sqrt is IEEE-correctly-rounded on both engines, floor
    lands milli-cent units, and the breakout comparison happens on
    identical doubles. Overflow headroom (measured): max daily |y| ~
    7e5 cents at sf0.1 so the windowed sum(y*y) ~ 3.4e12 — six orders
    inside int64; a series with larger per-day magnitudes rescales
    cents to whole units first (the window_acf_lags discipline).

    Scale shape: one partial-agg collapses events to the (type, day)
    grid; the window then sorts GRID rows only (dozens per type per
    year), never corpus rows — the seasonal-decompose discipline. At
    100 TB the exchange after the first aggregate carries a few
    thousand rows."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    win = (
        W.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-(_BOLL_WIN - 1), W.currentRow)
    )
    w = daily.select(
        "event_type",
        "day_idx",
        "y",
        F.sum("y").over(win).cast("bigint").alias("wsum"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("bigint").alias("wsq"),
        F.count("*").over(win).cast("bigint").alias("wcnt"),
    ).filter(F.col("wcnt") == _BOLL_WIN)
    mean = F.col("wsum").cast("double") / F.col("wcnt")
    sd = F.sqrt(
        (F.col("wcnt").cast("double") * F.col("wsq")
         - F.col("wsum").cast("double") * F.col("wsum"))
        / (F.col("wcnt").cast("double") * F.col("wcnt"))
    )
    return w.select(
        "event_type",
        "day_idx",
        "y",
        F.floor(mean * 1000).cast("bigint").alias("mid_millicents"),
        F.floor((mean - 2 * sd) * 1000).cast("bigint").alias("lower_millicents"),
        F.floor((mean + 2 * sd) * 1000).cast("bigint").alias("upper_millicents"),
        F.when(F.col("y").cast("double") > mean + 2 * sd, 1)
        .when(F.col("y").cast("double") < mean - 2 * sd, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("breakout"),
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    coh AS (SELECT user_id, CAST(min(d) AS BIGINT) AS cohort_day
            FROM ev GROUP BY user_id),
    ua AS (
      SELECT c.cohort_day, e.user_id, e.d - c.cohort_day AS age_days,
             CAST(sum(e.cents) AS BIGINT) AS cents
      FROM ev e JOIN coh c USING (user_id)
      GROUP BY c.cohort_day, e.user_id, e.d
    ),
    ca AS (
      SELECT cohort_day, age_days, CAST(sum(cents) AS BIGINT) AS day_cents
      FROM ua GROUP BY cohort_day, age_days
    ),
    sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
           FROM coh GROUP BY cohort_day),
    cum AS (
      SELECT cohort_day, age_days,
             CAST(sum(day_cents) OVER (PARTITION BY cohort_day
                                       ORDER BY age_days) AS BIGINT)
               AS cum_cents
      FROM ca
    )
    SELECT c.cohort_day, c.age_days, s.n_users, c.cum_cents,
           CAST(c.cum_cents * 1000 // s.n_users AS BIGINT)
             AS ltv_milli_per_user
    FROM cum c JOIN sz s USING (cohort_day)
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE CURVES — the revenue companion to
    events_retention_cohorts: users are cohorted by first-activity
    day, revenue accumulates per cohort over age (days since
    acquisition), and each (cohort, age) row reports cumulative
    revenue per cohort member in exact milli-cents — the LTV curve
    every growth model and payback-period decision reads. All
    arithmetic is exact BIGINT (cents sums, integer division by
    cohort size on nonnegative operands); the cumulative window runs
    over OBSERVED (cohort, age) grid rows only (a reporting layer
    would gap-fill quiet days — events_resample_gapfill is that
    operator).

    Scale shape: one groupBy(user) pass pins cohorts; per-(user, day)
    partial sums collapse map-side before the (cohort, age) rollup,
    so the only full-width exchange is user-hashed; the cumulative
    window and the size join then touch GRID rows (cohorts x ages,
    ~10^3 at any corpus size), never events. The
    window_bollinger_bands / seasonal-decompose grid discipline."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    ua = ev.groupBy("user_id", "d").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    coh = ua.groupBy("user_id").agg(F.min("d").cast("bigint").alias("cohort_day"))
    coh = coh.localCheckpoint(eager=True)  # feeds age join + cohort sizes
    ca = (
        ua.join(coh, "user_id")
        .groupBy("cohort_day", (F.col("d") - F.col("cohort_day")).alias("age_days"))
        .agg(F.sum("cents").cast("bigint").alias("day_cents"))
    )
    sz = coh.groupBy("cohort_day").agg(F.count("*").cast("bigint").alias("n_users"))
    cum = ca.select(
        "cohort_day",
        "age_days",
        F.sum("day_cents")
        .over(
            W.partitionBy("cohort_day")
            .orderBy("age_days")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("bigint")
        .alias("cum_cents"),
    )
    return cum.join(F.broadcast(sz), "cohort_day").select(
        "cohort_day",
        "age_days",
        "n_users",
        "cum_cents",
        F.expr("cum_cents * 1000 div n_users").cast("bigint").alias(
            "ltv_milli_per_user"
        ),
    )


@register(
    "agg_mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                           WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term,
             CAST(count(*) AS BIGINT) AS tie_groups
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily
            GROUP BY y HAVING count(*) > 1)
    ),
    z AS (
      SELECT s.s_stat, nn.n, ties.tie_groups,
             CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                  AS BIGINT) AS var18,
             CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                    / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                            - ties.tie_term) / 18.0)
                  WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                    / sqrt((nn.n * (nn.n - 1) * (2 * nn.n + 5)
                            - ties.tie_term) / 18.0)
                  ELSE 0.0 END AS zval
      FROM s CROSS JOIN nn CROSS JOIN ties
    )
    SELECT n AS n_days, s_stat, tie_groups, var18 AS var_num18,
           CAST(floor(zval * 1000000) AS BIGINT) AS z_micro,
           CASE WHEN zval > 1.96 THEN 'increasing'
                WHEN zval < -1.96 THEN 'decreasing'
                ELSE 'none' END AS trend_95
    FROM z
    """,
)
def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST (Mann 1945; Kendall's tau form) on the
    daily revenue series — the nonparametric significance partner of
    window_theil_sen_slope (Theil-Sen answers 'how steep',
    Mann-Kendall answers 'is there a monotone trend at all'; together
    they are the standard robust trend report, immune to outliers and
    distribution shape). S counts concordant minus discordant day
    pairs (exact integer), the variance uses the exact tie-corrected
    integer numerator n(n-1)(2n+5) - sum(t(t-1)(2t+5)) over /18, and
    the continuity-corrected z lands as one floored double with sqrt
    (IEEE-exact) — the drift-gate discipline end to end.

    Scale shape: ONE partial-agg collapses any number of events to the
    ~30-row daily grid; the pairwise S is a grid self-join (~n^2/2
    grid pairs, hundreds of rows — the Theil-Sen/ACF grid-bounded
    pattern, never a corpus pairing); ties and moments are grid
    aggregates; the final row is two 1-row broadcasts."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("bigint")
        .alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    daily = daily.localCheckpoint(eager=True)  # grid: pairs + ties + n
    a = daily.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.agg(F.count("*").cast("bigint").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("y")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("bigint")
            .alias("tie_term"),
            F.count("*").cast("bigint").alias("tie_groups"),
        )
    )
    z = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_term")
    ).cast("bigint")
    sigma = F.sqrt(var18.cast("double") / 18.0)
    zval = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sigma)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sigma)
        .otherwise(F.lit(0.0))
    )
    return z.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "tie_groups",
        var18.alias("var_num18"),
        F.floor(zval * 1000000).cast("bigint").alias("z_micro"),
        F.when(zval > 1.96, "increasing")
        .when(zval < -1.96, "decreasing")
        .otherwise("none")
        .alias("trend_95"),
    )


@register(
    "events_nelson_aalen_hazard",
    oracle=f"""
    WITH gmax AS (SELECT max(ts) AS g FROM events),
    u AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 3600000000 AS lt,
             CASE WHEN max(ts) < (SELECT g FROM gmax)
                                 - INTERVAL {_KM_CENSOR_DAYS} DAY
                  THEN 1 ELSE 0 END AS died
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM u),
    h AS (
      SELECT lt,
             CAST(sum(died) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS m
      FROM u GROUP BY lt
    ),
    r AS (
      SELECT lt, d, m,
             tot.n_users
               - CAST(sum(m) OVER (ORDER BY lt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) + m AS n_risk
      FROM h CROSS JOIN tot
    )
    SELECT lt AS lt_hours, n_risk, d AS n_deaths,
           CAST((d * 1000000) // n_risk AS BIGINT) AS hazard_micro,
           CAST(sum((d * 1000000) // n_risk) OVER (ORDER BY lt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cumhaz_micro
    FROM r
    """,
)
def events_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN CUMULATIVE HAZARD (Nelson 1972, Aalen 1978) — the
    survival pair's second estimator, over the SAME censored user
    lifetimes as events_kaplan_meier_retention: H(t) = sum of d_i/n_i
    over event times up to t. Where KM estimates the survival curve
    multiplicatively (and its log-sum needs ln), the hazard sums raw
    RATIONAL increments — so every term here is a pure integer floor
    division (d*1e6 div n_risk), no transcendental anywhere: the
    strictest cross-engine form in the survival family. The
    Fleming-Harrington survival estimate is exp(-H); comparing
    -surv_lnmicro (KM) to cumhaz_micro is the standard diagnostic for
    heavy-tie bias in either estimator — with both registered, the
    driver attests the two routes to the same curve independently.

    Per-term micro-quantization (floor BEFORE the running sum) is the
    documented contract: it makes the cumulative sum an exact integer
    both engines agree on at any partition count, at the cost of
    <1e-6/term quantization — the agg_psi/BM25 per-term-floor
    discipline.

    Scale shape: identical to KM — one user-keyed partial agg is the
    only corpus-sized stage; the hazard grid is distinct-lifetime-
    bounded and the running sum rides one ordered window over it."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").alias("g"))
    u = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
        .crossJoin(F.broadcast(gmax))
        .select(
            F.expr(
                "(unix_micros(t1) - unix_micros(t0)) div 3600000000"
            ).alias("lt"),
            F.when(
                F.col("t1")
                < F.col("g") - F.expr(f"INTERVAL {_KM_CENSOR_DAYS} DAY"),
                1,
            )
            .otherwise(0)
            .alias("died"),
        )
    )
    tot = u.agg(F.count("*").cast("long").alias("n_users"))
    h = u.groupBy("lt").agg(
        F.sum("died").cast("long").alias("d"),
        F.count("*").cast("long").alias("m"),
    )
    wcum = W.orderBy("lt").rowsBetween(W.unboundedPreceding, W.currentRow)
    r = h.crossJoin(F.broadcast(tot)).select(
        "lt",
        "d",
        (F.col("n_users") - F.sum("m").over(wcum) + F.col("m")).alias("n_risk"),
    )
    t = r.select(
        "lt",
        "d",
        "n_risk",
        F.expr("(d * 1000000) div n_risk").cast("long").alias("hazard_micro"),
    )
    return t.select(
        F.col("lt").alias("lt_hours"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        "hazard_micro",
        F.sum("hazard_micro").over(wcum).cast("bigint").alias("cumhaz_micro"),
    )


_RV_WIN = 7  # realized-volatility rolling window (days)


@register(
    "window_realized_volatility",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    pos AS (SELECT * FROM daily WHERE y > 0),
    r AS (
      SELECT event_type, day_idx, y,
             CAST(round(ln(CAST(y AS DOUBLE)
                           / lag(y) OVER (PARTITION BY event_type
                                          ORDER BY day_idx)) * 1000000)
               AS BIGINT) AS ret_lnmicro
      FROM pos
    ),
    v AS (
      SELECT event_type, day_idx, ret_lnmicro,
             CAST(sum(ret_lnmicro * ret_lnmicro) OVER win AS BIGINT)
               AS rv_sum,
             CAST(count(ret_lnmicro) OVER win AS BIGINT) AS rv_n
      FROM r
      WINDOW win AS (PARTITION BY event_type ORDER BY day_idx
                     ROWS BETWEEN {_RV_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_idx, ret_lnmicro, rv_sum, rv_n
    FROM v WHERE ret_lnmicro IS NOT NULL
    """,
)
def window_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZED VOLATILITY over the daily value grid — the log-return
    companion to window_bollinger_bands (which bands LEVELS; realized
    variance is the sum of SQUARED LOG RETURNS over the window, the
    estimator risk/monitoring systems actually track because returns,
    unlike levels, are scale-free and approximately stationary). Per
    (event_type, day): the day-over-day log return in exact micro-nats
    (the repo's round(ln*1e6) idiom — empirically engine-identical on
    the dyadic-free ratios both engines compute the same way), and the
    {_RV_WIN}-day rolling sum of squared returns as an EXACT integer
    (quantize-then-square-then-sum: every term is a bigint, so the
    rolling sum is partition-order-proof; rv_n exposes the warm-up
    rows where the window is not yet full).

    Scale shape: one map-side-combinable daily rollup is the only
    row-proportional stage; returns and the rolling sum ride two
    chained windows over the (types x days) grid — dimension-sized.
    The lag window and the frame window chain as separate selects
    (nested window functions are illegal in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    # zero-volume days are excluded from the return series: ln(0) is
    # -Infinity in Spark but an ERROR in DuckDB — the cross-engine
    # divergence a future data regeneration must not be able to trigger
    daily = daily.filter(F.col("y") > 0)
    wlag = W.partitionBy("event_type").orderBy("day_idx")
    r = daily.select(
        "event_type",
        "day_idx",
        F.round(
            F.log(F.col("y").cast("double") / F.lag("y").over(wlag)) * 1000000
        )
        .cast("bigint")
        .alias("ret_lnmicro"),
    )
    wwin = (
        W.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-(_RV_WIN - 1), W.currentRow)
    )
    v = r.select(
        "event_type",
        "day_idx",
        "ret_lnmicro",
        F.sum(F.col("ret_lnmicro") * F.col("ret_lnmicro"))
        .over(wwin)
        .cast("bigint")
        .alias("rv_sum"),
        F.count("ret_lnmicro").over(wwin).cast("bigint").alias("rv_n"),
    )
    return v.filter(F.col("ret_lnmicro").isNotNull())


_IC_HOLD_MIN = 30  # each event opens a 30-minute presence interval


@register(
    "events_interval_coalesce",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + {_IC_HOLD_MIN} * 60000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island,
             CAST(min(s) AS BIGINT) AS m_start,
             CAST(max(e) AS BIGINT) AS m_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(m_end - m_start) // 60000000 AS BIGINT)
             AS coverage_minutes,
           CAST(max(m_end - m_start) // 60000000 AS BIGINT)
             AS longest_minutes
    FROM merged GROUP BY user_id
    """,
)
def events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL COALESCING (merge overlapping presence intervals) —
    the temporal-union primitive behind billable-time, device-uptime
    and co-presence computations: each event opens a {_IC_HOLD_MIN}-
    minute interval; per user, transitively overlapping intervals
    merge into maximal islands (an interval starting after the RUNNING
    MAX of all previous ends starts a new island — the running-max
    flag is what makes chained overlaps A-B-C merge even when A and C
    do not touch, which naive pairwise overlap joins get wrong). Per
    user: island count, merged coverage, longest island — all in exact
    epoch-microsecond integers, floored to minutes once at the end.
    Differs from sessionization (events_session_window): session gaps
    measure start-to-start spacing; coalescing unions FIXED-LENGTH
    holds, the correct semantics when each event confers a duration.

    Scale shape: one user-keyed shuffle; both windows (running max of
    ends, running island id) ride the same user partition order, so
    Spark evaluates them in one WindowExec pass per user partition;
    the island rollup and user rollup aggregate map-side. No joins at
    all."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _IC_HOLD_MIN * 60000000).alias("e"),
    )
    word = W.partitionBy("user_id").orderBy("s", "e")
    prevmax = F.max("e").over(word.rowsBetween(W.unboundedPreceding, -1))
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > prevmax, 1).otherwise(0).alias("new_island"),
    )
    isl = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(word.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").cast("bigint").alias("m_start"),
        F.max("e").cast("bigint").alias("m_end"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.expr("sum(m_end - m_start) div 60000000")
        .cast("bigint")
        .alias("coverage_minutes"),
        F.expr("max(m_end - m_start) div 60000000")
        .cast("bigint")
        .alias("longest_minutes"),
    )


@register(
    "events_funnel_time_to_convert",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, v.t1, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1
    ), p AS (
      SELECT e.user_id, c.t2, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id, c.t2
    ),
    lat AS (
      SELECT 'view_to_click' AS transition,
             (epoch_us(t2) - epoch_us(t1)) // 1000000 AS lat_s
      FROM c
      UNION ALL
      SELECT 'click_to_purchase',
             (epoch_us(t3) - epoch_us(t2)) // 1000000
      FROM p
    ),
    h AS (
      SELECT transition, lat_s, CAST(count(*) AS BIGINT) AS cnt
      FROM lat GROUP BY transition, lat_s
    ),
    cum AS (
      SELECT transition, lat_s, cnt,
             CAST(sum(cnt) OVER (PARTITION BY transition ORDER BY lat_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc,
             CAST(sum(cnt) OVER (PARTITION BY transition) AS BIGINT) AS n,
             CAST(sum(lat_s * cnt) OVER (PARTITION BY transition)
               AS BIGINT) AS tot
      FROM h
    )
    SELECT transition, n AS n_users,
           CAST(min(CASE WHEN cc * 2 >= n THEN lat_s END) AS BIGINT)
             AS p50_seconds,
           CAST(min(CASE WHEN cc * 10 >= 9 * n THEN lat_s END) AS BIGINT)
             AS p90_seconds,
           CAST(tot // n AS BIGINT) AS mean_seconds
    FROM cum GROUP BY transition, n, tot
    """,
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNNEL LATENCY DISTRIBUTION — the second question every funnel
    dashboard answers after events_funnel_conversion's "how many":
    HOW LONG each converting user took, per transition (first view ->
    first subsequent click; that click -> first subsequent purchase).
    Latencies are exact epoch-second integers; p50/p90 use the
    nearest-rank definition evaluated on the collapsed
    (latency -> count) histogram with integer threshold tests
    (cc*2 >= n, cc*10 >= 9n — no interpolation, no float percentile
    semantics to disagree on), the agg_weighted_percentile discipline;
    the mean is one flooring division of exact sums. Time-to-convert
    is the metric that catches a funnel whose conversion RATE is flat
    while its latency doubles — invisible to the count funnel.

    Scale shape: stage timestamps reuse the funnel's one-shuffle
    chained-window shape conceptually (expressed as min-aggregates
    here because each stage's output is the next stage's filter);
    after the per-user collapse, everything runs on the (transition x
    distinct-latency) histogram — dimension-sized. Two ordered windows
    chain as CTEs; no nested windows."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t2")
        .agg(F.min("ts").alias("t3"))
    )
    lat = c.select(
        F.lit("view_to_click").alias("transition"),
        F.expr("(unix_micros(t2) - unix_micros(t1)) div 1000000").alias("lat_s"),
    ).unionByName(
        p.select(
            F.lit("click_to_purchase").alias("transition"),
            F.expr("(unix_micros(t3) - unix_micros(t2)) div 1000000").alias(
                "lat_s"
            ),
        )
    )
    h = lat.groupBy("transition", "lat_s").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wcum = (
        W.partitionBy("transition")
        .orderBy("lat_s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("transition")
    cum = h.select(
        "transition",
        "lat_s",
        F.sum("cnt").over(wcum).cast("bigint").alias("cc"),
        F.sum("cnt").over(wall).cast("bigint").alias("n"),
        F.sum(F.col("lat_s") * F.col("cnt")).over(wall).cast("bigint").alias("tot"),
    )
    return cum.groupBy("transition", "n", "tot").agg(
        F.min(F.when(F.col("cc") * 2 >= F.col("n"), F.col("lat_s")))
        .cast("bigint")
        .alias("p50_seconds"),
        F.min(F.when(F.col("cc") * 10 >= 9 * F.col("n"), F.col("lat_s")))
        .cast("bigint")
        .alias("p90_seconds"),
    ).select(
        "transition",
        F.col("n").alias("n_users"),
        "p50_seconds",
        "p90_seconds",
        F.expr("tot div n").cast("bigint").alias("mean_seconds"),
    )


_SEQ_CAP = 512  # journey-string cap: bounded per-user state at any scale
_SEQ_PATTERN = "v[cs]*p"  # view, then clicks/signups, then purchase


@register(
    "events_sequence_pattern",
    oracle=f"""
    WITH e AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS sym,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    j AS (
      SELECT user_id,
             string_agg(sym, '' ORDER BY ts, event_id) AS journey
      FROM e WHERE rn <= {_SEQ_CAP}
      GROUP BY user_id
    ),
    n AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM e
      GROUP BY user_id
    )
    SELECT n.user_id, n.n_events, md5(j.journey) AS journey_md5,
           CAST(len(regexp_extract_all(j.journey, '{_SEQ_PATTERN}'))
             AS BIGINT) AS n_conversions,
           CAST(length(j.journey)
                - length(replace(j.journey, 'e', '')) AS BIGINT)
             AS n_errors
    FROM n JOIN j USING (user_id)
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-PATTERN MATCHING over per-user event journeys — the
    MATCH_RECOGNIZE / funnel-regex analytic: each user's events
    collapse (ordered by ts, event_id — a total order) into a symbol
    string (one char per event type), and conversions are the
    NON-OVERLAPPING matches of '{_SEQ_PATTERN}' (a view, any run of
    clicks/signups, then a purchase — the pattern form that expresses
    'B after A with no intervening X' constraints a stage-anchored
    funnel like events_funnel_conversion cannot). journey_md5
    additionally pins the full per-user event ORDERING hash-exactly
    across engines, so a single out-of-order event reds the row —
    the strongest sequencing attestation in the repo.

    Scale shape: ONE user-keyed exchange; the journey string is
    capped at {_SEQ_CAP} events per user (rank filter before the
    aggregation — bounded per-user state by construction, the
    _MH_BUCKET_CAP discipline applied to sequences; production
    sessionizes first for the same reason). Regex counting is
    per-row JVM work on the collapsed strings — corpus-sized rows
    never move again. Both engines scan leftmost-non-overlapping, and
    the pattern avoids any syntax where Java and RE2 semantics could
    diverge."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("sym"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    j = (
        ranked.filter(F.col("rn") <= _SEQ_CAP)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list("
                    "struct(ts, event_id, sym))), x -> x.sym)"
                ),
                "",
            ).alias("journey")
        )
    )
    n = ranked.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    return n.join(j, "user_id").select(
        "user_id",
        "n_events",
        F.md5("journey").alias("journey_md5"),
        F.expr(f"regexp_count(journey, '{_SEQ_PATTERN}')")
        .cast("bigint")
        .alias("n_conversions"),
        (
            F.length("journey")
            - F.length(F.regexp_replace("journey", "e", ""))
        )
        .cast("bigint")
        .alias("n_errors"),
    )


# --------------------------------------------------------------------------
# Hurst exponent (rescaled-range long-memory diagnostic)
# --------------------------------------------------------------------------

_HURST_B1, _HURST_B2 = 12, 48  # block sizes (hours); ratio 4 -> ln(4) slope


@register(
    "window_hurst_exponent",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT t.et AS event_type,
             CAST(datediff('hour', b.h0, g.h) AS BIGINT) AS t, g.h AS h
      FROM bounds b,
           LATERAL unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
             AS g(h),
           (SELECT DISTINCT event_type AS et FROM events) t
    ),
    cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT s.event_type, s.t, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM spine s
      LEFT JOIN cnt c ON c.event_type = s.event_type AND c.h = s.h
    ),
    blk AS (
      SELECT event_type, CAST(bb.b AS BIGINT) AS b,
             t // bb.b AS g, t % bb.b AS pos, x
      FROM ser CROSS JOIN (VALUES ({_HURST_B1}), ({_HURST_B2})) bb(b)
    ),
    pre AS (
      SELECT event_type, b, g, pos, x,
             sum(x) OVER (PARTITION BY event_type, b, g
                          ORDER BY pos) AS pref,
             sum(x) OVER (PARTITION BY event_type, b, g) AS tot,
             sum(x * x) OVER (PARTITION BY event_type, b, g) AS totsq,
             count(*) OVER (PARTITION BY event_type, b, g) AS nb
      FROM blk
    ),
    z AS (
      SELECT event_type, b, g,
             CAST(max(b * pref - (pos + 1) * tot)
                  - min(b * pref - (pos + 1) * tot) AS BIGINT) AS rp,
             CAST(max(b * totsq - tot * tot) AS BIGINT) AS d,
             max(nb) AS nb
      FROM pre GROUP BY 1, 2, 3
    ),
    rs AS (
      SELECT event_type, b,
             CAST(round(ln(CAST(rp AS DOUBLE) / sqrt(CAST(d AS DOUBLE)))
                        * 1000000) AS BIGINT) AS lnrs
      FROM z WHERE nb = b AND d > 0
    ),
    agg AS (
      SELECT event_type, b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lnrs) AS BIGINT) AS s
      FROM rs GROUP BY 1, 2
    )
    SELECT s1.event_type,
           s1.n AS n_blocks_short, s1.s AS sum_lnrs_short,
           s2.n AS n_blocks_long, s2.s AS sum_lnrs_long,
           CAST(round((CAST(s2.s AS DOUBLE) / s2.n
                       - CAST(s1.s AS DOUBLE) / s1.n)
                      / ln(4.0) / 1000) AS BIGINT) AS hurst_milli
    FROM agg s1 JOIN agg s2 ON s1.event_type = s2.event_type
    WHERE s1.b = {_HURST_B1} AND s2.b = {_HURST_B2}
    """,
)
def window_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HURST EXPONENT via rescaled-range (R/S) analysis (Hurst 1951;
    Mandelbrot-Wallis 1969) of each event type's hourly arrival
    series: H ~ 0.5 means memoryless Poisson-like traffic, H > 0.5
    long-range dependence (bursts cluster — capacity planning cannot
    assume independence), H < 0.5 anti-persistent mean reversion. For
    a training-data platform this is the load-model diagnostic behind
    ingest autoscaling: long-memory arrivals invalidate the
    square-root staffing rule that Poisson assumptions justify.

    Algorithm: the series is the gap-filled hourly count spine (gaps
    are REAL zeros, not missing data — the events_resample_gapfill
    lesson); for block sizes b = {_HURST_B1} and {_HURST_B2} hours,
    each complete block computes its rescaled range R/S from EXACT
    integers — R' = max-min of the integer-scaled cumulative
    deviations b*prefix_t - t*total (= b*R), D = b*sum(x^2) - total^2
    (= b^2 * n/(n) * S^2 scaling), so R/S = R'/sqrt(D) is ONE IEEE
    division of exact integers; ln(R/S) quantizes to integer
    micro-nats per block (the lnu_micro idiom) and the per-b mean is
    a ratio of exact integer sums. H = (mean_lnRS(b2) -
    mean_lnRS(b1)) / ln(b2/b1) — the two-scale log-regression slope
    (geometric-mean R/S variant), with the pinned integer sums output
    alongside so the oracle attests the integers, not just the
    derived double. Constant blocks (D = 0) and the trailing partial
    block are excluded on both engines.

    Scale shape: the raw stream collapses to the (type, hour) count
    table in one partial-agg pass — everything after runs on spine
    rows (time x types, never events). The spine generates from a
    1-row broadcast bounds aggregate; block statistics are one window
    pass partitioned by (type, b, block) — block length is a
    CONSTANT, so no partition ever exceeds {_HURST_B2} rows and the
    two shuffles move O(spine) rows. At 100 TB of events the spine
    for a decade of hours x 1000 types is ~10^8 rows — trivially
    partitioned, and the only event-proportional work is the first
    count."""
    ev = load_table(spark, sf_dir, "events")
    # ONE checkpointed events scan (r14 optimization; see
    # _daily_count_series): bounds/types derive from the hourly table
    cnt = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    bounds = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = cnt.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(
                F.sequence(
                    F.col("h0"), F.col("h1"), F.expr("interval 1 hour")
                )
            ).alias("h"),
            "h0",
        )
        .crossJoin(F.broadcast(types))
        .select(
            "event_type",
            "h",
            F.expr("timestampdiff(HOUR, h0, h)").cast("bigint").alias("t"),
        )
    )
    ser = spine.join(cnt, ["event_type", "h"], "left").select(
        "event_type",
        "t",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    grid = spark.createDataFrame([(_HURST_B1,), (_HURST_B2,)], "b int")
    blk = ser.crossJoin(F.broadcast(grid)).select(
        "event_type",
        F.col("b").cast("bigint").alias("b"),
        F.expr("t div b").alias("g"),
        (F.col("t") % F.col("b")).alias("pos"),
        "x",
    )
    wp = W.partitionBy("event_type", "b", "g")
    pre = blk.select(
        "event_type",
        "b",
        "g",
        "pos",
        F.sum("x").over(wp.orderBy("pos")).alias("pref"),
        F.sum("x").over(wp).alias("tot"),
        F.sum(F.col("x") * F.col("x")).over(wp).alias("totsq"),
        F.count("*").over(wp).alias("nb"),
    )
    zdev = F.col("b") * F.col("pref") - (F.col("pos") + 1) * F.col("tot")
    z = pre.groupBy("event_type", "b", "g").agg(
        (F.max(zdev) - F.min(zdev)).cast("bigint").alias("rp"),
        F.max(
            F.col("b") * F.col("totsq") - F.col("tot") * F.col("tot")
        )
        .cast("bigint")
        .alias("d"),
        F.max("nb").alias("nb"),
    )
    rs = z.filter((F.col("nb") == F.col("b")) & (F.col("d") > 0)).select(
        "event_type",
        "b",
        F.round(
            F.log(
                F.col("rp").cast("double")
                / F.sqrt(F.col("d").cast("double"))
            )
            * 1000000
        )
        .cast("bigint")
        .alias("lnrs"),
    )
    agg = rs.groupBy("event_type", "b").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lnrs").cast("bigint").alias("s"),
    )
    s1 = agg.filter(F.col("b") == _HURST_B1).select(
        "event_type",
        F.col("n").alias("n_blocks_short"),
        F.col("s").alias("sum_lnrs_short"),
    )
    s2 = agg.filter(F.col("b") == _HURST_B2).select(
        "event_type",
        F.col("n").alias("n_blocks_long"),
        F.col("s").alias("sum_lnrs_long"),
    )
    return s1.join(s2, "event_type").select(
        "event_type",
        "n_blocks_short",
        "sum_lnrs_short",
        "n_blocks_long",
        "sum_lnrs_long",
        F.round(
            (
                F.col("sum_lnrs_long").cast("double")
                / F.col("n_blocks_long")
                - F.col("sum_lnrs_short").cast("double")
                / F.col("n_blocks_short")
            )
            / F.log(F.lit(4.0))
            / 1000
        )
        .cast("bigint")
        .alias("hurst_milli"),
    )


# --------------------------------------------------------------------------
# Shared day-spine scaffold for the sequential-DP family (Holt-Winters,
# DTW, Kalman): gap-filled (event_type, t, count) daily series — ONE
# definition on each engine so spine semantics (the +1 offset, the
# day-truncation, the zero fill) cannot drift between queries.
# --------------------------------------------------------------------------

_DAY_SPINE_CTES = """bounds AS (
      SELECT date_trunc('day', min(ts)) AS d0,
             date_trunc('day', max(ts)) AS d1
      FROM events
    ),
    spine AS (
      SELECT ty.et AS event_type,
             CAST(datediff('day', b.d0, g.d) + 1 AS BIGINT) AS t
      FROM bounds b,
           LATERAL unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))
             AS g(d),
           (SELECT DISTINCT event_type AS et FROM events) ty
    ),
    cnt AS (
      SELECT event_type,
             CAST(datediff('day', (SELECT d0 FROM bounds),
                           date_trunc('day', ts)) + 1 AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    )"""


def _daily_count_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled (event_type, t, x) daily arrival counts over the
    observed day range — the Spark twin of _DAY_SPINE_CTES. The spine
    generates from a 1-row bounds aggregate crossed with the distinct
    type list (both broadcast-sized); the raw stream collapses to the
    (type, day) count table in one partial-agg pass."""
    ev = load_table(spark, sf_dir, "events")
    # r14 optimization: ONE events scan (guide §2.4). bounds and the
    # type list both derive from the day-count table itself —
    # date_trunc(day, ·) is monotone, so min/max over the truncated
    # days equal the truncation of the raw min/max ts — and the count
    # table is checkpointed (types × days rows, dimension-sized): the
    # sequential-DP consumers (DTW, Holt-Winters, Kalman, RTS) each
    # fan this series into several differently-keyed aggregates, which
    # previously multiplied into dozens of raw-events scans per plan.
    cnt = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=True)
    )
    bounds = cnt.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    types = cnt.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("d"),
            "d0",
        )
        .crossJoin(F.broadcast(types))
        .select(
            "event_type",
            "d",
            (F.datediff(F.col("d"), F.col("d0")) + 1)
            .cast("bigint")
            .alias("t"),
        )
    )
    return spine.join(cnt, ["event_type", "d"], "left").select(
        "event_type",
        "t",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )


def _td(x: int, d: int) -> int:
    """Truncate-toward-zero integer division — what Spark's ``div``
    AND DuckDB 1.0's ``//`` both do (verified: -7 // 2 = -3 in
    DuckDB); Python's ``//`` floors, so sequential-DP kernels must
    route every division through this."""
    q = abs(x) // d
    return q if x >= 0 else -q


# --------------------------------------------------------------------------
# Holt-Winters additive forecast (integer-state triple smoothing)
# --------------------------------------------------------------------------

_HW_M = 7  # season length (weekly pattern over daily counts)
_HW_H = 7  # forecast horizon
# smoothing ratios as exact integer numerators over 10:
_HW_A, _HW_B, _HW_G = 3, 1, 2  # alpha=0.3, beta=0.1, gamma=0.2


def _hw_oracle() -> str:
    s_cols = ", ".join(f"s{i}" for i in range(1, _HW_M + 1))
    s_shift = ", ".join(f"r.s{i}" for i in range(2, _HW_M + 1))
    s_init = ",\n             ".join(
        f"max(CASE WHEN r.t = {i} THEN r.xm END) - i.l0 AS s{i}"
        for i in range(1, _HW_M + 1)
    )
    f_arms = "\n      UNION ALL ".join(
        f"SELECT event_type, {h} AS h, l + {h} * b + s{h} AS fc,"
        f" l, b, abs_err_sum, n_err FROM fin"
        for h in range(1, _HW_H + 1)
    )
    return f"""
    WITH RECURSIVE {_DAY_SPINE_CTES},
    ser AS (
      SELECT s.event_type, s.t,
             CAST(COALESCE(c.x, 0) * 1000000 AS BIGINT) AS xm
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.t = s.t
    ),
    nn AS (SELECT event_type, max(t) AS n FROM ser GROUP BY 1),
    init AS (
      SELECT event_type,
             CAST(sum(CASE WHEN t <= {_HW_M} THEN xm ELSE 0 END)
                  // {_HW_M} AS BIGINT) AS l0,
             CAST((sum(CASE WHEN t BETWEEN {_HW_M + 1} AND {2 * _HW_M}
                            THEN xm ELSE 0 END)
                   - sum(CASE WHEN t <= {_HW_M} THEN xm ELSE 0 END))
                  // {_HW_M * _HW_M} AS BIGINT) AS b0
      FROM ser GROUP BY 1
    ),
    sinit AS (
      SELECT i.event_type, i.l0, i.b0,
             {s_init}
      FROM init i JOIN ser r ON r.event_type = i.event_type
                            AND r.t <= {_HW_M}
      GROUP BY i.event_type, i.l0, i.b0
    ),
    rec AS (
      SELECT event_type, CAST({_HW_M} AS BIGINT) AS t, l0 AS l, b0 AS b,
             {s_cols}, CAST(0 AS BIGINT) AS abs_err_sum,
             CAST(0 AS BIGINT) AS n_err
      FROM sinit
      UNION ALL
      SELECT r.event_type, r.t + 1,
             ({_HW_A} * (x.xm - r.s1)
              + {10 - _HW_A} * (r.l + r.b)) // 10 AS l,
             ({_HW_B} * (({_HW_A} * (x.xm - r.s1)
                          + {10 - _HW_A} * (r.l + r.b)) // 10 - r.l)
              + {10 - _HW_B} * r.b) // 10 AS b,
             {s_shift},
             ({_HW_G} * (x.xm - ({_HW_A} * (x.xm - r.s1)
                                 + {10 - _HW_A} * (r.l + r.b)) // 10)
              + {10 - _HW_G} * r.s1) // 10 AS s{_HW_M},
             r.abs_err_sum + abs(x.xm - (r.l + r.b + r.s1)),
             r.n_err + 1
      FROM rec r
      JOIN nn ON nn.event_type = r.event_type
      JOIN ser x ON x.event_type = r.event_type AND x.t = r.t + 1
      WHERE r.t < nn.n
    ),
    fin AS (
      SELECT r.* FROM rec r JOIN nn ON nn.event_type = r.event_type
      WHERE r.t = nn.n
    ),
    fc AS (
      {f_arms}
    )
    SELECT event_type, CAST(h AS INT) AS h,
           CAST(fc AS BIGINT) AS forecast_micro,
           CAST(l AS BIGINT) AS level_micro,
           CAST(b AS BIGINT) AS trend_micro,
           CAST(abs_err_sum // n_err AS BIGINT) AS mae_micro
    FROM fc
    """


@register("events_holt_winters_forecast", oracle=_hw_oracle())
def events_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple-exponential forecast (Holt 1957;
    Winters, Mgmt. Sci. 6(3) 1960) of each event type's DAILY arrival
    counts, season length {_HW_M} (the weekly cycle), horizon
    {_HW_H} days, with the in-sample one-step-ahead MAE as the
    model-quality referee — the capacity-planning forecast
    events_backtest_naive_forecast is the baseline for: level, trend
    and weekly seasonality each smoothed (alpha={_HW_A}/10,
    beta={_HW_B}/10, gamma={_HW_G}/10), which the seasonal-naive
    baseline cannot adapt to drift.

    Determinism: the recursion runs ENTIRELY in integer micro-units —
    state transitions are exact integer affine maps with TRUNCATING
    division by 10 (DuckDB's // semantics; the Python kernel mirrors
    trunc-toward-zero explicitly because Python's // floors — the
    signed-division parity lesson from the sign-div audit), so the
    state sequence is bit-identical on both engines at every step.
    The sequential dependence is irreducible (each day's level feeds
    the next — no window function expresses it); Spark runs the
    30-step loop per series inside ONE applyInPandas kernel over the
    gap-filled day spine, and the DuckDB oracle replays the identical
    recursion as a recursive CTE carrying the rolling {_HW_M}-slot
    seasonal register, attesting level, trend, every forecast, and
    the MAE.

    Scale shape: the raw stream collapses to the (type, day) count
    table in one partial-agg pass — the kernel sees spine rows
    (days x types, never events), grouped BY SERIES so 1000 types
    parallelize across executors while each tiny sequential loop
    stays local; state is O(m) per series. The spine generates from
    a 1-row broadcast bounds aggregate (the window_hurst_exponent
    scaffold)."""
    ser = _daily_count_series(spark, sf_dir).select(
        "event_type", "t", (F.col("x") * 1000000).cast("bigint").alias("xm")
    )

    def hw(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t")
        xs = [int(v) for v in pdf["xm"]]
        m, h = _HW_M, _HW_H
        a, bb, g = _HW_A, _HW_B, _HW_G

        td = _td  # module-level truncating division

        l = td(sum(xs[:m]), m)
        b = td(sum(xs[m : 2 * m]) - sum(xs[:m]), m * m)
        s = [x - l for x in xs[:m]]
        abs_err = 0
        n_err = 0
        for t in range(m, len(xs)):
            x = xs[t]
            s1 = s[0]
            abs_err += abs(x - (l + b + s1))
            n_err += 1
            l_new = td(a * (x - s1) + (10 - a) * (l + b), 10)
            b_new = td(bb * (l_new - l) + (10 - bb) * b, 10)
            s_new = td(g * (x - l_new) + (10 - g) * s1, 10)
            s = s[1:] + [s_new]
            l = l_new
            b = b_new
        if n_err == 0:
            # spine shorter than one season: the oracle's recursion
            # never reaches t = n, so both engines emit nothing
            return pd.DataFrame(
                {
                    "event_type": pd.Series([], dtype="str"),
                    "h": pd.Series([], dtype="int"),
                    "forecast_micro": pd.Series([], dtype="int64"),
                    "level_micro": pd.Series([], dtype="int64"),
                    "trend_micro": pd.Series([], dtype="int64"),
                    "mae_micro": pd.Series([], dtype="int64"),
                }
            )
        et = pdf["event_type"].iloc[0]
        mae = td(abs_err, n_err)
        return pd.DataFrame(
            {
                "event_type": [et] * h,
                "h": list(range(1, h + 1)),
                "forecast_micro": [l + k * b + s[k - 1] for k in range(1, h + 1)],
                "level_micro": [l] * h,
                "trend_micro": [b] * h,
                "mae_micro": [mae] * h,
            }
        )

    out_schema = (
        "event_type string, h int, forecast_micro long,"
        " level_micro long, trend_micro long, mae_micro long"
    )
    return ser.groupBy("event_type").applyInPandas(hw, out_schema)


# --------------------------------------------------------------------------
# Dynamic Time Warping similarity (banded, integer-exact DP)
# --------------------------------------------------------------------------

_DTW_W = 5  # Sakoe-Chiba band half-width (days)


def _dtw_oracle() -> str:
    return f"""
    WITH RECURSIVE {_DAY_SPINE_CTES},
    ser AS (
      SELECT s.event_type, s.t,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.t = s.t
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx
      FROM ser GROUP BY 1
    ),
    dev AS (
      SELECT r.event_type, r.t, st.n,
             r.x * 1000 - (st.sx * 1000) // st.n AS dv
      FROM ser r JOIN st ON st.event_type = r.event_type
    ),
    ss AS (
      SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS ssd
      FROM dev GROUP BY 1
    ),
    z AS (
      SELECT d.event_type, d.t, d.n,
             CAST(round(CAST(d.dv AS DOUBLE) * 1000
                        / sqrt(CAST(s.ssd AS DOUBLE) / d.n))
               AS BIGINT) AS z
      FROM dev d JOIN ss s ON s.event_type = d.event_type
      WHERE s.ssd > 0
    ),
    cost AS (
      SELECT a.event_type AS ea, b.event_type AS eb, a.n,
             a.t AS i, b.t AS j, abs(a.z - b.z) AS c
      FROM z a JOIN z b ON a.event_type < b.event_type
                       AND abs(a.t - b.t) <= {_DTW_W}
    ),
    nn AS (SELECT max(t) AS n FROM ser),
    rec AS (
      SELECT ea, eb, CAST(2 AS BIGINT) AS d, 'c' AS tag,
             CAST(1 AS BIGINT) AS i, c AS v
      FROM cost WHERE i = 1 AND j = 1
      UNION ALL
      SELECT * FROM (
        SELECT nc.ea, nc.eb, nc.d, 'c' AS tag, nc.i, nc.v FROM (
          SELECT co.ea, co.eb, r.d + 1 AS d, co.i, co.c + min(r.v) AS v
          FROM rec r
          JOIN cost co ON co.ea = r.ea AND co.eb = r.eb
            AND co.i + co.j = r.d + 1
            AND ((r.tag = 'c' AND r.i IN (co.i - 1, co.i))
              OR (r.tag = 'p' AND r.i = co.i - 1))
          WHERE r.d + 1 <= 2 * (SELECT n FROM nn)
          GROUP BY co.ea, co.eb, r.d, co.i, co.c
        ) nc
        UNION ALL
        SELECT r.ea, r.eb, r.d + 1, 'p', r.i, r.v
        FROM rec r
        WHERE r.tag = 'c' AND r.d + 1 <= 2 * (SELECT n FROM nn)
      )
    ),
    fin AS (
      SELECT r.ea, r.eb, r.v AS dtw
      FROM rec r JOIN nn ON TRUE
      WHERE r.tag = 'c' AND r.d = 2 * nn.n AND r.i = nn.n
    ),
    l1 AS (
      SELECT a.event_type AS ea, b.event_type AS eb,
             CAST(sum(abs(a.z - b.z)) AS BIGINT) AS l1
      FROM z a JOIN z b ON a.event_type < b.event_type AND a.t = b.t
      GROUP BY 1, 2
    )
    SELECT f.ea, f.eb, CAST(nn.n AS BIGINT) AS n,
           CAST(f.dtw AS BIGINT) AS dtw, l.l1,
           CAST(CASE WHEN l.l1 > 0
                THEN (l.l1 - f.dtw) * 1000000 // l.l1
                ELSE 0 END AS BIGINT) AS warp_gain_ppm
    FROM fin f JOIN l1 l ON l.ea = f.ea AND l.eb = f.eb
    CROSS JOIN nn
    """


@register("events_dtw_similarity", oracle=_dtw_oracle())
def events_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC TIME WARPING distance between every pair of event
    types' z-normalized daily series, Sakoe-Chiba band w={_DTW_W}
    (Sakoe & Chiba, IEEE TASSP 26(1) 1978) — the alignment-tolerant
    similarity that groups series whose shapes match under small lags
    (a release wave hitting 'view' Monday and 'purchase' Wednesday),
    where the lockstep L1 metric calls them dissimilar. warp_gain_ppm
    = (L1 - DTW)/L1 measures exactly how much alignment slack
    explains: near 0 means the pair is already in phase, large means
    the similarity exists only modulo a lag — the signal for
    lead/lag structure between streams (DTW <= L1 always, since the
    identity path is one admissible alignment — a pinned invariant).

    Determinism: the series z-normalizes through the integer-milli
    pipeline (mean as exact truncating division, one IEEE
    round(dev*1000/sqrt(ssd/n)) per point — the lnu_micro
    discipline), after which costs |za - zb| and the whole DP are
    EXACT INTEGERS: no float ever enters the recursion, so the DP is
    bit-identical on any engine and any partitioning. Spark runs the
    O(n*w) banded DP per pair inside ONE applyInPandas kernel (the
    sequential dependence is irreducible); the DuckDB oracle replays
    it as a recursive CTE over ANTI-DIAGONALS — each iteration
    carries the current diagonal ('c') plus the previous one ('p'),
    and each new cell takes min over its <=3 predecessors via a
    single-scan GROUP BY of the working table.

    Scale shape: the raw stream collapses to (type, day) counts in
    one partial-agg pass; pair series build from a band-bounded
    equi-ish join on day index (O(n*w) rows per pair, never n^2);
    pairs parallelize across executors via the groupBy — 1000 types
    = ~500k independent kernels, each O(n*w) with O(w) live state.
    The band is the scale lever: full DTW is quadratic, banded is
    linear in series length."""
    ser = _daily_count_series(spark, sf_dir)
    stt = ser.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    dev = ser.join(F.broadcast(stt), "event_type").select(
        "event_type",
        "t",
        "n",
        (F.col("x") * 1000 - F.expr("(sx * 1000) div n")).alias("dv"),
    )
    ss = dev.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("ssd")
    )
    z = (
        dev.join(F.broadcast(ss), "event_type")
        .filter(F.col("ssd") > 0)
        .select(
            "event_type",
            "t",
            F.round(
                F.col("dv").cast("double")
                * 1000
                / F.sqrt(F.col("ssd").cast("double") / F.col("n"))
            )
            .cast("bigint")
            .alias("z"),
        )
    )
    za = z.select(
        F.col("event_type").alias("ea"), F.col("t").alias("t"), F.col("z").alias("zav")
    )
    zb = z.select(
        F.col("event_type").alias("eb"), F.col("t").alias("tb"), F.col("z").alias("zbv")
    )
    pairrows = za.join(
        zb, (F.col("ea") < F.col("eb")) & (F.col("t") == F.col("tb"))
    ).select("ea", "eb", "t", "zav", "zbv")

    def dtw_kernel(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t")
        a = [int(v) for v in pdf["zav"]]
        b = [int(v) for v in pdf["zbv"]]
        n = len(a)
        w = _DTW_W
        INF = float("inf")
        prev = {}
        cur = {(1, 1): abs(a[0] - b[0])}
        for dd in range(3, 2 * n + 1):
            nxt = {}
            for i in range(max(1, dd - n), min(n, dd - 1) + 1):
                j = dd - i
                if abs(i - j) > w:
                    continue
                best = min(
                    cur.get((i - 1, j), INF),
                    cur.get((i, j - 1), INF),
                    prev.get((i - 1, j - 1), INF),
                )
                if best is INF:
                    continue
                nxt[(i, j)] = abs(a[i - 1] - b[j - 1]) + int(best)
            prev, cur = cur, nxt
        dtw = cur.get((n, n), prev.get((n, n)))
        l1 = sum(abs(x - y) for x, y in zip(a, b))
        gain = (l1 - dtw) * 1000000 // l1 if l1 > 0 else 0
        return pd.DataFrame(
            {
                "ea": [pdf["ea"].iloc[0]],
                "eb": [pdf["eb"].iloc[0]],
                "n": [n],
                "dtw": [dtw],
                "l1": [l1],
                "warp_gain_ppm": [gain],
            }
        )

    return pairrows.groupBy("ea", "eb").applyInPandas(
        dtw_kernel,
        "ea string, eb string, n long, dtw long, l1 long,"
        " warp_gain_ppm long",
    )


# --------------------------------------------------------------------------
# Burst detection (two-state Viterbi over hourly arrivals)
# --------------------------------------------------------------------------

_KB_MULT = 2  # burst-state rate multiplier (r1 = 2 * base rate)


def _kb_cost_sql() -> str:
    """Per-hour emission costs for both states + the burst-entry
    penalty, quantized to integer micro-nats (identical IEEE
    expressions on exact integers in both engines)."""
    r0 = "(CAST(st.sx AS DOUBLE) / st.n)"
    r1 = f"({_KB_MULT} * (CAST(st.sx AS DOUBLE) / st.n))"
    return f"""
    cost AS MATERIALIZED (
      SELECT r.event_type, r.t, r.x, st.n,
             CAST(round(1000000 * ({r0} - r.x * ln({r0})))
               AS BIGINT) AS c0,
             CAST(round(1000000 * ({r1} - r.x * ln({r1})))
               AS BIGINT) AS c1,
             CAST(round(1000000 * ln(CAST(st.n AS DOUBLE))) AS BIGINT)
               // 2 AS gam
      FROM serkb r JOIN st ON st.event_type = r.event_type
    )"""


@register(
    "events_kleinberg_burst",
    oracle=f"""
    WITH RECURSIVE bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    spine AS (
      SELECT ty.et AS event_type,
             CAST(datediff('hour', b.h0, g.h) + 1 AS BIGINT) AS t
      FROM bounds b,
           LATERAL unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR))
             AS g(h),
           (SELECT DISTINCT event_type AS et FROM events) ty
    ),
    cnt AS (
      SELECT event_type,
             CAST(datediff('hour', (SELECT h0 FROM bounds),
                           date_trunc('hour', ts)) + 1 AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    serkb AS MATERIALIZED (
      SELECT s.event_type, s.t, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.t = s.t
    ),
    st AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx
      FROM serkb GROUP BY 1
    ),
    {_kb_cost_sql()},
    fwd AS (
      SELECT event_type, t, n, c0 AS v0, c1 + gam AS v1,
             '0' AS p0, '1' AS p1
      FROM cost WHERE t = 1
      UNION ALL
      SELECT c.event_type, c.t, c.n,
             c.c0 + least(f.v0, f.v1) AS v0,
             c.c1 + least(f.v0 + c.gam, f.v1) AS v1,
             (CASE WHEN f.v0 <= f.v1 THEN f.p0 ELSE f.p1 END)
               || '0' AS p0,
             (CASE WHEN f.v0 + c.gam < f.v1 THEN f.p0 ELSE f.p1 END)
               || '1' AS p1
      FROM fwd f JOIN cost c ON c.event_type = f.event_type
                            AND c.t = f.t + 1
    ),
    fin AS (
      SELECT event_type, n,
             CASE WHEN v0 <= v1 THEN p0 ELSE p1 END AS path
      FROM fwd WHERE t = n
    ),
    lab AS (
      SELECT l.event_type, l.t, k.x,
             l.t - row_number() OVER (PARTITION BY l.event_type
                                      ORDER BY l.t) AS grp
      FROM (
        SELECT f.event_type, CAST(g.i AS BIGINT) AS t
        FROM fin f, LATERAL unnest(generate_series(1, f.n)) AS g(i)
        WHERE substr(f.path, CAST(g.i AS INT), 1) = '1'
      ) l JOIN serkb k ON k.event_type = l.event_type AND k.t = l.t
    )
    SELECT event_type, CAST(min(t) AS BIGINT) AS start_t,
           CAST(max(t) AS BIGINT) AS end_t,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(x) AS BIGINT) AS sum_x
    FROM lab GROUP BY event_type, grp
    """,
)
def events_kleinberg_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURST DETECTION via the two-state infinite-automaton model
    (Kleinberg, KDD 2002, the batched-arrivals variant): each event
    type's gap-filled hourly series is labeled by the minimum-cost
    state path between a BASE state emitting at the series' mean rate
    and a BURST state at {_KB_MULT}x that rate, where entering a
    burst costs gamma = ln(n)/2 — the hysteresis that separates
    sustained elevations (a launch, an incident, a crawler storm)
    from one-hour noise a plain threshold would fire on. Output is
    the burst INTERVALS (start, end, duration, mass) — the
    incident-timeline primitive; window_cusum_drift detects a mean
    SHIFT, this segments episodic overload.

    Determinism: emission costs quantize to integer micro-nats
    Spark-side (round(1e6 * (r - x*ln r)) — one IEEE expression over
    exact integers, the lnu_micro idiom; the state-independent ln x!
    term cancels and is dropped), after which the Viterbi DP is PURE
    INTEGER arithmetic with pinned tie-breaks (prefer base on equal
    cost, strict inequality to enter a burst) — bit-identical on any
    engine. Spark runs the forward pass + backtrack per series in
    ONE applyInPandas kernel (sequential dependence, like
    events_holt_winters_forecast); the DuckDB oracle replays it as
    TWO recursive CTEs — forward carrying (v0, v1, argmins), then a
    backward walk over the stored argmins — plus a gaps-and-islands
    rollup into intervals.

    Scale shape: the raw stream collapses to (type, hour) counts in
    one partial-agg pass; the kernel sees spine rows grouped by
    series (1000 types parallelize across executors; each loop is
    O(n) with O(1) state); interval rollup is output-sized. Nothing
    after the first count is event-proportional."""
    ev = load_table(spark, sf_dir, "events")
    # ONE checkpointed events scan (r14 optimization; see
    # _daily_count_series): bounds/types derive from the hourly table
    cnt = (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=True)
    )
    bounds = cnt.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = cnt.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(
                F.sequence(
                    F.col("h0"), F.col("h1"), F.expr("interval 1 hour")
                )
            ).alias("h"),
            "h0",
        )
        .crossJoin(F.broadcast(types))
        .select(
            "event_type",
            "h",
            (F.expr("timestampdiff(HOUR, h0, h)") + 1)
            .cast("bigint")
            .alias("t"),
        )
    )
    ser = spine.join(cnt, ["event_type", "h"], "left").select(
        "event_type",
        "t",
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    stt = ser.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    r0 = F.col("sx").cast("double") / F.col("n")
    r1 = _KB_MULT * (F.col("sx").cast("double") / F.col("n"))
    cost = ser.join(F.broadcast(stt), "event_type").select(
        "event_type",
        "t",
        "x",
        F.round(1000000 * (r0 - F.col("x") * F.log(r0)))
        .cast("bigint")
        .alias("c0"),
        F.round(1000000 * (r1 - F.col("x") * F.log(r1)))
        .cast("bigint")
        .alias("c1"),
        F.expr(
            "cast(round(1000000 * ln(cast(n as double))) as bigint) div 2"
        ).alias("gam"),
    )

    def viterbi(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t")
        xs = [int(v) for v in pdf["x"]]
        c0 = [int(v) for v in pdf["c0"]]
        c1 = [int(v) for v in pdf["c1"]]
        gam = int(pdf["gam"].iloc[0])
        n = len(xs)
        v0, v1 = c0[0], c1[0] + gam
        arg = []
        for t in range(1, n):
            a0 = 0 if v0 <= v1 else 1
            a1 = 0 if v0 + gam < v1 else 1
            v0, v1 = c0[t] + min(v0, v1), c1[t] + min(v0 + gam, v1)
            arg.append((a0, a1))
        s = 0 if v0 <= v1 else 1
        labels = [s]
        for t in range(n - 1, 0, -1):
            s = arg[t - 1][s]
            labels.append(s)
        labels.reverse()
        et = pdf["event_type"].iloc[0]
        out = []
        start = None
        for i in range(n + 1):
            burst = i < n and labels[i] == 1
            if burst and start is None:
                start = i
            elif not burst and start is not None:
                out.append(
                    (
                        et,
                        start + 1,
                        i,
                        i - start,
                        sum(xs[start:i]),
                    )
                )
                start = None
        return pd.DataFrame(
            out,
            columns=["event_type", "start_t", "end_t", "n_hours", "sum_x"],
        )

    return cost.groupBy("event_type").applyInPandas(
        viterbi,
        "event_type string, start_t long, end_t long, n_hours long,"
        " sum_x long",
    )


# --------------------------------------------------------------------------
# Inter-arrival burstiness + memory (the Goh-Barabasi plane)
# --------------------------------------------------------------------------


@register(
    "events_interarrival_burstiness",
    oracle="""
    WITH o AS (
      SELECT event_type, ts, event_id,
             lag(ts) OVER (PARTITION BY event_type
                           ORDER BY ts, event_id) AS pts
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(date_diff('microsecond', pts, ts) // 1000
               AS BIGINT) AS gap,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM o WHERE pts IS NOT NULL
    ),
    p AS (
      SELECT a.event_type, a.gap AS x, b.gap AS y
      FROM g a JOIN g b ON b.event_type = a.event_type
                       AND b.rn = a.rn + 1
    ),
    m1 AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(gap) AS BIGINT) AS s,
             CAST(sum(gap * gap) AS BIGINT) AS sq
      FROM g GROUP BY event_type
    ),
    m2 AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n2,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM p GROUP BY event_type
    )
    SELECT m1.event_type, m1.n, m1.s, m1.sq, m2.sxy,
           CAST(round(
             (sqrt(greatest(CAST(m1.n AS DOUBLE) * m1.sq
                            - CAST(m1.s AS DOUBLE) * m1.s, 0.0)) / m1.n
              - CAST(m1.s AS DOUBLE) / m1.n)
             / (sqrt(greatest(CAST(m1.n AS DOUBLE) * m1.sq
                              - CAST(m1.s AS DOUBLE) * m1.s, 0.0)) / m1.n
                + CAST(m1.s AS DOUBLE) / m1.n) * 1000) AS BIGINT)
             AS burstiness_milli,
           CAST(round(
             (CAST(m2.n2 AS DOUBLE) * m2.sxy
              - CAST(m2.sx AS DOUBLE) * m2.sy)
             / (sqrt(CAST(m2.n2 AS DOUBLE) * m2.sxx
                     - CAST(m2.sx AS DOUBLE) * m2.sx)
                * sqrt(CAST(m2.n2 AS DOUBLE) * m2.syy
                       - CAST(m2.sy AS DOUBLE) * m2.sy)) * 1000)
             AS BIGINT) AS memory_milli
    FROM m1 JOIN m2 ON m2.event_type = m1.event_type
    """,
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BURSTINESS-MEMORY PLANE (Goh & Barabasi, EPL 81 48002,
    2008) of each event type's inter-arrival process: burstiness
    B = (sigma - mu)/(sigma + mu) of the gap distribution (-1 =
    metronome, 0 = Poisson, -> 1 = heavy bursts) and memory M = the
    Pearson correlation of CONSECUTIVE gaps (positive: long gaps
    follow long gaps — correlated outages/bursts; negative:
    alternation). Together they classify an arrival process the way
    no single statistic can: human activity sits at B > 0, M ~ 0;
    machine retry storms at B > 0, M > 0 — and the (B, M) drift of
    an ingest source is an upstream-behavior-change alarm that rate
    monitoring misses. Complements window_hurst_exponent (long-range
    counts) and events_kleinberg_burst (episode segmentation) with
    the GAP-layer signature, and corpus_term_burstiness (word
    recurrence) with the event-layer one.

    Determinism: gaps are exact integer MILLISECONDS under the total
    order (ts, event_id) — gap-squared sums stay under int64 for
    month-scale gaps at any volume (the documented bound; the
    audit_t_closeness lesson); both B and M are single closed-form
    double expressions over pinned exact integer power sums (the
    agg_corr_regression discipline), with the sums output alongside
    so the oracle attests the integers, not just the doubles.

    Scale shape: one window pass partitioned by type orders each
    stream once (the unavoidable shuffle — at 100 TB this partitions
    by (type, day) with per-day boundary stitching); the
    consecutive-gap pairing is a self-join on the SAME partitioning
    key (no extra exchange shape); both moment sets are map-side
    combinable aggregates over gap rows."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.lag("ts").over(w).alias("pts"),
    )
    g = (
        o.filter(F.col("pts").isNotNull())
        .select(
            "event_type",
            F.expr(
                "(unix_micros(ts) - unix_micros(pts)) div 1000"
            )
            .cast("bigint")
            .alias("gap"),
            F.row_number()
            .over(W.partitionBy("event_type").orderBy("ts", "event_id"))
            .alias("rn"),
        )
    )
    ga = g.select("event_type", F.col("gap").alias("x"), F.col("rn").alias("ra"))
    gb = g.select(
        F.col("event_type").alias("et2"),
        F.col("gap").alias("y"),
        F.col("rn").alias("rb"),
    )
    p = ga.join(
        gb,
        (F.col("event_type") == F.col("et2"))
        & (F.col("rb") == F.col("ra") + 1),
    )
    m1 = g.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("sq"),
    )
    m2 = p.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n2"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    var_n = F.greatest(
        nd * F.col("sq") - F.col("s").cast("double") * F.col("s"),
        F.lit(0.0),
    )
    sigma = F.sqrt(var_n) / F.col("n")
    mu = F.col("s").cast("double") / F.col("n")
    n2d = F.col("n2").cast("double")
    cov_n = n2d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    vx = n2d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = n2d * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return m1.join(m2, "event_type").select(
        "event_type",
        "n",
        "s",
        "sq",
        "sxy",
        F.round((sigma - mu) / (sigma + mu) * 1000)
        .cast("bigint")
        .alias("burstiness_milli"),
        F.round(cov_n / (F.sqrt(vx) * F.sqrt(vy)) * 1000)
        .cast("bigint")
        .alias("memory_milli"),
    )


# --------------------------------------------------------------------------
# Markov transition matrix + unrolled stationary power iteration over
# the per-user event-type journey
# --------------------------------------------------------------------------

_MKV_ROUNDS = 4  # power-iteration steps from the uniform start
_MKV_SCALE = 1_000_000_000  # pi in nano units
_MKV_PSCALE = 1_000_000  # transition probs in micro units


def _mkv_iter_sql(prev: str, out: str) -> str:
    """One unrolled pi' = pi . P step in DuckDB SQL, exact integer
    units (`//` floor-div matches Spark `div` on the non-negative
    operands used here — the _pagerank_iter_sql discipline)."""
    return f"""
    {out} AS (
      SELECT p.cur AS state,
             CAST(sum(pi.pi * p.p_micro // {_MKV_PSCALE}) AS BIGINT) AS pi
      FROM {prev} pi JOIN pmat p ON p.prev = pi.state
      GROUP BY p.cur
    )"""


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    cnt AS (
      SELECT prev, event_type AS cur, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur
    ),
    rowtot AS (
      SELECT prev, CAST(sum(n) AS BIGINT) AS row_n FROM cnt GROUP BY prev
    ),
    pmat AS (
      SELECT c.prev, c.cur,
             CAST(c.n * {_MKV_PSCALE} // r.row_n AS BIGINT) AS p_micro
      FROM cnt c JOIN rowtot r USING (prev)
    ),
    states AS (SELECT DISTINCT event_type AS state FROM events),
    nn AS (SELECT count(*) AS n FROM states),
    pi0 AS (
      SELECT state, CAST({_MKV_SCALE} // (SELECT n FROM nn) AS BIGINT) AS pi
      FROM states
    ),
    {_mkv_iter_sql("pi0", "pi1")},
    {_mkv_iter_sql("pi1", "pi2")},
    {_mkv_iter_sql("pi2", "pi3")},
    {_mkv_iter_sql("pi3", "pi4")},
    loopiness AS (
      SELECT prev AS state, p_micro AS self_micro FROM pmat
      WHERE prev = cur
    )
    SELECT r.prev AS state, r.row_n AS n_out,
           CAST(pi4.pi AS BIGINT) AS pi4_nano,
           COALESCE(l.self_micro, 0) AS self_loop_micro
    FROM rowtot r
    JOIN pi4 ON pi4.state = r.prev
    LEFT JOIN loopiness l ON l.state = r.prev
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TYPE MARKOV CHAIN — the per-user journey as a first-order
    Markov process: consecutive events (ordered by (ts, event_id) — a
    total order both engines share) form transition counts, rows
    normalize to exact integer micro-probabilities, and the chain's
    long-run behavior is summarized by {_MKV_ROUNDS} unrolled power-
    iteration steps pi' = pi . P from the uniform start, in exact
    integer nano units — the same deterministic fixed-round discipline
    as graph_pagerank_fixed (graph.py:41), so the DuckDB oracle
    replays every step bit-exactly rather than comparing a float
    eigenvector. The report reads per state: outgoing transition
    volume, the 4-step occupancy pi4_nano (the session-mix forecast a
    capacity planner consumes), and the self-loop probability (sticky
    states — retry storms and doom-scrolls surface here first).

    Scale shape: ONE window pass over events (partition by user —
    Spark's WindowGroupLimit-free lag, no skew beyond the per-user
    history) feeds a map-side-combined (prev, cur) count; everything
    after is |event_types|^2-sized (single digits here, dozens in
    production) — the iteration joins are broadcast-trivial and
    driver-free. At 100 TB the window pass is the only corpus-sized
    stage and it rides the same shuffle the sessionization family
    already pays."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    cnt = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("cur"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    rowtot = cnt.groupBy("prev").agg(
        F.sum("n").cast("long").alias("row_n")
    )
    pmat = cnt.join(rowtot, "prev").select(
        "prev",
        "cur",
        F.expr(f"n * {_MKV_PSCALE} div row_n").cast("long").alias("p_micro"),
    )
    # the matrix is a MODEL ARTIFACT bounded by |event_types|^2 (the
    # seed-collect discipline): collect it once and run the power
    # steps as exact driver-side integer arithmetic — 4 unrolled
    # Spark rounds over <=|states|-row frames cost ~40 scheduler
    # stages of pure overhead for the same numbers
    pm = [(r["prev"], r["cur"], r["p_micro"]) for r in pmat.collect()]
    rt = {r["prev"]: r["row_n"] for r in rowtot.collect()}
    states = sorted(
        {r["event_type"] for r in ev.select("event_type").distinct().collect()}
    )
    pi = {st: _MKV_SCALE // len(states) for st in states}
    for _ in range(_MKV_ROUNDS):
        nxt: dict[str, int] = {}
        for prev, cur, p in pm:
            if prev in pi:
                nxt[cur] = nxt.get(cur, 0) + pi[prev] * p // _MKV_PSCALE
        pi = nxt
    self_loop = {prev: p for prev, cur, p in pm if prev == cur}
    rows = [
        (st, int(rt[st]), int(pi.get(st, 0)), int(self_loop.get(st, 0)))
        for st in sorted(rt)
    ]
    return spark.createDataFrame(
        rows,
        "state string, n_out bigint, pi4_nano bigint, self_loop_micro bigint",
    )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (the data-driven successor of the
# heuristic linear multi-touch credit above)
# --------------------------------------------------------------------------

_ATTR_ROUNDS = 8  # absorption steps; journeys are short, mass converges
_ATTR_CHANNELS = ("click", "error", "signup", "view")


def _attr_journey_ctes() -> str:
    """Shared journey->transition-matrix derivation (DuckDB): per-user
    event sequence ordered by (ts, event_id); purchase is the CONV
    absorber and resets the journey (the next touch re-enters from
    START); a user's last non-converting event leaks to NULL."""
    return """
    seq AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS state,
             lag(CASE WHEN event_type = 'purchase' THEN 'CONV'
                      ELSE event_type END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rdesc
      FROM events
    ),
    trans AS (
      SELECT CASE WHEN prev IS NULL OR prev = 'CONV' THEN 'START'
                  ELSE prev END AS prev,
             state AS cur
      FROM seq
      UNION ALL
      SELECT state AS prev, 'NULL' AS cur
      FROM seq WHERE rdesc = 1 AND state <> 'CONV'
    ),
    cnt AS (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
      FROM trans GROUP BY prev, cur
    ),
    rowtot AS (
      SELECT prev, CAST(sum(n) AS BIGINT) AS row_n FROM cnt GROUP BY prev
    ),
    pmat AS (
      SELECT c.prev, c.cur,
             CAST(c.n * 1000000 // r.row_n AS BIGINT) AS p_micro
      FROM cnt c JOIN rowtot r USING (prev)
    ),
    scen AS (
      SELECT unnest(['none', 'click', 'error', 'signup', 'view'])
        AS scenario
    )"""


def _attr_oracle() -> str:
    parts = [
        _attr_journey_ctes(),
        """m0 AS (
      SELECT scenario, 'START' AS state,
             CAST(1000000000 AS BIGINT) AS m
      FROM scen
    )""",
    ]
    for t in range(1, _ATTR_ROUNDS + 1):
        parts.append(
            f"""f{t} AS (
      SELECT m.scenario, p.cur,
             CAST(m.m * p.p_micro // 1000000 AS BIGINT) AS flow
      FROM m{t - 1} m JOIN pmat p ON p.prev = m.state
      WHERE p.cur <> m.scenario
    ),
    c{t} AS (
      SELECT scenario, CAST(sum(flow) AS BIGINT) AS dc FROM f{t}
      WHERE cur = 'CONV' GROUP BY scenario
    ),
    m{t} AS (
      SELECT scenario, cur AS state, CAST(sum(flow) AS BIGINT) AS m
      FROM f{t} WHERE cur NOT IN ('CONV', 'NULL')
      GROUP BY scenario, cur
    )"""
        )
    conv_union = " UNION ALL ".join(
        f"SELECT scenario, dc FROM c{t}" for t in range(1, _ATTR_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    conv AS (
      SELECT s.scenario, CAST(COALESCE(sum(u.dc), 0) AS BIGINT) AS conv_nano
      FROM scen s LEFT JOIN ({conv_union}) u USING (scenario)
      GROUP BY s.scenario
    ),
    base AS (SELECT conv_nano AS b FROM conv WHERE scenario = 'none'),
    re AS (
      SELECT scenario AS channel, conv_nano,
             (SELECT b FROM base) - conv_nano AS re_nano
      FROM conv WHERE scenario <> 'none'
    ),
    tot AS (SELECT CAST(sum(re_nano) AS BIGINT) AS t FROM re)
    SELECT r.channel,
           (SELECT b FROM base) AS conv_base_nano,
           r.conv_nano AS conv_removed_nano,
           CAST(r.re_nano AS BIGINT) AS removal_effect_nano,
           CAST(CASE WHEN (SELECT t FROM tot) = 0 THEN 0
                     ELSE r.re_nano * 1000 // (SELECT t FROM tot)
                END AS BIGINT) AS attribution_milli
    FROM re r
    """
    )


@register("events_attribution_markov", oracle=_attr_oracle())
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016) — the
    data-driven successor of events_attribution_linear's heuristic
    equal-credit: journeys become a first-order chain (START ->
    touches -> CONV on purchase, last unconverted touch -> NULL),
    and each channel's credit is its REMOVAL EFFECT — how much
    absorption mass CONV loses when every transition into that channel
    is redirected to NULL. Removing a channel can only intercept
    journeys, so conv_removed <= conv_base term-by-term in the exact
    integer arithmetic, and credits are nonnegative by construction.
    Absorption runs as {_ATTR_ROUNDS} unrolled mass-propagation steps
    in integer nano units, all five scenarios (base + four removals)
    propagating TOGETHER as one (scenario, state) keyed frame — the
    removal filter is simply cur <> scenario, since 'none' names no
    channel. The DuckDB oracle replays every step bit-exactly.

    Scale shape: ONE window pass over events (the same per-user
    shuffle the sessionization family pays) collapses the corpus to a
    <=7x7 transition matrix; the five-scenario propagation is
    |scenarios| x |states| rows per round — broadcast-trivial joins,
    driver-free, O(1) in corpus size after the first exchange."""
    ev = load_table(spark, sf_dir, "events")
    st = F.when(F.col("event_type") == "purchase", "CONV").otherwise(
        F.col("event_type")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = ev.select(
        st.alias("state"),
        F.lag(st).over(w).alias("prev"),
        F.row_number().over(wd).alias("rdesc"),
    )
    trans = seq.select(
        F.when(
            F.col("prev").isNull() | (F.col("prev") == "CONV"), "START"
        )
        .otherwise(F.col("prev"))
        .alias("prev"),
        F.col("state").alias("cur"),
    ).unionByName(
        seq.filter((F.col("rdesc") == 1) & (F.col("state") != "CONV")).select(
            F.col("state").alias("prev"), F.lit("NULL").alias("cur")
        )
    )
    cnt = trans.groupBy("prev", "cur").agg(
        F.count("*").cast("long").alias("n")
    )
    rowtot = cnt.groupBy("prev").agg(F.sum("n").cast("long").alias("row_n"))
    pmat = cnt.join(rowtot, "prev").select(
        "prev",
        "cur",
        F.expr("n * 1000000 div row_n").cast("long").alias("p_micro"),
    )
    # the chain is a MODEL ARTIFACT bounded by (|channels|+3)^2: the
    # corpus-sized work (window pass + transition counts) stays
    # distributed above; the five-scenario absorption is exact
    # integer arithmetic over that collected matrix — running it as
    # 8 unrolled Spark rounds costs ~40 scheduler stages of pure
    # overhead for identical numbers (measured 3.5s -> ~0.4s)
    pm = [(r["prev"], r["cur"], r["p_micro"]) for r in pmat.collect()]
    conv: dict[str, int] = {}
    for sc in ("none", *_ATTR_CHANNELS):
        mass = {"START": 1_000_000_000}
        acc = 0
        for _ in range(_ATTR_ROUNDS):
            nxt: dict[str, int] = {}
            for prev, cur, p in pm:
                if prev in mass and cur != sc:
                    flow = mass[prev] * p // 1_000_000
                    if cur == "CONV":
                        acc += flow
                    elif cur != "NULL":
                        nxt[cur] = nxt.get(cur, 0) + flow
            mass = nxt
        conv[sc] = acc
    base = conv["none"]
    res = [(c, base - conv[c]) for c in _ATTR_CHANNELS]
    tot = sum(re for _, re in res)
    rows = [
        (
            c,
            int(base),
            int(conv[c]),
            int(re),
            int(re * 1000 // tot) if tot else 0,
        )
        for c, re in res
    ]
    return spark.createDataFrame(
        rows,
        "channel string, conv_base_nano bigint, conv_removed_nano bigint,"
        " removal_effect_nano bigint, attribution_milli bigint",
    )


@register(
    "window_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, day_idx, y,
             CAST(max(y) OVER (PARTITION BY event_type ORDER BY day_idx)
               AS BIGINT) AS peak,
             CAST(max(y) OVER (PARTITION BY event_type ORDER BY day_idx)
               - y AS BIGINT) AS drawdown
      FROM daily
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(drawdown) AS BIGINT) AS max_drawdown_cents,
           CAST(min(CASE WHEN drawdown = (SELECT max(d2.drawdown) FROM dd d2
                                          WHERE d2.event_type = dd.event_type)
                         THEN day_idx END) AS BIGINT) AS trough_day_idx,
           CAST(max(drawdown) * 1000000 // max(peak) AS BIGINT)
             AS max_drawdown_micro
    FROM dd GROUP BY event_type
    """,
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN of the daily volume series per event type —
    the peak-to-trough decline metric: drawdown_t = running_peak_t -
    volume_t, and the report carries the worst one, its trough day
    (earliest, for determinism), and the relative depth in micro
    units. On an ops dashboard this is "how far below the best day
    have we fallen, at worst" — the complement of the volatility and
    CUSUM legs: volatility prices noise, CUSUM detects sustained mean
    shifts, drawdown prices the worst excursion. All exact-integer
    cents; the running peak is one cumulative window max, so both
    engines agree to the bit.

    Scale shape: one map-side-combinable (type, day) rollup shrinks
    events to the daily grid; the window and final agg run per type
    over O(days) rows. At 100 TB the grid is the only exchange."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = daily.select(
        "event_type",
        "day_idx",
        "y",
        F.max("y").over(w).alias("peak"),
        (F.max("y").over(w) - F.col("y")).alias("drawdown"),
    )
    mx = dd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.max("peak").cast("bigint").alias("peak_cents"),
        F.max("drawdown").cast("bigint").alias("max_drawdown_cents"),
    )
    trough = (
        dd.join(
            mx.select(
                "event_type",
                F.col("max_drawdown_cents").alias("mdd"),
            ),
            "event_type",
        )
        .filter(F.col("drawdown") == F.col("mdd"))
        .groupBy("event_type")
        .agg(F.min("day_idx").cast("bigint").alias("trough_day_idx"))
    )
    return mx.join(trough, "event_type").select(
        "event_type",
        "n_days",
        "peak_cents",
        "max_drawdown_cents",
        "trough_day_idx",
        F.expr("max_drawdown_cents * 1000000 div peak_cents")
        .cast("bigint")
        .alias("max_drawdown_micro"),
    )


_RSI_N = 14  # Cutler RSI lookback (days)


@register(
    "window_rsi_cutler",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, day_idx, y,
             y - lag(y) OVER (PARTITION BY event_type ORDER BY day_idx)
               AS chg
      FROM daily
    ),
    w AS (
      SELECT event_type, day_idx,
             CAST(sum(CASE WHEN chg > 0 THEN chg ELSE 0 END) OVER win
               AS BIGINT) AS gain,
             CAST(sum(CASE WHEN chg < 0 THEN -chg ELSE 0 END) OVER win
               AS BIGINT) AS loss,
             CAST(count(chg) OVER win AS BIGINT) AS n_chg
      FROM d
      WINDOW win AS (PARTITION BY event_type ORDER BY day_idx
                     ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_idx, gain, loss,
           CAST(CASE WHEN gain + loss = 0 THEN 500000
                     ELSE gain * 1000000 // (gain + loss)
                END AS BIGINT) AS rsi_micro
    FROM w WHERE n_chg >= {_RSI_N}
    """,
)
def window_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUTLER'S RSI over the daily volume series per event type — the
    momentum oscillator in its window-expressible form: RSI = gains /
    (gains + losses) over the trailing {_RSI_N} changes, using simple
    rolling sums (Cutler's variant) instead of Wilder's recursive
    smoothing, which makes it a pure frame aggregate both engines
    evaluate identically in exact integer cents (the recursive
    EWMA-smoothed variant belongs to the sequential-DP family —
    window_ewma holds that seat). On an ops dashboard this reads
    "is volume momentum stretched": rsi_micro near 1e6 = persistent
    growth days, near 0 = persistent decline; the flat-window
    convention 500000 marks dead series. Emitted only where the full
    {_RSI_N}-change frame exists, so every row is a real oscillator
    value, not a warm-up artifact.

    Scale shape: the (type, day) rollup is the only corpus-sized
    exchange; lag + two framed sums ride one window pass over
    O(days) rows per type."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            )
            .cast("long")
            .alias("day_idx"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    wlag = W.partitionBy("event_type").orderBy("day_idx")
    d = daily.select(
        "event_type",
        "day_idx",
        (F.col("y") - F.lag("y").over(wlag)).alias("chg"),
    )
    win = wlag.rowsBetween(-(_RSI_N - 1), W.currentRow)
    w = d.select(
        "event_type",
        "day_idx",
        F.sum(F.when(F.col("chg") > 0, F.col("chg")).otherwise(0))
        .over(win)
        .cast("bigint")
        .alias("gain"),
        F.sum(F.when(F.col("chg") < 0, -F.col("chg")).otherwise(0))
        .over(win)
        .cast("bigint")
        .alias("loss"),
        F.count("chg").over(win).cast("bigint").alias("n_chg"),
    )
    return w.filter(F.col("n_chg") >= _RSI_N).select(
        "event_type",
        "day_idx",
        "gain",
        "loss",
        F.when(F.col("gain") + F.col("loss") == 0, F.lit(500000))
        .otherwise(F.expr("gain * 1000000 div (gain + loss)"))
        .cast("bigint")
        .alias("rsi_micro"),
    )


_ATR_N = 14  # true-range lookback (days)


@register(
    "window_atr_true_range",
    oracle=f"""
    WITH base AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
             CAST(round(value * 100) AS BIGINT) AS cents, ts, event_id
      FROM events
    ),
    hilo AS (
      SELECT event_type, day_idx,
             CAST(max(cents) AS BIGINT) AS hi,
             CAST(min(cents) AS BIGINT) AS lo
      FROM base GROUP BY 1, 2
    ),
    closep AS (
      SELECT event_type, day_idx, cents AS cl FROM (
        SELECT event_type, day_idx, cents,
               row_number() OVER (PARTITION BY event_type, day_idx
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM base) WHERE rn = 1
    ),
    daily AS (
      SELECT h.event_type, h.day_idx, h.hi, h.lo, c.cl
      FROM hilo h JOIN closep c USING (event_type, day_idx)
    ),
    tr AS (
      SELECT event_type, day_idx, hi, lo, cl,
             greatest(hi - lo,
                      abs(hi - lag(cl) OVER w),
                      abs(lo - lag(cl) OVER w)) AS true_range
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
    ),
    a AS (
      SELECT event_type, day_idx, true_range,
             CAST(sum(true_range) OVER win AS BIGINT) AS tr_sum,
             CAST(count(true_range) OVER win AS BIGINT) AS n_tr
      FROM tr
      WINDOW win AS (PARTITION BY event_type ORDER BY day_idx
                     ROWS BETWEEN {_ATR_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day_idx,
           CAST(true_range AS BIGINT) AS true_range_cents,
           CAST(tr_sum * 1000 // n_tr AS BIGINT) AS atr_milli_cents
    FROM a WHERE n_tr >= {_ATR_N}
    """,
)
def window_atr_true_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE TRUE RANGE over the daily per-type price series (Wilder
    1978, simple-mean form): the daily candle derives from events
    (high = max, low = min, close = last by the deterministic
    (ts, event_id) order — the events_ohlc_rollup candle), true range
    = max(hi-lo, |hi-prev_close|, |lo-prev_close|) so overnight gaps
    count as range, and ATR = the trailing {_ATR_N}-day mean in exact
    milli-cents. The volatility-band partner of window_bollinger_bands
    (which measures deviation around a mean; ATR measures traversed
    range) — the pair is what a monitoring rule engine sizes its alert
    thresholds with. Emitted only on full frames.

    Scale shape: one (type, day) max/min/max_by rollup is the only
    corpus-sized exchange; lag + framed sum ride one window pass over
    O(days) rows per type."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    ).agg(
        F.max(cents).cast("bigint").alias("hi"),
        F.min(cents).cast("bigint").alias("lo"),
        F.max_by(cents, F.struct("ts", "event_id"))
        .cast("bigint")
        .alias("cl"),
    )
    wlag = W.partitionBy("event_type").orderBy("day_idx")
    tr = daily.select(
        "event_type",
        "day_idx",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.lag("cl").over(wlag)),
            F.abs(F.col("lo") - F.lag("cl").over(wlag)),
        ).alias("true_range"),
    )
    win = wlag.rowsBetween(-(_ATR_N - 1), W.currentRow)
    a = tr.select(
        "event_type",
        "day_idx",
        "true_range",
        F.sum("true_range").over(win).cast("bigint").alias("tr_sum"),
        F.count("true_range").over(win).cast("bigint").alias("n_tr"),
    )
    return a.filter(F.col("n_tr") >= _ATR_N).select(
        "event_type",
        "day_idx",
        F.col("true_range").cast("bigint").alias("true_range_cents"),
        F.expr("tr_sum * 1000 div n_tr")
        .cast("bigint")
        .alias("atr_milli_cents"),
    )


# --------------------------------------------------------------------------
# Kalman filter, local-level model (integer-state sequential DP)
# --------------------------------------------------------------------------

_KF_Q = 100  # process-noise variance (relative units; only Q:R matters)
_KF_R = 900  # measurement-noise variance -> steady-state gain ~0.28


def _kf_forward(xs: list[int]) -> list[tuple[int, int, int]]:
    """The integer local-level Kalman forward pass shared by the
    filter and the RTS smoother kernels: per step (level_micro,
    k_milli, p_var) under the exact recursion the recursive-CTE
    oracles replay — one implementation so the two kernels' forward
    arithmetic can never drift."""
    l, p = xs[0], _KF_R
    out = [(l, 1000, p)]
    for t in range(1, len(xs)):
        p_pred = p + _KF_Q
        k = _td(p_pred * 1000, p_pred + _KF_R)
        l = l + _td(k * (xs[t] - l), 1000)
        p = _td((1000 - k) * p_pred, 1000)
        out.append((l, k, p))
    return out


def _kf_oracle() -> str:
    kg = f"(r.p + {_KF_Q}) * 1000 // (r.p + {_KF_Q} + {_KF_R})"
    return f"""
    WITH RECURSIVE {_DAY_SPINE_CTES},
    ser AS (
      SELECT s.event_type, s.t,
             CAST(COALESCE(c.x, 0) * 1000000 AS BIGINT) AS xm
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.t = s.t
    ),
    rec AS (
      SELECT event_type, t, xm, xm AS l,
             CAST({_KF_R} AS BIGINT) AS p,
             CAST(1000 AS BIGINT) AS k
      FROM ser WHERE t = 1
      UNION ALL
      SELECT r.event_type, r.t + 1, x.xm,
             r.l + (({kg}) * (x.xm - r.l)) // 1000 AS l,
             ((1000 - ({kg})) * (r.p + {_KF_Q})) // 1000 AS p,
             CAST({kg} AS BIGINT) AS k
      FROM rec r
      JOIN ser x ON x.event_type = r.event_type AND x.t = r.t + 1
    )
    SELECT event_type, CAST(t AS INT) AS t,
           CAST(xm AS BIGINT) AS obs_micro,
           CAST(l AS BIGINT) AS level_micro,
           CAST(k AS BIGINT) AS k_milli,
           CAST(p AS BIGINT) AS p_var
    FROM rec
    """


@register("events_kalman_filter_1d", oracle=_kf_oracle())
def events_kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KALMAN FILTER, local-level model (Kalman 1960; the state-space
    complement to the smoothing DPs in this family — Holt-Winters
    assumes fixed smoothing ratios, the Kalman gain ADAPTS: it starts
    at full trust in the first observation and converges to the
    steady-state ratio the Q:R noise model implies, so early
    observations move the level fast and later ones are damped by the
    learned variance). Filters each event type's daily arrival counts
    over the gap-filled day spine; emits the full filtered trajectory
    (level, gain, posterior variance per day) so the attestation
    covers every recursion step, not just the endpoint.

    Determinism: the recursion runs ENTIRELY in integers — counts in
    micro-units, the gain in milli-units
    k = (p + Q)*1000 div (p + Q + R), level updates
    l += (k * (x - l)) div 1000, variance p = (1000 - k)*(p + Q)
    div 1000 — with truncating division on both engines (DuckDB's //
    truncates toward zero exactly like Spark's div, including on the
    negative innovation x - l; the Python kernel mirrors trunc
    explicitly because Python's // floors). The sequential dependence
    is irreducible (each day's posterior feeds the next gain); Spark
    runs the ~30-step loop per series inside ONE applyInPandas kernel,
    the DuckDB oracle replays it as a recursive CTE.

    Scale shape: the raw stream collapses to the (type, day) count
    table in one partial-agg pass; the kernel sees spine rows (days x
    types, never events), grouped BY SERIES so 1000 types parallelize
    across executors while each tiny loop stays local; state is O(1)
    per series. Q and R are RELATIVE units (only their ratio enters
    the gain), so the filter is scale-free in the series magnitude."""
    ser = _daily_count_series(spark, sf_dir).select(
        "event_type", "t", (F.col("x") * 1000000).cast("bigint").alias("xm")
    )

    def kf(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t")
        xs = [int(v) for v in pdf["xm"]]
        et = pdf["event_type"].iloc[0]
        rows = [
            (et, t + 1, xs[t], l, k, p)
            for t, (l, k, p) in enumerate(_kf_forward(xs))
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "t", "obs_micro", "level_micro",
                "k_milli", "p_var",
            ],
        )

    out_schema = (
        "event_type string, t int, obs_micro long, level_micro long,"
        " k_milli long, p_var long"
    )
    return ser.groupBy("event_type").applyInPandas(kf, out_schema)


@register(
    "events_conformal_forecast_interval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, y,
             lag(y, 7) OVER (PARTITION BY event_type ORDER BY day) AS yhat
      FROM daily
    ),
    cal AS (
      SELECT event_type, day, abs(y - yhat) AS score
      FROM lagged
      WHERE yhat IS NOT NULL AND day < DATE '2024-01-16'
    ),
    calsz AS (
      SELECT event_type,
             least(count(*), ((count(*) + 1) * 4 + 4) // 5) AS q_idx
      FROM cal GROUP BY 1
    ),
    qhat AS (
      SELECT c.event_type, c.score AS qhat_cents FROM (
        SELECT event_type, score,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY score ASC, day ASC) AS rn
        FROM cal) c
      JOIN calsz z ON z.event_type = c.event_type AND c.rn = z.q_idx
    ),
    post AS (
      SELECT l.event_type, l.day, l.y AS actual_cents,
             l.yhat AS forecast_cents, q.qhat_cents,
             l.yhat - q.qhat_cents AS lo_cents,
             l.yhat + q.qhat_cents AS hi_cents,
             CAST(CASE WHEN l.y BETWEEN l.yhat - q.qhat_cents
                                    AND l.yhat + q.qhat_cents
                  THEN 1 ELSE 0 END AS INTEGER) AS covered
      FROM lagged l JOIN qhat q USING (event_type)
      WHERE l.yhat IS NOT NULL AND l.day >= DATE '2024-01-16'
    )
    SELECT event_type, day, actual_cents, forecast_cents, qhat_cents,
           CAST(lo_cents AS BIGINT) AS lo_cents,
           CAST(hi_cents AS BIGINT) AS hi_cents, covered,
           CAST((sum(covered) OVER (PARTITION BY event_type) * 1000)
                // (count(*) OVER (PARTITION BY event_type))
             AS BIGINT) AS coverage_milli
    FROM post
    """,
)
def events_conformal_forecast_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL PREDICTION INTERVALS (Vovk et al. 2005; Lei et
    al. JASA 2018's split-conformal recipe) around the seasonal-naive
    forecaster — the forecasting family ships point predictions
    (events_backtest_naive_forecast, events_holt_winters_forecast)
    with no calibrated uncertainty; this adds the
    distribution-free interval every production forecast QA gate
    wants: on the pre-cutoff calibration window the nonconformity
    score is the absolute residual |y - yhat| of the lag-7 (one
    weekly season, 7 grid rows back) naive forecast, qhat is the
    ceil((n_cal+1)*(1-alpha))-th smallest score (alpha = 0.2, the
    finite-sample-valid order statistic — ties broken by day so the
    statistic is a concrete row), and every post-cutoff day gets the
    interval [yhat - qhat, yhat + qhat] plus its empirical coverage.
    Marginal coverage >= 80% holds by exchangeability with NO
    distributional assumption — which is why conformal intervals are
    the standard wrap around arbitrary forecasters. All arithmetic is
    exact integer cents: the order statistic, the interval endpoints,
    and the per-type coverage_milli ((sum*1000) div n — non-negative,
    so Spark's truncating div equals DuckDB's floor //) replay
    hash-exactly.

    Scale shape: ONE map-side-combinable exchange collapses events to
    the (type, day) grid; the lag, the calibration order statistic,
    and the coverage ratio are all windows over O(types x days) grid
    rows — nothing after the first partial agg is row-proportional,
    and qhat per type is a broadcast-sized artifact joined back to
    the grid. At 100 TB the calibration set is still |types| x |days|
    rows."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cutoff = F.lit("2024-01-16").cast("date")
    daily = (
        events.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            cents.alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("bigint").alias("y"))
    )
    wlag = W.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "day", "y", F.lag("y", 7).over(wlag).alias("yhat")
    ).localCheckpoint(eager=True)  # grid consumed by cal + post branches
    cal = lagged.filter(
        F.col("yhat").isNotNull() & (F.col("day") < cutoff)
    ).select("event_type", "day", F.abs(F.col("y") - F.col("yhat")).alias("score"))
    calsz = cal.groupBy("event_type").agg(
        # ceil((n_cal+1) * 0.8) as exact integer: ((n+1)*4 + 4) div 5,
        # clamped to n_cal (the standard split-conformal index)
        F.expr("least(count(1), ((count(1) + 1) * 4 + 4) div 5)").alias(
            "q_idx"
        ),
    )
    wrn = W.partitionBy("event_type").orderBy(
        F.col("score").asc(), F.col("day").asc()
    )
    qhat = (
        cal.withColumn("rn", F.row_number().over(wrn))
        .join(
            F.broadcast(calsz),
            ["event_type"],
        )
        .filter(F.col("rn") == F.col("q_idx"))
        .select("event_type", F.col("score").alias("qhat_cents"))
    )
    post = (
        lagged.filter(F.col("yhat").isNotNull() & (F.col("day") >= cutoff))
        .join(F.broadcast(qhat), "event_type")
        .select(
            "event_type",
            "day",
            F.col("y").alias("actual_cents"),
            F.col("yhat").alias("forecast_cents"),
            "qhat_cents",
            (F.col("yhat") - F.col("qhat_cents")).cast("bigint").alias("lo_cents"),
            (F.col("yhat") + F.col("qhat_cents")).cast("bigint").alias("hi_cents"),
            F.when(
                (F.col("y") >= F.col("yhat") - F.col("qhat_cents"))
                & (F.col("y") <= F.col("yhat") + F.col("qhat_cents")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("covered"),
        )
    )
    return post.select(
        "event_type",
        "day",
        "actual_cents",
        "forecast_cents",
        "qhat_cents",
        "lo_cents",
        "hi_cents",
        "covered",
        F.expr(
            "(sum(covered) over (partition by event_type) * 1000L) div "
            "count(*) over (partition by event_type)"
        )
        .cast("bigint")
        .alias("coverage_milli"),
    )


def _kf_smoother_oracle() -> str:
    kg = f"(r.p + {_KF_Q}) * 1000 // (r.p + {_KF_Q} + {_KF_R})"
    cg = f"(f.p * 1000 // (f.p + {_KF_Q}))"
    return f"""
    WITH RECURSIVE {_DAY_SPINE_CTES},
    ser AS (
      SELECT s.event_type, s.t,
             CAST(COALESCE(c.x, 0) * 1000000 AS BIGINT) AS xm
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type
                                  AND c.t = s.t
    ),
    rec AS (
      SELECT event_type, t, xm, xm AS l,
             CAST({_KF_R} AS BIGINT) AS p
      FROM ser WHERE t = 1
      UNION ALL
      SELECT r.event_type, r.t + 1, x.xm,
             r.l + (({kg}) * (x.xm - r.l)) // 1000 AS l,
             ((1000 - ({kg})) * (r.p + {_KF_Q})) // 1000 AS p
      FROM rec r
      JOIN ser x ON x.event_type = r.event_type AND x.t = r.t + 1
    ),
    fwd AS MATERIALIZED (
      SELECT event_type, t, xm, l, p FROM rec
    ),
    tmax AS (
      SELECT event_type, max(t) AS tm FROM fwd GROUP BY 1
    ),
    back AS (
      SELECT f.event_type, f.t, f.xm, f.l,
             CAST(1000 AS BIGINT) AS c, f.l AS ls, f.p AS ps
      FROM fwd f JOIN tmax m ON m.event_type = f.event_type
                            AND f.t = m.tm
      UNION ALL
      SELECT f.event_type, f.t, f.xm, f.l,
             CAST({cg} AS BIGINT) AS c,
             f.l + ({cg} * (b.ls - f.l)) // 1000 AS ls,
             f.p + ({cg} * {cg} * (b.ps - (f.p + {_KF_Q}))) // 1000000
               AS ps
      FROM back b
      JOIN fwd f ON f.event_type = b.event_type AND f.t = b.t - 1
    )
    SELECT event_type, CAST(t AS INT) AS t,
           CAST(xm AS BIGINT) AS obs_micro,
           CAST(l AS BIGINT) AS level_micro,
           CAST(c AS BIGINT) AS c_milli,
           CAST(ls AS BIGINT) AS smooth_micro,
           CAST(ps AS BIGINT) AS ps_var
    FROM back
    """


@register("events_kalman_smoother_rts", oracle=_kf_smoother_oracle())
def events_kalman_smoother_rts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAUCH-TUNG-STRIEBEL SMOOTHER, local-level model (Rauch, Tung &
    Striebel 1965) — the backward pass completing the state-space
    pair: events_kalman_filter_1d estimates each day's level from the
    PAST only (the online/serving posture); the smoother revisits the
    whole series once the window closes and conditions every day on
    ALL observations — the offline/reporting posture (backfills,
    label curation, retrospective anomaly audits want the smoothed
    level, not the filtered one). Per series: forward Kalman pass
    (the SAME shared integer recursion the filter runs —
    _kf_forward), then the backward recursion with smoother gain
    c = p*1000 div (p + Q), smoothed level
    ls_t = l_t + c*(ls_(t+1) - l_t) div 1000 and smoothed variance
    ps_t = p_t + c^2*(ps_(t+1) - (p_t + Q)) div 1e6 — all exact
    integers under the truncating-division parity the filter pinned
    (Spark div == DuckDB // == _td, including on the negative
    smoothing innovations). Emits the full trajectory: observation,
    filtered level, smoother gain, smoothed level, smoothed variance
    per day — every backward step attested, not just the endpoint.

    Oracle shape: TWO recursions — the forward CTE (identical to the
    filter's), its result pinned with AS MATERIALIZED (the r13
    Kleinberg lesson: an unmaterialized CTE feeding a recursion
    re-evaluates once per iteration — a measured 720x blowup), then
    the backward recursion anchored at each series' last day and
    joining t-1 per step.

    Scale shape: identical to the filter — the raw stream collapses
    to the (type, day) spine in one partial-agg pass; forward +
    backward are one O(days) loop with O(days) state inside a single
    applyInPandas kernel per series, and series parallelize across
    executors. The smoother needs the filtered trajectory in memory
    (O(days) per series, bounded by the spine), which is why it is
    the WINDOW-CLOSE batch pass while the filter is the streaming
    one."""
    ser = _daily_count_series(spark, sf_dir).select(
        "event_type", "t", (F.col("x") * 1000000).cast("bigint").alias("xm")
    )

    def ks(pdf):
        import pandas as pd

        pdf = pdf.sort_values("t")
        xs = [int(v) for v in pdf["xm"]]
        et = pdf["event_type"].iloc[0]
        td = _td
        fwd = _kf_forward(xs)
        n = len(xs)
        ls, ps = fwd[-1][0], fwd[-1][2]
        rows = [(et, n, xs[-1], fwd[-1][0], 1000, ls, ps)]
        for t in range(n - 2, -1, -1):
            l, _, p = fwd[t]
            c = td(p * 1000, p + _KF_Q)
            ls = l + td(c * (ls - l), 1000)
            ps = p + td(c * c * (ps - (p + _KF_Q)), 1000000)
            rows.append((et, t + 1, xs[t], l, c, ls, ps))
        return pd.DataFrame(
            rows,
            columns=[
                "event_type", "t", "obs_micro", "level_micro",
                "c_milli", "smooth_micro", "ps_var",
            ],
        )

    out_schema = (
        "event_type string, t int, obs_micro long, level_micro long,"
        " c_milli long, smooth_micro long, ps_var long"
    )
    return ser.groupBy("event_type").applyInPandas(ks, out_schema)
