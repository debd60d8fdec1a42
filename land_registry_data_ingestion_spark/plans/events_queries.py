"""Event-stream queries over ``events`` (SURVEY §2.9 batch equivalents).

Each is the batch form of a streaming concept: conflation (keep the last
message per key), tumbling-window aggregation, JSON DTO decoding (F13),
and gap-based sessionization. streaming/ wires the same logic to
``readStream`` + watermarks; the semantics here are the oracle-checked
ground truth for those tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from land_registry_data_ingestion_spark.plans.registry import query
from land_registry_data_ingestion_spark.sources.parquet import load_tables


@query(
    "evt_conflate_latest",
    sql="""
    SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def evt_conflate_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Message conflation: only the last notification per key matters
    (reference buffers triggers and keeps the final one,
    pp_complete_downloader.py:247-281)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        t.events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.col("value").alias("latest_value"),
        )
    )


@query(
    "evt_hourly_window",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def evt_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (the batch shape of a watermarked
    streaming agg)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "evt_json_extract",
    sql="""
    SELECT CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def evt_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: JSON DTO field extraction (``from_json``/``get_json_object``)
    — the Kafka-payload decode path. Malformed payloads yield NULL, not
    a query error (Spark's ``get_json_object`` semantics — the only
    viable contract for a pipeline ingesting scraped/partner JSON at
    scale; the oracle states it with a ``json_valid`` guard because
    DuckDB's ``json_extract_string`` throws on malformed input)."""
    t = load_tables(spark, sf_dir)
    return (
        t.events.select(
            F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "evt_sessionize",
    sql="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    )) > 1800000000
                    OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def evt_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) — the batch form of
    stateful streaming session windows.

    Events with no timestamp are excluded up front: they cannot be
    placed in any session, and leaving them in makes the lag chain
    depend on each engine's NULL sort position (Spark windows order
    NULLS FIRST, DuckDB NULLS LAST — adversarial-data round 8)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t.events.filter(F.col("ts").isNotNull()).select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return gaps.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "evt_asof_join",
    sql="""
    SELECT c.event_id, c.user_id,
           v.event_id AS view_event_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us,
           ROUND(v.value, 6) AS view_value
    FROM (SELECT * FROM events
          WHERE event_type = 'click'
            AND ts IS NOT NULL AND user_id IS NOT NULL) c
    ASOF JOIN (SELECT * FROM events
               WHERE event_type = 'view'
                 AND ts IS NOT NULL AND user_id IS NOT NULL) v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def evt_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click matched to the latest preceding view by the
    same user (inclusive, inner — DuckDB ``ASOF JOIN`` semantics). Spark
    has no native ASOF; :func:`...operators.asof.asof_join` re-expresses
    it as union + one running-``last`` window pass — a single shuffle of
    |clicks|+|views| rows, no range-join row explosion.

    NULL semantics are declared, not inherited: a row with no timestamp
    or no key matches nothing (``NULL >= ts`` is never true; equality
    never matches NULL). The operator enforces this; the oracle filters
    both sides explicitly because DuckDB 1.0's ASOF sort-merge instead
    sorts NULL ts last and matches a NULL-ts left row to the final right
    row (adversarial-data round 8) — an implementation artifact, not a
    semantics to reproduce."""
    from land_registry_data_ingestion_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir)
    clicks = t.events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = t.events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        clicks,
        views,
        on="user_id",
        ts_col="ts",
        value_cols={"event_id": "view_event_id", "value": "view_value"},
        inclusive=True,
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.unix_micros("ts") - F.unix_micros("ts_right")).alias("gap_us"),
        F.round("view_value", 6).alias("view_value"),
    )


@query(
    "evt_funnel",
    sql="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: a user advances a stage
    only with an event at-or-after their entry into the previous stage.

    ONE scan + ONE user-keyed shuffle (round 11, guide §2.3/§2.4; the
    previous shape ran three scans, three user-keyed aggregates, two
    joins and two barriers): every stage gate is a function of the
    user's own events. Round 12 (ADVICE): the gates walk the user's
    events through RUNNING window minima instead of collecting the full
    click/purchase timestamp lists into one aggregation row — a hot
    (bot) user's unbounded list could blow a single task's buffer,
    while a window partition spills to disk. The gate algebra is
    equivalent, not approximated: a click c advances the funnel iff
    c ≥ min(all views), which holds iff SOME view ≤ c exists, i.e. iff
    the running view-min at c (RANGE frame, ties included — the join's
    `ts >= t` admits equality) is non-NULL; likewise a purchase p
    counts iff p ≥ t_click = min eligible click, which holds iff some
    eligible click ≤ p exists, i.e. iff the running eligible-click min
    at p is non-NULL. The per-user flags then reduce in a groupBy on
    the SAME key as the window partition — no second exchange.
    Stage 2/3 membership additionally requires a non-NULL user_id: the
    oracle's `e.user_id = v.user_id` join never matches NULL, while the
    stage-1 GROUP BY keeps the NULL-user group. A NULL-ts view still
    enters stage 1 (the oracle's view GROUP BY keeps a user whose views
    all lack ts), but NULL-ts events can never anchor or match a gate
    (`ts >= t` is never true on NULL), so the click and purchase gates
    exclude them."""
    t = load_tables(spark, sf_dir)
    ev = t.events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", "ts")
    has_ts = F.col("ts").isNotNull()
    w = Window.partitionBy("user_id").orderBy("ts").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    view_run = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    staged = ev.withColumn(
        "_ec",
        F.when(
            (F.col("event_type") == "click") & has_ts & view_run.isNotNull(),
            F.col("ts"),
        ),
    )
    click_run = F.min("_ec").over(w)
    staged = staged.withColumn(
        "_ep",
        F.when(
            (F.col("event_type") == "purchase") & has_ts & click_run.isNotNull(),
            F.lit(1),
        ),
    )
    per_user = staged.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", F.lit(1))).alias(
            "_nv"
        ),
        F.count("_ec").alias("_nc"),
        F.count("_ep").alias("_np"),
    )
    keyed = F.col("user_id").isNotNull()
    # count(when(...)), not sum(when/otherwise): COUNT is 0 on an empty
    # corpus where SUM is NULL — the oracle's per-stage COUNT(*) legs
    # emit 0 rows-counted even when no user ever reached the stage
    # (empty-tier adversarial contract).
    counts = per_user.agg(
        F.count(F.when(F.col("_nv") > 0, F.lit(1))).alias("n1"),
        F.count(F.when(keyed & (F.col("_nc") > 0), F.lit(1))).alias("n2"),
        F.count(F.when(keyed & (F.col("_np") > 0), F.lit(1))).alias("n3"),
    )
    stages = F.array(
        F.struct(F.lit("1_view").alias("stage"), F.col("n1").alias("n_users")),
        F.struct(
            F.lit("2_click").alias("stage"), F.col("n2").alias("n_users")
        ),
        F.struct(
            F.lit("3_purchase").alias("stage"), F.col("n3").alias("n_users")
        ),
    )
    return counts.select(F.explode(stages).alias("_s")).select(
        "_s.stage", "_s.n_users"
    )


@query(
    "evt_retention",
    sql="""
    WITH first_seen AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN first_seen f ON a.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, a.day) <= 13
    GROUP BY 1, 2
    """,
)
def evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent active day (offset ≤ 13). Two aggregates and one
    join, all keyed on user_id — one shuffle partitioning reused; the
    (cohort, offset) re-key aggregates an already-distinct tiny frame."""
    t = load_tables(spark, sf_dir)
    ev = t.events.select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    offset = F.datediff("day", "cohort_day").cast("long")
    return (
        active.join(first_seen, "user_id")
        .withColumn("day_offset", offset)
        .filter(F.col("day_offset") <= 13)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


@query(
    "evt_anomaly_zscore",
    sql="""
    WITH ev AS (
        -- non-finite measurements are unmeasurable, not outliers: they
        -- are excluded from moment estimation AND classification.
        -- (Also what keeps the oracle computable: DuckDB's STDDEV
        -- raises Out of Range on NaN/Inf input where Spark yields NaN —
        -- adversarial-data round 8. isfinite(NULL) is NULL, so NULL
        -- values drop here too; they contributed nothing before.)
        -- abs(value) < 1e100: a FINITE but extreme value overflows the
        -- moment ACCUMULATOR — STDDEV sums squared deviations across
        -- rows, so the bound must leave headroom for |v - mu| up to 2B
        -- and for the row count, not merely keep one v² representable
        -- (two in-type values at ±9.7e153 already overflow, though each
        -- is < sqrt(DBL_MAX)). DuckDB raises Out of Range there; Spark
        -- silently yields Inf sigma (timeedge tier, round 9). At
        -- B = 1e100 the accumulator stays < n·4e200 — finite for any
        -- physically possible row count (n < 1e107).
        SELECT event_id, event_type, value
        FROM events WHERE isfinite(value) AND abs(value) < 1e100
    ),
    stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV(value) AS sigma
        FROM ev GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM ev e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    """,
)
def evt_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection: events whose value is >3 sample standard
    deviations from their type's mean. Per-type stats are one tiny
    aggregate broadcast into a map-side filter — the event log itself
    never shuffles (a window over event_type would funnel the whole log
    through a handful of partitions).

    Declared contract: a non-finite measurement (NaN/±Inf — failed
    sensor, overflowed counter) is unmeasurable, not an outlier. It is
    excluded from moment estimation (one NaN would poison its type's mu
    and sigma, flagging EVERY event of that type under Spark's
    NaN-is-greatest comparison) and never classified itself. NULL values
    were already invisible (skipped by the moments, z = NULL fails the
    filter); the explicit finite filter makes that shared contract
    engine-independent — DuckDB's moment aggregates RAISE on non-finite
    input rather than yielding NaN."""
    t = load_tables(spark, sf_dir)
    v = F.col("value")
    # isfinite(value): NaN fails ~isnan, ±Inf fails the abs test, NULL
    # propagates to NULL and the filter drops it. The < 1e100 magnitude
    # bound extends the contract to finite values that overflow the
    # moment ACCUMULATOR: STDDEV sums squared deviations over the whole
    # type, so a per-value sqrt(DBL_MAX) bound is not enough (two
    # in-type values at ±9.7e153 overflow it). Such a measurement
    # poisons the moments exactly like an Inf — Spark would yield an
    # Inf sigma (classifying nothing, silently) while DuckDB raises;
    # 1e100 leaves accumulator headroom for any possible row count.
    ev = t.events.filter(
        ~F.isnan(v) & (F.abs(v) < F.lit(1e100))
    ).select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev("value").alias("sigma")
    )
    # try_divide: a type whose values are all identical has sigma = 0 —
    # under ANSI a plain '/' fails the whole query; NULL z matches the
    # DuckDB oracle (double /0 → NULL) and falls out of the >3 filter.
    z = F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


@query(
    "evt_range_join",
    sql="""
    WITH iv AS (
        SELECT event_id AS purchase_id, ts AS lo,
               ts + INTERVAL 30 MINUTE AS hi
        FROM events WHERE event_type = 'purchase'
    )
    SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_events_30m
    FROM iv JOIN events e ON e.ts >= iv.lo AND e.ts <= iv.hi
    GROUP BY purchase_id
    """,
)
def evt_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join with NO equi key: for every purchase, how many events
    (any user) land in the 30 minutes that follow it. The naive plan is a
    nested-loop/cartesian compare of every event against every interval;
    the declared plan is ``bucketed_range_join`` — intervals exploded to
    the 30-minute buckets they overlap, a plain equi-join on the bucket
    id, then the exact BETWEEN re-check — so the comparison volume is
    per-bucket, not |events|·|purchases|, and AQE can split hot buckets.
    The plan gate (tests/test_plans.py) proves no CartesianProduct /
    BroadcastNestedLoopJoin survives."""
    from land_registry_data_ingestion_spark.operators.rangejoin import (
        bucketed_range_join,
    )

    t = load_tables(spark, sf_dir)
    ev = t.events.select(F.col("ts").alias("ev_ts"))
    iv = t.events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    joined = bucketed_range_join(
        ev, iv, left_ts_col="ev_ts", lo_col="lo", hi_col="hi", bucket_s=1800
    )
    return joined.groupBy("purchase_id").agg(
        F.count("*").alias("n_events_30m")
    )


@query(
    "evt_rolling_24h",
    sql="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           ROUND(sum(value) OVER w, 6) AS sum_value_24h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW
    )
    """,
)
def evt_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based (RANGE) rolling aggregate: per user, the count and value
    sum of that user's events in the trailing 24 hours, inclusive. Unlike
    the rows-based W2 window, the frame is defined on the time axis, so
    both engines order by second-truncated epoch (timestamp→long is a
    floor for positive epochs, matching DuckDB's floor(epoch(ts))) and
    events in the same second are peers on both sides. One shuffle on
    user_id; frame scan is bounded by the 24 h horizon per user, which is
    the property that holds at any event volume."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-86400, 0)
    )
    return t.events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_24h"),
        F.round(F.sum("value").over(w), 6).alias("sum_value_24h"),
    )


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One PageRank iteration as a CTE body (damping 0.85, round 9)."""
    return f"""
    {out} AS (
        SELECT no.v,
               ROUND(0.15 / n.n + 0.85 * COALESCE(c.s, 0), 9) AS pr
        FROM nodes no CROSS JOIN n
        LEFT JOIN (
            SELECT e.dst AS v, SUM(p.pr * e.p) AS s
            FROM en e JOIN {prev} p ON p.v = e.src
            GROUP BY 1
        ) c ON c.v = no.v
    )"""


@query(
    "evt_type_pagerank",
    sql=f"""
    WITH trans AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS dst
        FROM events WHERE ts IS NOT NULL
    ),
    edges AS (
        SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
        FROM trans WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
    en AS (SELECT e.src, e.dst, e.w / o.ow AS p
           FROM edges e JOIN outw o USING (src)),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (SELECT no.v, 1.0 / n.n AS pr FROM nodes no CROSS JOIN n),
    {_pagerank_iter_sql("pr0", "pr1")},
    {_pagerank_iter_sql("pr1", "pr2")},
    {_pagerank_iter_sql("pr2", "pr3")}
    SELECT v AS event_type, ROUND(pr, 6) AS pagerank FROM pr3
    """,
)
def evt_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the event-type
    transition graph — the iterative-algorithm shape (label propagation /
    random-walk scoring) expressed as pure DataFrame joins so a second
    engine can replay it exactly.

    Scale split: the EXPENSIVE stage is edge extraction — one lag window
    per user over the full event log (single shuffle on user_id, the same
    budget sessionization pays) — which aggregates to a type-level graph
    of driver-scale cardinality. The iterations then run on the tiny
    aggregated graph (each a broadcast join + 5-row aggregate), so the
    unrolled loop costs nothing at any event volume; per-iteration
    round-to-9 pins float parity across engines (same discipline as q3's
    weight rounding). Dangling nodes would lose their mass (no
    redistribution) — identical semantics on both sides; the transition
    graph has none by construction."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Timestamp-less events have no position in any user's sequence —
    # excluded, or the transition chain would depend on each engine's
    # NULL sort position (same contract as evt_sessionize).
    trans = (
        t.events.filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .withColumn("dst", F.lead("event_type").over(w))
        .where(F.col("dst").isNotNull())
        .select(F.col("event_type").alias("src"), "dst")
    )
    from land_registry_data_ingestion_spark.util import barrier

    # ONE pass over the event log: the type-pair graph is bounded by
    # |event_type|² (driver-scale), so barrier it small=True; the
    # nodes/en barriers below then materialize from these cached rows.
    # Barriering only nodes and en (the old shape) re-ran the full
    # lag-window extraction once per barrier — 2× the only expensive
    # stage in the query.
    edges = barrier(
        trans.groupBy("src", "dst").agg(
            F.count("*").cast("double").alias("w")
        ),
        small=True,
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    en = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("ow")).alias("p")
    )
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # each iteration references en once and nodes once — cache both so
    # the unrolled joins read ~|types|² rows instead of re-aggregating
    # them per reference (tiny-data stage overhead is the cost here, so
    # fewer stages beats fewer caches)
    nodes, en = barrier(nodes, small=True), barrier(en, small=True)
    n_nodes = nodes.agg(F.count("*").cast("double").alias("n"))
    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            en.join(pr, en.src == pr.v)
            .groupBy(F.col("dst").alias("cv"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("s"))
        )
        pr = (
            nodes.crossJoin(F.broadcast(n_nodes))
            .join(contrib, F.col("v") == F.col("cv"), "left")
            .select(
                "v",
                F.round(
                    0.15 / F.col("n")
                    + 0.85 * F.coalesce(F.col("s"), F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return pr.select(
        F.col("v").alias("event_type"), F.round("pr", 6).alias("pagerank")
    )


@query(
    "evt_gap_fill",
    sql="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n, ROUND(SUM(value), 6) AS sv
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT date_trunc('day', MIN(ts)) AS lo, date_trunc('day', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS day
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    )
    SELECT s.event_type, s.day,
           COALESCE(d.n, 0) AS n_events,
           last_value(d.sv IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_sum_value
    FROM spine s LEFT JOIN daily d
      ON d.event_type = s.event_type AND d.day = s.day
    """,
)
def evt_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-spine gap fill: a dense daily series per event type over the
    observed [min, max] day range, missing days filled with a zero count
    and a forward-filled (last-observation-carried-forward) value sum —
    the standard preparation step before any time-series model sees the
    data.

    Scale shape: the only pass over the event log is the daily hash
    aggregate (map-side combined). The spine is |types| × |days| rows —
    bounded by the time axis, not the data volume — built from one
    broadcast bounds row and ``sequence``/``explode``, and the
    forward-fill window runs over that tiny frame. Nothing here grows
    with event count except the first aggregate."""
    from land_registry_data_ingestion_spark.util import barrier

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_type", "ts", "value")
    # barrier + derive bounds and the type spine FROM the aggregate:
    # min/max over per-day minima/maxima equal the raw-log bounds, and
    # the aggregate already carries every observed type — so the event
    # log is scanned exactly once instead of three times (daily agg,
    # bounds agg, distinct types).
    daily = barrier(
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        ).agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sv")
        )
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.last("sv", ignorenulls=True).over(w).alias("ffill_sum_value"),
    )


# Truncated-EWMA taps shared by the Spark plan and the SQL oracle: 24
# hourly lags at alpha=0.3 carry >99.98% of the geometric mass; the
# identical decimal literals are embedded on both sides so each engine
# parses the exact same doubles.
_EWMA_ALPHA = 0.3
_EWMA_TAPS = 24
_EWMA_WEIGHTS = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j for j in range(_EWMA_TAPS)]


@query(
    "evt_ewma",
    sql=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (
        SELECT t.event_type,
               unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b
    ),
    dense AS (
        SELECT s.event_type, s.hour,
               CAST(COALESCE(h.n, 0) AS DOUBLE) AS x,
               COALESCE(h.n, 0) AS n_events
        FROM spine s LEFT JOIN hourly h
          ON h.event_type = s.event_type AND h.hour = s.hour
    )
    SELECT event_type, hour, n_events,
           ROUND({" + ".join(
               f"{w!r} * lag(x, {j}, CAST(0 AS DOUBLE)) OVER "
               "(PARTITION BY event_type ORDER BY hour)"
               for j, w in enumerate(_EWMA_WEIGHTS)
           )}, 6) AS ewma
    FROM dense
    """,
)
def evt_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the hourly event rate per
    type (alpha=0.3, truncated at 24 taps — the tail beyond carries
    <2e-4 of the mass), computed over the zero-filled hourly spine so
    silent hours decay the average instead of being skipped.

    The recursive EWMA definition is not replayable across engines (no
    deterministic fold), so the declared form is the truncated direct
    convolution: 24 ``lag`` terms with literal weights, summed in fixed
    left-to-right order. Both engines parse the identical decimal weight
    literals and every multiply/add is IEEE correctly-rounded on identical
    inputs, so the unrounded sums match bit-for-bit. All 24 lags share one
    window spec → one sort, one Window operator. Scale: identical story to
    ``evt_gap_fill`` — one map-combined aggregate over the log, then a
    time-axis-bounded frame."""
    from land_registry_data_ingestion_spark.util import barrier

    t = load_tables(spark, sf_dir)
    ev = t.events.select("event_type", "ts")
    # same one-scan discipline as evt_gap_fill: bounds and the type
    # spine derive from the barriered hourly aggregate.
    hourly = barrier(
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        ).agg(F.count("*").alias("n"))
    )
    bounds = hourly.agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    dense = spine.join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("n"), F.lit(0)).cast("double").alias("x"),
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    ewma = F.lit(_EWMA_WEIGHTS[0]) * F.col("x")
    for j in range(1, _EWMA_TAPS):
        ewma = ewma + F.lit(_EWMA_WEIGHTS[j]) * F.lag("x", j, 0.0).over(w)
    return dense.select(
        "event_type", "hour", "n_events", F.round(ewma, 6).alias("ewma")
    )


@query(
    "evt_graph_triangles",
    sql="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    agg AS (
        SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
               CAST(CAST((SELECT SUM(deg * (deg - 1)) FROM deg) AS DOUBLE) / 2
                    AS BIGINT) AS n_wedges,
               (SELECT n_triangles FROM tri) AS n_triangles
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           ROUND(3.0 * n_triangles / n_wedges, 6) AS clustering
    FROM agg
    """,
)
def evt_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts are adjacent when some order contains both).

    The declared plan is :func:`...operators.graph.triangle_stats` —
    degree-ordered edge orientation, so wedge enumeration is
    Σ outdeg² with outdeg = O(sqrt(E)) regardless of raw degree skew;
    the oracle counts the same triangles with the naive a<b<c three-way
    self-join, which is exactly the quadratic plan the operator exists to
    avoid. Edge build is a per-order self-join keyed on the order id
    (row explosion bounded by order size, never table size)."""
    from land_registry_data_ingestion_spark.operators.graph import triangle_stats

    t = load_tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "k").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    return triangle_stats(edges)


@query(
    "evt_sliding_users_24h",
    sql="""
    WITH hours AS (
      SELECT DISTINCT date_trunc('hour', ts) AS window_end FROM events
    ), pairs AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    )
    SELECT t.window_end, COUNT(DISTINCT p.user_id) AS n_users
    FROM hours t
    JOIN pairs p ON p.h BETWEEN t.window_end - INTERVAL 23 HOUR
                            AND t.window_end
    GROUP BY t.window_end
    """,
)
def evt_sliding_users_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h sliding count-distinct users at every hourly tick —
    the window-distinct no engine does natively over a frame.

    The oracle states it as the naive range join; the engine runs the
    interval-delta form (round 6; replaces the 24×-fan-out +
    count-distinct shape, whose (tick, user) dedup was the section's
    biggest shuffle): a user is counted at tick T iff they have an
    event hour in [T-23h, T], i.e. iff T falls inside [h, h+23h] for
    one of their event hours — so per user, merge those tick intervals
    (gaps-and-islands over each user's deduped hour set; hours ≤ 24
    apart yield contiguous coverage), emit ±1 endpoint deltas, and take
    ONE running sum over the aggregated delta spine, keeping observed
    ticks.

    Round 11 (guide §2.4): the island merge needs no window — ONE
    user-keyed aggregate collects each user's distinct hour set
    (map-side combined, the same reduction the old ``distinct()`` did),
    and the ±1 endpoint deltas derive IN-ROW from the sorted array (a
    sorted hour is an island start iff its gap to the previous exceeds
    24 h, an island end iff the gap to the next does — identical
    split rule, same interval endpoints). That removes the second
    user-keyed exchange (the old shape shuffled (user, hour) twice:
    pair distinct, then the window) and shrinks the barrier to one row
    per user. The delta aggregate stays bounded by DISTINCT HOURS IN
    THE TIME RANGE, and the final running sum is a single-task window
    over that spine (~10 years of hours = 87k rows), the same
    bounded-by-construction class as the rank operator's offset table."""
    from land_registry_data_ingestion_spark.util import barrier

    t = load_tables(spark, sf_dir)
    # NULL-ts events can never anchor or match a tick (BETWEEN over NULL
    # is never true in the oracle), so they drop here; NULL-USER events
    # stay — they contribute observed ticks (the oracle's hours CTE is
    # over ALL events) but are excluded from the per-user interval merge
    # below, so a tick whose trailing window holds only NULL-user events
    # surfaces with n_users = 0, matching COUNT(DISTINCT user_id).
    ev = t.events.filter(F.col("ts").isNotNull()).select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    )
    sec = lambda c: F.unix_timestamp(c)  # noqa: E731 — gap compare only

    # per element i (1-based): island START iff first or gap to the
    # previous hour > 24 h (same ≤24-merges rule as the old window);
    # island END iff last or gap to the next hour > 24 h. Start emits
    # (+1, h_i); end emits (-1, h_i + 24 h) — identical to the old
    # (_e + 1 h) with _e = max + 23 h. Non-contributing slots emit a
    # NULL struct and are filtered.
    def _contrib_of(hs):
        n = F.size(hs)

        def _at(i):
            # F.get (0-based) not element_at: the neighbor probes run
            # out of range at the array ends and must yield NULL, not
            # an ANSI INVALID_ARRAY_INDEX — boolean OR does not
            # short-circuit.
            return F.get(hs, i - 1)

        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.filter(
                    F.array(
                        F.when(
                            (i == 1)
                            | (sec(_at(i)) - sec(_at(i - 1)) > 86400),
                            F.struct(
                                _at(i).alias("tick"), F.lit(1).alias("d")
                            ),
                        ),
                        F.when(
                            (i == n)
                            | (sec(_at(i + 1)) - sec(_at(i)) > 86400),
                            F.struct(
                                (
                                    _at(i) + F.expr("INTERVAL 24 HOURS")
                                ).alias("tick"),
                                F.lit(-1).alias("d"),
                            ),
                        ),
                    ),
                    lambda s: s.isNotNull(),
                ),
            )
        )

    # barrier: the per-user hour sets feed BOTH the interval deltas and
    # the observed-hour spine — left lazy, the raw event scan + shuffle
    # would run twice. Hour-set size is calendar-bounded (distinct hours
    # in the data's time range), so even a hot user's array is small.
    # Round 12: the delta derivation is let-bound INSIDE the aggregate's
    # result expression, so the barrier stores (hours, deltas) per user
    # and the explodes below consume stored ATTRIBUTES — computed in a
    # Project above, Catalyst inlined the island HOFs into the Generate,
    # which re-evaluated them once per output DELTA row (plus once in
    # the inferred non-empty filter) instead of once per user.
    packed = F.element_at(
        F.transform(
            F.array(F.array_sort(F.collect_set("h"))),
            lambda hs: F.struct(
                hs.alias("hs"), _contrib_of(hs).alias("contrib")
            ),
        ),
        1,
    )
    g = barrier(ev.groupBy("user_id").agg(packed.alias("_p")))
    deltas = (
        g.filter(F.col("user_id").isNotNull())
        .select(F.explode("_p.contrib").alias("_x"))
        .select("_x.tick", "_x.d")
    )
    observed = g.select(F.explode("_p.hs").alias("tick")).distinct()
    # The delta spine only carries interval ENDPOINTS; an observed tick
    # strictly inside a coverage interval needs a 0-delta row so the
    # running sum surfaces a value AT that tick.
    spine = (
        deltas.unionByName(observed.select("tick", F.lit(0).alias("d")))
        .groupBy("tick")
        .agg(F.sum("d").alias("_d"))
    )
    run = Window.orderBy("tick").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = spine.select(
        F.col("tick").alias("window_end"),
        F.sum("_d").over(run).cast("long").alias("n_users"),
    )
    return cum.join(
        F.broadcast(observed.select(F.col("tick").alias("window_end"))),
        "window_end",
        "left_semi",
    )


_CORR_TYPES = ["click", "error", "purchase", "signup", "view"]


def _corr_sql() -> str:
    cnt = ",\n           ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS c_{t}"
        for t in _CORR_TYPES
    )
    comps = [f"CAST(COUNT(*) AS BIGINT) AS n"]
    for t in _CORR_TYPES:
        comps.append(f"CAST(SUM(c_{t}) AS BIGINT) AS s_{t}")
        comps.append(f"CAST(SUM(c_{t} * c_{t}) AS BIGINT) AS q_{t}")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_TYPES)
        for b in _CORR_TYPES[i + 1 :]
    ]
    for a, b in pairs:
        comps.append(f"CAST(SUM(c_{a} * c_{b}) AS BIGINT) AS p_{a}_{b}")
    rows = ",\n      ".join(
        f"""('{a}', '{b}',
        ROUND(CAST(n * p_{a}_{b} - s_{a} * s_{b} AS DOUBLE)
              / sqrt(CAST((n * q_{a} - s_{a} * s_{a})
                          * (n * q_{b} - s_{b} * s_{b}) AS DOUBLE)), 6))"""
        for a, b in pairs
    )
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
           {cnt}
        FROM events GROUP BY 1
    ), comp AS (
        SELECT {', '.join(comps)} FROM hourly
    )
    SELECT v.* FROM comp, (VALUES
      {rows}
    ) v(type_a, type_b, corr_counts)
    """


@query("evt_type_correlation", sql=_corr_sql())
def evt_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of hourly activity between every event-type
    pair — the co-movement matrix behind anomaly triage ("errors spike
    with purchases?").

    Engine-neutral-exact by construction: the aligned series are hourly
    COUNTS on the observed-hour spine (one hash aggregate; absent hours
    exist via the other types' events, zeros via conditional counts), so
    every Pearson component (n, Σx, Σx², Σxy) is exact BIGINT arithmetic
    with no float summation order anywhere; the one float expression —
    cast, sqrt, divide, round — runs on identical integers in both
    engines, so even the unrounded value matches bit-for-bit. One
    shuffle on the hour key; 10 output rows from a 1-row component
    frame."""
    t = load_tables(spark, sf_dir)
    cnts = [
        F.sum(
            F.when(F.col("event_type") == ty, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"c_{ty}")
        for ty in _CORR_TYPES
    ]
    hourly = t.events.groupBy(
        F.date_trunc("hour", "ts").alias("h")
    ).agg(*cnts)
    comps = [F.count("*").cast("long").alias("n")]
    for ty in _CORR_TYPES:
        comps.append(F.sum(f"c_{ty}").cast("long").alias(f"s_{ty}"))
        comps.append(
            F.sum(F.col(f"c_{ty}") * F.col(f"c_{ty}"))
            .cast("long")
            .alias(f"q_{ty}")
        )
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_TYPES)
        for b in _CORR_TYPES[i + 1 :]
    ]
    for a, b in pairs:
        comps.append(
            F.sum(F.col(f"c_{a}") * F.col(f"c_{b}"))
            .cast("long")
            .alias(f"p_{a}_{b}")
        )
    comp = hourly.agg(*comps)
    # try_divide: a type with constant hourly counts (e.g. absent from
    # the log) has zero variance — correlation is undefined (NULL, what
    # the DuckDB oracle's /0 yields), not a query-killing ANSI error.
    cells = ", ".join(
        f"""'{a}', '{b}',
        round(try_divide(CAST(n * p_{a}_{b} - s_{a} * s_{b} AS DOUBLE),
              sqrt(CAST((n * q_{a} - s_{a} * s_{a})
                          * (n * q_{b} - s_{b} * s_{b}) AS DOUBLE))), 6)"""
        for a, b in pairs
    )
    return comp.select(
        F.expr(
            f"stack({len(pairs)}, {cells}) AS (type_a, type_b, corr_counts)"
        )
    )


@query(
    "evt_user_entropy",
    sql="""
    WITH c AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), per_user AS (
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS n_events,
               list_reduce(
                   list_prepend(0.0,
                       list(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
                            ORDER BY event_type)),
                   (a, b) -> a + b) AS s
        FROM c GROUP BY user_id
    )
    SELECT user_id, n_events,
           ROUND(ln(CAST(n_events AS DOUBLE)) - s / n_events, 6) AS entropy
    FROM per_user
    """,
)
def evt_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy over event types (H = ln n − Σc·ln c
    ⁄ n) — the diversity feature behind bot/power-user segmentation.

    Cross-engine exact like `evt_ewma`: the only float summation is a
    FIXED-ORDER sequential fold over the type-sorted term list
    (`F.aggregate` here, `list_reduce` in the oracle), so both engines
    add the same correctly-rounded terms in the same order — no
    engine-specific aggregation order anywhere. Single-type users come
    out at exactly 0.0. Two shuffles, both on user keys."""
    t = load_tables(spark, sf_dir)
    c = t.events.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("n")
    )
    term = lambda x: x["n"].cast("double") * F.log(x["n"].cast("double"))
    per = c.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("event_type", "n"))),
            F.lit(0.0),
            lambda acc, x: acc + term(x),
        ).alias("s"),
    )
    return per.select(
        "user_id",
        "n_events",
        F.round(
            F.log(F.col("n_events").cast("double"))
            - F.col("s") / F.col("n_events"),
            6,
        ).alias("entropy"),
    )
