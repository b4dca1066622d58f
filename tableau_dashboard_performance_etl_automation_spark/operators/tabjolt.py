"""The reference's nine analytic queries, re-expressed Spark-first.

The reference embeds all of its query capability as nine Vertica SQL
strings (tabjolt_email.py:374-387 and :86; inventory in SURVEY.md
§2.7). Here each becomes a declarative DataFrame builder over the
driver's ``events`` table, with the reference's schema mapped as:

- ``response_message``  → ``event_type``   (join/group key)
- ``elapsed_time_ms``   → ``value``        (floor-int "millis")
- ``timestamp_ms``      → epoch-millis string derived from ``ts``
  (preserves the validate-string-then-cast discipline of
  tabjolt_email.py:383: ``REGEXP_LIKE(timestamp_ms,'^[0-9]+$')`` +
  ``TO_TIMESTAMP(CAST(… AS BIGINT)/1000)``)
- ``CURRENT_DATE``      → the max event date ("anchor date"), so the
  queries are deterministic for the oracle harness instead of
  depending on wall-clock time.
- ``ILIKE '%site%' / NOT ILIKE '%null%'`` → ``event_type ILIKE '%e%'
  AND NOT ILIKE '%click%'`` (same operator shapes on this corpus).

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types exactly match its DuckDB oracle twin in
``ORACLE_SQL`` (same module, kept adjacent so they evolve together).

Scale notes: the anchor date is a 1-row aggregate broadcast into the
fact scan (no driver round-trip, no collect); the baseline-vs-current
comparison joins a ≤#distinct-keys row aggregate against the fact
table — the small side is explicitly broadcast so the fact side never
shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
    digits_only,
    epoch_ms_string,
    floor_int,
    guarded_pct_diff,
    ts_from_epoch_ms_string,
)

#: Event-type filters standing in for the reference's
#: ``response_message ILIKE '%site%' AND NOT ILIKE '%null%'``
#: (tabjolt_email.py:383).
KEY_ILIKE = "%e%"
KEY_NOT_ILIKE = "%click%"

# Shared oracle SQL fragments (DuckDB dialect), mirroring the Spark
# expressions below. The anchor scalar subquery is the deterministic
# stand-in for CURRENT_DATE.
_ANCHOR_DATE_SQL = "(SELECT MAX(CAST(ts AS DATE)) FROM events)"
_TS_MS_SQL = "CAST(epoch_ms(ts) AS STRING)"
_KEY_FILTER_SQL = (
    "event_type ILIKE '%e%' AND event_type NOT ILIKE '%click%'"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with the derived columns the tabjolt-shaped queries use."""
    e = load_table(spark, sf_dir, "events")
    return e.withColumn("event_date", F.col("ts").cast("date")).withColumn(
        "ts_ms", epoch_ms_string(F.col("ts"))
    )


def _with_anchor(e: DataFrame) -> DataFrame:
    """Cross-join the 1-row max-date aggregate (broadcast — the Spark
    form of a scalar subquery that stays fully distributed)."""
    anchor = e.agg(F.max("event_date").alias("anchor_date"))
    return e.crossJoin(F.broadcast(anchor))


def _key_filter(df: DataFrame) -> DataFrame:
    return df.filter(
        F.col("event_type").ilike(KEY_ILIKE)
        & ~F.col("event_type").ilike(KEY_NOT_ILIKE)
    )


def _current_window(e_anchored: DataFrame, lookback_days: int = 0) -> DataFrame:
    """The reference's "today" (or N-day lookback) window, expressed
    through the epoch-millis-string round trip it performs
    (tabjolt_email.py:383,387)."""
    start = (
        F.col("anchor_date")
        if lookback_days == 0
        else F.date_sub(F.col("anchor_date"), lookback_days)
    )
    return e_anchored.filter(
        digits_only(F.col("ts_ms"))
        & (ts_from_epoch_ms_string(F.col("ts_ms")) >= start.cast("timestamp"))
    )


def _daily_avg_int() -> F.Column:
    """floor-int of a float-noise-rounded AVG — deterministic across
    Spark and DuckDB (see functions.expressions.floor_int)."""
    return F.floor(F.round(F.avg("value"), 4)).cast("int")


# --- §2.7 queries ---------------------------------------------------------


def q_summary_avg_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Avg run value (tabjolt_email.py:375)."""
    e = _with_anchor(_events(spark, sf_dir))
    return e.filter(F.col("event_date") == F.col("anchor_date")).agg(
        _daily_avg_int().alias("summary_value")
    )


def q_summary_max_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Max run value (tabjolt_email.py:376)."""
    e = _with_anchor(_events(spark, sf_dir))
    return e.filter(F.col("event_date") == F.col("anchor_date")).agg(
        floor_int(F.max("value")).alias("summary_value")
    )


def q_summary_min_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Min run value (tabjolt_email.py:377)."""
    e = _with_anchor(_events(spark, sf_dir))
    return e.filter(F.col("event_date") == F.col("anchor_date")).agg(
        floor_int(F.min("value")).alias("summary_value")
    )


def q_last_run_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT max(summary_timestamp)`` (tabjolt_email.py:378);
    rendered as a string so Spark/DuckDB timestamp types can't skew
    the schema comparison."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_run_ts")
    )


def q_historic_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time average of the daily Avg (tabjolt_email.py:379) —
    two-level aggregate, both map-side-combinable."""
    e = _events(spark, sf_dir)
    daily = e.groupBy("event_date").agg(F.round(F.avg("value"), 4).alias("daily_avg"))
    return daily.agg(
        F.floor(F.round(F.avg("daily_avg"), 4)).cast("int").alias("average_summary_value")
    )


def q_trend_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(date, avg) day-wise trend series for the chart
    (tabjolt_email.py:86)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_date")
        .agg(_daily_avg_int().alias("summary_value"))
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("summary_date"),
            "summary_value",
        )
        .orderBy("summary_date")
    )


def q_samples_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's samples, validated + filtered + sorted desc
    (tabjolt_email.py:382-383). Exercises P3 (rlike), P4/P5 (ilike /
    not ilike), P6 (epoch-string → timestamp ≥ midnight), P9 (cast),
    O2 (desc sort on computed column)."""
    e = _current_window(_with_anchor(_events(spark, sf_dir)))
    return (
        _key_filter(e)
        .filter(F.col("props").rlike('"k": [0-9]+'))
        .select(
            floor_int(F.col("value")).alias("elapsed_time"),
            "user_id",
            F.col("event_type").alias("request_label"),
            F.col("props").alias("response_message"),
        )
        .orderBy(F.col("elapsed_time").desc())
    )


def _baseline(e: DataFrame) -> DataFrame:
    """Per-key all-history baseline (subquery ``aa`` of
    tabjolt_email.py:385): AVG of int-cast values grouped by key."""
    return (
        _key_filter(e)
        .groupBy(F.col("event_type").alias("response"))
        .agg(
            F.round(F.avg(floor_int(F.col("value"))), 4).alias("avg_elapsed_ms")
        )
    )


def _baseline_vs_current(
    spark: SparkSession, sf_dir: str, lookback_days: int
) -> DataFrame:
    """The aa ⋈ bb comparison shared by Q7/Q8 (tabjolt_email.py:385,387).

    The reference writes ``aa LEFT OUTER JOIN bb`` and then filters on
    a comparison between the two sides, which drops every
    null-extended row — observably an inner join. We implement the
    inner form so the ≤#keys-row baseline side can be broadcast
    (Spark cannot broadcast the outer-preserved side of a left join),
    keeping the fact table shuffle-free; the DuckDB oracle retains the
    literal LEFT OUTER text and hash-matches.
    """
    e = _events(spark, sf_dir)
    # aa never references the anchor — build it from the bare scan so
    # Catalyst doesn't drag a degenerate anchor cross-join (and a
    # second full table scan) into the baseline side.
    aa = _baseline(e)
    bb = _key_filter(_current_window(_with_anchor(e), lookback_days)).select(
        floor_int(F.col("value")).alias("current_elapsed_ms"),
        F.col("event_type").alias("response_message"),
    )
    return (
        bb.join(F.broadcast(aa), aa.response == bb.response_message)
        .select(
            "avg_elapsed_ms",
            "current_elapsed_ms",
            "response_message",
            guarded_pct_diff(
                F.col("avg_elapsed_ms"), F.col("current_elapsed_ms")
            ).alias("percentage_difference"),
        )
    )


def q_regressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 (tabjolt_email.py:385): current-window samples slower than
    their per-key historical baseline, with % difference, sorted
    worst-first."""
    cmp = _baseline_vs_current(spark, sf_dir, lookback_days=0)
    return cmp.filter(F.col("avg_elapsed_ms") < F.col("current_elapsed_ms")).orderBy(
        F.col("percentage_difference").desc()
    )


def q_regressions_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 plus the renderer's red-alert rule as an engine-level column
    (strictly > 20.0 → RED, tabjolt_email.py:223)."""
    return q_regressions(spark, sf_dir).withColumn(
        "alert_flag",
        F.when(F.col("percentage_difference") > 20.0, F.lit("RED")).otherwise(
            F.lit("")
        ),
    )


def q_improvements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 (tabjolt_email.py:387): 3-day window, faster-than-baseline
    keys improved by more than 40% (strict < -40.0)."""
    cmp = _baseline_vs_current(spark, sf_dir, lookback_days=3)
    return (
        cmp.filter(F.col("avg_elapsed_ms") > F.col("current_elapsed_ms"))
        .filter(F.col("percentage_difference") < -40.0)
        .orderBy(F.col("percentage_difference").desc())
    )


# --- the daily report as three executions ---------------------------------
# ``pipeline.run_report`` collects these instead of the nine builders
# above: one scan-and-aggregate for the five metrics and the trend, one
# comparison for both tables, and today's samples. Steps 2 and 3 take the
# anchor date step 1 returned as a literal, so neither plan recomputes it.
# Their results equal the registered builders' (tests/test_reports.py).


def report_summary(e: DataFrame) -> DataFrame:
    """One row: ``anchor_date``, today's ``avg_today``/``max_today``/
    ``min_today``, ``last_run_ts``, ``historic_avg`` and ``trend``, the
    sorted (summary_date, summary_value) series of ``q_trend_series``."""
    daily = e.groupBy("event_date").agg(
        F.round(F.avg("value"), 4).alias("daily_avg4"),
        F.max("value").alias("daily_max"),
        F.min("value").alias("daily_min"),
        F.max("ts").alias("daily_last_ts"),
    )

    def on_anchor(col: str) -> F.Column:
        return floor_int(F.max_by(col, "event_date"))

    return daily.agg(
        F.max("event_date").alias("anchor_date"),
        on_anchor("daily_avg4").alias("avg_today"),
        on_anchor("daily_max").alias("max_today"),
        on_anchor("daily_min").alias("min_today"),
        F.date_format(F.max("daily_last_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "last_run_ts"
        ),
        F.floor(F.round(F.avg("daily_avg4"), 4)).cast("int").alias("historic_avg"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.date_format("event_date", "yyyy-MM-dd").alias("summary_date"),
                    floor_int(F.col("daily_avg4")).alias("summary_value"),
                )
            )
        ).alias("trend"),
    )


def _at_anchor(e: DataFrame, anchor) -> DataFrame:
    return e.withColumn("anchor_date", F.lit(anchor).cast("date"))


def report_comparison(e: DataFrame, anchor) -> DataFrame:
    """The rows of ``q_regressions`` and ``q_improvements`` together,
    unordered: one baseline broadcast to the 3-day window, where a
    regression must also fall on the anchor date. The two filters
    exclude each other, so ``avg_elapsed_ms < current_elapsed_ms`` tells
    a regression from an improvement."""
    window = _key_filter(_current_window(_at_anchor(e, anchor), lookback_days=3))
    bb = window.select(
        floor_int(F.col("value")).alias("current_elapsed_ms"),
        F.col("event_type").alias("response_message"),
        (
            ts_from_epoch_ms_string(F.col("ts_ms"))
            >= F.col("anchor_date").cast("timestamp")
        ).alias("today"),
    )
    aa = _baseline(e)
    avg, cur = F.col("avg_elapsed_ms"), F.col("current_elapsed_ms")
    pct = guarded_pct_diff(avg, cur)
    return (
        bb.join(F.broadcast(aa), aa.response == bb.response_message)
        .filter((F.col("today") & (avg < cur)) | ((avg > cur) & (pct < -40.0)))
        .select(
            avg, cur, "response_message", pct.alias("percentage_difference")
        )
    )


def report_samples(e: DataFrame, anchor) -> DataFrame:
    """``q_samples_today`` with the anchor date given."""
    return (
        _key_filter(_current_window(_at_anchor(e, anchor)))
        .filter(F.col("props").rlike('"k": [0-9]+'))
        .select(
            floor_int(F.col("value")).alias("elapsed_time"),
            "user_id",
            F.col("event_type").alias("request_label"),
            F.col("props").alias("response_message"),
        )
        .orderBy(F.col("elapsed_time").desc())
    )


QUERIES = {
    "q_summary_avg_today": q_summary_avg_today,
    "q_summary_max_today": q_summary_max_today,
    "q_summary_min_today": q_summary_min_today,
    "q_last_run_ts": q_last_run_ts,
    "q_historic_avg": q_historic_avg,
    "q_trend_series": q_trend_series,
    "q_samples_today": q_samples_today,
    "q_regressions": q_regressions,
    "q_regressions_flagged": q_regressions_flagged,
    "q_improvements": q_improvements,
}

# --- DuckDB oracle twins (ANSI-ish SQL, DuckDB dialect) -------------------

_BASELINE_SQL = f"""
    SELECT ROUND(AVG(CAST(FLOOR(value) AS INTEGER)), 4) AS avg_elapsed_ms,
           event_type AS response
    FROM events
    WHERE {_KEY_FILTER_SQL}
    GROUP BY event_type
"""


def _current_sql(window_start_sql: str) -> str:
    return f"""
    SELECT CAST(FLOOR(value) AS INTEGER) AS current_elapsed_ms,
           event_type AS response_message
    FROM events
    WHERE regexp_matches({_TS_MS_SQL}, '^[0-9]+$')
      AND to_timestamp(CAST({_TS_MS_SQL} AS BIGINT) / 1000)
          >= CAST({window_start_sql} AS TIMESTAMP)
      AND {_KEY_FILTER_SQL}
"""


def _cmp_sql(window_start_sql: str, cmp_op: str) -> str:
    """The literal aa LEFT OUTER JOIN bb + outer WHERE of
    tabjolt_email.py:385/:387."""
    return f"""
    SELECT avg_elapsed_ms, current_elapsed_ms, response_message,
           CASE WHEN avg_elapsed_ms = 0 THEN NULL
                ELSE ROUND((current_elapsed_ms - avg_elapsed_ms)
                           / avg_elapsed_ms * 100.0, 4)
           END AS percentage_difference
    FROM ({_BASELINE_SQL}) aa
    LEFT OUTER JOIN ({_current_sql(window_start_sql)}) bb
      ON aa.response = bb.response_message
    WHERE avg_elapsed_ms {cmp_op} current_elapsed_ms
"""


ORACLE_SQL = {
    "q_summary_avg_today": f"""
        SELECT CAST(FLOOR(ROUND(AVG(value), 4)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_summary_max_today": f"""
        SELECT CAST(FLOOR(MAX(value)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_summary_min_today": f"""
        SELECT CAST(FLOOR(MIN(value)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_last_run_ts": """
        SELECT strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_run_ts
        FROM events
    """,
    "q_historic_avg": """
        SELECT CAST(FLOOR(ROUND(AVG(daily_avg), 4)) AS INTEGER)
               AS average_summary_value
        FROM (
            SELECT CAST(ts AS DATE) AS event_date,
                   ROUND(AVG(value), 4) AS daily_avg
            FROM events GROUP BY CAST(ts AS DATE)
        )
    """,
    "q_trend_series": """
        SELECT CAST(CAST(ts AS DATE) AS STRING) AS summary_date,
               CAST(FLOOR(ROUND(AVG(value), 4)) AS INTEGER) AS summary_value
        FROM events
        GROUP BY CAST(ts AS DATE)
        ORDER BY summary_date
    """,
    "q_samples_today": f"""
        SELECT CAST(FLOOR(value) AS INTEGER) AS elapsed_time,
               user_id,
               event_type AS request_label,
               props AS response_message
        FROM events
        WHERE regexp_matches({_TS_MS_SQL}, '^[0-9]+$')
          AND to_timestamp(CAST({_TS_MS_SQL} AS BIGINT) / 1000)
              >= CAST({_ANCHOR_DATE_SQL} AS TIMESTAMP)
          AND {_KEY_FILTER_SQL}
          AND regexp_matches(props, '"k": [0-9]+')
        ORDER BY elapsed_time DESC
    """,
    "q_regressions": _cmp_sql(_ANCHOR_DATE_SQL, "<")
    + " ORDER BY percentage_difference DESC",
    "q_regressions_flagged": f"""
        SELECT *,
               CASE WHEN percentage_difference > 20.0 THEN 'RED' ELSE '' END
               AS alert_flag
        FROM ({_cmp_sql(_ANCHOR_DATE_SQL, "<")}) flagged
        ORDER BY percentage_difference DESC
    """,
    "q_improvements": f"""
        SELECT * FROM ({_cmp_sql(f"{_ANCHOR_DATE_SQL} - INTERVAL 3 DAY", ">")}) fin
        WHERE percentage_difference < -40.0
        ORDER BY percentage_difference DESC
    """,
}
