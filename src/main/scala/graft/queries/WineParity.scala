package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.operators.{Transforms, Validation}

/** Reference-parity queries (SURVEY.md §2.8 Q1/Q2): the full wine
  * `process_data` transform chain (reference
  * /root/reference/dags/wine_etl_kaggle.py:69-93) and the pandera-style
  * lazy validation report (`:104-165`), both applied to the `events`
  * fixture with `value` as the price analog and `props` as the text analog.
  */
object WineParity {

  /** Q1 — full §2.A transform chain on events:
    * try-cast coerce, drop-null, exact-median impute, literal strip (@),
    * length-with-null-0, pd.cut right-closed binning, dict-encode codes.
    * Building the query runs the median and the type dictionary as two
    * small aggregates collected to the driver; the plan it returns is one
    * scan with the median as a literal and a broadcast join against the
    * local code table.
    */
  val q01: Q = Q(
    "q01_wine_parity",
    run = { (spark, dir) =>
      val ev = Tables.events(spark, dir)
      val chain = Transforms.chain(
        // pd.to_numeric(errors='coerce') analog (value is already double —
        // try_cast is a no-op that proves the coerce path under ANSI).
        Transforms.castCoerce("value", DoubleType),
        Transforms.dropNulls(Seq("event_id")),
        df => df.withColumn("value_filled", col("value")),
        Transforms.imputeMedian("value_filled"),
        Transforms.stripChars("props", "@"),
        Transforms.strLen("props", "props_len"),
        Transforms.binRightClosed("value_filled", "value_bucket",
          Seq(0, 20, 50, 100, 500),
          Seq("cheap", "affordable", "midrange", "premium", "luxury")),
        Transforms.dictEncode("event_type", "type_code"))
      chain(ev).select(
        col("event_id"), col("user_id"), col("event_type"), col("type_code"),
        col("value_filled"), col("value_bucket"), col("props_len"),
        col("ts").as("ts_us"))
    },
    oracle = Some("""
      WITH codes AS (
        -- code table and median are computed AFTER the dropna stage
        -- (event_id IS NOT NULL), matching the engine's transform order
        SELECT event_type,
               CAST(row_number() OVER (ORDER BY event_type) - 1 AS SMALLINT) AS type_code
        FROM (SELECT DISTINCT event_type FROM events
              WHERE event_type IS NOT NULL AND event_id IS NOT NULL) d
      ), med AS (SELECT median(value) AS m FROM events
                 WHERE value IS NOT NULL AND event_id IS NOT NULL)
      SELECT e.event_id, e.user_id, e.event_type,
        COALESCE(c.type_code, CAST(-1 AS SMALLINT)) AS type_code,
        COALESCE(e.value, (SELECT m FROM med)) AS value_filled,
        CASE WHEN COALESCE(e.value, (SELECT m FROM med)) IS NULL THEN NULL
             WHEN COALESCE(e.value, (SELECT m FROM med)) <= 0   THEN NULL
             WHEN COALESCE(e.value, (SELECT m FROM med)) <= 20  THEN 'cheap'
             WHEN COALESCE(e.value, (SELECT m FROM med)) <= 50  THEN 'affordable'
             WHEN COALESCE(e.value, (SELECT m FROM med)) <= 100 THEN 'midrange'
             WHEN COALESCE(e.value, (SELECT m FROM med)) <= 500 THEN 'premium'
             ELSE 'luxury' END AS value_bucket,
        CAST(COALESCE(length(replace(e.props, '@', '')), 0) AS INTEGER) AS props_len,
        CAST(e.ts AS TIMESTAMP) AS ts_us
      FROM events e LEFT JOIN codes c ON e.event_type = c.event_type
      WHERE e.event_id IS NOT NULL"""))

  /** Q2 — pandera-style lazy validation report: every check evaluated in
    * ONE scan, failures counted + min/max offending value sampled, data
    * never gated (reference wine_etl_kaggle.py:100,157-165).
    */
  val q02: Q = Q(
    "q02_validation_report",
    run = { (spark, dir) =>
      import Validation._
      validate(Tables.events(spark, dir), Seq(
        NotNull("ts"),
        InRange("value", 0, 450, nullable = false),
        IsIn("event_type", Seq("click", "purchase", "view", "signup")),
        StrLength("props", 3, 9),
        Ge("user_id", 10, nullable = false)))
    },
    oracle = Some("""
      WITH e AS (SELECT * FROM events)
      SELECT 'ts_not_null' AS check_name,
        CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS violations,
        CAST(count(*) AS BIGINT) AS n_rows,
        min(CASE WHEN ts IS NULL THEN CAST(CAST(ts AS TIMESTAMP) AS VARCHAR) END) AS sample_min,
        max(CASE WHEN ts IS NULL THEN CAST(CAST(ts AS TIMESTAMP) AS VARCHAR) END) AS sample_max
      FROM e
      UNION ALL
      SELECT 'value_in_range',
        CAST(count(*) FILTER (WHERE NOT (value IS NOT NULL AND value BETWEEN 0 AND 450)) AS BIGINT),
        CAST(count(*) AS BIGINT),
        min(CASE WHEN NOT (value IS NOT NULL AND value BETWEEN 0 AND 450) THEN CAST(value AS VARCHAR) END),
        max(CASE WHEN NOT (value IS NOT NULL AND value BETWEEN 0 AND 450) THEN CAST(value AS VARCHAR) END)
      FROM e
      UNION ALL
      SELECT 'event_type_isin',
        CAST(count(*) FILTER (WHERE event_type IS NULL OR NOT event_type IN ('click','purchase','view','signup')) AS BIGINT),
        CAST(count(*) AS BIGINT),
        min(CASE WHEN event_type IS NULL OR NOT event_type IN ('click','purchase','view','signup') THEN event_type END),
        max(CASE WHEN event_type IS NULL OR NOT event_type IN ('click','purchase','view','signup') THEN event_type END)
      FROM e
      UNION ALL
      SELECT 'props_str_length',
        CAST(count(*) FILTER (WHERE NOT (props IS NULL OR length(props) BETWEEN 3 AND 9)) AS BIGINT),
        CAST(count(*) AS BIGINT),
        min(CASE WHEN NOT (props IS NULL OR length(props) BETWEEN 3 AND 9) THEN props END),
        max(CASE WHEN NOT (props IS NULL OR length(props) BETWEEN 3 AND 9) THEN props END)
      FROM e
      UNION ALL
      SELECT 'user_id_ge',
        CAST(count(*) FILTER (WHERE NOT (user_id IS NOT NULL AND user_id >= 10)) AS BIGINT),
        CAST(count(*) AS BIGINT),
        min(CASE WHEN NOT (user_id IS NOT NULL AND user_id >= 10) THEN CAST(user_id AS VARCHAR) END),
        max(CASE WHEN NOT (user_id IS NOT NULL AND user_id >= 10) THEN CAST(user_id AS VARCHAR) END)
      FROM e"""))

  val all: Seq[Q] = Seq(q01, q02)
}
