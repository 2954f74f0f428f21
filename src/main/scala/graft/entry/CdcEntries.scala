package graft

import graft.cdc.CdcBatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC core (the reference's own surface). */
private[graft] object CdcEntries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── CDC core ────────────────────────────────────────────────────────
    "cdc_latest_state" -> ((s, dir) =>
      CdcBatch
        .latestState(
          Tables.events(s, dir),
          "user_id",
          struct(col("ts"), col("event_id")),
          col("event_id"),
          col("ts"),
          col("event_type"),
          col("value")
        )
        .orderBy("user_id")),

    "cdc_apply_ops" -> ((s, dir) =>
      CdcBatch
        .applyOps(
          Tables.events(s, dir),
          "user_id",
          struct(col("ts"), col("event_id")),
          col("event_type") === "error",
          col("event_id"),
          col("ts"),
          col("event_type"),
          col("value")
        )
        .orderBy("user_id")),

    // Snapshot load through the generic TDD §4.3 rule-driven mapper
    // (cdc.TypeMapper): INTEGER→long by rule, plus per-table overrides for
    // normalization (lowercase keyword fields, 2dp money) and one derived
    // field — the same mapper handles any table (TypeMapperSpec runs a
    // second one through it).
    "cdc_snapshot_sync" -> ((s, dir) =>
      cdc.TypeMapper
        .mapTable(
          Tables.customer(s, dir),
          fields = Seq(
            "c_custkey" -> "id",
            "c_name" -> "name",
            "c_nationkey" -> "nation_id",
            "c_acctbal" -> "balance",
            "c_mktsegment" -> "segment"
          ),
          overrides = Map(
            "name" -> lower(col("c_name")),
            "balance" -> round(col("c_acctbal"), 2),
            "segment" -> lower(col("c_mktsegment"))
          ),
          extras = Seq("in_good_standing" -> (col("c_acctbal") > 0))
        )
        .orderBy("id")),

    "cdc_op_stats" -> ((s, dir) =>
      CdcBatch
        .opStats(
          Tables.events(s, dir),
          when(col("event_type") === "signup", "c").when(col("event_type") === "error", "d").otherwise("u")
        )
        .orderBy("op")),

    "cdc_changelog_rate" -> ((s, dir) =>
      Tables
        .events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .orderBy("bucket")),

    "cdc_count_parity" -> ((s, dir) => {
      val parts = Seq(
        "customer" -> Tables.customer(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "orders" -> Tables.orders(s, dir)
      ).map { case (n, df) => df.agg(count(lit(1)).as("n")).select(lit(n).as("entity"), col("n")) }
      parts.reduce(_ unionByName _).orderBy("entity")
    }),


    // SCD type-2 history off the same changelog the upsert index consumes:
    // versioned validity intervals per key, open-ended on the current row.
    "cdc_scd2_history" -> ((s, dir) =>
      CdcBatch
        .scd2(
          Tables.events(s, dir).filter(col("event_type") =!= "click"),
          "user_id",
          struct(col("ts"), col("event_id")),
          col("ts"),
          col("event_type"),
          col("value")
        )
        .orderBy("user_id", "version")),


    // Point-in-time read (the structured twin of search_dsl_json_pit):
    // the changelog's latest-state reduction frozen at a snapshot
    // timestamp — the ts <= pit filter pushes to the scan, then the same
    // map-side-combining max_by per key as cdc_latest_state. Two pits
    // over one growing changelog = time travel.
    "cdc_pit_read" -> ((s, dir) =>
      CdcBatch
        .latestState(
          Tables.events(s, dir).filter(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp")),
          "user_id",
          struct(col("ts"), col("event_id")),
          col("event_id"),
          col("ts"),
          col("event_type"),
          col("value")
        )
        .filter(col("event_type") === "purchase")
        .orderBy("user_id")
        .limit(40)),

    // As-of (temporal) join: each purchase enriched with the user's latest
    // strictly-prior event — the point-in-time lookup CDC analytics needs.
    "cdc_asof_enrich" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val probe = events.filter(col("event_type") === "purchase").select("user_id", "event_id", "ts")
      operators.AsOfJoin
        .asOf(probe, events, "user_id", "ts", "ts", "event_id", Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"), col("ts"), col("prior_event_id"), col("prior_value"))
        .orderBy("user_id", "event_id")
    })
  )

  val oracleSql: Map[String, String] = SharedOracles.withSharers(Map(
    "cdc_latest_state" ->
      """SELECT user_id, event_id, ts, event_type, value
        |FROM (SELECT user_id, event_id, ts, event_type, value,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "cdc_apply_ops" ->
      """SELECT user_id, event_id, ts, event_type, value
        |FROM (SELECT user_id, event_id, ts, event_type, value,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "cdc_snapshot_sync" ->
      """SELECT CAST(c_custkey AS BIGINT) AS id, lower(c_name) AS name,
        |       CAST(c_nationkey AS BIGINT) AS nation_id,
        |       round(c_acctbal, 2) AS balance, c_acctbal > 0 AS in_good_standing,
        |       lower(c_mktsegment) AS segment
        |FROM customer ORDER BY id""".stripMargin,

    "cdc_op_stats" ->
      """SELECT CASE WHEN event_type = 'signup' THEN 'c' WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
        |       count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY op""".stripMargin,

    "cdc_changelog_rate" ->
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "cdc_count_parity" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS entity, count(*) AS n FROM customer
        |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |  UNION ALL SELECT 'orders', count(*) FROM orders) t
        |ORDER BY entity""".stripMargin,

    "cdc_scd2_history" ->
      """SELECT user_id,
        |       CAST(row_number() OVER w AS INTEGER) AS version,
        |       ts AS valid_from,
        |       lead(ts) OVER w AS valid_to,
        |       lead(ts) OVER w IS NULL AS is_current,
        |       event_type, value
        |FROM events WHERE event_type <> 'click'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin,

    "cdc_pit_read" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') t
        |WHERE rn = 1 AND event_type = 'purchase'
        |ORDER BY user_id LIMIT 40""".stripMargin,

    "cdc_asof_enrich" ->
      """WITH probe AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT 0 AS side, ts AS uts, CAST(-9223372036854775807 AS BIGINT) AS seq,
        |         user_id, event_id, ts, CAST(NULL AS BIGINT) AS b_event_id, CAST(NULL AS DOUBLE) AS b_value
        |  FROM probe
        |  UNION ALL
        |  SELECT 1, ts, event_id, user_id, NULL, NULL, event_id, value FROM events)
        |SELECT user_id, event_id, ts, prior_event_id, prior_value FROM (
        |  SELECT side, user_id, event_id, ts,
        |         last_value(b_event_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY uts, side, seq
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_event_id,
        |         last_value(b_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY uts, side, seq
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prior_value
        |  FROM u) t
        |WHERE side = 0 ORDER BY user_id, event_id""".stripMargin
  ))
}
