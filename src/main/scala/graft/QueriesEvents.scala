package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, Freq}
import graft.sources.{Served, Tables}

/** §2 event-sequence analytics tier — funnel conversion, cohort
  * retention, transition counts over the `events` stream table (the
  * behavioral questions the reference's windowed community analytics
  * stop short of). Operators live in [[graft.operators.Behavior]]; this
  * file binds them to the test tables and states each one's exact
  * DuckDB twin.
  */
object QueriesEvents {

  type Q = (SparkSession, String) => DataFrame

  private val day = 86400L

  /** Ordered funnel over the product-shaped event types: view → click →
    * purchase, strictly increasing timestamps, greedy earliest match. */
  val funnel: Q = (s, dir) =>
    Behavior.funnelReach(Tables(s, dir).events, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  /** Daily cohort retention over first-activity cohorts. */
  val cohortRetention: Q = (s, dir) =>
    Behavior.cohortRetention(Tables(s, dir).events, "user_id", "ts", day)

  /** User-journey transition counts, skew-adaptive: plain per-user
    * window unless a user's volume exceeds the partition bound, then
    * day-chunked two-phase stitching for the heavy users only (must
    * equal the oracle's single per-user window — routing and chunk
    * decomposition are cost choices, never semantics choices).
    *
    * The routing gate reads a PERSISTED user-stats dim (r11): a served
    * store built on first invocation, then every later invocation's
    * gate is a dim-scale filter — at 100 TB the stats live in the
    * catalog/user-dim ingest maintains, and the transition query never
    * re-scans the corpus to ask who is heavy. */
  val transitions: Q = (s, dir) => {
    val store = Served.store(s, dir, "user_stats")(Tables(s, dir).events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events")).write.parquet(_))
    Behavior.transitionCounts(Tables(s, dir).events, "user_id", "ts",
      "event_id", "event_type", day,
      userCounts = Some(s.read.parquet(store)))
  }

  /** Daily activity matrix: one row per day, one count column per event
    * type — the pivot/wide reshaping, hand-lowered to per-type
    * conditional counts inside ONE map-side-combined aggregation: a
    * single calendar-keyed shuffle at any event volume, and absent
    * cells are 0 by construction (dense, engine-portable grid).
    * Deliberately NOT `Dataset.pivot`: with an explicit value list it
    * is semantically this exact query, but Spark plans it as TWO
    * aggregates ((key, value) partial then PivotFirst — two exchanges,
    * verified); the conditional-count lowering is what pivot means at
    * scale, so the library states it directly. */
  val pivotDaily: Q = (s, dir) => {
    val e = col("ts").cast("long")
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables(s, dir).events
      .select((e - (e % day)).as("w_start"), col("event_type"))
      .groupBy(col("w_start"))
      .agg(count(when(col("event_type") === types.head, 1)).as(s"n_${types.head}"),
        types.tail.map(t =>
          count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
  }

  /** Distinct users per event type via a 512-register HyperLogLog —
    * the sketch twin of the exact distinct-users analytics: two
    * KB-bounded shuffles (partial-max registers, then the per-type
    * fold) instead of an exact-distinct exchange of the user domain.
    * Output is the bit-portable sketch state (n_zero, s_scaled exact
    * integers) plus the raw estimate (one shared-constant IEEE
    * division); the ln-based range correction is [[Freq.hllCorrected]],
    * accuracy-tested in ScalaTest rather than hash-matched (libm). */
  val hllUsers: Q = (s, dir) =>
    Freq.hllDistinctByGroup(
      Tables(s, dir).events
        .select(col("event_type").as("grp"), col("user_id").as("item")),
      p = 9)
      .withColumnRenamed("grp", "event_type")

  val queries: Map[String, Q] = Map(
    "q_hll_users"        -> hllUsers,
    "q_funnel"           -> funnel,
    "q_cohort_retention" -> cohortRetention,
    "q_pivot"            -> pivotDaily,
    "q_event_transitions" -> transitions)

  /** DuckDB twin of the 60-bit md5-nibble hash (column `hx` holds the
    * md5 hex) — the SAME shared fragment QueriesLlm's sketch oracles
    * interpolate (hoisted to Freq.hexToHSql so the twins cannot drift). */
  private val hexToH: String = graft.operators.Freq.hexToHSql

  val oracle: Map[String, String] = Map(
    // register-exact HLL twin: identical salt, bucket/rho split (bin()
    // and Spark's conv(·,10,2) both render the minimal binary string),
    // identical integer denominator, and the SAME interpolated double
    // numerator — one IEEE division on each side, so even `est`
    // hash-matches
    "q_hll_users" ->
      s"""WITH h AS (
         |  SELECT event_type, ($hexToH) AS h60 FROM (
         |    SELECT event_type,
         |           md5('hl|' || CAST(user_id AS VARCHAR)) AS hx
         |    FROM events WHERE user_id IS NOT NULL)
         |), f AS (
         |  SELECT event_type, h60 % 512 AS bucket,
         |         52 - (CASE WHEN (h60 >> 9) = 0 THEN 0
         |               ELSE length(bin(h60 >> 9)) END) AS rho
         |  FROM h
         |), regs AS (
         |  SELECT event_type, bucket, MAX(rho) AS r
         |  FROM f GROUP BY 1, 2
         |)
         |SELECT event_type,
         |       512 - COUNT(*) AS n_zero,
         |       CAST(SUM(CAST(1 AS BIGINT) << (52 - r))
         |            + (512 - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS BIGINT)
         |         AS s_scaled,
         |       ${Freq.hllNumerator(9)} /
         |         CAST(SUM(CAST(1 AS BIGINT) << (52 - r))
         |              + (512 - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS BIGINT)
         |         AS est
         |FROM regs GROUP BY 1
         |""".stripMargin,
    // es = second-truncated epoch: Tables.events truncates ts to seconds
    // (the engine-portable contract), so every comparison here must too
    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |  FROM events),
        |r0 AS (
        |  SELECT user_id, MIN(es) AS rts FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |r1 AS (
        |  SELECT e.user_id, MIN(e.es) AS rts FROM ev e
        |  JOIN r0 ON e.user_id = r0.user_id
        |  WHERE e.event_type = 'click' AND e.es > r0.rts GROUP BY 1),
        |r2 AS (
        |  SELECT e.user_id, MIN(e.es) AS rts FROM ev e
        |  JOIN r1 ON e.user_id = r1.user_id
        |  WHERE e.event_type = 'purchase' AND e.es > r1.rts GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       (SELECT COUNT(*) FROM r0) AS n_users
        |UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM r1)
        |UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM r2)
        |""".stripMargin,
    "q_cohort_retention" ->
      s"""WITH grid AS (
        |  SELECT DISTINCT user_id, e - (e % $day) AS b
        |  FROM (SELECT user_id,
        |          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e
        |        FROM events) t),
        |c AS (SELECT user_id, MIN(b) AS cohort_start FROM grid GROUP BY 1)
        |SELECT c.cohort_start,
        |       CAST((g.b - c.cohort_start) // $day AS BIGINT) AS period,
        |       COUNT(*) AS n_users
        |FROM grid g JOIN c ON g.user_id = c.user_id
        |GROUP BY 1, 2
        |""".stripMargin,
    "q_pivot" ->
      s"""SELECT e - (e % $day) AS w_start,
        |  COUNT(*) FILTER (event_type = 'view')     AS n_view,
        |  COUNT(*) FILTER (event_type = 'click')    AS n_click,
        |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
        |  COUNT(*) FILTER (event_type = 'error')    AS n_error
        |FROM (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS e,
        |        event_type FROM events) t
        |GROUP BY 1
        |""".stripMargin,
    "q_event_transitions" ->
      """SELECT prev_type, event_type, COUNT(*) AS n
        |FROM (SELECT lag(event_type) OVER
        |        (PARTITION BY user_id
        |         ORDER BY date_trunc('second', ts), event_id) AS prev_type,
        |        event_type
        |      FROM events) t
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2
        |""".stripMargin)
}
