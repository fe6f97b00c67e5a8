package graft.operators

import graft.{QueryScope, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Behavioral-analytics operators over the `events` stream: funnel
  * conversion, cohort retention, and last-touch attribution — the
  * product-analytics queries every event warehouse runs, expressed as
  * single-shuffle window/aggregate plans.
  *
  * Time convention (same as `q_sessionize`): `events.ts` is
  * nanosecond parquet that Spark reads µs-truncated, so every
  * cross-engine comparison goes through integer epoch-µs
  * (`unix_micros` here, `epoch_us` in DuckDB) — never raw timestamps.
  * The fixture has no sub-µs components and no per-user timestamp
  * ties, so orderings are unambiguous on both engines.
  *
  * Scale design: all three operators shuffle the event stream exactly
  * once, on `user_id` — the natural key that also bounds per-partition
  * state (one user's history, never the global stream). Everything
  * after that hash partition is map-side: window functions walk each
  * user's slice, and the final rollups aggregate tiny keyspaces.
  */
object EventOps {

  private def ev(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"))

  // ---- 1. funnel conversion ----

  /** Ordered funnel view → click → purchase: a user converts a stage
    * only with an event STRICTLY AFTER their previous stage's entry
    * (the "ordered funnel" semantics — a purchase before the first
    * view does not count). Three dependent min-aggregates over ONE
    * user-partitioned window — each stage's entry time conditions the
    * next, which a flat groupBy cannot express; the window shape pays
    * one shuffle regardless of stage count. */
  def qFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val staged = ev(spark, sfDir)
      .withColumn("t1",
        min(when(col("event_type") === "view", col("tus"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("tus") > col("t1"),
          col("tus"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("tus") > col("t2"),
          col("tus"))).over(w))
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
        first(col("t3")).as("t3"))
    staged.agg(
        count(col("t1")).as("u_view"),
        count(col("t2")).as("u_click_after_view"),
        count(col("t3")).as("u_purchase_after_click"))
      .withColumn("conv_click", round(
        col("u_click_after_view").cast(DoubleType) / col("u_view"), 6))
      .withColumn("conv_purchase", round(
        col("u_purchase_after_click").cast(DoubleType) /
          nullif(col("u_click_after_view"), lit(0L)), 6))
  }

  val qFunnelOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |s1 AS (SELECT user_id,
      |         MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
      |       FROM e GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(tus) AS t2
      |       FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND tus > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(tus) AS t3
      |       FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tus > t2 GROUP BY 1),
      |agg AS (SELECT
      |  (SELECT COUNT(t1) FROM s1) AS u1,
      |  (SELECT COUNT(*) FROM s2) AS u2,
      |  (SELECT COUNT(*) FROM s3) AS u3)
      |SELECT CAST(u1 AS BIGINT) AS u_view,
      |  CAST(u2 AS BIGINT) AS u_click_after_view,
      |  CAST(u3 AS BIGINT) AS u_purchase_after_click,
      |  round(CAST(u2 AS DOUBLE) / u1, 6) AS conv_click,
      |  round(CAST(u3 AS DOUBLE) / NULLIF(u2, 0), 6) AS conv_purchase
      |FROM agg""".stripMargin

  // ---- 2. cohort retention ----

  /** Cohort retention: users grouped by the day of their first event
    * (the cohort), counted in each subsequent week they were active.
    * Shape: per-user min-day agg (shuffle on user_id), join back on
    * the SAME user_id partitioning (no second shuffle of the big
    * side — exchange reuse), then a distinct-count rollup over the
    * tiny (cohort_day, week_offset) keyspace. */
  def qRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = ev(spark, sfDir)
      .select(col("user_id"), expr("tus DIV 86400000000").as("day"))
      .distinct()
    val cohort = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        expr("(day - cohort_day) DIV 7").as("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  val qRetentionOracle: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
      |  CAST((day - cohort_day) // 7 AS BIGINT) AS week_offset,
      |  COUNT(DISTINCT d.user_id) AS n_users
      |FROM d JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_day, week_offset""".stripMargin

  // ---- 3. last-touch attribution ----

  /** Last-touch attribution: each purchase credits the latest
    * click/view by the same user strictly before it, within a 1-hour
    * window. The running "last touch" is a single ignore-nulls
    * `last()` over a ROWS frame ending one row back — the struct
    * carries (time, id) together so both fields come from the SAME
    * touch event. One shuffle on user_id; no self-join (the naive
    * per-purchase as-of self-join re-shuffles the stream twice and
    * explodes candidates; the window walks each user's slice once). */
  def qAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val maxLagUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev(spark, sfDir)
      .withColumn("touch",
        last(when(col("event_type").isin("click", "view"),
          struct(col("tus").as("t"), col("event_id").as("id"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" &&
        col("touch").isNotNull &&
        col("tus") - col("touch.t") <= maxLagUs)
      .select(col("event_id").as("purchase_id"),
        col("touch.id").as("touch_id"),
        (col("tus") - col("touch.t")).as("latency_us"))
  }

  val qAttributionOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tus
      |  FROM events),
      |t AS (SELECT event_id, event_type, tus,
      |  last_value(CASE WHEN event_type IN ('click', 'view')
      |               THEN tus END IGNORE NULLS) OVER w AS touch_t,
      |  last_value(CASE WHEN event_type IN ('click', 'view')
      |               THEN event_id END IGNORE NULLS) OVER w AS touch_id
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id AS purchase_id, touch_id,
      |  CAST(tus - touch_t AS BIGINT) AS latency_us
      |FROM t
      |WHERE event_type = 'purchase' AND touch_t IS NOT NULL
      |  AND tus - touch_t <= 3600000000
      |ORDER BY purchase_id""".stripMargin

  // ---- 4. z-score outlier detection ----

  /** Per-type z-score outliers (the monitoring/anomaly query): events
    * whose value sits ≥ 3 population standard deviations from their
    * event_type's mean. The moments are EXACT: value has two decimals,
    * so value×100 is integral and Σx, Σx² accumulate as DECIMAL(38,0)
    * window sums — order-independent, reproducible across engines and
    * runs (a float `stddev` agg drifts with partition order; same
    * discipline as q_regression). One shuffle on the tiny event_type
    * key; mean/std/z drop to double only in the final projection. */
  def qZscoreOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val xc = (col("value") * 100).cast(org.apache.spark.sql.types.DecimalType(18, 0))
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"), xc.as("x"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast(big)).over(w).cast(DoubleType))
      .withColumn("sxx", sum((col("x") * col("x")).cast(big)).over(w).cast(DoubleType))
      .withColumn("mean_c", col("sx") / col("n"))
      .withColumn("std_c", sqrt(
        (col("n") * col("sxx") - col("sx") * col("sx")) / (col("n") * col("n"))))
      .withColumn("z", (col("x").cast(DoubleType) - col("mean_c")) / col("std_c"))
      .filter(abs(col("z")) >= 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 6).as("z_r"))
  }

  val qZscoreOutliersOracle: String =
    """WITH x AS (
      |  SELECT event_id, event_type, value,
      |    CAST(CAST(value * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0)) AS xc
      |  FROM events),
      |m AS (
      |  SELECT event_id, event_type, value,
      |    CAST(xc AS DOUBLE) AS xd,
      |    COUNT(*) OVER w AS n,
      |    CAST(SUM(xc) OVER w AS DOUBLE) AS sx,
      |    CAST(SUM(xc * xc) OVER w AS DOUBLE) AS sxx
      |  FROM x WINDOW w AS (PARTITION BY event_type)),
      |z AS (
      |  SELECT event_id, event_type, value,
      |    (xd - sx / n) /
      |      sqrt((n * sxx - sx * sx) / (n * n)) AS z
      |  FROM m)
      |SELECT event_id, event_type, value, round(z, 6) AS z_r
      |FROM z WHERE abs(z) >= 3.0 ORDER BY event_id""".stripMargin

  /** Rolling 7-day active users per day (the WAU curve). Spark windows
    * cannot express a rolling COUNT DISTINCT (distinct aggregates are
    * unsupported over frames), and the naive per-day self-join
    * re-scans the activity relation once per day. The scalable rewrite
    * is the OFFSET EXPLODE: each distinct (user, day) activity row
    * contributes itself to the 7 report days it is visible from, then
    * ONE distinct-count per report day — cost is 7× the distinct
    * activity relation (tiny vs the event stream), shuffled once.
    * Report days are clipped at the TOP of the observed range only (no
    * day later than the last activity day is emitted); the earliest ~6
    * report days have windows truncated by the data start, and days
    * with zero trailing-week activity are omitted rather than reported
    * as wau=0 — both edges match the oracle's semantics. */
  def qRollingActiveUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val days = ev(spark, sfDir)
      .select(col("user_id"), expr("tus DIV 86400000000").as("day"))
      .distinct()
    days
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("report_day"))
      .groupBy(col("report_day"))
      .agg(count_distinct(col("user_id")).as("wau"))
      .join(broadcast(days.agg(max(col("day")).as("max_day"))))
      .filter(col("report_day") <= col("max_day"))
      .select(col("report_day"), col("wau"))
  }

  val qRollingActiveUsersOracle: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |x AS (
      |  SELECT user_id, day + o.o AS report_day
      |  FROM d, (SELECT unnest(generate_series(0, 6)) AS o) o),
      |mx AS (SELECT MAX(day) AS max_day FROM d)
      |SELECT CAST(report_day AS BIGINT) AS report_day,
      |  COUNT(DISTINCT user_id) AS wau
      |FROM x WHERE report_day <= (SELECT max_day FROM mx)
      |GROUP BY 1 ORDER BY report_day""".stripMargin

  // ---- EWMA metric smoothing with gap fill ----

  /** Daily per-type event counts GAP-FILLED onto a dense date spine
    * (missing days count 0 — without the spine a quiet day silently
    * vanishes and every rolling metric shifts), then smoothed with an
    * exponentially-weighted moving average — the metric-smoothing /
    * anomaly-baseline pass every monitoring layer runs over its event
    * stream. α = 1/2 with a 20-day horizon, computed in FIXED-POINT:
    * weight(lag i) = 2^(19−i), so `ewma_scaled` = Σ cnt·2^(19−i) is
    * exact Long arithmetic (a float EWMA recursion is order-sensitive
    * and would never hash-match across engines); `ewma_r` divides by
    * the full-horizon weight sum 2^20−1 once, identically both sides.
    * Scale: one tiny (type,day) aggregate, a broadcast 1-row bounds
    * join to build the spine, then ONE shuffle on event_type for the
    * lag window — per-partition state is one type's 20-day tail. */
  def qEwmaDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = ev(spark, sfDir)
      .select(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily.agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mind"), col("maxd"))).as("day"))
    val filled = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val scaled = (col("cnt") * lit(1L << 19)) +: (1 until 20).map(i =>
      coalesce(lag(col("cnt"), i).over(w), lit(0L)) * lit(1L << (19 - i)))
    filled.withColumn("ewma_scaled", scaled.reduce(_ + _))
      .withColumn("ewma_r", round(col("ewma_scaled") / 1048575.0, 6))
  }

  val qEwmaDailyOracle: String = {
    val terms = s"cnt * ${1L << 19}" + (1 until 20).map(i =>
      s" + COALESCE(lag(cnt, $i) OVER w, 0) * ${1L << (19 - i)}").mkString
    s"""WITH d AS (
       |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
       |c AS (SELECT event_type, day, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
       |b AS (SELECT MIN(day) AS mind, MAX(day) AS maxd FROM d),
       |t AS (SELECT DISTINCT event_type FROM d),
       |sp AS (SELECT t.event_type, u.day
       |       FROM t, b, unnest(generate_series(b.mind, b.maxd)) AS u(day)),
       |f AS (SELECT sp.event_type, CAST(sp.day AS BIGINT) AS day,
       |        COALESCE(c.cnt, 0) AS cnt
       |      FROM sp LEFT JOIN c ON c.event_type = sp.event_type AND c.day = sp.day)
       |SELECT event_type, day, cnt,
       |  CAST($terms AS BIGINT) AS ewma_scaled,
       |  round(($terms) / 1048575.0, 6) AS ewma_r
       |FROM f WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |ORDER BY event_type, day""".stripMargin
  }

  /** A/B TEST REPORT — the experiment read-out every event pipeline
    * ends in: users split into two arms by the SAME md5 bucket
    * assignment the sampling family uses ([[SamplingOps.bucket100]] —
    * one hashing discipline everywhere), the per-user metric is the
    * exact purchase cents sum, and the arms compare by Welch's
    * unequal-variance t statistic against the 1.96 two-sided normal
    * threshold (n ≈ users/2 per arm, where the normal approximation
    * is the standard practice). Exactness: counts, sums and sums of
    * squares are integer/decimal all the way — the only doubles are
    * the final mean/variance divisions, one per output cell, so both
    * engines compute identical IEEE results before rounding. Scale:
    * user-keyed rollup (one shuffle), then a 1-row conditional
    * aggregate; nothing here grows with event volume except the
    * first rollup. */
  def qAbTest(spark: SparkSession, sfDir: String): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val users = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents.as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c").cast(big)).as("m"))
      .withColumn("arm", SamplingOps.bucket100("user_id") % 2)
    def side(a: Int, e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("arm") === a, e).otherwise(lit(0).cast(big)))
    val agg = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      side(0, col("m")).cast(DoubleType).as("sa"),
      side(1, col("m")).cast(DoubleType).as("sb"),
      side(0, (col("m") * col("m")).cast(big)).cast(DoubleType).as("ssa"),
      side(1, (col("m") * col("m")).cast(big)).cast(DoubleType).as("ssb"))
    agg
      .withColumn("mean_a", col("sa") / col("n_a"))
      .withColumn("mean_b", col("sb") / col("n_b"))
      .withColumn("var_a", (col("n_a") * col("ssa") - col("sa") * col("sa")) /
        (col("n_a") * (col("n_a") - 1)))
      .withColumn("var_b", (col("n_b") * col("ssb") - col("sb") * col("sb")) /
        (col("n_b") * (col("n_b") - 1)))
      .withColumn("t", (col("mean_a") - col("mean_b")) /
        sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a") / 100, 6).as("mean_a_r"),
        round(col("mean_b") / 100, 6).as("mean_b_r"),
        round(col("t"), 6).as("t_r"),
        (abs(col("t")) > 1.96).as("significant"))
  }

  val qAbTestOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(CAST(value * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS m,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INT)
      |      % 100 % 2 AS arm
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |a AS (
      |  SELECT
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN m ELSE 0 END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN m ELSE 0 END) AS DOUBLE) AS sb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssb
      |  FROM u),
      |s AS (
      |  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |    sa / n_a AS mean_a, sb / n_b AS mean_b,
      |    (n_a * ssa - sa * sa) / (n_a * (n_a - 1)) AS var_a,
      |    (n_b * ssb - sb * sb) / (n_b * (n_b - 1)) AS var_b
      |  FROM a),
      |t AS (
      |  SELECT *, (mean_a - mean_b) /
      |    sqrt(var_a / n_a + var_b / n_b) AS t FROM s)
      |SELECT n_a, n_b, round(mean_a / 100, 6) AS mean_a_r,
      |  round(mean_b / 100, 6) AS mean_b_r, round(t, 6) AS t_r,
      |  abs(t) > 1.96 AS significant
      |FROM t""".stripMargin

  /** CUPED variance-reduced A/B read-out (Deng et al. 2013, "Improving
    * the Sensitivity of Online Controlled Experiments") — the
    * industry-standard upgrade to [[qAbTest]]: each user's PRE-period
    * spend is the control covariate; the adjusted metric
    * Y − θ(X − E[X]) has variance (1 − ρ²)·var(Y), so the same
    * experiment detects smaller effects. θ = cov(X,Y)/var(X) pooled
    * across both arms (pre-period data is assignment-independent, so
    * pooling is unbiased).
    *
    * Every moment (ΣX, ΣY, ΣX², ΣY², ΣXY per arm) is an EXACT
    * integer-cent decimal accumulated in the single user-level
    * aggregate, cast to double only once — so θ, both t statistics
    * and the variance-reduction figure are closed-form scalar
    * arithmetic over exact sums: no float accumulation order anywhere
    * (the repo's exact-moment discipline, [[qAbTest]]). Scale: one
    * shuffle on user_id, then a 1-row global aggregate. */
  def qAbCuped(spark: SparkSession, sfDir: String): DataFrame =
    cupedMoments(spark, sfDir)
      .select(col("n_a"), col("n_b"),
        round(col("theta"), 6).as("theta_r"),
        round((col("syb") / col("n_b") - col("sya") / col("n_a")) / 100, 6)
          .as("diff_raw_r"),
        round((col("mycb") - col("myca")) / 100, 6).as("diff_cuped_r"),
        round((col("syb") / col("n_b") - col("sya") / col("n_a")) /
          sqrt(col("vya") / col("n_a") + col("vyb") / col("n_b")), 6)
          .as("t_raw_r"),
        round((col("mycb") - col("myca")) /
          sqrt(col("vyca") / col("n_a") + col("vycb") / col("n_b")), 6)
          .as("t_cuped_r"),
        round(lit(1.0) - (col("vyca") + col("vycb")) /
          (col("vya") + col("vyb")), 6).as("var_red_r"))

  /** The shared exact-moment pipeline of the CUPED family
    * ([[qAbCuped]], [[qAbPower]]): one user-keyed rollup of pre/post
    * integer-cent sums, one 1-row conditional aggregate of every
    * moment, then the closed-form scalar columns (θ, per-arm raw and
    * CUPED-adjusted means/variances). */
  private def cupedMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val users = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), cents.as("c"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cutoff, col("c")).otherwise(lit(0)).cast(big))
          .as("x"),
        sum(when(col("ts") >= cutoff, col("c")).otherwise(lit(0)).cast(big))
          .as("y"))
      .withColumn("arm", SamplingOps.bucket100("user_id") % 2)
    def side(a: Int, e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("arm") === a, e).otherwise(lit(0).cast(big)))
        .cast(DoubleType)
    val agg = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      side(0, col("x")).as("sxa"), side(0, col("y")).as("sya"),
      side(1, col("x")).as("sxb"), side(1, col("y")).as("syb"),
      side(0, (col("x") * col("x")).cast(big)).as("sxxa"),
      side(0, (col("y") * col("y")).cast(big)).as("syya"),
      side(0, (col("x") * col("y")).cast(big)).as("sxya"),
      side(1, (col("x") * col("x")).cast(big)).as("sxxb"),
      side(1, (col("y") * col("y")).cast(big)).as("syyb"),
      side(1, (col("x") * col("y")).cast(big)).as("sxyb"))
    agg
      .withColumn("n", col("n_a") + col("n_b"))
      .withColumn("sx", col("sxa") + col("sxb"))
      .withColumn("sy", col("sya") + col("syb"))
      .withColumn("sxx", col("sxxa") + col("sxxb"))
      .withColumn("sxy", col("sxya") + col("sxyb"))
      .withColumn("theta", (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("vya", (col("n_a") * col("syya") - col("sya") * col("sya")) /
        (col("n_a") * (col("n_a") - 1)))
      .withColumn("vyb", (col("n_b") * col("syyb") - col("syb") * col("syb")) /
        (col("n_b") * (col("n_b") - 1)))
      .withColumn("vxa", (col("n_a") * col("sxxa") - col("sxa") * col("sxa")) /
        (col("n_a") * (col("n_a") - 1)))
      .withColumn("vxb", (col("n_b") * col("sxxb") - col("sxb") * col("sxb")) /
        (col("n_b") * (col("n_b") - 1)))
      .withColumn("cva", (col("n_a") * col("sxya") - col("sxa") * col("sya")) /
        (col("n_a") * (col("n_a") - 1)))
      .withColumn("cvb", (col("n_b") * col("sxyb") - col("sxb") * col("syb")) /
        (col("n_b") * (col("n_b") - 1)))
      .withColumn("vyca", col("vya") - lit(2) * col("theta") * col("cva") +
        col("theta") * col("theta") * col("vxa"))
      .withColumn("vycb", col("vyb") - lit(2) * col("theta") * col("cvb") +
        col("theta") * col("theta") * col("vxb"))
      .withColumn("myca", col("sya") / col("n_a") -
        col("theta") * (col("sxa") / col("n_a") - col("sx") / col("n")))
      .withColumn("mycb", col("syb") / col("n_b") -
        col("theta") * (col("sxb") / col("n_b") - col("sx") / col("n")))
  }

  /** POWER ANALYSIS companion to the A/B stack — the question a
    * readout owner actually asks next: "what effect COULD this
    * experiment have detected?" Minimum detectable effect at the
    * standard α = 0.05 two-sided / 80% power operating point:
    * MDE = (z_{0.975} + z_{0.80}) · SE(diff) with the constant
    * z-sum 1.959964 + 0.841621, once with the raw Welch standard
    * error and once with the CUPED-adjusted one — the dollars-valued
    * statement of what the variance reduction buys. `n_mult_r` is the
    * equivalent sample-size multiplier (a CUPED experiment detects at
    * SE parity with a raw experiment (vya+vyb)/(vyca+vycb) times its
    * size). Same exact-moment pipeline as [[qAbCuped]]
    * ([[cupedMoments]] — one user rollup, one 1-row aggregate);
    * closed-form scalar arithmetic from there, so both engines hit
    * identical IEEE doubles before rounding. */
  def qAbPower(spark: SparkSession, sfDir: String): DataFrame = {
    val zsum = lit(1.959964 + 0.841621)
    cupedMoments(spark, sfDir)
      .withColumn("se_raw",
        sqrt(col("vya") / col("n_a") + col("vyb") / col("n_b")))
      .withColumn("se_cuped",
        sqrt(col("vyca") / col("n_a") + col("vycb") / col("n_b")))
      .select(col("n_a"), col("n_b"),
        round(zsum * col("se_raw") / 100, 6).as("mde_raw_r"),
        round(zsum * col("se_cuped") / 100, 6).as("mde_cuped_r"),
        round((col("vya") + col("vyb")) / (col("vyca") + col("vycb")), 6)
          .as("n_mult_r"))
  }

  /** Shared WITH-chain of the CUPED oracles — byte-identical moment
    * derivation for [[qAbCupedOracle]] and [[qAbPowerOracle]]. */
  private val abCupedOracleChain: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
      |      THEN CAST(value * 100 AS DECIMAL(18,0)) ELSE 0 END)
      |      AS DECIMAL(38,0)) AS x,
      |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
      |      THEN CAST(value * 100 AS DECIMAL(18,0)) ELSE 0 END)
      |      AS DECIMAL(38,0)) AS y,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INT)
      |      % 100 % 2 AS arm
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS DOUBLE) AS sxa,
      |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS DOUBLE) AS sya,
      |    CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS DOUBLE) AS sxb,
      |    CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS DOUBLE) AS syb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(x * x AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sxxa,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(y * y AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS syya,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(x * y AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sxya,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(x * x AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sxxb,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(y * y AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS syyb,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(x * y AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sxyb
      |  FROM u),
      |d AS (
      |  SELECT *,
      |    n_a + n_b AS n, sxa + sxb AS sx, sya + syb AS sy,
      |    sxxa + sxxb AS sxx, sxya + sxyb AS sxy
      |  FROM a),
      |t AS (
      |  SELECT *,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
      |    (n_a * syya - sya * sya) / (n_a * (n_a - 1)) AS vya,
      |    (n_b * syyb - syb * syb) / (n_b * (n_b - 1)) AS vyb,
      |    (n_a * sxxa - sxa * sxa) / (n_a * (n_a - 1)) AS vxa,
      |    (n_b * sxxb - sxb * sxb) / (n_b * (n_b - 1)) AS vxb,
      |    (n_a * sxya - sxa * sya) / (n_a * (n_a - 1)) AS cva,
      |    (n_b * sxyb - sxb * syb) / (n_b * (n_b - 1)) AS cvb
      |  FROM d),
      |c AS (
      |  SELECT *,
      |    vya - 2 * theta * cva + theta * theta * vxa AS vyca,
      |    vyb - 2 * theta * cvb + theta * theta * vxb AS vycb,
      |    sya / n_a - theta * (sxa / n_a - sx / n) AS myca,
      |    syb / n_b - theta * (sxb / n_b - sx / n) AS mycb
      |  FROM t)""".stripMargin

  val qAbCupedOracle: String = abCupedOracleChain +
    """
      |SELECT n_a, n_b,
      |  round(theta, 6) AS theta_r,
      |  round((syb / n_b - sya / n_a) / 100, 6) AS diff_raw_r,
      |  round((mycb - myca) / 100, 6) AS diff_cuped_r,
      |  round((syb / n_b - sya / n_a) /
      |    sqrt(vya / n_a + vyb / n_b), 6) AS t_raw_r,
      |  round((mycb - myca) /
      |    sqrt(vyca / n_a + vycb / n_b), 6) AS t_cuped_r,
      |  round(1.0 - (vyca + vycb) / (vya + vyb), 6) AS var_red_r
      |FROM c""".stripMargin

  val qAbPowerOracle: String = abCupedOracleChain +
    """
      |SELECT n_a, n_b,
      |  round((1.959964 + 0.841621) *
      |    sqrt(vya / n_a + vyb / n_b) / 100, 6) AS mde_raw_r,
      |  round((1.959964 + 0.841621) *
      |    sqrt(vyca / n_a + vycb / n_b) / 100, 6) AS mde_cuped_r,
      |  round((vya + vyb) / (vyca + vycb), 6) AS n_mult_r
      |FROM c""".stripMargin

  /** SAMPLE-RATIO MISMATCH check — the experimentation-hygiene gate
    * that must pass before any A/B readout is believed: under the
    * 50/50 md5 assignment the arm sizes are binomial, and the 1-dof
    * chi-square statistic (n_a − n_b)²/(n_a + n_b) flags a broken
    * assignment (bot filtering, logging loss, redirect bias) at
    * χ² > 3.84 (p < 0.05). Counts over ALL users who emitted any
    * event — assignment precedes behavior, so the denominator is the
    * assigned population, not the purchasers. Exact integers until
    * the single division; one distinct-user aggregate. */
  def qAbSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct()
      .withColumn("arm", SamplingOps.bucket100("user_id") % 2)
    users.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round((col("n_a") - col("n_b")).cast(DoubleType) *
          (col("n_a") - col("n_b")) / (col("n_a") + col("n_b")), 6)
          .as("chi2_r"))
      .withColumn("srm", col("chi2_r") > 3.84)
  }

  val qAbSrmOracle: String =
    """WITH u AS (
      |  SELECT DISTINCT user_id FROM events),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
      |      AS INT) % 100 % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)
      |      AS INT) % 100 % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM u)
      |SELECT n_a, n_b,
      |  round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6)
      |    AS chi2_r,
      |  round(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6) > 3.84
      |    AS srm
      |FROM a""".stripMargin

  /** SEQUENTIAL A/B monitor — the mixture mSPRT of Johari et al. 2017
    * ("Peeking at A/B Tests: Why It Matters, and What to Do About
    * It"): the fixed-horizon Welch readout ([[qAbTest]]) is only valid
    * at its pre-registered end, yet every live dashboard is read
    * DAILY — the always-valid answer is the mixture sequential
    * probability ratio, whose rejection at any stopping time keeps the
    * α guarantee. Per daily cut d:
    *
    *   Λ_d = sqrt(V/(V+τ²)) · exp(δ²τ²/(2V(V+τ²)))
    *
    * with δ the arm mean difference, V = var_a/n_a + var_b/n_b its
    * estimated variance, and τ² = 10000 (τ = 100 cents) the mixture
    * prior scale — a fixed constant of the monitor, documented here,
    * not tuned to data. The always-valid p-value is the running
    * minimum of 1/Λ, i.e. exp(−running-max log Λ) capped at 1; the
    * monitor emits log Λ (never Λ itself, which can overflow) and
    * flags `rejected` from the ROUNDED p (the [[qAbSrm]] discipline).
    *
    * Daily-cut semantics: a user enters at their first purchase day
    * and their cumulative cents metric carries forward between
    * purchases — each per-user cumulative value is valid over
    * [day, next purchase day), exploded onto the daily spine. The
    * readout starts when both arms hold ≥ 2 users (variance defined).
    *
    * Exactness: per-day arm moments are integer-cent decimals cast to
    * double once; log Λ and p are closed-form scalar steps over them
    * (ln/exp are the LM-family precedent — hash-stable across engines
    * at 6-decimal rounding). Scale: one user-day rollup + one
    * user-partitioned carry-forward window, a spine explode bounded by
    * users × days, one day-keyed aggregate — the only unpartitioned
    * window (the running max) reads the days-sized post-aggregate
    * relation, never the corpus. */
  def qAbSequential(spark: SparkSession, sfDir: String): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val perDay = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"),
        cents.as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("c").cast(big)).as("s"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val cum = perDay
      .withColumn("m", sum(col("s")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast(big))
      .withColumn("nd", lead(col("day"), 1).over(wU))
    val bounds = perDay.agg(max(col("day")).as("maxd"))
    val span = cum.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("m"),
        explode(sequence(col("day"), coalesce(col("nd") - 1, col("maxd"))))
          .as("day"))
      .withColumn("arm", SamplingOps.bucket100("user_id") % 2)
    def side(a: Int, e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("arm") === a, e).otherwise(lit(0).cast(big))).cast(DoubleType)
    msprtScalars(span.groupBy(col("day")).agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      side(0, col("m")).as("sa"), side(1, col("m")).as("sb"),
      side(0, (col("m") * col("m")).cast(big)).as("ssa"),
      side(1, (col("m") * col("m")).cast(big)).as("ssb")))
  }

  /** The shared scalar half of the mSPRT monitor — per-day moments
    * (day, n_a, n_b as longs; sa, sb, ssa, ssb as doubles cast from
    * exact integer sums) → log Λ, running max, always-valid p. Shared
    * by the batch [[qAbSequential]] and the streaming delta-rollup
    * readout ([[graft.streaming.StatefulOps.sequentialReadout]]) so
    * the two monitors can never drift: identical integer moments in,
    * identical IEEE doubles out. The running-max window reads the
    * days-sized post-aggregate relation. */
  private[graft] def msprtScalars(perDay: DataFrame): DataFrame = {
    val tau2 = lit(10000.0)
    val scal = perDay
      .filter(col("n_a") >= 2 && col("n_b") >= 2)
      .withColumn("va", (col("n_a") * col("ssa") - col("sa") * col("sa")) /
        (col("n_a") * (col("n_a") - 1)))
      .withColumn("vb", (col("n_b") * col("ssb") - col("sb") * col("sb")) /
        (col("n_b") * (col("n_b") - 1)))
      .withColumn("delta", col("sb") / col("n_b") - col("sa") / col("n_a"))
      .withColumn("v", col("va") / col("n_a") + col("vb") / col("n_b"))
      .withColumn("llr", lit(0.5) * log(col("v") / (col("v") + tau2)) +
        col("delta") * col("delta") * tau2 /
          (lit(2.0) * col("v") * (col("v") + tau2)))
    val wSeq = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scal
      .withColumn("llrm", max(col("llr")).over(wSeq))
      .select(col("day"), col("n_a"), col("n_b"),
        round(col("delta") / 100, 6).as("diff_r"),
        round(col("llr"), 6).as("llr_r"),
        round(least(lit(1.0), exp(-col("llrm"))), 6).as("p_r"))
      .withColumn("rejected", col("p_r") < 0.05)
  }

  val qAbSequentialOracle: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(SUM(CAST(value * 100 AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (
      |  SELECT user_id, day,
      |    CAST(SUM(s) OVER (PARTITION BY user_id ORDER BY day)
      |      AS DECIMAL(38,0)) AS m,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nd
      |  FROM p),
      |b AS (SELECT MAX(day) AS maxd FROM p),
      |sp AS (
      |  SELECT c.user_id, c.m, u.d AS day,
      |    CAST('0x' || substr(md5(CAST(c.user_id AS VARCHAR)), 1, 4) AS INT)
      |      % 100 % 2 AS arm
      |  FROM c, b, unnest(generate_series(c.day, COALESCE(c.nd - 1, b.maxd)))
      |    AS u(d)),
      |a AS (
      |  SELECT day,
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN arm = 0 THEN m ELSE 0 END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN m ELSE 0 END) AS DOUBLE) AS sb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssb
      |  FROM sp GROUP BY 1),
      |s AS (
      |  SELECT day, n_a, n_b,
      |    (n_a * ssa - sa * sa) / (n_a * (n_a - 1)) AS va,
      |    (n_b * ssb - sb * sb) / (n_b * (n_b - 1)) AS vb,
      |    sb / n_b - sa / n_a AS delta
      |  FROM a WHERE n_a >= 2 AND n_b >= 2),
      |v AS (
      |  SELECT day, n_a, n_b, delta, va / n_a + vb / n_b AS v FROM s),
      |l AS (
      |  SELECT day, n_a, n_b, delta,
      |    0.5 * ln(v / (v + 10000.0)) +
      |      delta * delta * 10000.0 / (2.0 * v * (v + 10000.0)) AS llr
      |  FROM v),
      |r AS (
      |  SELECT day, n_a, n_b, delta, llr,
      |    MAX(llr) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llrm
      |  FROM l)
      |SELECT CAST(day AS BIGINT) AS day, n_a, n_b,
      |  round(delta / 100, 6) AS diff_r,
      |  round(llr, 6) AS llr_r,
      |  round(least(1.0, exp(-llrm)), 6) AS p_r,
      |  round(least(1.0, exp(-llrm)), 6) < 0.05 AS rejected
      |FROM r ORDER BY day""".stripMargin

  /** WINSORIZED A/B readout — the heavy-tail practice every
    * revenue-metric experiment runs (Kohavi et al., "Trustworthy
    * Online Controlled Experiments" §22: a single whale purchase can
    * swing a raw t-test for weeks, so the metric is capped at a high
    * quantile before testing): cap = the POOLED p99 of the per-user
    * metric (pooling is unbiased under the null — assignment is
    * independent of the pre-capped distribution), every user's metric
    * clamps to `least(m, cap)`, and Welch's t recomputes on the capped
    * moments beside the raw one, so the row shows what the tail was
    * doing to the readout.
    *
    * The p99 is EXACT and decomposed: a value histogram (groupBy the
    * metric — near-id cardinality, so the quantile selection goes
    * through [[SamplingOps.withGlobalCumSum]]'s range-sharded prefix
    * sum, never an unpartitioned window over it), then
    * cap = min m with cumulative count ≥ ⌈0.99·n⌉, the ceiling exact
    * in integers ((99n + 99) div 100). Moments stay integer-cent
    * decimals until the closed-form scalar step ([[qAbTest]]'s
    * discipline). Scale: one user rollup, one histogram aggregate, the
    * sharded prefix sum, two 1-row broadcasts (n, cap) — the
    * documented 1-row-broadcast category. */
  def qAbWinsorized(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0))
    val users = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents.as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c").cast(big)).as("m"))
      .withColumn("arm", SamplingOps.bucket100("user_id") % 2)
    val hist = users.groupBy(col("m")).agg(count(lit(1)).as("cnt"))
    val cum = SamplingOps.withGlobalCumSum(scope,
      hist, "cnt", "cum_excl", col("m"))
    val n1 = users.agg(count(lit(1)).as("n"))
    val cap = cum.crossJoin(broadcast(n1))
      .filter(col("cum_excl") + col("cnt") >= expr("(99 * n + 99) DIV 100"))
      .agg(min(col("m")).as("cap"))
    def side(a: Int, e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sum(when(col("arm") === a, e).otherwise(lit(0).cast(big))).cast(DoubleType)
    val agg = users.crossJoin(broadcast(cap))
      .withColumn("mc", least(col("m"), col("cap")).cast(big))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        first(col("cap")).cast(DoubleType).as("capd"),
        sum(when(col("m") > col("cap"), 1L).otherwise(0L)).as("n_capped"),
        side(0, col("m")).as("sa"), side(1, col("m")).as("sb"),
        side(0, (col("m") * col("m")).cast(big)).as("ssa"),
        side(1, (col("m") * col("m")).cast(big)).as("ssb"),
        side(0, col("mc")).as("swa"), side(1, col("mc")).as("swb"),
        side(0, (col("mc") * col("mc")).cast(big)).as("sswa"),
        side(1, (col("mc") * col("mc")).cast(big)).as("sswb"))
    def vr(n: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column,
        ss: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (n * ss - s * s) / (n * (n - 1))
    agg
      .withColumn("va", vr(col("n_a"), col("sa"), col("ssa")))
      .withColumn("vb", vr(col("n_b"), col("sb"), col("ssb")))
      .withColumn("vwa", vr(col("n_a"), col("swa"), col("sswa")))
      .withColumn("vwb", vr(col("n_b"), col("swb"), col("sswb")))
      .withColumn("t_raw", (col("sa") / col("n_a") - col("sb") / col("n_b")) /
        sqrt(col("va") / col("n_a") + col("vb") / col("n_b")))
      .withColumn("t_wins", (col("swa") / col("n_a") - col("swb") / col("n_b")) /
        sqrt(col("vwa") / col("n_a") + col("vwb") / col("n_b")))
      .select(col("n_a"), col("n_b"),
        round(col("capd") / 100, 6).as("cap_r"),
        col("n_capped"),
        round(col("t_raw"), 6).as("t_raw_r"),
        round(col("t_wins"), 6).as("t_wins_r"),
        (abs(round(col("t_wins"), 6)) > 1.96).as("significant_wins"))
  }

  val qAbWinsorizedOracle: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(CAST(value * 100 AS DECIMAL(18,0)) AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS m,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INT)
      |      % 100 % 2 AS arm
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
      |h AS (SELECT m, COUNT(*) AS cnt FROM u GROUP BY 1),
      |c AS (SELECT m, SUM(cnt) OVER (ORDER BY m
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci FROM h),
      |cp AS (SELECT MIN(m) AS cap FROM c, tot
      |  WHERE ci >= (99 * n + 99) // 100),
      |w AS (SELECT u.user_id, u.arm, u.m, cp.cap,
      |    CAST(LEAST(u.m, cp.cap) AS DECIMAL(38,0)) AS mc
      |  FROM u, cp),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(MIN(cap) AS DOUBLE) AS capd,
      |    CAST(SUM(CASE WHEN m > cap THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_capped,
      |    CAST(SUM(CASE WHEN arm = 0 THEN m ELSE 0 END) AS DOUBLE) AS sa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN m ELSE 0 END) AS DOUBLE) AS sb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(m * m AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS ssb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN mc ELSE 0 END) AS DOUBLE) AS swa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN mc ELSE 0 END) AS DOUBLE) AS swb,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(mc * mc AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sswa,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(mc * mc AS DECIMAL(38,0))
      |      ELSE 0 END) AS DOUBLE) AS sswb
      |  FROM w),
      |s AS (
      |  SELECT *,
      |    (n_a * ssa - sa * sa) / (n_a * (n_a - 1)) AS va,
      |    (n_b * ssb - sb * sb) / (n_b * (n_b - 1)) AS vb,
      |    (n_a * sswa - swa * swa) / (n_a * (n_a - 1)) AS vwa,
      |    (n_b * sswb - swb * swb) / (n_b * (n_b - 1)) AS vwb
      |  FROM a),
      |t AS (
      |  SELECT *,
      |    (sa / n_a - sb / n_b) / sqrt(va / n_a + vb / n_b) AS t_raw,
      |    (swa / n_a - swb / n_b) / sqrt(vwa / n_a + vwb / n_b) AS t_wins
      |  FROM s)
      |SELECT n_a, n_b, round(capd / 100, 6) AS cap_r, n_capped,
      |  round(t_raw, 6) AS t_raw_r, round(t_wins, 6) AS t_wins_r,
      |  abs(round(t_wins, 6)) > 1.96 AS significant_wins
      |FROM t""".stripMargin

  /** SEASONAL residual anomalies — the weekly-pattern-aware monitor:
    * a Monday-shaped traffic dip is normal on Mondays, so the plain
    * z-score ([[qZscoreOutliers]]) and even the MAD variant false-
    * alarm on every weekend; the classical fix (the additive seasonal
    * decomposition, STL's first step) subtracts the per-(type,
    * day-of-week) mean from each gap-filled daily count and z-scores
    * the RESIDUALS per type. `dow = day % 7` on epoch-days is
    * calendar-free and identical in both engines. Every window here
    * is partitioned (by (type, dow) then by type) over the
    * spine-sized daily relation — the corpus collapsed to
    * types × days in one shuffle. */
  def qSeasonalResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = ev(spark, sfDir)
      .select(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily.agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("mind"), col("maxd"))).as("day"))
    val filled = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wd = Window.partitionBy(col("event_type"), col("dow"))
    val wt = Window.partitionBy(col("event_type"))
    filled
      .withColumn("dow", col("day") % 7)
      .withColumn("nd", count(lit(1)).over(wd))
      .withColumn("sd", sum(col("cnt")).over(wd))
      .withColumn("resid", col("cnt").cast(DoubleType) -
        col("sd").cast(DoubleType) / col("nd"))
      .withColumn("n2", count(lit(1)).over(wt))
      .withColumn("sr", sum(col("resid")).over(wt))
      .withColumn("srr", sum(col("resid") * col("resid")).over(wt))
      .withColumn("z", (col("resid") - col("sr") / col("n2")) /
        sqrt((col("n2") * col("srr") - col("sr") * col("sr")) /
          (col("n2") * col("n2"))))
      .filter(abs(col("z")) >= 2.0)
      .select(col("event_type"), col("day"), col("cnt"),
        round(col("resid"), 6).as("resid_r"), round(col("z"), 6).as("z_r"))
  }

  val qSeasonalResidualsOracle: String =
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT event_type, day, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
      |b AS (SELECT MIN(day) AS mind, MAX(day) AS maxd FROM d),
      |t AS (SELECT DISTINCT event_type FROM d),
      |sp AS (SELECT t.event_type, u.day
      |       FROM t, b, unnest(generate_series(b.mind, b.maxd)) AS u(day)),
      |f AS (SELECT sp.event_type, CAST(sp.day AS BIGINT) AS day,
      |        COALESCE(c.cnt, 0) AS cnt
      |      FROM sp LEFT JOIN c ON c.event_type = sp.event_type AND c.day = sp.day),
      |r AS (
      |  SELECT event_type, day, cnt,
      |    CAST(cnt AS DOUBLE) -
      |      CAST(SUM(cnt) OVER wd AS DOUBLE) / COUNT(*) OVER wd AS resid
      |  FROM (SELECT *, day % 7 AS dow FROM f)
      |  WINDOW wd AS (PARTITION BY event_type, dow)),
      |z AS (
      |  SELECT event_type, day, cnt, resid,
      |    (resid - SUM(resid) OVER wt / COUNT(*) OVER wt) /
      |    sqrt((COUNT(*) OVER wt * SUM(resid * resid) OVER wt -
      |          SUM(resid) OVER wt * SUM(resid) OVER wt) /
      |         (COUNT(*) OVER wt * COUNT(*) OVER wt)) AS z
      |  FROM r WINDOW wt AS (PARTITION BY event_type))
      |SELECT event_type, day, cnt, round(resid, 6) AS resid_r,
      |  round(z, 6) AS z_r
      |FROM z WHERE abs(z) >= 2.0 ORDER BY event_type, day""".stripMargin

  /** ROBUST anomaly detection on the daily event-volume series:
    * median/MAD instead of mean/σ (Leys et al. 2013's standard
    * robust-z) — the monitor that does NOT let one spike inflate its
    * own threshold, which is exactly how the z-score twin
    * ([[qZscoreOutliers]]) goes blind during incidents. A day is
    * anomalous when |count − med| > 3·1.4826·MAD.
    *
    * Exactness: medians are the repo's LOWER-median convention
    * (row_number = (n+1) DIV 2 over a deterministic (value, day)
    * order — pure integers, same as q_median_exact), so med, MAD and
    * the deviation are exact Longs, and the 3·1.4826 scale folds into
    * the integer cross-multiplication 10⁴·dev > 44478·MAD. No floats
    * anywhere.
    *
    * Scale shape: the daily rollup is ONE map-side-combining shuffle
    * of the event stream; everything after runs on the (type, day)
    * relation — days × types rows, metadata-sized forever. Both
    * median picks are windows over that tiny relation sharing the
    * event_type partitioning. */
  def qAnomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val daily = ev(spark, sfDir)
      .groupBy(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("cnt"), col("day"))))
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("med", max(when(col("rn") === expr("(n + 1) DIV 2"),
        col("cnt"))).over(wt))
      .withColumn("dev", abs(col("cnt") - col("med")))
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("dev"), col("day"))))
      .withColumn("mad", max(when(col("rn2") === expr("(n + 1) DIV 2"),
        col("dev"))).over(wt))
      .select(col("event_type"), col("day"), col("cnt"), col("med"),
        col("mad"), col("dev"),
        (col("dev") * 10000 > col("mad") * 44478).as("is_anomaly"))
  }

  val qAnomalyMadOracle: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m1 AS (
      |  SELECT event_type, day, cnt,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily),
      |m2 AS (
      |  SELECT event_type, day, cnt, n,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
      |      OVER (PARTITION BY event_type) AS med
      |  FROM m1),
      |m3 AS (
      |  SELECT event_type, day, cnt, n, med, abs(cnt - med) AS dev,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(cnt - med), day) AS rn2
      |  FROM m2),
      |m4 AS (
      |  SELECT event_type, day, cnt, med, dev,
      |    MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
      |      OVER (PARTITION BY event_type) AS mad
      |  FROM m3)
      |SELECT event_type, CAST(day AS BIGINT) AS day, cnt,
      |  CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
      |  CAST(dev AS BIGINT) AS dev,
      |  dev * 10000 > mad * 44478 AS is_anomaly
      |FROM m4 ORDER BY event_type, day""".stripMargin

  /** KMV (k-minimum-values) SKETCH audience overlap (Beyer et al.
    * 2007 — public): estimate |A∩B| / |A∪B| for two user segments
    * from k = 64 hash minima per segment instead of the full
    * distinct sets — the fixed-memory way two 10¹⁰-user audiences
    * are intersected at 100 TB. Unlike an RNG sketch, KMV over a
    * FIXED hash (md5, the repo-wide parity convention) is fully
    * deterministic: both engines materialize the SAME minima, so the
    * estimates themselves hash-match — the sketch is graded on its
    * values, not just a bound gate. Exact counts ride along as the
    * fixture-scale truth (at production scale they are the quantity
    * the sketch exists to avoid).
    *
    * Estimator: v_k = k-th smallest 48-bit hash of A∪B ⇒ est_union =
    * (k−1)·2⁴⁸ DIV v_k; co-members c = |K ∩ sketch(A) ∩ sketch(B)|
    * (any union-sketch element of A is necessarily in A's sketch, so
    * this is sketch-only — no full-set membership anywhere); est_inter
    * = (c·est_union) DIV k. All Long (63·2⁴⁸ ≈ 1.8·10¹⁶).
    *
    * Scale shape: per-segment distinct + top-k-by-hash are map-side
    * partial TakeOrdered shapes; everything downstream operates on
    * ≤ 3k rows. The exact side is one distinct aggregation, present
    * only as the oracle anchor. */
  def qKmvOverlap(spark: SparkSession, sfDir: String): DataFrame = QueryScope.eager(spark) { scope =>
    val k = 64
    val ev0 = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", conv(substring(
        md5(col("user_id").cast("string").cast("binary")), 1, 12), 16, 10)
        .cast("long"))
      .transform(scope.persist)
    val wSeg = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sketches = ev0.withColumn("rn", row_number().over(wSeg))
      .filter(col("rn") <= k)
    val aSk = sketches.filter(col("event_type") === "view").select(col("h"))
    val bSk = sketches.filter(col("event_type") === "purchase").select(col("h"))
    // global k-minima via TakeOrdered (orderBy+limit), never a
    // single-partition global window
    val union = ev0.select(col("user_id"), col("h")).distinct()
      .orderBy(col("h"), col("user_id")).limit(k)
    val vk = union.agg(max(col("h"))).head.getLong(0)
    val c = union.join(aSk, Seq("h"), "left_semi")
      .join(bSk, Seq("h"), "left_semi").count()
    val exact = ev0.groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("nt"))
      .agg(count(lit(1)).as("n_union"),
        sum((col("nt") === 2).cast("long")).as("n_inter"))
      .head()
    val (nUnion, nInter) = (exact.getLong(0), exact.getLong(1))
    val estUnion = (k - 1).toLong * (1L << 48) / vk
    val estInter = c * estUnion / k
    import spark.implicits._
    Seq((k.toLong, vk, c, estUnion, estInter, nUnion, nInter,
      // k=64 ⇒ ~12.6% rse; 3σ ≈ 38% — a loose, replay-stable gate
      estUnion * 10 >= nUnion * 6 && estUnion * 10 <= nUnion * 16))
      .toDF("k", "v_k", "co_members", "est_union", "est_inter",
        "n_union", "n_inter", "union_within_3rse")
  }

  /** The same minima, estimator arithmetic, and exact anchors. */
  val qKmvOverlapOracle: String =
    """WITH seg AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |  WHERE event_type IN ('view', 'purchase')),
      |h AS (SELECT event_type, user_id,
      |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS BIGINT) AS h
      |  FROM seg),
      |sk AS (SELECT event_type, h,
      |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
      |ask AS (SELECT h FROM sk WHERE event_type = 'view' AND rn <= 64),
      |bsk AS (SELECT h FROM sk WHERE event_type = 'purchase' AND rn <= 64),
      |u AS (SELECT user_id, h,
      |  row_number() OVER (ORDER BY h, user_id) AS rn
      |  FROM (SELECT DISTINCT user_id, h FROM h) t),
      |uk AS (SELECT h FROM u WHERE rn <= 64),
      |vk AS (SELECT MAX(h) AS v_k FROM uk),
      |c AS (SELECT COUNT(*) AS c FROM uk
      |  WHERE h IN (SELECT h FROM ask) AND h IN (SELECT h FROM bsk)),
      |ex AS (
      |  SELECT COUNT(*) AS n_union,
      |    CAST(SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter
      |  FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nt
      |        FROM seg GROUP BY 1) t),
      |est AS (
      |  SELECT 63 * 281474976710656 // v_k AS est_union FROM vk)
      |SELECT CAST(64 AS BIGINT) AS k, vk.v_k, c.c AS co_members,
      |  CAST(est.est_union AS BIGINT) AS est_union,
      |  CAST(c.c * est.est_union // 64 AS BIGINT) AS est_inter,
      |  ex.n_union, ex.n_inter,
      |  est.est_union * 10 >= ex.n_union * 6
      |    AND est.est_union * 10 <= ex.n_union * 16 AS union_within_3rse
      |FROM vk, c, ex, est""".stripMargin

  /** CUSUM changepoint detection (Page 1954 — the classic sequential
    * drift detector) on the daily per-type event volume: the one-sided
    * upper CUSUM S_i = max(0, S_{i−1} + (x_i − target − slack))
    * crosses its threshold when volume runs persistently hot —
    * catching slow drifts a per-day MAD flag ([[qAnomalyMad]]) never
    * fires on. Target = the series' lower median; slack = med DIV 20
    * (5%); threshold h = med (one full median-day of accumulated
    * excess).
    *
    * The recurrence looks inherently sequential, but the classic
    * identity S_i = C_i − min_{j≤i}(C_j) over the plain cumulative
    * C_i = Σ(x−target−slack) turns it into TWO stacked windows
    * (running sum + running min) — no recursion, no UDAF, pure
    * integer Longs end-to-end.
    *
    * Scale shape: one map-side-combining rollup shuffle of the event
    * stream; both windows and the median pick run per event_type on
    * the (type, day) relation — metadata-sized forever. */
  def qCusumDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val wt = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val daily = ev(spark, sfDir)
      .groupBy(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("cnt"), col("day"))))
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("med", max(when(col("rn") === expr("(n + 1) DIV 2"),
        col("cnt"))).over(wt))
      .withColumn("cum",
        sum(col("cnt") - col("med") - expr("med DIV 20")).over(wCum))
      .withColumn("cum_min", least(min(col("cum")).over(wCum), lit(0L)))
      .withColumn("cusum", col("cum") - col("cum_min"))
      .select(col("event_type"), col("day"), col("cnt"), col("med"),
        col("cusum"), (col("cusum") > col("med")).as("drift_alarm"))
  }

  val qCusumDriftOracle: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |m1 AS (
      |  SELECT event_type, day, cnt,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily),
      |m2 AS (
      |  SELECT event_type, day, cnt,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
      |      OVER (PARTITION BY event_type) AS med
      |  FROM m1),
      |c AS (
      |  SELECT event_type, day, cnt, med,
      |    SUM(cnt - med - med // 20) OVER w AS cum
      |  FROM m2 WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |s AS (
      |  SELECT event_type, day, cnt, med, cum,
      |    LEAST(MIN(cum) OVER w, 0) AS cum_min
      |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, CAST(day AS BIGINT) AS day, cnt,
      |  CAST(med AS BIGINT) AS med,
      |  CAST(cum - cum_min AS BIGINT) AS cusum,
      |  cum - cum_min > med AS drift_alarm
      |FROM s ORDER BY event_type, day""".stripMargin

  /** EVENT-TRANSITION MATRIX (first-order Markov view of user
    * journeys): per-user event streams ordered by (time, id), each
    * consecutive pair contributes one (from → to) transition; emitted
    * with the row-conditional probability as integer parts-per-million
    * (n·10⁶ DIV from_total — no float division). The product-analytics
    * "what do users do next" table, and the input a Markov-chain
    * attribution model consumes.
    *
    * Scale shape: ONE shuffle on user_id for the lag window (shared
    * with every other per-user walk in this module), then a
    * map-side-combining count into the |types|² keyspace — the
    * transition matrix is model-sized, never corpus-sized. */
  def qEventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val trans = ev(spark, sfDir)
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("from_total"))
    trans.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("from_total"),
        expr("n * 1000000 DIV from_total").as("p_ppm"))
  }

  val qEventTransitionsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
      |  FROM events),
      |t AS (
      |  SELECT lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS from_type,
      |    event_type AS to_type
      |  FROM e),
      |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
      |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, SUM(n) AS from_total FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(from_total AS BIGINT) AS from_total,
      |  CAST(c.n * 1000000 // from_total AS BIGINT) AS p_ppm
      |FROM c JOIN tot USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** PARTIAL-AGGREGATE MERGE law as a query — the algebra every
    * incremental 100 TB rollup stands on: per-(type, day) partials
    * (count / sum-cents / min / max) materialize once, and the
    * per-type monthly rollup is computed FROM THE PARTIALS (merge =
    * sum of counts/sums, min of mins, max of maxes), never from the
    * raw stream again. The ORACLE aggregates the raw events directly
    * — the hash match IS the proof that merge(partials) = direct, the
    * same twin discipline as the token-budget decomposition. Money in
    * exact cents; two map-side-combining shuffles, the second over the
    * partials relation only. */
  def qPartialAggMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0)).cast("long")
    val partials = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("day"),
        cents.as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("p_n"), sum(col("cents")).as("p_sum"),
        min(col("cents")).as("p_min"), max(col("cents")).as("p_max"))
    partials
      .groupBy(col("event_type"))
      .agg(sum(col("p_n")).as("n"), sum(col("p_sum")).as("sum_cents"),
        min(col("p_min")).as("min_cents"), max(col("p_max")).as("max_cents"),
        count(lit(1)).as("n_partials"))
  }

  /** Aggregates the RAW stream directly — equality proves the merge. */
  val qPartialAggMergeOracle: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(CAST(value * 100 AS DECIMAL(18,0)) AS BIGINT) AS cents
      |  FROM events),
      |direct AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |    MIN(cents) AS min_cents, MAX(cents) AS max_cents
      |  FROM e GROUP BY 1),
      |days AS (SELECT event_type, COUNT(DISTINCT day) AS n_partials
      |         FROM e GROUP BY 1)
      |SELECT d.event_type, d.n, d.sum_cents, d.min_cents, d.max_cents,
      |  days.n_partials
      |FROM direct d JOIN days USING (event_type)
      |ORDER BY d.event_type""".stripMargin

  /** CUMULATIVE USER GROWTH — the first-seen/running-total accounting
    * every growth dashboard is built on: each user attributes to the
    * day of their FIRST event (one min-aggregation on user_id — the
    * corpus-sized step), then new-users-per-day and the running total
    * are windows over the days relation. The same first-seen shape as
    * the vocabulary-growth curve; quiet days (zero new users) simply
    * don't appear, matching the oracle.
    *
    * The running total uses [[SamplingOps.withGlobalCumSum]] (r10):
    * the hours relation is usually calendar-bounded, but `hr` is an
    * aggregate-derived key (per-user MIN), and for long-horizon or
    * fine-granularity variants its cardinality tracks the time domain
    * — the sharded prefix sum costs one extra tiny exchange and never
    * funnels it through one reducer (inclusive total = exclusive
    * prefix + the row's own new_users). */
  def qCumulativeUsers(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val first = ev(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(min(expr("tus DIV 3600000000")).as("hr"))
    val cum = SamplingOps.withGlobalCumSum(scope,
      first.groupBy(col("hr")).agg(count(lit(1)).as("new_users")),
      "new_users", "__before", col("hr"))
    cum
      .withColumn("total_users", col("__before") + col("new_users"))
      .select(col("hr"), col("new_users"), col("total_users"))
  }

  val qCumulativeUsersOracle: String =
    """WITH f AS (
      |  SELECT user_id, MIN(epoch_us(ts) // 3600000000) AS hr
      |  FROM events GROUP BY 1),
      |nd AS (SELECT hr, COUNT(*) AS new_users FROM f GROUP BY 1)
      |SELECT CAST(hr AS BIGINT) AS hr, new_users,
      |  CAST(SUM(new_users) OVER (ORDER BY hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS total_users
      |FROM nd ORDER BY hr""".stripMargin

  /** LTV DECILE REPORT — the monetization table every growth team
    * reads: users ranked by lifetime purchase value, cut into
    * deciles, each decile reporting population, value mass, bounds,
    * and its integer-ppm share of total revenue (the "top decile is
    * X% of revenue" number). Money in exact cents end-to-end.
    *
    * Scale shape (r8 verdict fix): the DEFINITION is
    * `ntile(10) OVER (ORDER BY ltv DESC, user_id)` over every user —
    * an unpartitioned corpus sort, the shape this repo's token-budget
    * decomposition exists to avoid. The PLAN decomposes it exactly:
    * the decile AGGREGATES (count, cents mass, value bounds) depend
    * only on the (ltv, count) HISTOGRAM, because users tied on ltv
    * are interchangeable within their value's rank range — which
    * specific tied user lands in which decile changes no aggregate.
    * So: one combiner-friendly rollup to user LTV, one aggregation to
    * the value histogram, a cumulative window over THAT value-domain
    * relation (distinct cent amounts, ≪ users), then each value
    * explodes into the ≤10 ntile buckets its rank range [before+1,
    * before+c] overlaps, with the closed-form ntile geometry (first
    * n%10 buckets get ⌈n/10⌉ ranks) as map-only literals. The oracle
    * IS the naive ntile definition, so the hash match proves the
    * decomposition exact — the token-budget twin discipline.
    *
    * r9 residual closed: the histogram itself is NOT safely small —
    * for per-user lifetime sums in exact cents, distinct values ≈
    * users (10⁸ rows at 100× scale), so cumulating it through one
    * global window just moved the single reducer one aggregate
    * downstream. The `before` column now comes from
    * [[SamplingOps.withGlobalCumSum]] (range-sharded parallel prefix
    * sum; only a shard-count relation crosses a global window),
    * exact because ltv is unique within its own histogram. */
  def qLtvDeciles(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val cents = (col("value") * 100)
      .cast(org.apache.spark.sql.types.DecimalType(18, 0)).cast("long")
    val ltv = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), cents.as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("ltv"))
      .transform(scope.persist)
    val totals = ltv.agg(sum(col("ltv")), count(lit(1))).head
    val total = totals.getLong(0)
    val n = totals.getLong(1)
    val q = n / 10  // base bucket size; first `rem` buckets get q+1
    val rem = n % 10
    def decOf(r: String): String = SamplingOps.ntileExpr(n, 10, r)
    val hist = SamplingOps.withGlobalCumSum(scope,
      ltv.groupBy(col("ltv")).agg(count(lit(1)).as("c")),
      "c", "before", col("ltv").desc)
    hist
      .withColumn("d", explode(sequence(
        expr(decOf("(before + 1)")).cast("int"),
        expr(decOf("(before + c)")).cast("int"))))
      // this decile's global rank range under ntile geometry
      .withColumn("lo", expr(s"(d - 1) * ${q}L + least(CAST(d AS BIGINT) - 1, ${rem}L) + 1"))
      .withColumn("hi", expr(s"d * ${q}L + least(CAST(d AS BIGINT), ${rem}L)"))
      // how many of this value's ranks fall inside the decile
      .withColumn("cnt",
        least(col("hi"), col("before") + col("c")) -
          greatest(col("lo"), col("before") + lit(1L)) + lit(1L))
      .groupBy(col("d"))
      .agg(sum(col("cnt")).as("n_users"),
        sum(col("cnt") * col("ltv")).as("decile_cents"),
        min(col("ltv")).as("min_ltv"),
        max(col("ltv")).as("max_ltv"))
      .select(col("d").cast("int").as("decile"), col("n_users"),
        col("decile_cents"), col("min_ltv"), col("max_ltv"))
      .withColumn("revenue_ppm", expr(s"decile_cents * 1000000 DIV $total"))
  }

  val qLtvDecilesOracle: String =
    """WITH l AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value * 100 AS DECIMAL(18,0))) AS BIGINT) AS ltv
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |t AS (SELECT SUM(ltv) AS total FROM l),
      |d AS (SELECT user_id, ltv,
      |  ntile(10) OVER (ORDER BY ltv DESC, user_id) AS decile FROM l)
      |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_users,
      |  CAST(SUM(ltv) AS BIGINT) AS decile_cents,
      |  MIN(ltv) AS min_ltv, MAX(ltv) AS max_ltv,
      |  CAST(SUM(ltv) * 1000000 // (SELECT total FROM t) AS BIGINT)
      |    AS revenue_ppm
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin

  /** ROLLING 7-DAY MEDIAN of daily event volume — the robust rolling
    * smoother that completes the monitoring family: EWMA smooths but
    * chases spikes, the MAD flag is per-day, CUSUM detects persistent
    * drift; the rolling median is the display curve a spike cannot
    * drag. Exact LOWER median (the repo convention) over the trailing
    * 7-row frame: the frame's values collect, sort, and index at
    * (n+1) DIV 2 — pure integer, deterministic, identical in DuckDB.
    * Early days use their truncated frame (n < 7), matching the
    * oracle.
    *
    * Scale shape: one rollup shuffle of the stream; the windowed
    * collect runs per event_type over the metadata-sized (type, day)
    * relation with a constant-bounded frame — never the corpus. */
  def qRollingMedian(spark: SparkSession, sfDir: String): DataFrame = {
    val wf = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    ev(spark, sfDir)
      .groupBy(col("event_type"), expr("tus DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("win", array_sort(collect_list(col("cnt")).over(wf)))
      .select(col("event_type"), col("day"), col("cnt"),
        size(col("win")).as("n_window"),
        element_at(col("win"),
          expr("CAST((size(win) + 1) DIV 2 AS INT)")).as("rolling_med"))
  }

  val qRollingMedianOracle: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, cnt,
      |    list_sort(list(cnt) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      |  FROM daily)
      |SELECT event_type, CAST(day AS BIGINT) AS day, cnt,
      |  CAST(len(win) AS INT) AS n_window,
      |  win[(len(win) + 1) // 2] AS rolling_med
      |FROM w ORDER BY event_type, day""".stripMargin

  /** The (user_id, session_id, path) trigram relation shared by the
    * batch report and the STREAMING twin's cut-equality spec
    * (`StatefulOps.streamingEventPaths` emits exactly these rows). */
  private[graft] def sessionTrigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val sess = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("prev", lag(col("tus"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("tus") - col("prev") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("tus"), col("event_id"))
    sess
      .withColumn("e2", lead(col("event_type"), 1).over(bySess))
      .withColumn("e3", lead(col("event_type"), 2).over(bySess))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(col("user_id"), col("session_id"),
        concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
  }

  /** TOP SESSION PATHS — the "what do users actually do" report that
    * complements the funnel (a HYPOTHESIZED order checked against
    * data) and the transition matrix (memoryless single steps): the
    * most frequent 3-event sequences within a session, with
    * integer-ppm support. Sessions are the same 30-minute-gap
    * construction as `q_sessionize` (identical expressions, so the
    * two can never drift); paths are windowed leads within each
    * session — no self-joins, no explode.
    *
    * Scale shape: every window is partitioned by the high-cardinality
    * (user, session) key; the trigram relation is corpus-sized but
    * map-only after the session shuffle, and the report is a
    * TakeOrdered top-20 + a 20-row rank window. One count() action
    * folds the trigram total in as a literal (ANN-sizing-count
    * discipline). */
  def qEventPaths(spark: SparkSession, sfDir: String): DataFrame = QueryScope(spark) { scope =>
    val tri = sessionTrigrams(spark, sfDir)
      .select(col("path"))
      .transform(scope.persist)
    val total = tri.count()
    tri.groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("path"))))
      .select(col("rank"), col("path"), col("n"),
        expr(s"n * 1000000 DIV ${total}L").as("share_ppm"))
  }

  /** Same sessionization, windowed trigrams, and integer shares. */
  val qEventPathsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |b AS (SELECT user_id, event_id, event_type, tus,
      |  CASE WHEN lag(tus) OVER w IS NULL
      |         OR tus - lag(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |s AS (SELECT user_id, event_id, event_type, tus,
      |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM b),
      |tr AS (SELECT event_type,
      |  lead(event_type, 1) OVER w2 AS e2,
      |  lead(event_type, 2) OVER w2 AS e3
      |  FROM s WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY tus, event_id)),
      |t AS (SELECT event_type || '>' || e2 || '>' || e3 AS path FROM tr
      |      WHERE e2 IS NOT NULL AND e3 IS NOT NULL),
      |tot AS (SELECT COUNT(*) AS total FROM t),
      |c AS (SELECT path, COUNT(*) AS n FROM t GROUP BY 1),
      |rk AS (SELECT path, n,
      |  row_number() OVER (ORDER BY n DESC, path) AS rank FROM c)
      |SELECT CAST(rank AS INT) AS rank, path, n,
      |  CAST((n * 1000000) // (SELECT total FROM tot) AS BIGINT) AS share_ppm
      |FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_event_paths" -> (qEventPaths _),
    "q_rolling_median" -> (qRollingMedian _),
    "q_ltv_deciles" -> (qLtvDeciles _),
    "q_cumulative_users" -> (qCumulativeUsers _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_partial_agg_merge" -> (qPartialAggMerge _),
    "q_cusum_drift" -> (qCusumDrift _),
    "q_kmv_overlap" -> (qKmvOverlap _),
    "q_anomaly_mad" -> (qAnomalyMad _),
    "q_ewma_daily" -> (qEwmaDaily _),
    "q_seasonal_residuals" -> (qSeasonalResiduals _),
    "q_ab_test" -> (qAbTest _),
    "q_ab_cuped" -> (qAbCuped _),
    "q_ab_power" -> (qAbPower _),
    "q_ab_srm" -> (qAbSrm _),
    "q_ab_sequential" -> (qAbSequential _),
    "q_ab_winsorized" -> (qAbWinsorized _),
    "q_rolling_active_users" -> (qRollingActiveUsers _),
    "q_funnel" -> (qFunnel _),
    "q_retention" -> (qRetention _),
    "q_attribution" -> (qAttribution _),
    "q_zscore_outliers" -> (qZscoreOutliers _))

  val oracles: Map[String, String] = Map(
    "q_event_paths" -> qEventPathsOracle,
    "q_rolling_median" -> qRollingMedianOracle,
    "q_ltv_deciles" -> qLtvDecilesOracle,
    "q_cumulative_users" -> qCumulativeUsersOracle,
    "q_event_transitions" -> qEventTransitionsOracle,
    "q_partial_agg_merge" -> qPartialAggMergeOracle,
    "q_cusum_drift" -> qCusumDriftOracle,
    "q_kmv_overlap" -> qKmvOverlapOracle,
    "q_anomaly_mad" -> qAnomalyMadOracle,
    "q_ewma_daily" -> qEwmaDailyOracle,
    "q_seasonal_residuals" -> qSeasonalResidualsOracle,
    "q_ab_test" -> qAbTestOracle,
    "q_ab_cuped" -> qAbCupedOracle,
    "q_ab_power" -> qAbPowerOracle,
    "q_ab_srm" -> qAbSrmOracle,
    "q_ab_sequential" -> qAbSequentialOracle,
    "q_ab_winsorized" -> qAbWinsorizedOracle,
    "q_rolling_active_users" -> qRollingActiveUsersOracle,
    "q_funnel" -> qFunnelOracle,
    "q_retention" -> qRetentionOracle,
    "q_attribution" -> qAttributionOracle,
    "q_zscore_outliers" -> qZscoreOutliersOracle)
}
