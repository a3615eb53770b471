package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CLICKSTREAM JOURNEY ANALYTICS: windowed funnels and retention
  * cohorts — the two queries every event-warehouse consumer runs on the
  * tables this pipeline lands (ClickHouse ships them as `windowFunnel`
  * and `retention`; here they are plain DataFrame compositions).
  *
  * Funnel contract (earliest-start, strict step order, in-window):
  * step 1's time is the user's FIRST step-1 event; step i+1's time is
  * the first step-(i+1) event at-or-after step i's time and within
  * `windowMs` of step 1. `level` = number of steps reached. This greedy
  * anchor is deliberate — it is deterministic and replayable (ClickHouse
  * windowFunnel scans all anchors; a user whose LATER step-1 event
  * would complete the funnel when the first does not reports a lower
  * level here — a documented semantic, not an approximation of one).
  * Millisecond integers throughout (`unix_millis`): cross-engine-exact,
  * no timezone or interval arithmetic.
  *
  * Scale shape: one narrow (user, type, ms) projection feeds every
  * step; each step is a groupBy on the user key and a user-key equi-join
  * — the same shuffle key throughout, so AQE coalesces and no step
  * shuffles event payloads (3 longs + a type per row). Retention is two
  * aggregations on (user) and (user, period) with integer floor-division
  * period ids — no calendar functions, no timezone trap.
  */
object Funnel {

  /** Per-user funnel progress through `steps` (event-type names, in
    * order): `(user_id, level, step1_ms, …, stepN_ms)` — stepK_ms null
    * once progress stops; users with no step-1 event report level 0 with
    * all nulls. */
  def windowFunnel(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowMs: Long
  ): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(windowMs > 0, "windowMs must be positive")
    val base = df.select(col(userCol).as("user_id"), col(typeCol).as("etype"),
        unix_millis(col(tsCol)).as("ms"))
      .localCheckpoint(true) // consumed once per step + once for the user set
    val acc = steps.zipWithIndex.foldLeft(
        base.select("user_id").distinct()) { case (acc, (step, i)) =>
      val inWindow =
        if (i == 0) lit(true)
        else col("ms") >= col(s"step${i}_ms") &&
          col("ms") <= col("step1_ms") + windowMs
      val reached = base.filter(col("etype") === step)
        .join(acc, Seq("user_id"))
        .filter(inWindow)
        .groupBy("user_id")
        .agg(min(col("ms")).as(s"step${i + 1}_ms"))
        .select("user_id", s"step${i + 1}_ms")
      acc.join(reached, Seq("user_id"), "left")
    }
    val level = steps.indices.foldLeft(lit(0)) { (l, i) =>
      when(col(s"step${i + 1}_ms").isNotNull, lit(i + 1)).otherwise(l)
    }
    acc.select(col("user_id") +: level.as("level") +:
      steps.indices.map(i => col(s"step${i + 1}_ms")): _*)
  }

  /** EXACT windowFunnel — the all-anchors semantics ClickHouse ships:
    * per user, `level` = the MAXIMUM number of in-order steps reachable
    * within `windowMs` of ANY step-1 event (not just the first). This
    * repairs [[windowFunnel]]'s documented earliest-anchor lossiness: a
    * user whose later step-1 event completes the funnel now reports the
    * full level. Per ANCHOR the earliest-next-step chain is exact (with
    * the window anchored at t₁ fixed, taking the earliest feasible
    * event at each step only enlarges the feasible suffix); scanning
    * every anchor makes the per-user max exact too.
    *
    * Timestamp comparisons mirror [[windowFunnel]] (`ms >= prev`,
    * `ms <= t1 + windowMs`), so exact ≥ greedy holds level-wise by
    * construction — the spec pins it.
    *
    * Scale shape: chain frames are keyed (user, anchor), and the step
    * joins are TIME-BUCKET CO-LOCATED — events carry their
    * `ms DIV windowMs` bucket, each anchor explodes into the ≤2 buckets
    * its window [t₁, t₁+W] can touch, and the join key is
    * (user, bucket). A whale user with a anchors and e events per
    * window therefore produces O(a·e) join rows — NOT a × (all of the
    * whale's events), which is quadratic in total activity. An event's
    * single bucket matches at most one of the anchor's two bucket rows,
    * so no pair duplicates and the per-anchor min is unchanged.
    * PLANS.md ("Funnel whale-flood evidence") records the two shapes
    * measured under a whale-user flood.
    *
    * @return one row per user in `df`: (user_id, level) — level 0 when
    *         no step-1 event exists
    */
  def windowFunnelExact(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowMs: Long
  ): DataFrame = {
    require(steps.nonEmpty, "need at least one funnel step")
    require(windowMs > 0, "windowMs must be positive")
    val base = df.select(col(userCol).as("user_id"), col(typeCol).as("etype"),
        unix_millis(col(tsCol)).as("ms"))
      .withColumn("bkt", expr(s"ms DIV ${windowMs}L"))
      .localCheckpoint(true) // consumed once per step + once for the user set
    val anchors = base.filter(col("etype") === steps.head)
      .select(col("user_id"), col("ms").as("t1"))
      .withColumn("t_prev", col("t1"))
    val levelFrames = steps.zipWithIndex.tail.scanLeft(anchors) {
      case (acc, (step, i)) =>
        val anchorsB = acc.select("user_id", "t1", "t_prev")
          .withColumn("bkt", explode(expr(
            s"sequence(t1 DIV ${windowMs}L, (t1 + ${windowMs}L) DIV ${windowMs}L)")))
        base.filter(col("etype") === step)
          .join(anchorsB, Seq("user_id", "bkt"))
          .filter(col("ms") >= col("t_prev") &&
            col("ms") <= col("t1") + windowMs)
          .groupBy(col("user_id"), col("t1"))
          .agg(min(col("ms")).as("t_prev"))
    }
    val reached = levelFrames.zipWithIndex.map { case (f, i) =>
      f.select(col("user_id"), lit(i + 1).as("lvl")) }
      .reduce(_ unionByName _)
    base.select("user_id").distinct()
      .join(reached.groupBy("user_id").agg(max(col("lvl")).as("level")),
        Seq("user_id"), "left")
      .na.fill(0, Seq("level"))
      .select(col("user_id"), col("level").cast("long").as("level"))
      .orderBy("user_id")
  }

  /** FUNNEL DROP-OFF TABLE — the presentation layer over
    * [[windowFunnelExact]]: per step, how many users reach it and the
    * exact per-mille conversion both from the previous step and from
    * the top. One conditional aggregate over the per-user level frame
    * (survival counts as columns), rows assembled from the 1-row
    * result.
    *
    * @return per step (1-based): step, step_name, n_reached,
    *         conv_prev_pm (vs the previous step; step 1 compares to the
    *         full user ledger), conv_total_pm (vs the ledger), n_users
    */
  def dropOffTable(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      windowMs: Long
  ): DataFrame = {
    val lv = windowFunnelExact(df, userCol, typeCol, tsCol, steps, windowMs)
    val aggCols = count(lit(1)).cast("long").as("n_users") +:
      steps.indices.map(i =>
        sum(when(col("level") >= i + 1, 1L).otherwise(0L)).as(s"r${i + 1}"))
    val one = lv.agg(aggCols.head, aggCols.tail: _*)
      .localCheckpoint(true) // 1 row, one select per step below
    val rows = steps.zipWithIndex.map { case (name, i) =>
      val prev = if (i == 0) "n_users" else s"r$i"
      one.select(lit(i + 1L).as("step"), lit(name).as("step_name"),
        col(s"r${i + 1}").cast("long").as("n_reached"),
        expr(s"CASE WHEN $prev > 0 THEN (1000 * r${i + 1}) DIV $prev END")
          .as("conv_prev_pm"),
        expr(s"CASE WHEN n_users > 0 THEN (1000 * r${i + 1}) DIV n_users END")
          .as("conv_total_pm"),
        col("n_users"))
    }
    rows.reduce(_ unionByName _).orderBy("step")
  }

  /** CONVERSION-LATENCY DISTRIBUTION per step pair: for each user with
    * a `from` event, the wait from their FIRST `from` to the first `to`
    * at-or-after it, quantized to whole seconds; the per-pair readout is
    * the counting-sort quantile selection (q129/q163 discipline — exact
    * lower quantiles at ranks ⌈p·n⌉ found on the distinct-latency frame,
    * never a data-sized sort).
    *
    * @param pairs (from, to) event-type pairs, each one output row
    * @return per pair: step_from, step_to, n_converted, p25_s, p50_s,
    *         p75_s, p90_s (NULL row values when nobody converts)
    */
  def conversionLatency(
      df: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      pairs: Seq[(String, String)]
  ): DataFrame = {
    require(pairs.nonEmpty, "need at least one (from, to) pair")
    val base = df.select(col(userCol).as("user_id"), col(typeCol).as("etype"),
        unix_millis(col(tsCol)).as("ms"))
      .localCheckpoint(true)
    val perPair = pairs.map { case (from, to) =>
      val t0 = base.filter(col("etype") === from)
        .groupBy("user_id").agg(min(col("ms")).as("t0"))
      val lat = base.filter(col("etype") === to)
        .join(t0, Seq("user_id"))
        .filter(col("ms") >= col("t0"))
        .groupBy("user_id").agg(min(expr("(ms - t0) DIV 1000")).as("lat_s"))
      val counts = lat.groupBy("lat_s").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // distinct-latency frame, read twice (cum + n)
      val cum = counts.withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("lat_s"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(counts.agg(sum(col("cnt")).cast("long").as("n")))
      def at(rank: Column): Column = min(when(col("cum") >= rank, col("lat_s")))
      cum.agg(
          max(col("n")).as("n_converted"),
          at(expr("(n + 3) DIV 4")).as("p25_s"),
          at(expr("(n + 1) DIV 2")).as("p50_s"),
          at(expr("(3 * n + 3) DIV 4")).as("p75_s"),
          at(expr("(9 * n + 9) DIV 10")).as("p90_s"))
        .select(lit(from).as("step_from"), lit(to).as("step_to"),
          coalesce(col("n_converted"), lit(0L)).as("n_converted"),
          col("p25_s"), col("p50_s"), col("p75_s"), col("p90_s"))
    }
    perPair.reduce(_ unionByName _).orderBy("step_from", "step_to")
  }

  /** Weekly-style retention matrix on integer periods of `periodMs`
    * since epoch: cohort = the user's first-activity period,
    * `(cohort_period, period_offset, n_users)` = distinct users of each
    * cohort active `offset` periods later (offset 0 row = cohort size). */
  def retentionCohorts(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      periodMs: Long
  ): DataFrame = {
    require(periodMs > 0, "periodMs must be positive")
    val act = df.select(col(userCol).as("user_id"),
        expr(s"unix_millis(${tsCol}) DIV ${periodMs}L").as("period"))
      .distinct()
      .localCheckpoint(true) // two consumers: cohort min + the offset join
    val cohorts = act.groupBy("user_id").agg(min("period").as("cohort_period"))
    act.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_period"), (col("period") - col("cohort_period")).as("period_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** RETENTION BY SEGMENT — [[retentionCohorts]] keyed on an
    * ACQUISITION attribute instead of (or on top of) time: each user's
    * segment is derived from their FIRST event (here: its type, the
    * "how did they arrive" proxy), and the readout is, per (segment,
    * period offset), how many of the segment's users were active and
    * what share of the segment that is — the retention comparison that
    * decides which acquisition channel's users actually stick.
    *
    * Deterministic first-event rule: minimum (ts, id) — the same
    * total order every first-touch operator here uses. Offsets count
    * from each USER's first period (their cohort), then aggregate over
    * the segment, so segments acquired in different weeks still align
    * on age.
    *
    * Scale shape: one distinct (user, period) pass + one first-event
    * window (both the user-key exchange), then segment×offset-sized
    * aggregates; share_pm one truncating DIV against the segment size.
    */
  def retentionBySegment(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      idCol: String,
      periodMs: Long
  ): DataFrame = {
    require(periodMs > 0, "periodMs must be positive")
    val base = df.select(col(userCol).as("user_id"),
      unix_millis(col(tsCol)).as("ms"), col(typeCol).as("etype"),
      col(idCol).as("eid"))
    val firstW = Window.partitionBy("user_id")
      .orderBy(col("ms").asc, col("eid").asc)
    val seg = base.withColumn("rn", row_number().over(firstW))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("etype").as("segment"),
        expr(s"ms DIV ${periodMs}L").as("cohort_period"))
      .localCheckpoint(true) // sizes + the activity join share it
    val sizes = seg.groupBy("segment").agg(count(lit(1)).as("n_segment"))
    val act = base.select(col("user_id"),
        expr(s"ms DIV ${periodMs}L").as("period"))
      .distinct()
    act.join(seg, Seq("user_id"))
      .groupBy(col("segment"),
        (col("period") - col("cohort_period")).as("period_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "segment")
      .withColumn("share_pm", expr("(10000 * n_active) DIV n_segment"))
      .select("segment", "period_offset", "n_active", "n_segment", "share_pm")
      .orderBy("segment", "period_offset")
  }

  /** COHORT LTV CURVE — [[retentionCohorts]]'s value-weighted sibling:
    * per (cohort period × age) the cumulative revenue a cohort has
    * produced, normalized per cohort member — the curve that decides
    * payback windows and acquisition budgets. Money stays in integer
    * CENTS (quantize-then-sum, the q115 discipline) so cumulative sums
    * are order-free-exact; the per-user normalization is truncating
    * integral division.
    *
    * Semantics: a user's cohort is the period of their FIRST event of
    * any type (acquisition = first activity); the cohort's size is
    * fixed at birth (inactive members keep diluting later ages — that
    * is the point of LTV-per-user); only `valueEvent` rows contribute
    * revenue, at age = event period − cohort period. Ages with zero
    * revenue still emit rows (the curve must not skip flat weeks) via
    * the cohort × observed-age grid.
    *
    * Scale shape: one distinct-activity pass for cohorts, one revenue
    * aggregate onto the (cohort × age) frame, cumulative windows on
    * that frame (periods², tiny). */
  def ltvCurve(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      valueCol: String,
      valueEvent: String,
      periodMs: Long
  ): DataFrame = {
    require(periodMs > 0, "periodMs must be positive")
    val withPeriod = df.select(col(userCol).as("user_id"),
        expr(s"unix_millis($tsCol) DIV ${periodMs}L").as("period"),
        col(typeCol).as("etype"),
        (col(valueCol).cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .localCheckpoint(true) // cohort pass + revenue pass
    val cohorts = withPeriod.groupBy("user_id")
      .agg(min("period").as("cohort_period"))
    val sizes = cohorts.groupBy("cohort_period")
      .agg(count(lit(1)).as("n_cohort_users"))
    val rev = withPeriod.filter(col("etype") === valueEvent)
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_period"),
        (col("period") - col("cohort_period")).as("age"))
      .agg(sum(col("cents")).as("age_cents"))
    // cohort × observed-age grid so flat ages still chart
    val ages = rev.select(col("age")).distinct()
    val w = Window.partitionBy(col("cohort_period")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, 0)
    sizes.crossJoin(ages) // cohorts × ages: periods² rows
      .join(rev, Seq("cohort_period", "age"), "left")
      .withColumn("age_cents", coalesce(col("age_cents"), lit(0L)))
      .withColumn("cum_cents", sum(col("age_cents")).over(w))
      .withColumn("ltv_cents_per_user", expr("cum_cents DIV n_cohort_users"))
      .select("cohort_period", "age", "n_cohort_users", "age_cents",
        "cum_cents", "ltv_cents_per_user")
      .orderBy("cohort_period", "age")
  }
}
