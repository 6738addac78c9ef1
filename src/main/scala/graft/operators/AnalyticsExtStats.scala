package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Lineage.CpOps

/** Extended warehouse operators (§2 #35-41): as-of join, bounded
  * range join, exact percentiles, CUBE, pivot, ntile banding, and
  * moment statistics — the remaining standard-OLAP surface.
  */
/** One third of the former monolithic AnalyticsExt object
  * (r10 file-size refactor) — members are verbatim; the
  * self-type keeps every cross-part reference resolving
  * through the assembled object.
  */
private[graft] trait AnalyticsExtStats { this: AnalyticsExt.type =>

  /** #241 Precision-recall curve at equi-depth thresholds: sweep 10
    * rank-defined thresholds over the DISTINCT order-value grid and
    * report the exact confusion row (tp/fp/fn) plus e6
    * precision/recall/F1 at each — the operating-point table #232's
    * single AUC number summarizes away (AUC says the score ranks;
    * this says what you get if you actually deploy a cutoff).
    *
    * Scale shape is #232's: rows collapse to per-distinct-score
    * (n_pos, n_neg) counts first, and BOTH global constructs — the
    * below-threshold prefix sums and the distinct-score rank that
    * defines the equi-depth bins — are built hierarchically (monotone
    * value-range shard + within-shard window + ≤nShards-row carry),
    * so no global data window exists. A threshold row is selected by
    * pure expression (its rank is the first in its bin:
    * ((rank−1)·B) div n ≠ ((rank−2)·B) div n), not by an extra
    * aggregate-join. tp = total_pos − pos_below since "predicted
    * positive" means value ≥ threshold. F1's 2pr/(p+r) stays in
    * BIGINT (p·r ≤ 10¹²).
    */
  def prCurve(spark: SparkSession, dir: String, nBins: Int = 10, nShards: Int = 8): DataFrame = {
    val byVal = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("pos"))
      .groupBy("v")
      .agg(sum("pos").as("n_pos"), (count(lit(1)) - sum("pos")).as("n_neg"))
    val bounds = byVal.agg(
      min("v").as("lo"),
      max("v").as("hi"),
      count(lit(1)).as("nd"),
      sum("n_pos").as("tot_pos"),
      sum("n_neg").as("tot_neg"))
    val sharded = byVal
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((v - lo) * $nShards) div (hi - lo + 1)"))
      .localCheckpoint(eager = false)
    val wsh = Window.partitionBy("shard").orderBy("v")
    val local = sharded
      .withColumn("local_rn", row_number().over(wsh).cast("long"))
      .withColumn(
        "local_pos_below",
        coalesce(sum("n_pos").over(wsh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(
        "local_neg_below",
        coalesce(sum("n_neg").over(wsh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wcar = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("c"), sum("n_pos").as("p"), sum("n_neg").as("g"))
      .withColumn("off_rn", coalesce(sum("c").over(wcar), lit(0L)))
      .withColumn("off_pos", coalesce(sum("p").over(wcar), lit(0L)))
      .withColumn("off_neg", coalesce(sum("g").over(wcar), lit(0L)))
      .select(col("shard"), col("off_rn"), col("off_pos"), col("off_neg"))
    local
      .join(broadcast(offsets), "shard")
      .withColumn("rank", col("off_rn") + col("local_rn"))
      .withColumn("pos_below", col("off_pos") + col("local_pos_below"))
      .withColumn("neg_below", col("off_neg") + col("local_neg_below"))
      .filter(expr(s"rank = 1 OR ((rank - 1) * $nBins) div nd > ((rank - 2) * $nBins) div nd"))
      .select(
        expr(s"((rank - 1) * $nBins) div nd").as("bin"),
        col("v").as("threshold_cents"),
        (col("tot_pos") - col("pos_below")).as("tp"),
        (col("tot_neg") - col("neg_below")).as("fp"),
        col("pos_below").as("fn"),
        expr("""CAST((tot_pos - pos_below) * 1000000
                 div greatest(tot_pos - pos_below + tot_neg - neg_below, 1) AS BIGINT)""")
          .as("precision_e6"),
        expr("CAST((tot_pos - pos_below) * 1000000 div greatest(tot_pos, 1) AS BIGINT)")
          .as("recall_e6"))
      .withColumn(
        "f1_e6",
        expr("CAST((2 * precision_e6 * recall_e6) div greatest(precision_e6 + recall_e6, 1) AS BIGINT)"))
  }

  /** #242 Mann-Kendall trend test per event-type daily series: the
    * nonparametric S statistic S = Σ_{i<j} sign(x_j − x_i) plus the
    * tie-corrected variance numerator — monotone-trend detection with
    * NO distributional assumption and NO slope model, the hypothesis
    * test that goes with #161's Theil-Sen estimate (Theil-Sen says how
    * steep; Mann-Kendall says whether the trend is real). All exact
    * integers: S, n, and var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)
    * (18·Var(S) with tie groups t) — callers compare S² against
    * var18/18·z² without ever leaving the grid.
    *
    * The pairwise sweep is a per-type self-join on day_i < day_j —
    * CALENDAR-bounded (days², not rows²) exactly like #161's per-key
    * pair fan-out, over a lineage-cut daily aggregate frame; tie
    * groups are one groupBy on (type, cents). Linear in the fact
    * table, quadratic only in the bounded day dimension.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
      .localCheckpoint(eager = false)
    val s = daily
      .alias("a")
      .join(
        daily.alias("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(
        sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val ties = daily
      .groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_term"),
        sum("t").as("n_days"))
    s.join(ties, "event_type")
      .select(
        col("event_type"),
        col("n_days"),
        col("n_pairs"),
        col("s_stat"),
        col("n_distinct"),
        expr("CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS BIGINT)")
          .as("var18"))
  }

  /** #243 Spearman rank correlation between customer account balance
    * and realized lifetime spend — "does the static attribute rank
    * customers the way their revenue does?", the monotone-association
    * screen that is immune to the cents-scale outliers Pearson (#41)
    * chases. Exact fractional tie ranks kept integer by DOUBLING:
    * rank2(v) = 2·|{below}| + t(v) + 1 (twice the average rank of
    * v's tie group), so moments run on the integer grid and the
    * signed factored r² quotient (#202's discipline) replays
    * bit-exactly in HUGEINT.
    *
    * Scale shape: both global rank constructions are the #232
    * hierarchical build — per-distinct-value counts, monotone
    * value-range shard, within-shard prefix window, ≤nShards-row
    * carry — then two value-keyed joins attach rank2x/rank2y back to
    * customers and one partial-agg pass takes the moments. No global
    * data window anywhere; customers with no orders enter at spend 0
    * (a genuine, heavily-tied rank group — exactly what the tie
    * doubling exists for).
    */
  def spearman(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val spend = Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("y"))
    val base = Tables
      .customer(spark, dir)
      .select(
        col("c_custkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("x"))
      .join(spend, Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("x"), coalesce(col("y"), lit(0L)).as("y"))
      .localCheckpoint(eager = false)

    // rank2(v) = 2*below + cnt + 1 over the distinct-value grid,
    // built shard-hierarchically (#232) — returns (v, rank2)
    def rank2(values: DataFrame): DataFrame = {
      val byV = values.groupBy("v").agg(count(lit(1)).as("cnt"))
      val bounds = byV.agg(min("v").as("lo"), max("v").as("hi"))
      val sharded = byV
        .crossJoin(broadcast(bounds))
        .withColumn("shard", expr(s"((v - lo) * $nShards) div (hi - lo + 1)"))
        .localCheckpoint(eager = false)
      val wsh = Window.partitionBy("shard").orderBy("v")
      val local = sharded.withColumn(
        "local_below",
        coalesce(sum("cnt").over(wsh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val offsets = sharded
        .groupBy("shard")
        .agg(sum("cnt").as("c"))
        .withColumn(
          "off",
          coalesce(
            sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("shard"), col("off"))
      local
        .join(broadcast(offsets), "shard")
        .select(col("v"), (lit(2L) * (col("off") + col("local_below")) + col("cnt") + 1).as("rank2"))
    }

    val rx = rank2(base.select(col("x").as("v")))
    val ry = rank2(base.select(col("y").as("v")))
    val ranked = base
      .join(rx.select(col("v").as("x"), col("rank2").as("r2x")), "x")
      .join(ry.select(col("v").as("y"), col("rank2").as("r2y")), "y")
    ranked
      .agg(
        count(lit(1)).as("m"),
        sum("r2x").as("sx"),
        sum("r2y").as("sy"),
        sum(expr("CAST(r2x AS DECIMAL(38,0)) * r2y")).as("sxy"),
        sum(expr("CAST(r2x AS DECIMAL(38,0)) * r2x")).as("sxx"),
        sum(expr("CAST(r2y AS DECIMAL(38,0)) * r2y")).as("syy"))
      .select(
        col("m").as("n_customers"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))")
          .as("num"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))")
          .as("den_x"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))")
          .as("den_y"))
      .select(
        col("n_customers"),
        // the factored e3*e3 signed rho^2 (num^2 would overflow; the
        // PRODUCT of the two |num|*1000 div den factors is <= 10^6 by
        // Cauchy-Schwarz — a single factor can exceed 10^3)
        expr("""CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END *
                 ((abs(num) * 1000 div den_x) * (abs(num) * 1000 div den_y))
                AS BIGINT)""").as("rho2_signed_e6"))
  }

  /** #250 Holt double-exponential smoothing per event-type daily
    * series: level + trend state with dyadic α = β = ¼, the
    * forecasting workhorse between #196's EWMA (level only — lags
    * every trend) and #139's seasonal model — plus the one-step-ahead
    * forecast l+b each day. All-integer: the dyadic gains make every
    * update a shift-scale sum, and division is SIGN-FACTORED
    * (−(−a div 4) for a<0) so Spark's truncating `div` and DuckDB's
    * flooring `//` replay the identical trajectory even when the
    * trend state goes negative (#221's cross-engine discipline).
    *
    * The fold is sequential BY DEFINITION, but the step table is
    * CALENDAR-bounded, so it runs inside one collected array scalar
    * per series via a codegen'd higher-order aggregate-over-slice —
    * the #234 Kaplan-Meier pattern (bounded model state, never a
    * per-row window over unbounded data). l_t appears twice in the
    * lambda (for itself and inside b_t) because SQL lambdas cannot
    * bind locals; both occurrences are the same expression, folded
    * once by codegen CSE.
    */
  def holt(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    // sign-factored truncating quarter: identical in both engines
    def q(a: String) = s"(CASE WHEN ($a) < 0 THEN -((-($a)) div 4) ELSE ($a) div 4 END)"
    val newL = q("s.y + 3 * (acc.l + acc.b)")
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y"))
    daily
      .groupBy("event_type")
      .agg(expr("sort_array(collect_list(named_struct('day', day, 'y', y)))").as("steps"))
      .select(
        col("event_type"),
        explode(
          expr(s"""transform(steps, (x, i) -> named_struct(
                     'day', x.day, 'cents', x.y,
                     'st', aggregate(slice(steps, 2, i),
                             named_struct('l', element_at(steps, 1).y, 'b', 0L),
                             (acc, s) -> named_struct(
                               'l', $newL,
                               'b', ${q(s"($newL - acc.l) + 3 * acc.b")}))))"""))
          .as("h"))
      .select(
        col("event_type"),
        col("h.day").as("day"),
        col("h.cents").as("cents"),
        col("h.st.l").as("level_c"),
        col("h.st.b").as("trend_c"),
        (col("h.st.l") + col("h.st.b")).as("forecast_next_c"))
  }

  /** #251 Top session paths: the k most common opening event-type
    * sequences (first 3 steps) across #16's sessions — the
    * "how do visits actually start" table product analytics reads
    * before designing a funnel (#18 checks ONE hypothesized path;
    * this discovers which paths exist, the empirical input to that
    * hypothesis). Paths use '>' separators and keep shorter sessions
    * as shorter paths, so 1-step bounces rank against 3-step flows.
    *
    * Same sessionization as #16 (30-min gaps, (ts, event_id) total
    * order) in one user_id exchange; the first-3 extraction is a
    * rank filter inside the session (WindowGroupLimit — each map
    * task keeps ≤3 rows per session before any exchange), the path
    * assembly one (user, session)-keyed aggregate, and the top-k a
    * rank-filtered count frame bounded by the type-alphabet³ path
    * space — never by sessions.
    */
  def topPaths(spark: SparkSession, dir: String, steps: Int = 3, topK: Int = 10): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val inSession =
      Window.partitionBy("user_id", "session_id").orderBy(col("ts"), col("event_id"))
    val paths = Tables
      .events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "is_new",
        (col("prev_ts").isNull || (col("ts") - col("prev_ts") > gapUs)).cast("long"))
      .withColumn(
        "session_id",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("step", row_number().over(inSession))
      .filter(col("step") <= steps)
      .groupBy("user_id", "session_id")
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(step, event_type))), x -> x.event_type)"), ">")
          .as("path"),
        count(lit(1)).as("n_steps"))
    paths
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"), min("n_steps").as("n_steps"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("n_sessions").desc, col("path")))
          .cast("long"))
  }

  /** #252 Two-proportion z-test (A/B test read-out): does order
    * completion rate differ between the BUILDING market segment and
    * the rest? — the experiment-analysis primitive behind every
    * conversion A/B dashboard, computed EXACTLY: z² is a rational in
    * the counts, z² = (c₁n₂ − c₂n₁)²·N div (n₁n₂C(N−C)) with
    * C = c₁+c₂, N = n₁+n₂ (the pooled-variance two-proportion
    * statistic with every float cancelled), published on the e6 grid
    * — compare against 3.841·10⁶ (χ²₁ at 95%) without ever leaving
    * integers. #189's chi² tests a full contingency table; this is
    * the 2×2 one-degree case every experiment actually reads, with
    * the direction sign and both rates alongside.
    *
    * One customer→orders equi-join + a 2-row aggregate + a 1-row
    * projection; cross products run in DECIMAL(38,0) ↔ HUGEINT. The
    * quotient is STAGED — q₁ = d² div (n₁n₂), then z²·10⁶ =
    * q₁·N·10⁶ div (C(N−C)) — because the single-quotient numerator
    * d²·N·10⁶ would overflow DECIMAL(38) near n ≈ 10⁸ per arm while
    * the staged form holds to ~2·10⁹ (d² ≤ (n₁n₂)² is the binding
    * term); the staged formula IS the published contract, replayed
    * verbatim by the oracle, so both engines agree bit-for-bit and
    * the ≤1-ulp-per-stage quantization is defined, not accidental.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val arms = Tables
      .orders(spark, dir)
      .join(
        Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .select(
        (col("c_mktsegment") === "BUILDING").cast("long").as("arm_a"),
        (col("o_orderstatus") === "F").cast("long").as("conv"))
      .groupBy("arm_a")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
    arms
      .agg(
        max(when(col("arm_a") === 1, col("n"))).as("n1"),
        max(when(col("arm_a") === 1, col("c"))).as("c1"),
        max(when(col("arm_a") === 0, col("n"))).as("n2"),
        max(when(col("arm_a") === 0, col("c"))).as("c2"))
      .select(
        col("n1"),
        col("c1"),
        col("n2"),
        col("c2"),
        expr("CAST(c1 * 1000000 div n1 AS BIGINT)").as("rate_a_e6"),
        expr("CAST(c2 * 1000000 div n2 AS BIGINT)").as("rate_b_e6"),
        expr("CAST(CASE WHEN c1 * n2 - c2 * n1 < 0 THEN -1 ELSE 1 END AS BIGINT)")
          .as("direction"),
        expr("""CAST(((CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1)
                  * (CAST(c1 AS DECIMAL(38,0)) * n2 - CAST(c2 AS DECIMAL(38,0)) * n1)
                  div (CAST(n1 AS DECIMAL(38,0)) * n2))
                  * (n1 + n2) * 1000000
                 div (CAST(c1 + c2 AS DECIMAL(38,0))
                      * (n1 + n2 - c1 - c2)) AS BIGINT)""").as("z2_e6"))
  }

  /** #264 Rolling-origin forecast backtest: does #250's Holt model
    * actually beat the naive last-value forecast? — the evaluation
    * every forecasting deployment must publish before the model ships
    * (the time-series member of the #238/#244/#245 evaluation
    * family). For each day t ≥ 2 of each series, the one-step-ahead
    * Holt forecast issued at t−1 (level+trend, already a #250
    * column) and the naive forecast (y_{t−1}) are scored against the
    * realized y_t; the deliverable is the exact summed absolute
    * errors, their e6-mean MAEs, and the wins flag. All-integer; one
    * per-series lag window over the calendar-bounded daily frame on
    * top of the #250 fold.
    */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    holt(spark, dir)
      .withColumn("prev_forecast", lag("forecast_next_c", 1).over(w))
      .withColumn("prev_cents", lag("cents", 1).over(w))
      .filter(col("prev_forecast").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_evaluated"),
        sum(abs(col("cents") - col("prev_forecast"))).as("holt_sae_c"),
        sum(abs(col("cents") - col("prev_cents"))).as("naive_sae_c"))
      .select(
        col("event_type"),
        col("n_evaluated"),
        col("holt_sae_c"),
        col("naive_sae_c"),
        expr("CAST(holt_sae_c div n_evaluated AS BIGINT)").as("holt_mae_c"),
        expr("CAST(naive_sae_c div n_evaluated AS BIGINT)").as("naive_mae_c"),
        (col("holt_sae_c") < col("naive_sae_c")).cast("long").as("holt_wins"))
  }

  /** #265 Linear gap interpolation: fill the missing calendar days of
    * each event-type daily series by exact integer linear
    * interpolation between the surrounding observations — the
    * imputation rung above #122's LOCF (LOCF freezes the last value
    * through a gap; this draws the line, which is what downstream
    * trend/seasonality fits assume). v(d) = v₀ + (v₁−v₀)(d−d₀) div
    * (d₁−d₀) with the division SIGN-FACTORED (#250's discipline) so
    * falling segments replay identically under Spark's truncating
    * div and DuckDB's flooring //. Gap days come from a bounded
    * `sequence()` explode between consecutive observations (gap
    * lengths are calendar-bounded); observed days pass through with
    * is_interpolated = 0. One per-series lead window, linear.
    */
  def interpolateGaps(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
    interpolateDaily(daily)
  }

  /** The #265 interpolation kernel over an (event_type, day, c)
    * frame — separated so the spec can plant gaps (the driver corpus
    * is gap-free at every SF, which exercises only the pass-through
    * path).
    */
  private[graft] def interpolateDaily(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    val withNext = daily
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("next_c", lead("c", 1).over(w))
    val observed = withNext.select(
      col("event_type"),
      col("day"),
      col("c").as("cents"),
      lit(0L).as("is_interpolated"))
    val filled = withNext
      .filter(col("next_day").isNotNull && col("next_day") > col("day") + 1)
      .select(
        col("event_type"),
        explode(expr("sequence(day + 1, next_day - 1)")).as("d"),
        col("day"),
        col("c"),
        col("next_day"),
        col("next_c"))
      .select(
        col("event_type"),
        col("d").as("day"),
        expr("""c + (CASE WHEN (next_c - c) * (d - day) < 0
                     THEN -((-((next_c - c) * (d - day))) div (next_day - day))
                     ELSE ((next_c - c) * (d - day)) div (next_day - day) END)""")
          .as("cents"),
        lit(1L).as("is_interpolated"))
    observed.unionAll(filled)
  }

  /** #266 Experiment power analysis: the sample-size table a team
    * reads BEFORE launching the #252 A/B test — for a grid of
    * minimum detectable effects, the required n per arm
    * n = ⌈2·p̄(1−p̄)·(z_α/2+z_β)² / δ²⌉ at α=5%, power=80%. The z
    * constants are PRECOMPUTED e3 integers ((1960+842)² = the #211
    * Benford pattern — no engine-side normal quantiles), the
    * baseline rate p̄ comes from the corpus itself (the realistic
    * workflow: power against the rate you actually observe), and the
    * whole table is exact integer arithmetic: n = ceil-div of
    * 2·c·(t−c)·zsum² by (t²·δ²) after clearing denominators. 1-row
    * aggregate × a broadcast MDE grid; cross products in
    * DECIMAL(38,0) ↔ HUGEINT.
    */
  def powerAnalysis(spark: SparkSession, dir: String, zsumE3: Long = 2802L): DataFrame = {
    // zsumE3 = (z_{0.025} + z_{0.8})·10³ = 1960 + 842 — the caller
    // (SparkEntry) passes the same shared constant the oracle derives
    // its squared value from
    val tot = Tables
      .orders(spark, dir)
      .agg(
        count(lit(1)).as("t"),
        sum((col("o_orderstatus") === "F").cast("long")).as("c"))
    val mdes = spark
      .range(1, 11)
      .select((col("id") * 50L).as("mde_bp")) // 50..500 basis points
    mdes
      .crossJoin(broadcast(tot))
      .select(
        col("mde_bp"),
        expr("CAST(c * 1000000 div t AS BIGINT)").as("baseline_rate_e6"),
        // n = ceil( 2*c*(t-c)*zsum2 * 1e8 / (t^2 * mde_bp^2 * 1e6) )
        // cleared: num = 2*c*(t-c)*zsum2*1e8 ; den = t*t*mde_bp*mde_bp*1e6
        expr(s"""CAST((2 * CAST(c AS DECIMAL(38,0)) * (t - c) * ${zsumE3 * zsumE3}
                   * 100000000
                   + (CAST(t AS DECIMAL(38,0)) * t * mde_bp * mde_bp * 1000000) - 1)
                 div (CAST(t AS DECIMAL(38,0)) * t * mde_bp * mde_bp * 1000000)
                 AS BIGINT)""").as("n_per_arm"))
  }

  /** #267 Peak session concurrency: per day, the maximum number of
    * simultaneously open #16 sessions and the µs instant the peak is
    * first reached — the capacity-planning number (connection pools,
    * seat licenses, autoscaler floors) that neither session COUNTS
    * (#16) nor interval COVERAGE (#230) answers, because concurrency
    * is the running sum of a +1/−1 sweep, not a union length.
    *
    * The sweep needs a GLOBAL time order, built hierarchically: the
    * endpoint stream (+1 at session start, −1 after session end)
    * cumsums inside each CALENDAR day partition, and day-boundary
    * carries come from a ≤#days-row day aggregate — the #232 shard
    * construction with the natural day as the monotone shard key.
    * Tie order (ts, −delta) closes touching sessions before opening
    * new ones at the same µs, the standard half-open convention.
    */
  def peakConcurrency(spark: SparkSession, dir: String, cut: Boolean = true): DataFrame = {
    val usPerDay = 86400L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000
    val sessions = Tables
      .events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "is_new",
        (col("prev_ts").isNull || (col("ts") - col("prev_ts") > gapUs)).cast("long"))
      .withColumn(
        "session_id",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s"), max("ts").as("e"))
    // cut=false = the PlanDisciplineSpec audit form (no RDDScan)
    val endpoints = Lineage.cutIf(cut)(
      sessions
        .select(col("s").as("ts"), lit(1L).as("delta"))
        .unionAll(sessions.select((col("e") + 1).as("ts"), lit(-1L).as("delta")))
        .withColumn("day", expr(s"ts div ${usPerDay}L")))
    // (ts, delta) tie order: a −1 end sorts before a +1 start at the
    // same µs, so touching sessions never overlap (half-open + the
    // e+1 shift make ends land strictly after their own last event)
    val wd = Window.partitionBy("day").orderBy(col("ts"), col("delta"))
    val local = endpoints
      .withColumn(
        "run",
        sum("delta").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the calendar day is the monotone carry key of this hierarchical
    // build: the carry window rides the PER-DAY aggregate, bounded by
    // #calendar-days — a documented PlanDisciplineSpec exception (the
    // bound is data-shape, not plan structure)
    val carry = endpoints
      .select(col("day"), col("delta"))
      .groupBy("day")
      .agg(sum("delta").as("d"))
      .withColumn(
        "off",
        coalesce(
          sum("d").over(Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("day"), col("off"))
    local
      .join(broadcast(carry), "day")
      .withColumn("conc", col("off") + col("run"))
      .groupBy("day")
      .agg(
        max("conc").as("peak_concurrency"),
        max_by(col("ts"), struct(col("conc"), (-col("ts")).as("nts"))).as("peak_first_ts"))
      .select(col("day"), col("peak_concurrency"), col("peak_first_ts"))
  }

  /** #269 New-vs-repeat revenue split: per order month, revenue and
    * order counts split by whether the customer is in their FIRST
    * month or returning — the finance decomposition behind "is
    * growth acquisition or retention" (#240 runs this ledger on
    * USERS; this runs it on DOLLARS, where a handful of returning
    * whales can dominate a month that looks new-heavy by headcount).
    * A customer's whole first MONTH counts as new (the standard
    * monthly-cohort convention — a second order 10 days after the
    * first is not "repeat revenue"). Exact integer months and cents;
    * one per-customer min-month aggregate joined back on the
    * customer key, one month rollup — two linear exchanges.
    */
  def newVsRepeat(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val firstM = o.groupBy("o_custkey").agg(min("m").as("m0"))
    o.join(firstM, "o_custkey")
      .withColumn("is_new", (col("m") === col("m0")).cast("long"))
      .groupBy(col("m").as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum("is_new").as("n_new_orders"),
        sum(when(col("is_new") === 1L, col("cents")).otherwise(0L)).as("new_cents"),
        sum(when(col("is_new") === 0L, col("cents")).otherwise(0L)).as("repeat_cents"))
      .withColumn(
        "repeat_share_e6",
        expr("CAST(repeat_cents * 1000000 div greatest(new_cents + repeat_cents, 1) AS BIGINT)"))
  }

  /** #270 DAU/WAU stickiness: per day, daily actives over trailing
    * 7-day actives on the e6 grid — the habit-formation ratio every
    * product review opens with (a 7d-MAU (#193) can grow while
    * stickiness collapses: users visiting once a week). Numerator =
    * one (day, user) distinct; denominator = #193's explode-covered
    * rolling distinct VERBATIM; one join on the calendar-bounded day
    * key. Exact integer quotient — dau ≤ wau by construction, so the
    * ratio lives in (0, 10⁶].
    */
  def stickiness(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val pres = Tables
      .events(spark, dir)
      .select(expr(s"ts div ${nsPerDay}L").as("day"), col("user_id"))
      .distinct()
      .localCheckpoint(eager = false)
    val dau = pres.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val days = pres.select(col("day").as("target_day")).distinct()
    val wau = pres
      .select(explode(expr("sequence(day, day + 6)")).as("target_day"), col("user_id"))
      .join(days, "target_day")
      .groupBy("target_day")
      .agg(countDistinct("user_id").as("wau_7d"))
    dau
      .join(wau.select(col("target_day").as("day"), col("wau_7d")), "day")
      .select(
        col("day"),
        col("dau"),
        col("wau_7d"),
        expr("CAST(dau * 1000000 div wau_7d AS BIGINT)").as("stickiness_e6"))
  }

  /** #271 Repurchase cycle: each repeat customer's median gap in
    * days between consecutive orders — the CRM cadence number that
    * sets reorder-reminder timing and the churn clock (a customer
    * 3 cycles past their own median is the actionable "overdue"
    * definition, far better than a global 90-day rule). Exact lower
    * discrete median of the per-customer gap list at rank
    * ⌈g/2⌉ under the (gap, order-date) total order — the #106/#161
    * integer machinery; gaps from one per-customer lag window
    * (single custkey exchange), the median from a per-customer rank
    * window on the same exchange. Output one row per repeat
    * customer, plus each customer's last-gap-vs-median overdue
    * ratio.
    */
  def repurchaseCycle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
    val gaps = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("d"))
      .withColumn("prev_d", lag("d", 1).over(w))
      .filter(col("prev_d").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"), col("d"), (col("d") - col("prev_d")).as("gap"))
    val wg = Window.partitionBy("o_custkey").orderBy(col("gap"), col("o_orderkey"))
    val ranked = gaps
      .withColumn("rn", row_number().over(wg).cast("long"))
      .withColumn("g", count(lit(1)).over(Window.partitionBy("o_custkey")))
    val med = ranked
      .filter(col("rn") === expr("(g + 1) div 2"))
      .select(col("o_custkey"), col("g").as("n_gaps"), col("gap").as("median_gap_days"))
    val lastGap = gaps
      .withColumn(
        "rl",
        row_number()
          .over(Window.partitionBy("o_custkey")
            .orderBy(col("d").desc, col("o_orderkey").desc))
          .cast("long"))
      .filter(col("rl") === 1)
      .select(col("o_custkey"), col("gap").as("last_gap_days"))
    med
      .join(lastGap, "o_custkey")
      .withColumn(
        "overdue_ratio_e6",
        expr("CAST(last_gap_days * 1000000 div greatest(median_gap_days, 1) AS BIGINT)"))
  }

  /** #274 Duplicate-payment screen: groups of orders sharing
    * (customer, exact cents, order date) — the first query every
    * payables audit runs (double-submitted invoices, replayed
    * payment batches, fat-fingered resubmissions), and the
    * TRANSACTION-level member of the forensic family beside #211's
    * distribution-level Benford screen. Exact-match grouping is the
    * deliberate contract: cents equality has no tolerance knob to
    * tune or defend. The driver corpus is clean, so duplicates are
    * PLANTED deterministically (every o_orderkey ≡ 0 mod 499
    * re-submitted — the #5 simulated-redelivery precedent, shared
    * verbatim with the oracle), and the spec pins exact recovery.
    * One groupBy + HAVING; the at-risk amount counts every copy
    * BEYOND the first (the legitimate one costs nothing).
    */
  def dupPayments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate").cast("string").as("o_date"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    o.unionAll(o.filter(col("o_orderkey") % 499 === 0))
      .groupBy("o_custkey", "o_date", "cents")
      .agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .withColumn("at_risk_cents", (col("n_copies") - 1) * col("cents"))
  }

  /** #275 Structuring screen: customers whose SAME-DAY orders each
    * sit below an approval threshold while together crossing it —
    * the split-ticket pattern (many small orders instead of one
    * reviewable large one) that procurement-fraud and AML controls
    * both test for; #274 catches identical copies, this catches
    * deliberately NON-identical splits, which is why both exist.
    * Threshold = the corpus's own p90 order value (rank-defined
    * ((n+1)·9) div 10 under the (cents, orderkey) total order, the
    * #106 discrete-percentile machinery — self-calibrating, no magic
    * dollar constant), computed on the hierarchical shard rank. The
    * driver corpus contains no structuring, so the pattern is
    * PLANTED (every o_orderkey ≡ 0 mod 977 re-entered as four
    * same-day quarter-value pieces under offset keys — each piece
    * below the threshold, the four together above it; the #274/#5
    * simulated-input precedent, shared verbatim with the oracle).
    * One (customer, day) aggregate over below-threshold orders.
    */
  def structuring(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val base = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate").cast("string").as("o_date"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val planted = base
      .filter(col("o_orderkey") % 977 === 0)
      .select(
        col("o_custkey"),
        explode(expr("sequence(1, 4)")).as("i"),
        col("o_orderkey"),
        col("o_date"),
        col("cents"))
      .select(
        col("o_custkey"),
        (col("o_orderkey") * 10 + col("i") + 100000000L).as("o_orderkey"),
        col("o_date"),
        expr("CASE WHEN i < 4 THEN cents div 4 ELSE cents - 3 * (cents div 4) END")
          .as("cents"))
    val o = base.unionAll(planted).localCheckpoint(eager = false)
    // p90 via hierarchical rank over the distinct-value grid
    val byV = o.groupBy(col("cents").as("v")).agg(count(lit(1)).as("cnt"))
    val bounds = byV.agg(min("v").as("lo"), max("v").as("hi"), sum("cnt").as("n"))
    val sharded = byV
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((v - lo) * $nShards) div (hi - lo + 1)"))
      .localCheckpoint(eager = false)
    val wsh = Window.partitionBy("shard").orderBy("v")
    val local = sharded.withColumn(
      "below",
      coalesce(sum("cnt").over(wsh.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offs = sharded
      .groupBy("shard")
      .agg(sum("cnt").as("c"))
      .withColumn(
        "off",
        coalesce(
          sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val p90 = local
      .join(broadcast(offs), "shard")
      .withColumn("cum", col("off") + col("below") + col("cnt"))
      .filter(col("cum") >= expr("((n + 1) * 9) div 10"))
      .agg(min("v").as("threshold_cents"))
    o.crossJoin(broadcast(p90))
      .filter(col("cents") < col("threshold_cents"))
      .groupBy("o_custkey", "o_date", "threshold_cents")
      .agg(count(lit(1)).as("n_small_orders"), sum("cents").as("day_total_cents"))
      .filter(col("n_small_orders") >= 3 && col("day_total_cents") >= col("threshold_cents"))
  }

  /** #277 Lag-feature generation: the feature-store frame a
    * forecasting model trains on — per (series, day): the value,
    * lag-1, lag-7, the trailing-7-day sum, and the day-of-week
    * index, every column exact integers. This is the
    * feature-engineering shape (point-in-time-correct lags over an
    * entity×time grid) that leaks when done wrong — here each
    * feature is strictly PAST-ONLY by window construction (lag and a
    * [-7,-1] rows frame), the property a feature store certifies.
    * One per-series sort powers all four features (a single window
    * spec family over one exchange); calendar-bounded frames.
    */
  def lagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val w = Window.partitionBy("event_type").orderBy("day")
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y"))
      .withColumn("lag1", lag("y", 1).over(w))
      .withColumn("lag7", lag("y", 7).over(w))
      .withColumn(
        "trail7_sum",
        coalesce(sum("y").over(w.rowsBetween(-7, -1)), lit(0L)))
      .withColumn("dow", expr("((day % 7) + 7) % 7"))
  }

  /** #278 Leave-one-out target encoding: each order's market segment
    * replaced by the smoothed completion rate of the OTHER orders in
    * that segment — enc = (c_seg − y_i + prior·m) div (n_seg − 1 + m)
    * with smoothing weight m = 20 and the corpus rate as prior — the
    * categorical-feature encoder gradient models actually ship with,
    * where the leave-one-out subtraction is precisely what stops the
    * feature from leaking its own label (the bug naive target
    * encoding always has). All-integer on the e6 grid: the prior
    * term is precomputed as prior_e6·m once, numerators stay in
    * BIGINT. One segment aggregate broadcast back over one scan.
    */
  def targetEncoding(spark: SparkSession, dir: String, m: Int = 20): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .join(
        Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .select(
        col("o_orderkey"),
        col("c_mktsegment"),
        (col("o_orderstatus") === "F").cast("long").as("y"))
    val seg = o.groupBy("c_mktsegment").agg(count(lit(1)).as("n_seg"), sum("y").as("c_seg"))
    val prior = o.agg(expr("CAST(sum(y) * 1000000 div count(1) AS BIGINT)").as("prior_e6"))
    o.join(broadcast(seg), "c_mktsegment")
      .crossJoin(broadcast(prior))
      .select(
        col("o_orderkey"),
        col("c_mktsegment"),
        col("y"),
        expr(s"""CAST(((c_seg - y) * 1000000 + prior_e6 * $m)
                  div (n_seg - 1 + $m) AS BIGINT)""").as("enc_e6"))
  }

  /** #279 Feature-hashing collision audit: for hash-table widths
    * D ∈ {256, 1024, 4096}, how many distinct (brand, type)
    * categories collide under the hashing trick — occupied buckets,
    * colliding categories, and the collision rate e6 — the
    * measurement that picks D before a model ships hashed features
    * (the birthday problem, measured on the real category set
    * instead of assumed). Hashing uses the cross-engine hash60
    * (#155 convention) so the oracle replays placement exactly; one
    * distinct-category aggregate, then a 3-width broadcast explode
    * over the CATEGORY frame (vocab-sized, not corpus-sized).
    */
  def hashCollisions(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cats = Tables
      .part(spark, dir)
      .select(concat_ws("|", col("p_brand"), col("p_type")).as("cat"))
      .distinct()
      .localCheckpoint(eager = false)
    val widths = Seq(256L, 1024L, 4096L)
    import spark.implicits._
    val wdf = widths.toDF("width")
    cats
      .crossJoin(broadcast(wdf))
      .select(
        col("width"),
        pmod(Dedup.hash60(concat(lit("graft-fh-1:"), col("cat"))), col("width")).as("b"))
      .groupBy("width", "b")
      .agg(count(lit(1)).as("n_in_bucket"))
      .groupBy("width")
      .agg(
        sum("n_in_bucket").as("n_categories"),
        count(lit(1)).as("n_occupied"),
        sum(when(col("n_in_bucket") > 1, col("n_in_bucket")).otherwise(0L))
          .as("n_colliding"))
      .withColumn(
        "collision_rate_e6",
        expr("CAST(n_colliding * 1000000 div n_categories AS BIGINT)"))
  }

  /** #281 Catalog breadth: per order month — parts actively sold,
    * parts sold for the FIRST time, and the cumulative distinct
    * catalog — the assortment-growth triple merchandising reads
    * beside #269's revenue split (#269 says whether dollars are new;
    * this says whether the CATALOG is, and a flat cumulative curve
    * under growing active counts is concentration, not expansion).
    * First-sale month per part from one min-aggregate; cumulative
    * catalog = running sum of first-sales over the CALENDAR-bounded
    * month frame (the #210 day-cumsum discipline, month-grained);
    * active counts one (month, part) distinct. All exact integers.
    */
  def catalogBreadth(spark: SparkSession, dir: String, cut: Boolean = true): DataFrame = {
    // cut=false = the PlanDisciplineSpec audit form (no RDDScan)
    val mp = Lineage.cutIf(cut)(
      Tables
        .lineitem(spark, dir)
        .join(
          Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
          "l_orderkey")
        .select(
          // the calendar month is the monotone carry key: the cumsum
          // window rides the PER-MONTH aggregate, bounded by
          // #calendar-months — a documented PlanDisciplineSpec exception
          expr("CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
            .as("month"),
          col("l_partkey"))
        .distinct())
    val active = mp.groupBy("month").agg(count(lit(1)).as("n_active_parts"))
    val firstSale = mp.groupBy("l_partkey").agg(min("month").as("month"))
    val news = firstSale.groupBy("month").agg(count(lit(1)).as("n_new_parts"))
    // complete the month frame FIRST (zero-new months included), then
    // cumsum — so no-new months inherit the running catalog naturally
    active
      .join(news, Seq("month"), "left")
      .select(
        col("month"),
        col("n_active_parts"),
        coalesce(col("n_new_parts"), lit(0L)).as("n_new_parts"))
      .withColumn(
        "cum_catalog",
        sum("n_new_parts").over(
          Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)))
      .select(
        col("month"),
        col("n_active_parts"),
        col("n_new_parts"),
        col("cum_catalog"))
  }

  /** #282 Ship-delay percentiles: per order priority — exact lower
    * discrete p50 and p90 of the order→ship delay in days, plus the
    * late-order share beyond 60 days — the SLA table an operations
    * review reads per service class (#111 counts late orders; this
    * shows the whole delay DISTRIBUTION per priority, where a fine
    * p50 with a fat p90 is precisely the story a mean hides). The
    * #106 rank-defined percentile machinery per priority: rank =
    * ⌈n/2⌉ and ⌈9n/10⌉ under the (delay, orderkey, linenumber)
    * total order, one priority-partitioned window — never global.
    */
  def shipDelay(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables
      .lineitem(spark, dir)
      .join(
        Tables
          .orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        "l_orderkey")
      .select(
        col("o_orderpriority").as("priority"),
        col("l_orderkey"),
        col("l_linenumber"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT)")
          .as("delay"))
    val w = Window.partitionBy("priority").orderBy(col("delay"), col("l_orderkey"), col("l_linenumber"))
    val ranked = d
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("priority")))
    ranked
      .groupBy("priority")
      .agg(
        max("n").as("n_lines"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("delay"))).as("p50_days"),
        max(when(col("rn") === expr("((n * 9) + 9) div 10"), col("delay"))).as("p90_days"),
        sum((col("delay") > 60).cast("long")).as("n_late"))
      .withColumn(
        "late_share_e6",
        expr("CAST(n_late * 1000000 div n_lines AS BIGINT)"))
  }

  /** #253 Markov stationary distribution: the long-run occupancy of
    * #174's event-type transition matrix — "where does the user
    * process asymptotically spend its time", the one-vector summary
    * that turns the transition table into a forecast (and the
    * discrete cousin of #124's PageRank without teleport). Exact
    * integer power iteration on the e6 grid: π₀ uniform, each round
    * π'(j) = Σᵢ π(i)·c(i,j) div c(i,·) — the same div-per-edge
    * contribution algebra as #124/#227/#247, so the 3-round
    * trajectory replays bit-exactly as unrolled CTEs. The matrix is
    * ALPHABET-bounded (types² cells): rounds are joins on a
    * broadcast-size frame, and the one data-scale pass is #174's
    * single user_id exchange building the counts.
    */
  def markovStationary(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .localCheckpoint(eager = false)
    val edges = trans
      .join(trans.groupBy("from_type").agg(sum("n_trans").as("n_from")), "from_type")
    val states = trans
      .select(col("from_type").as("state"))
      .unionAll(trans.select(col("to_type").as("state")))
      .distinct()
      .localCheckpoint(eager = false)
    val nDf = states.agg(count(lit(1)).as("k"))
    var pi = states
      .crossJoin(broadcast(nDf))
      .select(col("state"), expr("CAST(1000000 div k AS BIGINT)").as("pi_e6"))
    for (_ <- 1 to iters) {
      pi = states
        .join(
          edges
            .join(pi.select(col("state").as("from_type"), col("pi_e6")), "from_type")
            .select(col("to_type").as("state"), expr("pi_e6 * n_trans div n_from").as("c"))
            .groupBy("state")
            .agg(sum("c").as("p")),
          Seq("state"),
          "left")
        .select(col("state"), coalesce(col("p"), lit(0L)).as("pi_e6"))
    }
    pi.select(col("state"), col("pi_e6"))
  }

  /** #254 p-chart control limits (statistical process control): per
    * day, is the order-completion rate outside the ±3σ band around
    * the corpus rate? The Shewhart attribute chart ops teams run on
    * conversion/defect streams — and computable EXACTLY with no
    * square root: the 3σ test (p_d − p̄)² > 9·p̄(1−p̄)/n_d multiplies
    * out to (c_d·T − C·n_d)² > 9·C·(T−C)·n_d on the integer grid
    * (c_d, n_d per day; C, T corpus totals), so the flag, the
    * squared deviation, and the squared limit are all exact BIGINTs
    * — the #226 isqrt clamp isn't even needed when the INEQUALITY is
    * the deliverable. One day-keyed aggregate + a 1-row totals
    * broadcast; cross products in DECIMAL(38,0) ↔ HUGEINT.
    */
  def controlChart(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        (col("o_orderstatus") === "F").cast("long").as("conv"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_d"), sum("conv").as("c_d"))
    val tot = byDay.agg(sum("n_d").as("t"), sum("c_d").as("ctot"))
    byDay
      .crossJoin(broadcast(tot))
      .select(
        col("day"),
        col("n_d"),
        col("c_d"),
        expr("CAST(c_d * 1000000 div n_d AS BIGINT)").as("rate_e6"),
        expr("""CAST((CAST(c_d AS DECIMAL(38,0)) * t - CAST(ctot AS DECIMAL(38,0)) * n_d)
                  * (CAST(c_d AS DECIMAL(38,0)) * t - CAST(ctot AS DECIMAL(38,0)) * n_d)
                 AS DECIMAL(38,0))""").as("dev_sq"),
        expr("CAST(9 * CAST(ctot AS DECIMAL(38,0)) * (t - ctot) * n_d AS DECIMAL(38,0))")
          .as("limit_sq"))
      .select(
        col("day"),
        col("n_d"),
        col("c_d"),
        col("rate_e6"),
        (col("dev_sq") > col("limit_sq")).cast("long").as("out_of_control"),
        // e6 ratio of squared deviation to squared limit: >1e6 = violation
        expr("CAST(dev_sq * 1000000 div limit_sq AS BIGINT)").as("dev_ratio_e6"))
  }

  /** #283 Link prediction by common neighbors: the non-adjacent
    * co-purchase pairs most likely to become edges — "parts never yet
    * bought together whose neighborhoods already overlap", the
    * assortment-recommendation read beside #179's realized-pair lift
    * (#179 ranks edges that EXIST; this ranks the holes). Score =
    * overlap Jaccard on the e6 grid: cn·10⁶ div (dx + dy − cn).
    *
    * Candidate generation enumerates wedges by CENTER, and caps the
    * center degree (≤ maxCenterDeg): a hub center contributes deg²
    * wedge fan-out but vanishing per-pair evidence (every pair shares
    * the bestseller), so the cap is both the scale bound — wedge
    * volume ≤ |E|·D instead of Σdeg² — and the standard
    * signal-quality move; the cap is part of the operator contract
    * and the oracle replays it. Endpoint degrees stay UNCAPPED. Edges
    * come from the #89 basket² explode; existing edges leave via one
    * LeftAnti; top-k is a TakeOrdered on the (score, cn, pair) total
    * order — map-side bounded, no global window.
    */
  /** Link-prediction contract constants — shared with the
    * q_link_prediction oracle builder so the replay can't drift.
    */
  val LinkPredMinOrders = 2
  val LinkPredMaxCenterDeg = 64
  val LinkPredTopK = 100

  def linkPrediction(
      spark: SparkSession,
      dir: String,
      minOrders: Int = LinkPredMinOrders,
      maxCenterDeg: Int = LinkPredMaxCenterDeg,
      topK: Int = LinkPredTopK): DataFrame = {
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    val e = baskets
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 transform(slice(parts, i + 2, size(parts)),
                   y -> named_struct('pa', x, 'pb', y))))"""))
          .as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minOrders)
      .select("pa", "pb")
      // r14: eager — the degree joins below are broadcast builds that
      // as concurrent driver-side jobs raced on the lazy blocks and
      // re-ran the basket explosion
      .localCheckpoint(eager = true)
    val deg = e
      .select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val adj = e
      .select(col("pa").as("u"), col("pb").as("v"))
      .unionAll(e.select(col("pb").as("u"), col("pa").as("v")))
      .join(
        deg.filter(col("deg") <= maxCenterDeg).select(col("node").as("u")),
        Seq("u"),
        "left_semi")
    val cn = adj
      .join(adj.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .groupBy(col("v").as("pa"), col("w").as("pb"))
      .agg(count(lit(1)).as("cn"))
      .join(e, Seq("pa", "pb"), "left_anti")
    cn.join(deg.select(col("node").as("pa"), col("deg").as("deg_a")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("deg_b")), "pb")
      .select(
        col("pa"),
        col("pb"),
        col("cn"),
        col("deg_a"),
        col("deg_b"),
        expr("CAST(cn * 1000000 div (deg_a + deg_b - cn) AS BIGINT)").as("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("cn").desc, col("pa"), col("pb"))
      .limit(topK)
  }

  /** #284 CUSUM drift chart: per day, the one-sided cumulative-sum
    * statistics C⁺/C⁻ of daily order revenue against the corpus mean
    * — the SPC chart that catches SUSTAINED small shifts the #254
    * p-chart's per-point 3σ test is blind to (ten days each 1σ high
    * never trip Shewhart; their accumulated sum trips CUSUM). Exact
    * without any recursion: C⁺_i = S_i − min_{j≤i} S_j and C⁻_i =
    * max_{j≤i} S_j − S_i where S is the prefix sum of (x_i − μ) with
    * S₀ = 0 — the recursive max(0, ·) fold has this closed form, so
    * two calendar-frame windows (cumsum + running extrema) over the
    * day-keyed aggregate replace any sequential pass. Threshold h =
    * 4σ of the daily series (the common CUSUM h ≈ 4–5σ), with σ via
    * the #226 one-ulp-clamp exact integer sqrt of the population
    * variance, moments in DECIMAL(38,0). The cumulative windows ride
    * the PER-DAY aggregate (≤ #calendar-days rows — a documented
    * PlanDisciplineSpec exception); all arithmetic whole cents.
    */
  def cusumChart(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val tot = byDay.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    val mu = tot
      .select(
        col("n"),
        expr("sx div n").as("mu"),
        // population variance on the cents grid, DECIMAL cross products
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                 div (CAST(n AS DECIMAL(38,0)) * n) AS DECIMAL(38,0))""").as("var_c"))
      .select(
        col("mu"),
        expr("CAST(floor(sqrt(CAST(var_c AS DOUBLE))) AS BIGINT)").as("s0"),
        col("var_c"))
      .select(
        col("mu"),
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= var_c THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > var_c THEN 1 ELSE 0 END)""")
          .as("sigma"))
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    byDay
      .crossJoin(broadcast(mu))
      .withColumn("s", sum(col("x") - col("mu")).over(wCum))
      .withColumn("min_s", least(min("s").over(wCum), lit(0L)))
      .withColumn("max_s", greatest(max("s").over(wCum), lit(0L)))
      .select(
        col("day"),
        col("x").as("rev_cents"),
        (col("s") - col("min_s")).as("c_plus"),
        (col("max_s") - col("s")).as("c_minus"),
        (lit(4L) * col("sigma")).as("h_cents"),
        ((col("s") - col("min_s")) > lit(4L) * col("sigma")).cast("long").as("alarm_high"),
        ((col("max_s") - col("s")) > lit(4L) * col("sigma")).cast("long").as("alarm_low"))
  }

  /** #285 Lorenz curve by customer decile: the 10-point cumulative
    * revenue-share curve under #180's Gini — the deck-ready "bottom
    * 50% of customers contribute x%" table (Gini integrates this
    * curve to one number; auditors want the points). Deciles are
    * rank-defined, ((i−1)·10) div n under the (spend, custkey) total
    * order, with the global rank built hierarchically (#180's
    * monotone value-range shard + offsets — no single-partition data
    * window); the only unpartitioned windows ride the 8-row shard
    * offsets and the 10-row decile frame. Cumulative share runs
    * through DECIMAL(38,0) (cum_cents·10⁶ exceeds 2⁶³ at corpus
    * scale), exact in both engines.
    */
  def lorenzCurve(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val per = Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("x"))
    val bounds = per.agg(min("x").as("lo"), max("x").as("hi"))
    val sharded = per
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((x - lo) * $nShards) div (hi - lo + 1)"))
    val local = sharded.withColumn(
      "rn",
      row_number()
        .over(Window.partitionBy("shard").orderBy(col("x"), col("o_custkey")))
        .cast("long"))
    val offsets = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("c"))
      .withColumn(
        "off",
        coalesce(
          sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val tot = per.agg(count(lit(1)).as("n"), sum("x").as("total_cents"))
    val deciles = local
      .join(broadcast(offsets), "shard")
      .crossJoin(broadcast(tot))
      .select(expr("((off + rn - 1) * 10) div n").as("decile"), col("x"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("x").as("decile_cents"))
    deciles
      .withColumn(
        "cum_cents",
        sum("decile_cents").over(
          Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot.select(col("total_cents"))))
      .select(
        col("decile"),
        col("n_customers"),
        col("decile_cents"),
        col("cum_cents"),
        expr("""CAST(CAST(cum_cents AS DECIMAL(38,0)) * 1000000
                 div CAST(total_cents AS DECIMAL(38,0)) AS BIGINT)""").as("cum_share_e6"))
  }

  /** #286 Promo diff-in-differences: the two-period × two-group
    * causal read-out — did PROMO parts' mean line revenue move
    * differently across the corpus midpoint than non-promo parts'?
    * The #233/#245 evaluation discipline applied to an intervention:
    * the control group's drift is the counterfactual, so
    * did = (T̄₂−T̄₁) − (C̄₂−C̄₁) isolates the treatment delta from
    * the common trend a naive before/after comparison absorbs. The
    * period split is data-derived (midpoint of the order-date span,
    * integer div — deterministic, no config date); means are floor
    * divisions on the cents grid; one broadcast bounds row + one
    * 4-cell aggregate folded to a single row, linear, no windows.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables
      .lineitem(spark, dir)
      .join(
        Tables
          .orders(spark, dir)
          .select(
            col("o_orderkey").as("l_orderkey"),
            expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
              .as("day")),
        "l_orderkey")
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .select(
              col("p_partkey").as("l_partkey"),
              col("p_type").startsWith("PROMO").cast("long").as("treated"))),
        "l_partkey")
      .select(
        col("treated"),
        col("day"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("c"))
    val split = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
      .agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    lines
      .crossJoin(broadcast(split))
      .select(col("treated"), (col("day") >= col("mid")).cast("long").as("period"), col("c"))
      .agg(
        sum(when(col("treated") === 1 && col("period") === 0, col("c"))).as("s_t0"),
        count(when(col("treated") === 1 && col("period") === 0, 1)).as("n_t0"),
        sum(when(col("treated") === 1 && col("period") === 1, col("c"))).as("s_t1"),
        count(when(col("treated") === 1 && col("period") === 1, 1)).as("n_t1"),
        sum(when(col("treated") === 0 && col("period") === 0, col("c"))).as("s_c0"),
        count(when(col("treated") === 0 && col("period") === 0, 1)).as("n_c0"),
        sum(when(col("treated") === 0 && col("period") === 1, col("c"))).as("s_c1"),
        count(when(col("treated") === 0 && col("period") === 1, 1)).as("n_c1"))
      .select(
        col("n_t0"),
        col("n_t1"),
        col("n_c0"),
        col("n_c1"),
        expr("s_t0 div n_t0").as("mean_t0_cents"),
        expr("s_t1 div n_t1").as("mean_t1_cents"),
        expr("s_c0 div n_c0").as("mean_c0_cents"),
        expr("s_c1 div n_c1").as("mean_c1_cents"))
      .withColumn(
        "did_cents",
        (col("mean_t1_cents") - col("mean_t0_cents"))
          - (col("mean_c1_cents") - col("mean_c0_cents")))
  }

  /** #288 Mann–Whitney U rank-sum test: do PROMO parts' line revenues
    * come from a different distribution than non-promo — the
    * NONPARAMETRIC companion to #286's difference of means (DiD moves
    * with outliers; rank-sum only with order). Everything integer:
    * midranks with ties live on the DOUBLED grid (2·midrank =
    * 2·cum_below + t + 1 — always a whole number), so U₁ ships as
    * u1_2x; effect size is the common-language CL = U₁/(n₁n₂) on e6
    * (P(random treated > random control)); z uses the tie-corrected
    * variance Var = n₁n₂((n+1)n(n−1) − Σ(t³−t)) / (12n(n−1)) with
    * cross products in DECIMAL(38,0) and σ via the #226 one-ulp-clamp
    * isqrt (divide A by B FIRST — the quotient ~n₁n₂(n+1)/12 keeps
    * √ inside the double-exactness domain through ~1000× this
    * corpus); z's sign is extracted before the div so truncation
    * semantics can't differ across engines. The global value rank is
    * the #180 hierarchical build (monotone value-range shard +
    * offsets) over the per-VALUE aggregate — ties collapse before any
    * window, so the windows ride |distinct values|, not rows.
    */
  /** The doubled-midrank promo-vs-rest U frame shared by #288 (which
    * adds the tie-corrected z) and #339 Cliff's delta (which reads the
    * effect size straight off U): 1 row (n1, n2, n, u1_2x, tie_t).
    */
  private[operators] def promoRankAgg(spark: SparkSession, dir: String, nShards: Int): DataFrame = {
    val lines = Tables
      .lineitem(spark, dir)
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .select(
              col("p_partkey").as("l_partkey"),
              col("p_type").startsWith("PROMO").cast("long").as("t"))),
        "l_partkey")
      .select(
        col("t"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("c"))
    val byVal = lines.groupBy("c").agg(count(lit(1)).as("cnt"), sum("t").as("cnt1"))
    val bounds = byVal.agg(min("c").as("lo"), max("c").as("hi"))
    val sharded = byVal
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((c - lo) * $nShards) div (hi - lo + 1)"))
    val offsets = sharded
      .groupBy("shard")
      .agg(sum("cnt").as("sc"))
      .withColumn(
        "off",
        coalesce(
          sum("sc").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val cum = sharded
      .withColumn(
        "cum_local",
        coalesce(
          sum("cnt").over(
            Window.partitionBy("shard").orderBy("c").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .join(broadcast(offsets), "shard")
      .select(col("c"), col("cnt"), col("cnt1"), (col("off") + col("cum_local")).as("cum"))
    cum
      .agg(
        sum("cnt").as("n"),
        sum("cnt1").as("n1"),
        sum(expr("cnt1 * (2 * cum + cnt + 1)")).as("r1_2x"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie_t"))
      .select(
        col("n1"),
        (col("n") - col("n1")).as("n2"),
        col("n"),
        (col("r1_2x") - col("n1") * (col("n1") + 1)).as("u1_2x"),
        col("tie_t"))
  }

  def mannWhitney(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    promoRankAgg(spark, dir, nShards)
      .withColumn(
        "cl_e6",
        expr("""CAST(CAST(u1_2x AS DECIMAL(38,0)) * 1000000
                 div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""))
      .withColumn(
        "var_u",
        expr("""CAST(CAST(n1 AS DECIMAL(38,0)) * n2 *
                  (CAST(n + 1 AS DECIMAL(38,0)) * n * (n - 1) - tie_t)
                 div (12 * CAST(n AS DECIMAL(38,0)) * (n - 1)) AS DECIMAL(38,0))"""))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(var_u AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "sigma",
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= var_u THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > var_u THEN 1 ELSE 0 END)"""))
      .select(
        col("n1"),
        col("n2"),
        col("u1_2x"),
        col("cl_e6"),
        expr("""CAST(CASE WHEN u1_2x >= n1 * n2 THEN 1 ELSE -1 END
                 * (abs(CAST(u1_2x AS DECIMAL(38,0)) - CAST(n1 AS DECIMAL(38,0)) * n2) * 1000000
                    div (2 * sigma)) AS BIGINT)""").as("z_e6"))
  }

  /** #289 Wald–Wolfowitz runs test: is daily revenue's above/below-
    * median sequence RANDOM, or does it trend/cycle — the
    * sequential-independence screen beside #284 (CUSUM asks "did the
    * level shift"; runs asks "is the ordering itself non-random" —
    * too FEW runs = persistence/trend, too many = oscillation).
    * Median is the #106 rank-defined lower median over the day frame;
    * equal-to-median days drop (the standard convention); R counts
    * sign changes + 1 via one lag over the day order. Exact z with no
    * float: z = N div √(A div B) with N = R·n − n − 2n₁n₀,
    * A = 2n₁n₀(2n₁n₀−n), B = n−1 (the n² in Var's denominator cancels
    * into N), σ via the one-ulp-clamp isqrt, sign extracted before
    * the div. Every unpartitioned window rides the PER-DAY aggregate
    * (≤ #calendar-days rows) — a documented PlanDisciplineSpec
    * exception with an exact instance count.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val withMed = byDay
      .withColumn("rn", row_number().over(Window.orderBy(col("x"), col("day"))).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val med = withMed
      .agg(max(when(col("rn") === expr("(nn + 1) div 2"), col("x"))).as("med"))
    val signs = byDay
      .crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .select(col("day"), (col("x") > col("med")).cast("long").as("s"))
      .withColumn("prev", lag("s", 1).over(Window.orderBy("day")))
      .select(
        col("s"),
        when(col("prev").isNull || col("prev") =!= col("s"), 1L).otherwise(0L).as("chg"))
    signs
      .agg(count(lit(1)).as("n"), sum("s").as("n1"), sum("chg").as("runs"))
      .crossJoin(broadcast(med))
      .select(
        col("n").as("n_days_used"),
        col("n1").as("n_above"),
        (col("n") - col("n1")).as("n_below"),
        col("med").as("median_cents"),
        col("runs"),
        expr("CAST(1000000 + 2 * n1 * (n - n1) * 1000000 div n AS BIGINT)").as("mu_e6"))
      .withColumn(
        "q",
        expr("2 * n_above * n_below * (2 * n_above * n_below - n_days_used) div (n_days_used - 1)"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(q AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "sigma",
        expr("""s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= q THEN 1 ELSE 0 END)
                   - (CASE WHEN s0 * s0 > q THEN 1 ELSE 0 END)"""))
      .select(
        col("n_days_used"),
        col("n_above"),
        col("n_below"),
        col("median_cents"),
        col("runs"),
        col("mu_e6"),
        expr("""CAST(CASE WHEN runs * n_days_used - n_days_used - 2 * n_above * n_below >= 0
                    THEN 1 ELSE -1 END
                 * (abs(runs * n_days_used - n_days_used - 2 * n_above * n_below) * 1000000
                    div sigma) AS BIGINT)""").as("z_e6"))
  }

  /** #290 Day-of-week seasonality profile: per weekday, observed
    * days, revenue, floor-mean daily revenue, and the seasonal index
    * e6 vs the overall daily mean — the 7-row multiplicative profile
    * ops dashboards key staffing and campaign timing on, and the
    * descriptive companion to #221's seasonal decomposition (that
    * fits a model; this is the raw profile a reviewer sanity-checks
    * it against). Weekday from pure epoch-day arithmetic,
    * pmod(day+3, 7) with 0 = Monday — no engine dayofweek()
    * convention to disagree on. One day-keyed aggregate + one 7-row
    * rollup; index through DECIMAL(38,0).
    */
  /** #292 Holt–Winters additive triple smoothing per event-type daily
    * series: level + trend + a 7-slot weekly seasonal state — the
    * seasonal rung above #250's Holt (level+trend) and the
    * state-space counterpart of #221's decomposition, with the same
    * dyadic α = β = γ = ¼ and sign-factored truncating quarters so
    * Spark's `div` and DuckDB's `//` replay the identical integer
    * trajectory through negative states. The seasonal slot is indexed
    * by CALENDAR day-of-week (day mod 7), not step order, so day gaps
    * don't shear the season. Fold is sequential by definition; the
    * step table is calendar-bounded, so it runs inside one collected
    * array scalar per series (the #250/#234 bounded-model-state
    * pattern), seasonal state carried as a 7-element array rebuilt by
    * slice concatenation. Forecast = l + b + s[(day+1) mod 7] from
    * the post-update state.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    def q(a: String) = s"(CASE WHEN ($a) < 0 THEN -((-($a)) div 4) ELSE ($a) div 4 END)"
    val sOld = "element_at(acc.s, CAST(s.day % 7 AS INT) + 1)"
    val newL = q(s"(s.y - $sOld) + 3 * (acc.l + acc.b)")
    val newB = q(s"($newL - acc.l) + 3 * acc.b")
    val slot = q(s"(s.y - $newL) + 3 * $sOld")
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("y"))
    daily
      .groupBy("event_type")
      .agg(expr("sort_array(collect_list(named_struct('day', day, 'y', y)))").as("steps"))
      .select(
        col("event_type"),
        explode(
          expr(s"""transform(steps, (x, i) -> named_struct(
                     'day', x.day, 'cents', x.y,
                     'st', aggregate(slice(steps, 2, i),
                             named_struct(
                               'l', element_at(steps, 1).y, 'b', 0L,
                               's', array(0L, 0L, 0L, 0L, 0L, 0L, 0L)),
                             (acc, s) -> named_struct(
                               'l', $newL,
                               'b', $newB,
                               's', concat(
                                 slice(acc.s, 1, CAST(s.day % 7 AS INT)),
                                 array($slot),
                                 slice(acc.s, CAST(s.day % 7 AS INT) + 2,
                                   6 - CAST(s.day % 7 AS INT)))))))"""))
          .as("h"))
      .select(
        col("event_type"),
        col("h.day").as("day"),
        col("h.cents").as("cents"),
        col("h.st.l").as("level_c"),
        col("h.st.b").as("trend_c"),
        expr("element_at(h.st.s, CAST(h.day % 7 AS INT) + 1)").as("season_c"),
        expr("h.st.l + h.st.b + element_at(h.st.s, CAST((h.day + 1) % 7 AS INT) + 1)")
          .as("forecast_next_c"))
  }

  /** #293 ABC class migration matrix: each part's revenue class
    * (#191's 80/95 cumulative-share A/B/C, or '-' when unsold) in the
    * first vs second half of the corpus, as a 4×4 transition matrix
    * with part counts and second-half revenue — the assortment-drift
    * read-out planners run quarter over quarter (#257 crosses ABC
    * with variability at one point in time; this shows the CLASS
    * ITSELF moving, "what was A and is now C"). The period split is
    * the #286 data-derived midpoint; within each period the class is
    * the #191 hierarchical cumulative-share build verbatim (reverse
    * value-range shard + offsets, share through DECIMAL(38,0)) — two
    * bounded-window builds + one full-outer join at part cardinality
    * + a ≤16-row rollup.
    */
  def abcMigration(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val lines = Tables
      .lineitem(spark, dir)
      .join(
        Tables
          .orders(spark, dir)
          .select(
            col("o_orderkey").as("l_orderkey"),
            expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
              .as("day")),
        "l_orderkey")
      .select(
        col("l_partkey"),
        col("day"),
        expr("CAST(floor(l_extendedprice * (1.0d - l_discount)) AS BIGINT)").as("r"))
    val split = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
      .agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val withPeriod = lines
      .crossJoin(broadcast(split))
      .select(col("l_partkey"), (col("day") >= col("mid")).cast("long").as("period"), col("r"))
      .localCheckpoint(eager = false)
    def classify(period: Long): DataFrame = {
      val rev = withPeriod
        .filter(col("period") === period)
        .groupBy("l_partkey")
        .agg(sum("r").as("rev"))
      val bounds = rev.agg(min("rev").as("lo"), max("rev").as("hi"))
      val sharded = rev
        .crossJoin(broadcast(bounds))
        .withColumn("shard", expr(s"((hi - rev) * $nShards) div (hi - lo + 1)"))
      val ws = Window.partitionBy("shard").orderBy(col("rev").desc, col("l_partkey"))
      val offsets = sharded
        .groupBy("shard")
        .agg(sum("rev").as("s"))
        .withColumn(
          "roff",
          coalesce(
            sum("s").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select(col("shard"), col("roff"))
      val tot = rev.agg(sum("rev").as("t"))
      sharded
        .withColumn("csum", sum("rev").over(ws))
        .join(broadcast(offsets), "shard")
        .crossJoin(broadcast(tot))
        .withColumn(
          "share_e6",
          expr("CAST((CAST(roff + csum AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"))
        .select(
          col("l_partkey"),
          when(col("share_e6") <= 800000, "A")
            .when(col("share_e6") <= 950000, "B")
            .otherwise("C")
            .as(s"class_p$period"),
          col("rev").as(s"rev_p$period"))
    }
    classify(0L)
      .join(classify(1L), Seq("l_partkey"), "full_outer")
      .select(
        coalesce(col("class_p0"), lit("-")).as("class_before"),
        coalesce(col("class_p1"), lit("-")).as("class_after"),
        coalesce(col("rev_p1"), lit(0L)).as("r1"))
      .groupBy("class_before", "class_after")
      .agg(count(lit(1)).as("n_parts"), sum("r1").as("after_revenue_usd"))
  }

  /** #294 Vintage revenue ramp: mean revenue per part-month by part
    * AGE (months since first sale) — the cold-start curve that says
    * how fast a new catalog item ramps to steady state, the
    * longitudinal companion to #281 (breadth counts new parts; this
    * tracks what a part EARNS in its nth month of life, the basis of
    * new-item forecasting baselines). Age from one min-aggregate
    * joined back at (part, month) grain; one ≤#months-row rollup.
    * All exact: whole-dollar revenue, floor-division means.
    */
  def vintageRamp(spark: SparkSession, dir: String): DataFrame = {
    val pm = Tables
      .lineitem(spark, dir)
      .join(
        Tables
          .orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(
        col("l_partkey"),
        expr("CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(l_extendedprice * (1.0d - l_discount)) AS BIGINT)").as("r"))
      .groupBy("l_partkey", "m")
      .agg(sum("r").as("rev"))
      .localCheckpoint(eager = false)
    val first = pm.groupBy("l_partkey").agg(min("m").as("m0"))
    pm.join(first, "l_partkey")
      .select((col("m") - col("m0")).as("age_months"), col("rev"))
      .groupBy("age_months")
      .agg(count(lit(1)).as("n_part_months"), sum("rev").as("revenue_usd"))
      .withColumn("mean_usd", expr("revenue_usd div n_part_months"))
  }

  /** #295 Monthly revenue bands: per calendar month, exact
    * rank-defined p25/p50/p75 of DAILY revenue — the banded seasonal
    * chart behind #290's weekday profile (that averages per weekday;
    * this shows each month's daily spread, where a widening p25–p75
    * band flags volatility a monthly total hides). The #106 lower
    * percentile machinery per month partition: rank ⌈n/4⌉, ⌈n/2⌉,
    * ⌈3n/4⌉ under the (value, day) total order — all windows
    * month-partitioned, the frame bounded by days-per-month.
    */
  def monthlyBands(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("month"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("month", "day")
      .agg(sum("c").as("x"))
    val w = Window.partitionBy("month").orderBy(col("x"), col("day"))
    daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("month")))
      .groupBy("month")
      .agg(
        max("n").as("n_days"),
        max(when(col("rn") === expr("(n + 3) div 4"), col("x"))).as("p25_cents"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("x"))).as("p50_cents"),
        max(when(col("rn") === expr("(3 * n + 3) div 4"), col("x"))).as("p75_cents"))
  }

  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
    val byDow = daily
      .select(expr("pmod(day + 3, 7)").as("dow"), col("x"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"), sum("x").as("dow_cents"))
    val tot = byDow.agg(sum("n_days").as("td"), sum("dow_cents").as("tc"))
    byDow
      .crossJoin(broadcast(tot))
      .select(
        col("dow"),
        col("n_days"),
        col("dow_cents"),
        expr("dow_cents div n_days").as("mean_cents"),
        expr("""CAST(CAST(dow_cents div n_days AS DECIMAL(38,0)) * 1000000
                 div (tc div td) AS BIGINT)""").as("index_e6"))
  }

  /** #300 Economic order quantity: per part, the Wilson lot size
    * q* = √(2·D·S / h) that balances ordering cost against holding
    * cost — the classical inventory-policy read-out that completes
    * #256's WHEN (reorder point) with the HOW MUCH. D = corpus demand
    * (the same rounded-qty grid as #256), S = a 10 000-cent fixed
    * order cost, h = the part's retail price in cents (value-
    * proportional holding, the textbook convention). All-integer:
    * x = (2·D·S) div h on DECIMAL(38,0), then the #226 one-ulp-clamp
    * EXACT integer sqrt — identical in both engines. Implied order
    * count = D div q*. One aggregate + one dim join, linear, no
    * windows.
    */
  def eoq(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_partkey"), expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey")
      .agg(sum("q").as("demand_qty"))
      .join(
        Tables
          .part(spark, dir)
          .select(
            col("p_partkey").as("l_partkey"),
            expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("h_cents")),
        "l_partkey")
      .filter(col("h_cents") >= 1 && col("demand_qty") >= 1)
      .withColumn(
        "x",
        expr("CAST((2 * CAST(demand_qty AS DECIMAL(38,0)) * 10000) div h_cents AS BIGINT)"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "eoq_qty",
        expr("""s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
                   - (CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END)"""))
      .select(
        col("l_partkey"),
        col("demand_qty"),
        col("h_cents"),
        col("eoq_qty"),
        expr("CASE WHEN eoq_qty > 0 THEN demand_qty div eoq_qty ELSE NULL END")
          .as("n_orders_implied"))

  /** The (lifetime-month, at-risk, deaths) step table shared by #234
    * Kaplan-Meier, #301 Nelson-Aalen and #302 log-rank: per-customer
    * lifetimes in whole months with right-censoring inside the
    * `censorMonths` horizon, aggregated per lifetime t with the
    * at-risk suffix count n(t) = Σ_{u≥t} cnt(u). The suffix window is
    * global but rides a PER-LIFETIME-MONTH aggregate (≤ #calendar-
    * months rows) — the documented KM exception class in
    * PlanDisciplineSpec.
    */
  private[operators] def survivalSteps(spark: SparkSession, dir: String, censorMonths: Int): DataFrame = {
    val byCust = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").cast("long").as("m"))
      .groupBy("o_custkey")
      .agg(min("m").as("m0"), max("m").as("m1"))
    val corpusMax = byCust.agg(max("m1").as("mmax"))
    byCust
      .crossJoin(broadcast(corpusMax))
      .select(
        (col("m1") - col("m0")).as("t"),
        (col("m1") < col("mmax") - censorMonths).cast("long").as("death"))
      .groupBy("t")
      .agg(count(lit(1)).as("cnt"), sum("death").as("d"))
      .withColumn(
        "n",
        sum("cnt").over(
          Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)))
  }

  /** #301 Nelson–Aalen cumulative hazard: H(t) = Σ_{u≤t} d_u/n_u over
    * #234's step table — the estimator survival analysis reads when
    * the HAZARD (instantaneous churn intensity) is the quantity of
    * interest rather than the survival probability; its slope changes
    * are where retention interventions show up first. Exact/
    * deterministic: each increment is the e9-truncated quotient
    * (d·10⁹) div n, and the cumulative sum runs over those integers —
    * bit-identical in both engines (a float Σd/n would not be). The
    * prefix fold reuses #234's bounded-model-state shape: the
    * ≤ #calendar-months step table collapses to one array scalar and
    * the cumsum is a codegen'd `aggregate` over `slice` per step, so
    * the plan carries exactly ONE global window (the shared at-risk
    * suffix — the documented KM exception).
    */
  def nelsonAalen(spark: SparkSession, dir: String, censorMonths: Int = 2): DataFrame =
    survivalSteps(spark, dir, censorMonths)
      .select(col("t"), col("n"), col("d"))
      .agg(expr("sort_array(collect_list(named_struct('t', t, 'n', n, 'd', d)))").as("steps"))
      .select(
        explode(
          expr("""transform(steps, (x, i) -> named_struct(
                    't', x.t, 'n_risk', x.n, 'd', x.d,
                    'hazard_e9', (x.d * 1000000000L) div x.n,
                    'cum_hazard_e9', aggregate(slice(steps, 1, i + 1), 0L,
                                       (acc, y) -> acc + (y.d * 1000000000L) div y.n)))"""))
          .as("s"))
      .select(col("s.t"), col("s.n_risk"), col("s.d"), col("s.hazard_e9"), col("s.cum_hazard_e9"))

  /** #302 Log-rank test: is the survival experience of BUILDING-
    * segment customers different from everyone else's? The standard
    * two-sample censored-data test (Mantel 1966) behind every
    * retention A/B readout — at each death time the observed group-A
    * deaths are compared with the hypergeometric expectation
    * E = d·n_a/n, variance V = d·(n_a/n)·(n_b/n)·(n−d)/(n−1), and
    * χ² = (O−E)²/ΣV. Exact/deterministic: per-step E and V are
    * e9-truncated integer quotients through DECIMAL(38,0) (the #245
    * per-term-truncation discipline — summing floats would diverge
    * across engines), and the final χ² lands on the e6 grid via one
    * integer division chain. Steps with n ≤ 1 or d = 0 contribute
    * nothing, exactly as in the textbook statistic. Scale shape: one
    * per-customer aggregate, one ≤#months pivot, ONE global window
    * (both suffix sums share a frame) over the bounded step table —
    * the documented KM exception class.
    */
  def logRank(spark: SparkSession, dir: String, censorMonths: Int = 2): DataFrame = {
    val byCust = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").cast("long").as("m"))
      .groupBy("o_custkey")
      .agg(min("m").as("m0"), max("m").as("m1"))
      .join(
        Tables
          .customer(spark, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
    val corpusMax = byCust.agg(max("m1").as("mmax"))
    val byT = byCust
      .crossJoin(broadcast(corpusMax))
      .select(
        (col("m1") - col("m0")).as("t"),
        (col("m1") < col("mmax") - censorMonths).cast("long").as("death"),
        (col("c_mktsegment") === "BUILDING").cast("long").as("is_a"))
      .groupBy("t")
      .agg(
        sum("is_a").as("cnt_a"),
        (count(lit(1)) - sum("is_a")).as("cnt_b"),
        sum(col("death") * col("is_a")).as("d_a"),
        sum(col("death") * (lit(1L) - col("is_a"))).as("d_b"))
    val wSuffix = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byT
      .withColumn("n_a", sum("cnt_a").over(wSuffix))
      .withColumn("n_b", sum("cnt_b").over(wSuffix))
      .withColumn("dd", col("d_a") + col("d_b"))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn(
        "e_a_e9",
        expr("""CASE WHEN dd > 0 AND nn > 1
                 THEN CAST((CAST(dd AS DECIMAL(38,0)) * n_a * 1000000000) div nn AS BIGINT)
                 ELSE 0L END"""))
      .withColumn(
        "v_e9",
        expr("""CASE WHEN dd > 0 AND nn > 1
                 THEN CAST((CAST(dd AS DECIMAL(38,0)) * n_a * n_b * (nn - dd) * 1000000000)
                      div (CAST(nn AS DECIMAL(38,0)) * nn * (nn - 1)) AS BIGINT)
                 ELSE 0L END"""))
      .agg(
        sum("cnt_a").as("n_cust_a"),
        sum("cnt_b").as("n_cust_b"),
        sum("d_a").as("o_a"),
        sum("d_b").as("o_b"),
        sum("e_a_e9").as("e_a_e9"),
        sum("v_e9").as("v_e9"))
      .select(
        col("n_cust_a"),
        col("n_cust_b"),
        col("o_a"),
        col("o_b"),
        col("e_a_e9"),
        col("v_e9"),
        expr("""CASE WHEN v_e9 > 0 THEN
                 CAST((CAST(o_a AS DECIMAL(38,0)) * 1000000000 - e_a_e9)
                      * (CAST(o_a AS DECIMAL(38,0)) * 1000000000 - e_a_e9)
                      div v_e9 div 1000 AS BIGINT)
                ELSE NULL END""").as("chi2_e6"))
  }

  /** #303 Lift / gains table: order value as a propensity score for
    * order completion, read as the 10-decile lift chart every
    * targeting campaign is sized from — per decile the response rate,
    * lift over base rate, and cumulative gains ("the top 30% of
    * scores capture X% of responders"). Completes the evaluation
    * family's score tooling: #232 AUC says the score ranks, #233
    * calibration says the magnitude means something, this prices the
    * CUTOFF decision.
    *
    * Deciles are TIE-BLOCK deciles on the exact integer rank: rows
    * collapse per distinct score first, the strictly-above prefix is
    * built hierarchically (#232's monotone score-shard + within-shard
    * cumsum + ≤nShards offset carry — no global data window), and
    * decile = (rows_above·10) div N, so tied scores land in one
    * decile deterministically in both engines. Rates/lifts are e6
    * integer quotients through DECIMAL(38,0). The only global window
    * is the cumulative sum over the ≤10-row decile aggregate
    * (documented in PlanDisciplineSpec).
    */
  def liftTable(
      spark: SparkSession,
      dir: String,
      nShards: Int = 8,
      cut: Boolean = true): DataFrame = {
    val byVal = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("pos"))
      .groupBy("v")
      .agg(count(lit(1)).as("n_rows"), sum("pos").as("n_pos"))
    val bounds = byVal.agg(min("v").as("lo"), max("v").as("hi"))
    // cut=false = the PlanDisciplineSpec audit form (no RDDScan)
    val sharded = Lineage.cutIf(cut)(
      byVal
        .crossJoin(broadcast(bounds))
        .withColumn("shard", expr(s"((hi - v) * $nShards) div (hi - lo + 1)")))
    val local = sharded.withColumn(
      "local_above",
      coalesce(
        sum("n_rows").over(
          Window
            .partitionBy("shard")
            .orderBy(col("v").desc)
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val offsets = sharded
      .groupBy("shard")
      .agg(sum("n_rows").as("c"))
      .withColumn(
        "off",
        coalesce(
          sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val tot = byVal.agg(sum("n_rows").as("nt"), sum("n_pos").as("pt"))
    val deciles = local
      .join(broadcast(offsets), "shard")
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("((off + local_above) * 10) div nt"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_scores"),
        sum("n_rows").as("n"),
        sum("n_pos").as("n_pos"),
        max("nt").as("nt"),
        max("pt").as("pt"))
    deciles
      .withColumn(
        "cum_n",
        sum("n").over(Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn(
        "cum_pos",
        sum("n_pos").over(Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)))
      .select(
        col("decile"),
        col("n"),
        col("n_pos"),
        expr("CAST(n_pos * 1000000 div n AS BIGINT)").as("rate_e6"),
        expr("CAST((CAST(n_pos AS DECIMAL(38,0)) * nt * 1000000) div (CAST(n AS DECIMAL(38,0)) * pt) AS BIGINT)")
          .as("lift_e6"),
        expr("CAST(cum_pos * 1000000 div pt AS BIGINT)").as("cum_gain_e6"),
        expr("""CAST((CAST(cum_pos AS DECIMAL(38,0)) * nt * 1000000)
                 div (CAST(cum_n AS DECIMAL(38,0)) * pt) AS BIGINT)""").as("cum_lift_e6"))
  }

  /** #304 Partition modularity of the co-purchase graph: does the
    * BRAND partition explain the basket network? Newman modularity
    * Q = Σ_c [m_c/m − (deg_c/2m)²] per community, the quality score
    * behind every community-detection readout — here scoring a GIVEN
    * business partition (brand) rather than a discovered one, the
    * assortment question "are same-brand parts actually bought
    * together". Exact: per-brand contribution on the e6 grid as the
    * signed quotient (4m·m_c − deg_c²)·10⁶ div (4m²) through
    * DECIMAL(38,0) (deg_c² crosses 2⁶³ at warehouse scale); Σ over
    * brands of the UNDIVIDED numerators is pinned to Q's exact
    * rational form in the spec. Scale shape: edges come from
    * per-order basket combinations (#89's bounded explode — never a
    * fact self-join), deduped once; m is a 1-row broadcast; degree
    * and intra-edge counts are two linear aggregates + one dim join.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 transform(slice(parts, i + 2, size(parts)),
                   y -> named_struct('part_a', x, 'part_b', y))))"""))
          .as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .distinct()
      .localCheckpoint(eager = false)
    val brand = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val labeled = edges
      .join(brand.select(col("p_partkey").as("part_a"), col("p_brand").as("brand_a")), "part_a")
      .join(brand.select(col("p_partkey").as("part_b"), col("p_brand").as("brand_b")), "part_b")
    val m = labeled.agg(count(lit(1)).as("m"))
    val intra = labeled
      .filter(col("brand_a") === col("brand_b"))
      .groupBy(col("brand_a").as("p_brand"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = labeled
      .select(explode(array(
        struct(col("part_a").as("node"), col("brand_a").as("p_brand")),
        struct(col("part_b").as("node"), col("brand_b").as("p_brand")))).as("e"))
      .select(col("e.node"), col("e.p_brand"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("deg_sum"), countDistinct("node").as("n_parts"))
    deg
      .join(intra, Seq("p_brand"), "left")
      .na
      .fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(m))
      .select(
        col("p_brand"),
        col("n_parts"),
        col("intra_edges"),
        col("deg_sum"),
        expr("""CAST(4 * CAST(m AS DECIMAL(38,0)) * intra_edges
                     - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum AS BIGINT)""").as("contrib_num"),
        expr("""CAST(CASE WHEN 4 * CAST(m AS DECIMAL(38,0)) * intra_edges
                          - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum < 0 THEN -1 ELSE 1 END
                 * (abs(4 * CAST(m AS DECIMAL(38,0)) * intra_edges
                        - CAST(deg_sum AS DECIMAL(38,0)) * deg_sum) * 1000000
                    div (4 * CAST(m AS DECIMAL(38,0)) * m)) AS BIGINT)""").as("contrib_e6"))
  }

  /** #305 Discount elasticity: per brand, the OLS slope of line-item
    * quantity on the discount level — "does a deeper discount move
    * volume for this brand", the first-order pricing read every
    * promo analysis starts from (a near-zero slope says the discount
    * is subsidy, not stimulus). Same exact-integer OLS discipline as
    * #159/#231: x = discount on the e2 grid, y = rounded qty, slope
    * numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² through
    * DECIMAL(38,0), slope on the e6 grid as a sign-factored
    * truncating quotient (`div` ↔ `//` replay identically through
    * negatives). One join + one aggregate per brand, linear, no
    * windows; brands with a degenerate x spread (den = 0) are
    * filtered as slope-undefined.
    */
  def discountElasticity(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("y"))
      .join(
        Tables.part(spark, dir).select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn(
        "num",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)"))
      .withColumn(
        "den",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)"))
      .filter(col("den") > 0)
      .select(
        col("p_brand"),
        col("n"),
        col("num"),
        col("den"),
        expr("""CAST(CASE WHEN num < 0 THEN -1 ELSE 1 END
                 * (abs(CAST(num AS DECIMAL(38,0))) * 1000000 div den) AS BIGINT)""")
          .as("slope_e6"))

  /** #306 Frequent triples (3-itemsets): the top part triples by
    * basket co-occurrence — one apriori rung above #89's pairs, the
    * bundle-building signal ("these THREE ship together") behind
    * cross-sell kits. Scale shape: the 3-combination fan-out happens
    * INSIDE each order's sorted distinct-part array (baskets are
    * small and bounded, ≤ C(|basket|,3) ≈ 35 structs per order at
    * TPC-H shape) — linear in orders, never a triple self-join of
    * the fact table, which is the classic itemset scale-killer. One
    * groupBy count + TakeOrdered top-k with the full-key tiebreak.
    */
  def itemsets3(spark: SparkSession, dir: String, topK: Int = 25): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
      .filter(size(col("parts")) >= 3)
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 flatten(transform(slice(parts, i + 2, size(parts)), (y, j) ->
                   transform(slice(parts, i + j + 3, size(parts)),
                     z -> named_struct('part_a', x, 'part_b', y, 'part_c', z))))))"""))
          .as("t"))
      .select(col("t.part_a"), col("t.part_b"), col("t.part_c"))
      .groupBy("part_a", "part_b", "part_c")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"), col("part_c"))
      .limit(topK)

  /** #309 Kruskal–Wallis H test: do line revenues differ across the
    * six part-type families (first word of p_type) — the k-sample
    * generalization of #288's Mann–Whitney, the omnibus "is ANY group
    * different" gate run before pairwise rank tests. Everything on
    * #288's doubled-midrank grid: 2·midrank(v) = 2·cum_below + t + 1,
    * so the per-group rank sum ships as r_2x = 2·R_g and the centered
    * deviation dev_2x = r_2x − n_g(n+1) = 2·n_g·(r̄_g − r̄) is a whole
    * number. H = Σ_g 3·dev_2x² / (n_g·n·(n+1)) — per-group terms
    * e6-truncated through DECIMAL(38,0)↔HUGEINT (one combined
    * denominator, ONE truncation per group, order-independent sum);
    * tie correction H' = H·(n³−n)/(n³−n−Σ(t³−t)) as a second exact
    * integer quotient (NULL when every value ties). dev_2x² ≤ 4n⁴
    * bounds the cross product — inside DECIMAL(38,0) through ~10⁸
    * rows per test; beyond that collapse the cents grid first.
    *
    * Scale shape: ranks come from the per-VALUE aggregate (ties
    * collapse before any window) via the #180 hierarchical build —
    * monotone value-range shard + within-shard cumsum + ≤nShards
    * offset carry, no global data window; group totals are one
    * (group, value) join + k-row aggregate; H is a k-row fold.
    */
  def kruskalWallis(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame =
      Lineage.checkpointReleasing(spark) { implicit scope =>
    // r14: the lazy multi-consumer frames here raced their broadcast
    // builds (bounds/offsets/tot/h are all broadcast-side scalar
    // frames over the same subtrees their stream consumers read —
    // each racing consumer re-ran the scan+join+rank chain; the
    // round's measured broadcast-race family). Eager cuts at the four
    // fan-out points: lines (2 consumers), byVal (2), cum (2),
    // terms (2).
    val lines = Tables
      .lineitem(spark, dir)
      .join(
        broadcast(
          Tables
            .part(spark, dir)
            .select(
              col("p_partkey").as("l_partkey"),
              expr("split_part(p_type, ' ', 1)").as("type_family"))),
        "l_partkey")
      .select(
        col("type_family"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("c"))
      .cp(true)
    val byVal = lines.groupBy("c").agg(count(lit(1)).as("cnt")).cp(true)
    val bounds = byVal.agg(min("c").as("lo"), max("c").as("hi"))
    val sharded = byVal
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((c - lo) * $nShards) div (hi - lo + 1)"))
    val offsets = sharded
      .groupBy("shard")
      .agg(sum("cnt").as("sc"))
      .withColumn(
        "off",
        coalesce(
          sum("sc").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val cum = sharded
      .withColumn(
        "cum_local",
        coalesce(
          sum("cnt").over(
            Window.partitionBy("shard").orderBy("c").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .join(broadcast(offsets), "shard")
      .select(col("c"), col("cnt"), (col("off") + col("cum_local")).as("cum"))
      .cp(true)
    val tot = cum.agg(
      sum("cnt").as("n"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie_t"))
    val perGroup = lines
      .groupBy("type_family", "c")
      .agg(count(lit(1)).as("cnt_g"))
      .join(cum, "c")
      .groupBy("type_family")
      .agg(sum("cnt_g").as("n_g"), sum(expr("cnt_g * (2 * cum + cnt + 1)")).as("r_2x"))
    val k = perGroup.agg(count(lit(1)).as("k_groups"))
    val terms = perGroup
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(k))
      .withColumn("dev_2x", expr("r_2x - n_g * (n + 1)"))
      .withColumn(
        "term_e6",
        expr("""CAST((3 * CAST(dev_2x AS DECIMAL(38,0)) * dev_2x * 1000000)
                 div (CAST(n_g AS DECIMAL(38,0)) * n * (n + 1)) AS BIGINT)"""))
      .cp(true)
    val h = terms
      .groupBy("n", "tie_t", "k_groups")
      .agg(sum("term_e6").as("h_e6"))
      .withColumn(
        "h_tie_e6",
        expr("""CASE WHEN CAST(n AS DECIMAL(38,0)) * n * n - n - tie_t > 0 THEN
                  CAST(CAST(h_e6 AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * n * n - n)
                    div (CAST(n AS DECIMAL(38,0)) * n * n - n - tie_t) AS BIGINT)
                ELSE NULL END"""))
      .select(col("h_e6"), col("h_tie_e6"))
    val out = terms
      .crossJoin(broadcast(h))
      .select(
        col("type_family"),
        col("n_g"),
        col("r_2x"),
        expr("CAST(CAST(r_2x AS DECIMAL(38,0)) * 1000000 div (2 * n_g) AS BIGINT)")
          .as("mean_rank_e6"),
        col("term_e6"),
        col("k_groups"),
        col("n"),
        col("h_e6"),
        col("h_tie_e6"))
    (out, Seq.empty)
  }

  /** #310 Price indices: monthly Laspeyres, Paasche and Fisher
    * indices of realized unit prices over the base-month common
    * basket — the inflation-tracking read a revenue team runs to
    * split growth into price vs volume (Laspeyres freezes base-month
    * quantities, Paasche uses current ones, Fisher is their geometric
    * mean — the "ideal" index that cancels both substitution biases).
    * Unit price per (part, month) = revenue cents div quantity (one
    * truncation, replayable); basket = parts traded in BOTH the base
    * month and the month under read, so the ratio compares like with
    * like. L_e6 = Σp_m·q_0 ·10⁶ div Σp_0·q_0 and P_e6 analogously —
    * single truncating quotients through DECIMAL(38,0)↔HUGEINT;
    * Fisher = the #226 one-ulp-clamp EXACT isqrt of the e12 product,
    * so √ never meets a float. Base-month row is exactly 10⁶ on all
    * three. Scale shape: one (part, month) aggregate, one join on
    * part against the base-month frame (shuffle on the part key —
    * the basket is NOT assumed broadcast-small), one ≤#months-row
    * aggregate; no windows.
    */
  def priceIndex(spark: SparkSession, dir: String): DataFrame =
      Lineage.checkpointReleasing(spark) { implicit scope =>
    // r14: pm (a full lineitem scan + (part, month) rollup) fed THREE
    // consumers — the m0 broadcast build, base, and the final join —
    // and the lazy form re-ran the rollup once per racing consumer
    // (the round's broadcast-race family). One eager cut.
    val pm = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)").as("m"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("rev"))
      .groupBy("l_partkey", "m")
      .agg(sum("q").as("qty"), sum("rev").as("rev"))
      .filter(col("qty") >= 1)
      .withColumn("p", expr("rev div qty"))
      .cp(true)
    val m0 = pm.agg(min("m").as("m0"))
    val base = pm
      .crossJoin(broadcast(m0))
      .filter(col("m") === col("m0"))
      .select(col("l_partkey"), col("p").as("p0"), col("qty").as("q0"))
    val out = pm.join(base, "l_partkey")
      .groupBy("m")
      .agg(
        count(lit(1)).as("n_parts"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * q0")).as("l_num"),
        sum(expr("CAST(p0 AS DECIMAL(38,0)) * q0")).as("l_den"),
        sum(expr("CAST(p AS DECIMAL(38,0)) * qty")).as("p_num"),
        sum(expr("CAST(p0 AS DECIMAL(38,0)) * qty")).as("p_den"))
      .withColumn("laspeyres_e6", expr("CAST(l_num * 1000000 div l_den AS BIGINT)"))
      .withColumn("paasche_e6", expr("CAST(p_num * 1000000 div p_den AS BIGINT)"))
      .withColumn(
        "x",
        expr("CAST(laspeyres_e6 AS DECIMAL(38,0)) * paasche_e6"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "fisher_e6",
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= x THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > x THEN 1 ELSE 0 END)"""))
      .select(
        col("m"),
        col("n_parts"),
        col("laspeyres_e6"),
        col("paasche_e6"),
        col("fisher_e6"))
    (out, Seq.empty)
  }

  /** Newsvendor cost ratio: underage (lost margin) vs overage
    * (holding/salvage loss) — 3:1 puts the critical fractile at 3/4.
    * The oracle rank formula is generated from these constants
    * (KmCensorMonths precedent), so changing them breaks loudly.
    */
  val NewsvendorCu = 3
  val NewsvendorCo = 1

  /** #312 Newsvendor critical-fractile stocking: per part, the stock
    * level that balances underage against overage cost — order up to
    * the τ-quantile of daily demand with τ = cu/(cu+co), the
    * single-period stochastic-inventory answer that completes the
    * deterministic #256 (reorder point) / #300 (EOQ) pair with
    * demand-DISTRIBUTION-aware sizing. The quantile is the exact
    * ⌈τ·n⌉-th order statistic of the part's daily demand under the
    * (qty, day) total order (#106's rank-defined convention — no
    * interpolation, engine-independent); ⌈cu·n/(cu+co)⌉ =
    * (cu·n + cu+co − 1) div (cu+co) in integers. All windows are
    * part-partitioned (frame = the part's ship days, calendar-
    * bounded); one aggregate joins n back. Linear, no global windows.
    */
  def newsvendor(spark: SparkSession, dir: String): DataFrame = {
    val cuco = NewsvendorCu + NewsvendorCo
    val daily = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("d"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey", "d")
      .agg(sum("q").as("qd"))
    val ranked = daily
      .withColumn(
        "rn",
        row_number()
          .over(Window.partitionBy("l_partkey").orderBy(col("qd"), col("d")))
          .cast("long"))
    val stats = daily
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_days"), sum("qd").as("total_qty"))
    ranked
      .join(stats, "l_partkey")
      .filter(col("rn") === expr(s"(${NewsvendorCu} * n_days + ${cuco - 1}) div $cuco"))
      .select(
        col("l_partkey"),
        col("n_days"),
        col("total_qty"),
        col("qd").as("q_star"),
        col("rn").as("rank_at"))
  }

  /** The #314 variable list on its integer grids (shared with the
    * oracle generator so both sides enumerate identical pairs):
    * name -> grid expression over lineitem.
    */
  val CorrMatrixVars: Seq[(String, String)] = Seq(
    "qty" -> "CAST(floor(l_quantity + 0.5) AS BIGINT)",
    "price_cents" -> "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
    "discount_bps" -> "CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)",
    "tax_bps" -> "CAST(floor(l_tax * 10000 + 0.5) AS BIGINT)")

  /** #314 Numeric correlation matrix: pairwise Pearson r² (signed)
    * across the four lineitem measures on their integer grids — the
    * profiling pass a feature-engineering pipeline runs before model
    * fitting to find redundant / leaking columns, generalizing #202's
    * single trend regression and #229's single graph correlation to
    * the all-pairs read. ONE partial-aggregate pass computes every
    * moment (n, 4 sums, 10 squares/cross-products in DECIMAL(38,0) —
    * the map-side-combine shape: d² cells shuffle, never rows), then
    * the 6 pairs unfold from the 1-row moment frame with the #229
    * sign-factored e3×e3 quotient. Cauchy–Schwarz bounds only the
    * PRODUCT of the two truncated factors (num² ≤ den_x·den_y ⇒
    * product ≤ 10⁶); one factor alone can exceed 10³ when
    * den_y ≫ den_x, so no per-factor bound may be relied on — the
    * e6 product stays bounded where num² would overflow; den=0
    * (constant column) yields NULL. The pair list is
    * shared with the oracle generator — adding a variable changes
    * both sides or neither.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val vars = CorrMatrixVars.map(_._1)
    val base = Tables
      .lineitem(spark, dir)
      .select(CorrMatrixVars.map { case (n, e) => expr(e).as(n) }: _*)
    val momentCols =
      vars.map(v => sum(col(v)).as(s"s_$v")) ++
        (for { i <- vars.indices; j <- i until vars.length } yield {
          val (a, b) = (vars(i), vars(j))
          sum(expr(s"CAST($a AS DECIMAL(38,0)) * $b")).as(s"s_${a}_${b}")
        })
    val moments = base.agg(count(lit(1)).as("n"), momentCols: _*)
    val pairStructs = (for {
      i <- vars.indices
      j <- (i + 1) until vars.length
    } yield {
      val (a, b) = (vars(i), vars(j))
      s"""named_struct(
            'var_x', '$a', 'var_y', '$b',
            'num', CAST(n AS DECIMAL(38,0)) * s_${a}_${b}
                     - CAST(s_$a AS DECIMAL(38,0)) * s_$b,
            'den_x', CAST(n AS DECIMAL(38,0)) * s_${a}_${a}
                     - CAST(s_$a AS DECIMAL(38,0)) * s_$a,
            'den_y', CAST(n AS DECIMAL(38,0)) * s_${b}_${b}
                     - CAST(s_$b AS DECIMAL(38,0)) * s_$b)"""
    }).mkString(", ")
    moments
      .select(col("n"), explode(expr(s"array($pairStructs)")).as("pair"))
      .select(
        col("pair.var_x"),
        col("pair.var_y"),
        col("n"),
        col("pair.num").as("num"),
        col("pair.den_x").as("den_x"),
        col("pair.den_y").as("den_y"))
      .select(
        col("var_x"),
        col("var_y"),
        col("n"),
        expr("""CASE WHEN den_x > 0 AND den_y > 0 THEN
                  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
                    ((abs(num) * 1000 div den_x)
                     * (abs(num) * 1000 div den_y)) AS BIGINT)
                ELSE NULL END""").as("r2_signed_e6"))
  }

  /** Per-edge triangle support on an oriented (pa < pb) edge set:
    * wedges a<b<c from two edge copies joined on the middle node,
    * closed by a semi-join on (a,c); each closed triangle credits all
    * three of its edges. Shared by #315's peel rounds and its final
    * read-out.
    */
  private[operators] def edgeSupport(e: DataFrame): DataFrame = {
    val ab = e.select(col("pa").as("a"), col("pb").as("b"))
    val bc = e.select(col("pa").as("b"), col("pb").as("c"))
    val tri = ab
      .join(bc, "b")
      .join(e.select(col("pa").as("a"), col("pb").as("c")), Seq("a", "c"), "left_semi")
    tri
      .select(col("a").as("pa"), col("b").as("pb"))
      .unionAll(tri.select(col("b").as("pa"), col("c").as("pb")))
      .unionAll(tri.select(col("a").as("pa"), col("c").as("pb")))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("support"))
  }

  /** #334 Sampled-source betweenness centrality (truncated Brandes):
    * which parts sit ON the shortest paths between other parts in the
    * co-purchase graph — the brokerage/bottleneck read PageRank's
    * flow-volume score misses (a low-traffic bridge between two dense
    * clusters is invisible to #124 and decisive here). Exact Brandes
    * over ALL sources is O(V·E) — never distributed-affordable — so
    * this is the standard k-SAMPLE estimator (Brandes & Pich 2007):
    * deterministic seed sources (part % seedMod = 1 among non-isolated
    * nodes — content-addressed, grows with the catalog), each source's
    * BFS truncated at `depth` hops (bounded-depth betweenness: paths
    * longer than `depth` contribute nothing — documented truncation,
    * the at-scale convention for small-diameter graphs).
    *
    * All-integer Brandes: BFS rounds accumulate exact BIGINT
    * path counts σ (σ(w) = Σ_pred σ(v), so σ(v) ≤ σ(w) — every
    * dependency quotient is bounded); dependency accumulation runs
    * level-by-level downward with the per-edge term
    * σ(v)·(10⁶ + δ(w)) div σ(w) — ONE truncating DECIMAL(38,0) ↔
    * HUGEINT division per edge, summed order-free, so the DuckDB
    * unrolled-CTE replay is bit-identical. δ at the truncation depth
    * is 0 by convention; the source's own row never enters the sum
    * (Brandes excludes v = s). Output: top-`topK` parts by (bc desc,
    * part) — rank-filtered, rides WindowGroupLimit.
    *
    * Scale shape: all sources advance TOGETHER — frames are keyed
    * (s, v), every round is one edge join shuffled on the node key +
    * one (s, v) aggregate, `depth` BFS rounds + `depth−1` dependency
    * rounds total regardless of graph size; per-round lineage cut
    * (eager localCheckpoint) with every intermediate released on exit
    * via [[Lineage.checkpointReleasing]]. Reference surface: none —
    * this extends the graph family (#124/#166/#200/#227/#315) with
    * the centrality real users ask for next (SURVEY §15.2 deferral,
    * cleared r7).
    */
  /** The ONE support-filtered co-purchase pair build the whole graph
    * family shares (betweenness, closeness, degreeDist, labelProp,
    * edgeEmbeddedness): distinct (order, part) incidences → oriented
    * part pairs per order (self-join on the order key, part_a <
    * part_b) → pair counts → support filter. Extracted so the
    * support threshold and orientation cannot silently drift between
    * operators that all claim to analyze the SAME graph; callers
    * symmetrize/rename/persist per their own loop shape. One
    * shuffle-heavy self-join keyed on l_orderkey + one pair
    * aggregate — built per operator (never shared-state), so each
    * caller's checkpoint/cache hygiene stays self-contained.
    */
  private[operators] def coPurchasePairs(spark: SparkSession, dir: String, minSupport: Int): DataFrame = {
    val po =
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
    po.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(po.select(col("l_orderkey"), col("l_partkey").as("part_b")), "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
  }

  def betweenness(
      spark: SparkSession,
      dir: String,
      seedMod: Int = 250,
      depth: Int = 3,
      topK: Int = 100): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    val sym = betweennessSym(spark, dir)
    (betweennessFrom(sym, seedMod, depth, topK), Seq.empty)
  }

  /** The symmetrized support-2 co-purchase edge list the truncated-
    * Brandes estimators walk — extracted (r14) so [[betweennessEval]]
    * builds it ONCE for both estimators instead of once each. `pairs`
    * is an eager cut: sym's two union branches raced on the lazy
    * frame and re-ran the pair join (the pageRank broadcast-race
    * finding).
    */
  private def betweennessSym(spark: SparkSession, dir: String)(
      implicit scope: Lineage.Scope): DataFrame = {
    val pairs = scope.cp(coPurchasePairs(spark, dir, minSupport = 2), eager = true)
    // r14: eager checkpoint instead of `.cache()` — a cached plan is
    // compiled without adaptive re-optimization, so the cache pinned
    // the session's 32 shuffle partitions and EVERY per-round BFS
    // stage ran 32 tasks over a ~123 KB graph (profiler). The eager
    // cut materializes through AQE, so its blocks carry the
    // data-SIZED partition count — at 100 TB the same line yields a
    // wide layout, locally it collapses the per-round task count.
    scope.cp(
      pairs
        .select(col("part_a").as("src"), col("part_b").as("dst"))
        .unionAll(pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
        .repartition(col("src")),
      eager = true)
  }

  /** One truncated-Brandes run over a prebuilt [[betweennessSym]]. */
  private def betweennessFrom(
      sym: DataFrame,
      seedMod: Int,
      depth: Int,
      topK: Int)(implicit scope: Lineage.Scope): DataFrame = {
    val seeds = sym.select(col("src").as("v")).distinct().filter(col("v") % seedMod === 1)
    // ---- forward BFS: levels(r) = (s, v, sigma) at distance r ----
    var levels = Vector(
      seeds.select(col("v").as("s"), col("v"), lit(1L).as("sigma")).cp(eager = true))
    var visited = levels(0).select("s", "v")
    for (r <- 1 to depth) {
      val next = levels(r - 1)
        .join(sym.withColumnRenamed("src", "v"), "v")
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .groupBy("s", "v")
        .agg(sum("sigma").as("sigma"))
        .join(visited, Seq("s", "v"), "left_anti")
        .cp(eager = true)
      levels = levels :+ next
      // r14: visited is a LAZY union of the already-checkpointed
      // levels — the per-round eager checkpoint re-materialized the
      // whole growing pool every round (O(depth²) copies) for a frame
      // whose parts all sit in checkpoint blocks already
      visited = visited.unionAll(next.select("s", "v"))
    }
    // ---- dependency accumulation, deepest level first; the r = 0
    // source rows are never needed (v = s is excluded from bc) ----
    var delta = levels(depth).select(col("s"), col("v"), lit(0L).as("delta"))
    var perLevel = Vector.empty[DataFrame]
    for (r <- (depth - 1) to 1 by -1) {
      val nextLvl = levels(r + 1)
        .join(delta, Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sig_w"), col("delta").as("del_w"))
      val terms = levels(r)
        .join(sym.select(col("src").as("v"), col("dst").as("w")), "v")
        .join(nextLvl, Seq("s", "w"))
        .select(
          col("s"),
          col("v"),
          expr("CAST(CAST(sigma AS DECIMAL(38,0)) * (1000000 + del_w) div sig_w AS BIGINT)")
            .as("term"))
        .groupBy("s", "v")
        .agg(sum("term").as("dsum"))
      delta = levels(r)
        .join(terms, Seq("s", "v"), "left")
        .select(col("s"), col("v"), coalesce(col("dsum"), lit(0L)).as("delta"))
        .cp(eager = true)
      perLevel = perLevel :+ delta
    }
    val bc = perLevel
      .reduce(_ unionAll _)
      .groupBy(col("v").as("part"))
      .agg(expr("CAST(sum(CAST(delta AS DECIMAL(38,0))) AS BIGINT)").as("bc_e6"))
    bc.withColumn(
        "rank",
        row_number().over(Window.orderBy(col("bc_e6").desc, col("part"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("part"), col("bc_e6"), col("rank"))
  }

  /** #335 Betweenness estimator scorecard (the §15.4 approximation-
    * ships-with-its-scorecard invariant, applied to #334 in its birth
    * round): the production estimator's top-20/top-50 against a
    * DENSER reference — 5× the seed sample (part % 50 = 1) and one
    * hop deeper truncation. High overlap ⇒ the cheap sample already
    * ranks the bridges the expensive one finds; a collapse flags a
    * graph whose betweenness mass sits past the truncation horizon.
    * Overlap counts exact BIGINTs, recall as truncating e6 quotients,
    * scored-node coverage for both estimators; 1-row output, every
    * frame broadcast-sized.
    */
  def betweennessEval(
      spark: SparkSession,
      dir: String,
      seedMod: Int = 250,
      depth: Int = 3,
      refSeedMod: Int = 50,
      refDepth: Int = 4): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    // r14: the two estimators share ONE edge build (each used to run
    // its own full pair join + symmetrize), and their per-round
    // checkpoint jobs — independent, overhead-bound at 32 cores —
    // run CONCURRENTLY from two driver threads (guide §2.6: actions
    // are only sequential because the driver calls them sequentially;
    // the Lineage scope is thread-safe by contract).
    val sym = betweennessSym(spark, dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // each estimator frame is eagerly cut in its own thread: it has
    // three consumers below (top-k overlaps + the scored count), which
    // would otherwise re-run the whole BFS + accumulation subtree
    val fa =
      Future(scope.cp(betweennessFrom(sym, seedMod, depth, topK = Int.MaxValue), eager = true))
    val fb = Future(
      scope.cp(betweennessFrom(sym, refSeedMod, refDepth, topK = Int.MaxValue), eager = true))
    val a = Await.result(fa, Duration.Inf)
    val b = Await.result(fb, Duration.Inf)
    def top(df: DataFrame, k: Int) = df.filter(col("rank") <= k).select("part")
    val o20 = top(a, 20).join(top(b, 20), "part").agg(count(lit(1)).as("overlap_20"))
    val o50 = top(a, 50).join(top(b, 50), "part").agg(count(lit(1)).as("overlap_50"))
    val na = a.agg(count(lit(1)).as("n_scored"))
    val nb = b.agg(count(lit(1)).as("n_scored_ref"))
    val out = o20
      .crossJoin(broadcast(o50))
      .crossJoin(broadcast(na))
      .crossJoin(broadcast(nb))
      .select(
        col("overlap_20"),
        col("overlap_50"),
        expr("overlap_20 * 1000000 div 20").as("recall20_e6"),
        expr("overlap_50 * 1000000 div 50").as("recall50_e6"),
        col("n_scored"),
        col("n_scored_ref"))
    (out, Seq.empty)
  }

  /** #336 Sampled harmonic closeness centrality: which parts are NEAR
    * everything — Σ over reached seeds of 10⁶ div d(s, v), the
    * harmonic form (Boldi & Vigna 2014) that handles unreachable
    * pairs by contributing zero instead of breaking the mean — from
    * the SAME truncated sampled BFS as #334 (betweenness scores
    * brokers ON paths; closeness scores endpoints NEAR everything —
    * the two ends of the centrality question). Distances are level
    * indices, so the whole score is exact integers; seed sampling and
    * truncation identical to #334 (documented estimator, not exact
    * closeness). Scale: `depth` BFS rounds of one edge join + one
    * (s, v) aggregate; top-k rides WindowGroupLimit.
    */
  def closeness(
      spark: SparkSession,
      dir: String,
      seedMod: Int = 250,
      depth: Int = 3,
      topK: Int = 100): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    // r14: shared eager-cut edge build + lazy visited pool — see
    // [[betweennessSym]]/[[betweennessFrom]]
    val sym = betweennessSym(spark, dir)
    val seeds = sym.select(col("src").as("v")).distinct().filter(col("v") % seedMod === 1)
    var levels = Vector(
      seeds.select(col("v").as("s"), col("v"), lit(1L).as("sigma")).cp(eager = true))
    var visited = levels(0).select("s", "v")
    for (r <- 1 to depth) {
      val next = levels(r - 1)
        .join(sym.withColumnRenamed("src", "v"), "v")
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .groupBy("s", "v")
        .agg(sum("sigma").as("sigma"))
        .join(visited, Seq("s", "v"), "left_anti")
        .cp(eager = true)
      levels = levels :+ next
      visited = visited.unionAll(next.select("s", "v"))
    }
    val harm = (1 to depth)
      .map(r => levels(r).select(col("v"), lit(1000000L / r).as("h")))
      .reduce(_ unionAll _)
      .groupBy(col("v").as("part"))
      .agg(sum("h").as("harmonic_e6"), count(lit(1)).as("n_seeds_reached"))
    val out = harm
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("harmonic_e6").desc, col("part"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("part"), col("harmonic_e6"), col("n_seeds_reached"), col("rank"))
    (out, Seq.empty)
  }

  /** #348 Degree distribution by octave: the co-purchase graph's
    * degree histogram folded into powers-of-two bins with the
    * octave-over-octave count ratio — the scale-free-or-not read
    * (#204's Zipf octave trick applied to graph degrees: a power law
    * is a straight ratio line, a random graph collapses past its
    * Poisson mean) that decides whether hub-aware partitioning /
    * skew salting is worth wiring before running the #124/#200
    * family at 100 TB. Octave = len(bin(deg)) − 1 — pure integer in
    * both engines, no log₂ float near a boundary; ratio one
    * truncating e6 quotient via a lag over the ≤64-row octave frame
    * (a documented PlanDisciplineSpec exception).
    */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir, minSupport = 2)
    val deg = pairs
      .select(col("part_a").as("node"))
      .unionAll(pairs.select(col("part_b").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    deg
      .withColumn("octave", (length(expr("bin(deg)")) - 1).cast("long"))
      .groupBy("octave")
      .agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"), max("deg").as("max_deg"))
      .withColumn("prev_n", lag("n_nodes", 1).over(Window.orderBy("octave")))
      .select(
        col("octave"),
        col("n_nodes"),
        col("min_deg"),
        col("max_deg"),
        expr("CASE WHEN prev_n IS NULL THEN NULL ELSE CAST(n_nodes * 1000000 div prev_n AS BIGINT) END")
          .as("ratio_prev_e6"))
  }

  /** #349 EWMA control chart: #196's exact dyadic EWMA (α = ½,
    * 16-day horizon) run on the single corpus-wide daily-revenue
    * series and wrapped with control limits — the smoothed SPC chart
    * that completes the monitor family (#254 flags single-day spikes,
    * #284/#331 cumulative shifts; EWMA charts catch SMALL sustained
    * shifts soonest, the textbook recommendation for drift under
    * ~1.5σ). Limits are exact integers: the asymptotic EWMA variance
    * multiplier λ/(2−λ) at λ=½ is ⅓, so ±3σ·√⅓ = √(3·Var) — ONE
    * #226 one-ulp-clamp isqrt of 3·population-variance (cents², the
    * #284 moment machinery). The EWMA itself is the #196 cover join:
    * each day covers its next 16 targets with dyadic weight 2^(15−i),
    * num/den exact BIGINTs, ewma = num div den — no recursion, no
    * window at all. Alarm = |ewma − μ| > limit, integer compare.
    */
  def ewmaChart(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy("day")
      .agg(sum("c").as("x"))
      .localCheckpoint(eager = false)
    val mu = byDay
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(
        expr("sx div n").as("mu"),
        expr("""CAST(3 * ((CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                 div (CAST(n AS DECIMAL(38,0)) * n)) AS DECIMAL(38,0))""").as("v3"))
      .select(col("mu"), expr("CAST(floor(sqrt(CAST(v3 AS DOUBLE))) AS BIGINT)").as("s0"), col("v3"))
      .select(
        col("mu"),
        expr("""s0 + (CASE WHEN (CAST(s0 AS DECIMAL(38,0)) + 1) * (s0 + 1) <= v3 THEN 1 ELSE 0 END)
                   - (CASE WHEN CAST(s0 AS DECIMAL(38,0)) * s0 > v3 THEN 1 ELSE 0 END)""")
          .as("lim"))
    val covers = byDay
      .select(
        col("day").as("src"),
        col("x"),
        explode(expr("sequence(day, day + 15)")).as("t"))
      .select(
        col("t"),
        expr("shiftleft(1L, CAST(15 - (t - src) AS INT))").as("w"),
        expr("x * shiftleft(1L, CAST(15 - (t - src) AS INT))").as("wx"))
    covers
      .groupBy("t")
      .agg(sum("w").as("den"), sum("wx").as("num"))
      .join(byDay.select(col("day").as("t"), col("x")), "t")
      .crossJoin(broadcast(mu))
      .select(
        col("t").as("day"),
        col("x").as("cents"),
        expr("num div den").as("ewma_cents"),
        col("mu").as("mu_cents"),
        col("lim").as("limit_cents"),
        (abs(expr("num div den") - col("mu")) > col("lim")).cast("long").as("alarm"))
  }

  /** #400 Binary-segmentation split gain (offline changepoint
    * LOCALIZATION with effect size — #182's CUSUM V-apex DATES a
    * shift per event type; this scores every candidate split of the
    * daily-REVENUE series): the day that best splits the series
    * into two constant-mean segments, scored by the exact
    * variance-reduction gain Σ²_L/n_L + Σ²_R/n_R − Σ²/n (the Σx²
    * terms CANCEL between the split and no-split SSEs, so the score
    * needs only prefix sums — no squares of individual days). The SPC
    * family (#284 CUSUM, #331 PH, #349 EWMA) DETECTS drift online;
    * this LOCALIZES the shift offline — the "when exactly did the
    * level move" question asked after any monitor fires. Top-`topK`
    * candidate splits ship with both segment means so the analyst
    * reads the before/after levels directly.
    *
    * Exactness: segment means stay on the cents grid; the GAIN terms
    * first truncate the prefix sums to KILOCENTS (div 1000) — Σx is
    * 3.8e11 cents at sf0.01, so a cents-grid Σ²/n is ~6e19 and
    * overflows the BIGINT that Spark `div` returns even for DECIMAL
    * operands (the ANOVA lesson: rescale BEFORE the div, never
    * after) — then each Σ_k²/n term is ONE truncating
    * DECIMAL(38,0)↔HUGEINT division; at sf100 Σ_k² ≈ 1e23 still sits
    * inside DECIMAL38 and quotients stay ~1e19/n. Both engines
    * truncate the SAME sums in the same order, so the kilocents²
    * score replays bit-exactly; ties the coarser grid creates break
    * on split_day. Prefix sums ride ONE day-ordered window over the
    * ≤#calendar-days daily frame (the #369 documented
    * PlanDisciplineSpec exception); the total is a 1-row broadcast;
    * top-k rank-filtered.
    */
  def binsegSplit(
      spark: SparkSession,
      dir: String,
      topK: Int = 5,
      cut: Boolean = true): DataFrame = {
    // cut=false = the PlanDisciplineSpec audit form (no RDDScan)
    val byDay = Lineage.cutIf(cut)(
      Tables
        .orders(spark, dir)
        .select(
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("day"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("c"))
        .groupBy("day")
        .agg(sum("c").as("x")))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byDay.agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val ranked = byDay
      .withColumn("nl", count(lit(1)).over(w))
      .withColumn("sxl", sum("x").over(w))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n"))
      .select(
        col("day").as("split_day"),
        col("nl").as("n_left"),
        (col("n") - col("nl")).as("n_right"),
        expr("sxl div nl").as("mean_left_cents"),
        expr("(sx - sxl) div (n - nl)").as("mean_right_cents"),
        // floor at 0: the exact-rational gain is non-negative (convexity),
        // but the per-term truncation can land the integer form at −1/−2 —
        // and a negative operand would split Spark div (toward zero) from
        // DuckDB // (floor). Kilocents rescale BEFORE the div: see doc.
        expr("""greatest(CAST(sxl div 1000 AS DECIMAL(38,0)) * (sxl div 1000) div nl
               + CAST((sx - sxl) div 1000 AS DECIMAL(38,0)) * ((sx - sxl) div 1000)
                 div (n - nl)
               - CAST(sx div 1000 AS DECIMAL(38,0)) * (sx div 1000) div n, 0L)""")
          .as("gain_kc2"))
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("gain_kc2").desc, col("split_day"))).cast("long"))
      .filter(col("rank") <= topK)
    ranked
  }
}
