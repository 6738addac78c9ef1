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
private[graft] trait AnalyticsExtGraph { this: AnalyticsExt.type =>

  /** #35 As-of join: each event gets the customer's latest order at or
    * before the event time (events are the driving side, orders the
    * quote side). Right-side (custkey, date) ties are pre-collapsed to
    * the max orderkey so the result is deterministic. One shuffle.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(
        col("event_id"),
        col("user_id"),
        expr("ts div 1000").as("ts"))
    val ord = Tables
      .orders(spark, dir)
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .select(
        col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_ts"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    AsOf.join(
      ev,
      ord,
      leftKey = "user_id",
      rightKey = "o_custkey",
      leftTime = "ts",
      rightTime = "o_ts",
      payload = Seq("o_orderkey", "o_totalprice", "order_date"))
  }

  /** #36 Bounded range join: for each purchase, engagement (click/view)
    * counts in the preceding 30 minutes — executed as a bucketed
    * equi-join (purchase side exploded over 2 half-hour buckets) with
    * a residual range filter, NOT a nested-loop range join: shuffle
    * volume stays linear at 100 TB.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 30L * 60 * 1000 * 1000
    val ev = Tables.events(spark, dir).select(
      col("event_id"),
      col("user_id"),
      expr("ts div 1000").as("ts"),
      col("event_type"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_event_id"),
        col("user_id"),
        col("ts").as("p_ts"),
        explode(array(lit(0L), lit(1L))).as("boff"))
      .withColumn("bucket", col("p_ts") / windowUs - col("boff"))
      .withColumn("bucket", col("bucket").cast("long"))
    val engagement = ev
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts").as("e_ts"))
      .withColumn("bucket", (col("e_ts") / windowUs).cast("long"))
    purchases
      .join(
        engagement,
        Seq("user_id", "bucket"),
        "left")
      .withColumn(
        "hit",
        col("e_ts").isNotNull &&
          col("e_ts") >= col("p_ts") - windowUs && col("e_ts") <= col("p_ts"))
      .groupBy(col("p_event_id"), col("user_id"))
      .agg(count(when(col("hit"), 1)).as("n_prior_engagements"))
  }

  /** #37 Exact interpolated percentiles per group (p50/p90 of customer
    * balance by segment). At 100 TB the same query shape swaps
    * `percentile` for `approx_percentile` — kept exact here for the
    * oracle.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(percentile(col("c_acctbal"), array(lit(0.5), lit(0.9))).as("p"))
      .select(
        col("c_mktsegment"),
        round(element_at(col("p"), 1), 2).as("p50_acctbal"),
        round(element_at(col("p"), 2), 2).as("p90_acctbal"))

  /** #38 CUBE over (status, priority): all 4 grouping sets in one
    * pass; nulls coalesced to a sentinel for engine-agnostic output.
    */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n_orders"),
        col("total"))

  /** #39 Pivot: order counts, priorities × status columns. */
  def pivotOrders(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))

  /** #40 Ntile banding: balance quartile of each customer within its
    * segment (deterministic tiebreak on custkey).
    */
  def ntileCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        ntile(4)
          .over(Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey")))
          .cast("long")
          .as("quartile"))

  /** #65 RANGE-frame window: 7-day trailing spend per customer — a
    * value-based frame (all rows within 6 days of the current order's
    * date), not a row-count frame; same-day orders all see the same
    * trailing total.
    */
  def trailing7d(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_day"))
      .rangeBetween(-6, 0)
    Tables
      .orders(spark, dir)
      .withColumn("o_day", datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")).cast("long"))
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        round(sum("o_totalprice").over(w), 2).as("trailing_7d_spend"))
  }

  /** #57 GROUPING SETS: the explicit multi-granularity form (status
    * totals + priority totals in one pass, no full cube). SQL-level
    * because the DataFrame API exposes only rollup/cube.
    */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_gs")
    spark.sql(
      """SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
                coalesce(o_orderpriority, '(all)') AS o_orderpriority,
                count(1) AS n_orders, round(sum(o_totalprice), 2) AS total
         FROM graft_orders_gs
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
  }

  /** #58 Percent rank + cumulative distribution of customer balances
    * within segment — the relative-standing window pair.
    */
  def percentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal"), col("c_custkey"))
    Tables
      .customer(spark, dir)
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"))
  }

  /** #59 Frequent items (Karp/Misra-Gries style sketch via
    * `stat.freqItems`): heavy hitters without an exact global count.
    * The sketch's candidate SET is engine/partitioning-specific, but
    * its guarantee is not: every item with frequency > support·n must
    * appear in the candidates. The driver rows are the TRUE heavy
    * hitters (exact counts, which the DuckDB oracle reproduces) each
    * flagged `in_sketch` — so a sketch that drops a guaranteed heavy
    * hitter FAILS the hash compare. Range-checked, not rows-only;
    * false-positive candidates are legal per the MG contract and
    * intentionally unchecked.
    */
  def freqItems(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"))
    val cand = ev.stat.freqItems(Array("event_type"), 0.1)
    val tot = ev.agg(count(lit(1)).as("n_total"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(tot))
      .filter(col("n_events") > col("n_total").cast("double") * 0.1)
      .crossJoin(broadcast(cand))
      .select(
        col("event_type"),
        col("n_events"),
        array_contains(col("event_type_freqItems"), col("event_type")).cast("int").as("in_sketch"))
  }

  /** #41 Moment statistics per group: stddev/variance/correlation/
    * covariance of lineitem quantity vs price — single partial-agg
    * pass (all four are one-pass moment sketches, scale-safe).
    */
  def momentStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 2).as("sd_qty"),
        round(var_samp(col("l_quantity")), 2).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qty_price"))

  /** #89 Co-purchase pairs (market-basket co-occurrence): top part
    * pairs by the number of orders containing both. The pair fan-out
    * happens INSIDE each order's collected part set (baskets are
    * small and bounded), so the explode is O(orders × basket²) with a
    * tiny constant — never a lineitem self-join, which at 100 TB
    * would shuffle the fact table twice and square the hot orders.
    * One groupBy(order), one per-pair count, top-k with a total-order
    * tiebreak (TakeOrdered, no global sort).
    */
  def copurchase(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    baskets
      .select(
        explode(
          expr(
            """flatten(transform(parts, (x, i) ->
                 transform(slice(parts, i + 2, size(parts)),
                   y -> named_struct('part_a', x, 'part_b', y))))"""))
          .as("p"))
      .select(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** #124 PageRank over the co-purchase graph: which parts sit at the
    * center of the basket network — the "customers also bought"
    * centrality every recommender seeds with. Three unrolled power
    * iterations (d=0.85) where EVERYTHING is integer: ranks live in
    * e8 fixed-point BIGINTs, each contribution is `r·w div W(u)`
    * (floor division), and the damping mix is `(85·Σ) div 100` — so
    * the trajectory is bit-identical in any engine and the DuckDB
    * oracle replays all three rounds as CTEs (the k-means/CC
    * iterative-replay discipline applied to graph centrality).
    *
    * Scale shape: the edge list is built once from per-order baskets
    * (fan-out bounded by basket², never a fact self-join) and cached;
    * each iteration is one join on `src` (co-partitioned with the
    * out-weight table) + one aggregation on `dst` — the standard
    * distributed power-iteration layout, linear shuffle per round.
    * Co-purchase edges are symmetric, so no dangling-mass term is
    * needed: every node with an out-edge receives contributions.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3, topK: Int = 50): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    val pairs = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
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
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
      .cp(eager = true)
    def edges0(p: org.apache.spark.sql.DataFrame) = p
      .select(col("part_a").as("src"), col("part_b").as("dst"), col("w"))
      .unionAll(p.select(col("part_b").as("src"), col("part_a").as("dst"), col("w")))
    // edges carry (src, wout, dst, w) pre-joined ONCE — each round then
    // only joins the rank vector. r14: pairs/outW/edges are EAGER
    // lineage cuts (they were a lazy cache / lazy checkpoint): their
    // consumers include broadcast-exchange builds, which Spark runs as
    // CONCURRENT driver-side jobs — each racing consumer of a not-yet-
    // populated lazy cache re-executed the whole basket-explosion
    // subtree (profiler: lineitem scanned ~5× per pageRank run).
    // Eager materialization runs the subtree exactly once; every
    // consumer then reads the persisted blocks.
    // edges is repartitioned on `src` BEFORE the cut so the blocks
    // carry hash(src) output partitioning — every round's join
    // shuffles only the (tiny) rank vector, never the edge list.
    // The cut is a checkpoint, not a cache: cached plans skip AQE, so
    // a cache would pin the session's 32 shuffle partitions on a tiny
    // frame (see betweennessSym); the checkpoint inherits AQE's
    // data-sized width.
    val outW = scope.cp(edges0(pairs).groupBy("src").agg(sum("w").as("wout")), eager = true)
    val edges =
      scope.cp(edges0(pairs).join(outW, "src").repartition(col("src")), eager = true)
    val nDf = outW.agg(count(lit(1)).as("n_nodes"))
    var ranks = outW
      .crossJoin(broadcast(nDf))
      .select(col("src").as("part"), expr("CAST(100000000 div n_nodes AS BIGINT)").as("r"))
    for (_ <- 1 to iters) {
      ranks = edges
        .join(ranks.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r * w div wout").as("c"))
        .groupBy("part")
        .agg(sum("c").as("cs"))
        .crossJoin(broadcast(nDf))
        .select(
          col("part"),
          expr("CAST(15 * 100000000 div (100 * n_nodes) + (85 * cs) div 100 AS BIGINT)").as("r"))
        .cp(false)
    }
    // the wrapper eager-materializes the final top-k THROUGH the
    // loop's lazy checkpoints, then releases BOTH the cached edge
    // frames and every round checkpoint (the r6 finding: clearCache
    // never drops checkpoint blocks, so un-released rounds accumulated
    // across the shared bench JVM); the returned frame is
    // checkpoint-backed, so callers re-read bounded top-k blocks.
    // final top-k as TakeOrdered (orderBy + limit): distributed
    // partial top-k with a driver merge, no single-task global sort;
    // the rank column is re-derived over the k-row frame (the window
    // rides a GlobalLimit, structurally bounded)
    val out = ranks
      .orderBy(col("r").desc, col("part"))
      .limit(topK)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("r").desc, col("part"))).cast("long"))
      .select(col("part"), col("r").as("pr_e8"), col("rank"))
    (out, Seq.empty)
  }

  /** #227 Personalized PageRank (PPR) over the co-purchase graph:
    * random walks that TELEPORT back to a seed set instead of the
    * uniform vector — "similar to THESE parts", the
    * recommendation-from-context primitive (#124 ranks global
    * centrality; PPR ranks closeness to the seeds). Seeds are the
    * parts ≡ 0 (mod 100) among graph vertices — deterministic and
    * corpus-proportional. Same all-integer e8 trajectory as #124
    * (contributions `r·w div wout`, damping `(85·Σ) div 100`), with
    * two PPR-specific differences: the teleport term lands ONLY on
    * seeds, and the rank vector must keep zero-rank nodes alive (a
    * left join against the vertex frame — dropping them would lose
    * nodes that first receive mass in a later round).
    *
    * Scale shape: identical to #124 — pre-joined src-partitioned
    * cached edges, one rank-vector join + dst-aggregation per round,
    * lazy lineage cuts, caches released on exit.
    */
  def personalizedPageRank(
      spark: SparkSession,
      dir: String,
      iters: Int = 3,
      topK: Int = 50): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    val pairs = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
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
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
      .cp(eager = true)
    def edges0(p: DataFrame) = p
      .select(col("part_a").as("src"), col("part_b").as("dst"), col("w"))
      .unionAll(p.select(col("part_b").as("src"), col("part_a").as("dst"), col("w")))
    // r14: pairs/outW/edges/nodes are EAGER cuts — their consumers
    // include per-round broadcast builds that raced on the lazy
    // frames and re-executed the basket explosion; edges is a
    // checkpoint (not a cache) for AQE-sized width (see pageRank)
    val outW = scope.cp(edges0(pairs).groupBy("src").agg(sum("w").as("wout")), eager = true)
    val edges =
      scope.cp(edges0(pairs).join(outW, "src").repartition(col("src")), eager = true)
    val nodes = outW
      .select(col("src").as("part"), (col("src") % 100 === 0).cast("long").as("is_seed"))
      .cp(eager = true)
    val nSeedsDf = nodes.agg(sum("is_seed").as("n_seeds"))
    var ranks = nodes
      .crossJoin(broadcast(nSeedsDf))
      .select(
        col("part"),
        expr("CAST(CASE WHEN is_seed = 1 THEN 100000000 div n_seeds ELSE 0 END AS BIGINT)")
          .as("r"))
    for (_ <- 1 to iters) {
      val contribs = edges
        .join(ranks.withColumnRenamed("part", "src"), "src")
        .select(col("dst").as("part"), expr("r * w div wout").as("c"))
        .groupBy("part")
        .agg(sum("c").as("cs"))
      ranks = nodes
        .join(contribs, Seq("part"), "left")
        .crossJoin(broadcast(nSeedsDf))
        .select(
          col("part"),
          expr("""CAST(CASE WHEN is_seed = 1 THEN 15 * 100000000 div (100 * n_seeds)
                       ELSE 0 END
                      + (85 * coalesce(cs, 0)) div 100 AS BIGINT)""").as("r"))
        .cp(false)
    }
    val out = ranks
      .orderBy(col("r").desc, col("part"))
      .limit(topK)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("r").desc, col("part"))).cast("long"))
      .select(col("part"), col("r").as("ppr_e8"), col("rank"))
    (out, Seq.empty)
  }

  /** #228 HITS hubs & authorities over the BIPARTITE customer→part
    * purchase graph (Kleinberg 1999): authorities = parts bought by
    * well-connected customers, hubs = customers who buy authoritative
    * parts — the mutual-reinforcement pair that PageRank's single
    * score collapses. The bipartite direction matters: on the
    * symmetric co-purchase graph (#124's edge set) hubs and
    * authorities degenerate to the same eigenvector, so this is the
    * one graph query that genuinely needs the customer→part edges.
    *
    * All-integer trajectory (the #124/#227 discipline): hub scores
    * start at e6; each half-step is an exact weighted BIGINT sum
    * (`Σ h·w`, bounded by e6 × per-node line count — no overflow on
    * either engine) followed by max-normalization back onto the e6
    * grid with floor division (`raw * 1e6 div max`), so the whole
    * 2-iteration trajectory is bit-identical in DuckDB's unrolled-CTE
    * replay. Max-normalization (not L2) keeps it integer-exact and is
    * scale-equivalent for the ranking.
    *
    * Scale shape: the edge list is built once (orders⋈lineitem, one
    * shuffle) and materialized ONCE, hash-partitioned by `cust` via an
    * eager localCheckpoint — the authority half-step then joins it
    * shuffle-free (the checkpoint preserves the partitioning), and the
    * hub half-step re-shuffles the checkpointed edges by `part` once
    * per round. At the default iters=2 that is 1 + 2 edge shuffles of
    * an already-materialized frame, strictly cheaper than the r7
    * two-cached-copies layout (which paid the orders⋈lineitem build
    * twice); at high iteration counts a real 100 TB deployment would
    * flip to the two-copy layout (one copy per key) so rounds shuffle
    * only score vectors — the trade is iters×|edges| shuffle vs 2×
    * materialization, and iters=2 sits below the crossover.
    * The per-round max is a 1-row broadcast. Top-k per side via
    * rank-filter; output is the two leaderboards in one frame.
    */
  def hits(spark: SparkSession, dir: String, iters: Int = 2, topK: Int = 20): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    val edgesRaw = Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(
        Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .agg(count(lit(1)).as("w"))
    val edges = edgesRaw.repartition(col("cust")).cp(eager = true)
    val edgesByCust = edges
    val edgesByPart = edges
    var hubs = edgesByCust
      .select(col("cust"))
      .distinct()
      .select(col("cust"), lit(1000000L).as("h"))
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = edgesByCust
        .join(hubs, "cust")
        .select(col("part"), expr("h * w").as("c"))
        .groupBy("part")
        .agg(sum("c").as("ar"))
      val amax = araw.agg(max("ar").as("amax"))
      auths = araw
        .crossJoin(broadcast(amax))
        .select(col("part"), expr("ar * 1000000 div amax").as("a"))
        .cp(false)
      val hraw = edgesByPart
        .join(auths, "part")
        .select(col("cust"), expr("a * w").as("c"))
        .groupBy("cust")
        .agg(sum("c").as("hr"))
      val hmax = hraw.agg(max("hr").as("hmax"))
      hubs = hraw
        .crossJoin(broadcast(hmax))
        .select(col("cust"), expr("hr * 1000000 div hmax").as("h"))
        .cp(false)
    }
    val topA = auths
      .orderBy(col("a").desc, col("part"))
      .limit(topK)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("a").desc, col("part"))).cast("long"))
      .select(
        lit("authority").as("kind"),
        col("part").as("node"),
        col("a").as("score_e6"),
        col("rank"))
    val topH = hubs
      .orderBy(col("h").desc, col("cust"))
      .limit(topK)
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("h").desc, col("cust"))).cast("long"))
      .select(lit("hub").as("kind"), col("cust").as("node"), col("h").as("score_e6"), col("rank"))
    (topA.unionAll(topH), Seq.empty)
  }

  /** #229 Degree assortativity of the co-purchase graph: the Pearson
    * correlation of endpoint degrees across edges — positive means
    * popular parts co-occur with popular parts (hub-clustered
    * baskets), negative means hubs bridge the periphery
    * (Newman 2002). The one-number structural summary that tells a
    * recommender whether the graph is core-periphery or assortative
    * before it picks an embedding strategy.
    *
    * Exact integer moments: degrees are BIGINT neighbor counts from
    * the symmetric support-filtered edge list (#166's graph); the
    * edge-level (deg(src), deg(dst)) pairs feed the same
    * DECIMAL(38,0)↔HUGEINT cross-product discipline as `autocorr` —
    * raw 64-bit would wrap in Spark but raise in DuckDB once Σx·y
    * crosses 2^63 — and r² ships as the factored e3×e3 signed
    * quotient (Cauchy–Schwarz bounds the PRODUCT of the two truncated
    * factors ≤ 10⁶ — not each factor individually — so the product
    * never overflows where num² would).
    *
    * Scale: degree = one groupBy on the edge list; attaching both
    * endpoint degrees = two joins keyed by src/dst; the moment
    * aggregate is a single partial-agg pass — linear, no windows.
    */
  def assortativity(spark: SparkSession, dir: String, minSupport: Int = 2): DataFrame = {
    val po = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
    val pairs = po
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
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
    val edges = pairs
      .select(col("part_a").as("src"), col("part_b").as("dst"))
      .unionAll(pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
      .localCheckpoint(eager = false)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    edges
      .join(deg, "src")
      .withColumnRenamed("deg", "x")
      .join(deg.withColumnRenamed("src", "dst").withColumnRenamed("deg", "y"), "dst")
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("m"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("num"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)")
          .as("den_x"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("den_y"),
        expr("""CAST(CASE WHEN m * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
                 ((abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                   div CAST(m * sxx - sx * sx AS DECIMAL(38,0)))
                  * (abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                     div CAST(m * syy - sy * sy AS DECIMAL(38,0))))
                AS BIGINT)""").as("r2_signed_e6"))
  }

  /** #230 Interval union coverage (sweep-line as windows): per
    * supplier, the number of distinct calendar days covered by the
    * UNION of its lineitems' [order-date, ship-date] activity
    * intervals, plus the count of merged disjoint intervals —
    * the dedup-aware utilization metric (summing raw durations
    * double-counts overlap; the union is what capacity planning and
    * SLA exposure actually need). The synthetic corpus ships some
    * lines before the order date, so endpoints are normalized with
    * least/greatest — every interval is well-formed by construction.
    *
    * The classic sweep line is sequential; its distributed form is
    * gaps-and-islands: order intervals by start WITHIN each supplier,
    * an interval starts a new island iff its start exceeds the
    * running max end of all prior intervals, island id = running
    * count of starts, then one (supplier, island) aggregate gives
    * each merged interval and a supplier aggregate sums coverage.
    * Every window is partitioned by supplier — no global windows, and
    * per-supplier row counts are the natural partition grain at
    * 100 TB (skewed suppliers are still single-key bounded).
    * Inclusive-day lengths; all integer epoch-day arithmetic, µs
    * division identical in both engines.
    */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val usPerDay = 86400000000L
    val iv = Tables
      .lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .join(
        Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber"),
        expr(s"""least(unix_micros(CAST(o_orderdate AS TIMESTAMP)),
                       unix_micros(CAST(l_shipdate AS TIMESTAMP))) div ${usPerDay}L""")
          .as("s"),
        expr(s"""greatest(unix_micros(CAST(o_orderdate AS TIMESTAMP)),
                          unix_micros(CAST(l_shipdate AS TIMESTAMP))) div ${usPerDay}L""")
          .as("e"))
    val w = Window
      .partitionBy("l_suppkey")
      .orderBy(col("s"), col("e"), col("l_orderkey"), col("l_linenumber"))
    val islands = iv
      .withColumn(
        "prev_max_e",
        max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn(
        "is_new",
        (col("prev_max_e").isNull || col("s") > col("prev_max_e")).cast("long"))
      .withColumn("island", sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    islands
      .groupBy(col("l_suppkey"), col("island"))
      .agg(min("s").as("is_"), max("e").as("ie"))
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(col("ie") - col("is_") + 1).as("covered_days"),
        min("is_").as("first_day"),
        max("ie").as("last_day"))
  }

  /** #232 AUC / Mann-Whitney rank test: does order value separate
    * finished orders from the rest? The threshold-free classifier
    * metric (equivalently: the probability a random positive
    * outscores a random negative), computed EXACTLY with the tie
    * convention (ties count ½) — the quantity sklearn's
    * roc_auc_score estimates, on the integer grid.
    *
    * Scale shape: rows collapse to per-distinct-score (n_pos, n_neg)
    * counts first — the frame the rank math runs on is bounded by
    * score cardinality, not row count. The global "negatives below
    * this score" prefix is built hierarchically: a monotone
    * score-range shard + within-shard cumsum + an ≤nShards-row shard
    * offset carry (the #180 Gini construction — no global data
    * window). 2U = Σ n_pos·(2·cum_neg_below + n_neg) keeps the ½-tie
    * term integer; the e6 quotient runs through DECIMAL(38,0) ↔
    * HUGEINT because 2·n₁·n₀·10⁶ crosses 2⁶³ far below 100 TB scale.
    */
  def auc(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val byVal = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("pos"))
      .groupBy("v")
      .agg(sum("pos").as("n_pos"), (count(lit(1)) - sum("pos")).as("n_neg"))
    val bounds = byVal.agg(min("v").as("lo"), max("v").as("hi"))
    val sharded = byVal
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((v - lo) * $nShards) div (hi - lo + 1)"))
      .localCheckpoint(eager = false)
    val local = sharded.withColumn(
      "local_below",
      coalesce(
        sum("n_neg").over(
          Window.partitionBy("shard").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val offsets = sharded
      .groupBy("shard")
      .agg(sum("n_neg").as("c"))
      .withColumn(
        "off",
        coalesce(
          sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    local
      .join(broadcast(offsets), "shard")
      .withColumn("cnb", col("off") + col("local_below"))
      .agg(
        sum("n_pos").as("n1"),
        sum("n_neg").as("n0"),
        sum(expr("CAST(n_pos AS DECIMAL(38,0)) * (2 * cnb + n_neg)")).as("u2"),
        sum(expr("CAST(CASE WHEN n_pos > 0 AND n_neg > 0 THEN 1 ELSE 0 END AS BIGINT)"))
          .as("nt"))
      .select(
        col("n1").as("n_pos"),
        col("n0").as("n_neg"),
        col("nt").as("n_tied_scores"),
        expr("""CAST((u2 * 1000000)
                 div (2 * CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)""").as("auc_e6"))
  }

  /** #231 Lagged cross-correlation matrix: Pearson r² between every
    * unordered pair of event types' daily-spend series at lags
    * 0/1/2 days — the lead-lag screen ("do clicks predict purchases
    * two days later?") that decides which features deserve a model.
    * #202's autocorrelation is the diagonal of this matrix; this is
    * the off-diagonal family.
    *
    * Same exact-integer discipline as #202: daily cents series, one
    * lag-offset equi-join per (pair, lag) — the join key is the
    * shifted day, so it stays an equi-join after the 3-lag explode —
    * and all moment cross products in DECIMAL(38,0) ↔ HUGEINT with
    * the factored e3×e3 signed r² quotient. The daily frame is tiny
    * (series × days) and lineage-cut once; the pair×lag fan-out is
    * alphabet-bounded (types² · lags), never row-bounded.
    */
  def crossCorr(spark: SparkSession, dir: String, maxLag: Int = 2): DataFrame = {
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
    val lags = spark.range(0, maxLag + 1).select(col("id").as("lag"))
    val pairs = daily
      .alias("a")
      .crossJoin(broadcast(lags))
      .join(
        daily.alias("b"),
        col("a.event_type") < col("b.event_type") &&
          col("b.day") === col("a.day") + col("lag"))
      .select(
        col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("lag"),
        col("a.c").as("x"),
        col("b.c").as("y"))
    pairs
      .groupBy("type_a", "type_b", "lag")
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("type_a"),
        col("type_b"),
        col("lag"),
        col("m"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("num"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)")
          .as("den_x"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("den_y"),
        expr("""CAST(CASE WHEN m * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
                 ((abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                   div CAST(m * sxx - sx * sx AS DECIMAL(38,0)))
                  * (abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                     div CAST(m * syy - sy * sy AS DECIMAL(38,0))))
                AS BIGINT)""").as("r2_signed_e6"))
  }

  /** #233 Calibration / reliability bins: bucket order value into 10
    * equal-width bins and report the observed finished-order rate per
    * bin — the reliability diagram that pairs with #232's AUC (AUC
    * says the score RANKS well; calibration says whether its
    * magnitude MEANS anything). Equal-width bins on the cents grid
    * keep the whole query integer-exact: bucket = (v−lo)·10 div
    * span via a 1-row min/max broadcast, rates on the e6 grid, mean
    * score as a floor quotient. One scan + one 10-row aggregate — no
    * windows, no sort, linear at any scale.
    */
  def calibration(spark: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    val scored = Tables
      .orders(spark, dir)
      .select(
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("v"),
        (col("o_orderstatus") === "F").cast("long").as("pos"))
    val bounds = scored.agg(min("v").as("lo"), max("v").as("hi"))
    scored
      .crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"((v - lo) * $nBins) div (hi - lo + 1)"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum("pos").as("n_pos"),
        sum("v").as("sv"))
      .select(
        col("bin"),
        col("n"),
        col("n_pos"),
        expr("CAST(n_pos * 1000000 div n AS BIGINT)").as("pos_rate_e6"),
        expr("CAST(sv div n AS BIGINT)").as("mean_cents"))
  }

  /** #234 Kaplan–Meier survival curve of customer lifetime: S(t) =
    * P(customer still active t months after acquisition), with
    * right-censoring for customers whose last order lands within the
    * censor horizon of the corpus end (they are "still alive" — a
    * naive churn-rate curve counts them as dead and biases survival
    * down; KM's at-risk denominators are exactly the fix,
    * Kaplan & Meier 1958). The retention capstone next to #87's
    * cohort counts and #216's LTV triangle.
    *
    * All-integer: lifetimes in whole months (year·12+month indices),
    * the survival product runs on the e6 grid with stepwise floor
    * division S_t = S_{t−1}·(n_t − d_t) div n_t — sequential by
    * definition, but the step table is CALENDAR-BOUNDED (≤ #months
    * rows), so the fold happens inside one collected array scalar
    * via codegen'd higher-order `aggregate` over `slice` — bounded
    * model state, the k-means-centroid pattern, never a row-scale
    * collect. The at-risk suffix sum is one window over the same
    * bounded per-month aggregate (documented in
    * PlanDisciplineSpec). The DuckDB oracle replays the identical
    * trajectory as a recursive CTE.
    */
  def kaplanMeier(spark: SparkSession, dir: String, censorMonths: Int = 2): DataFrame = {
    val byCust = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").cast("long").as("m"))
      .groupBy("o_custkey")
      .agg(min("m").as("m0"), max("m").as("m1"))
    val corpusMax = byCust.agg(max("m1").as("mmax"))
    val lifes = byCust
      .crossJoin(broadcast(corpusMax))
      .select(
        (col("m1") - col("m0")).as("t"),
        (col("m1") < col("mmax") - censorMonths).cast("long").as("death"))
    val byT = lifes
      .groupBy("t")
      .agg(count(lit(1)).as("cnt"), sum("death").as("d"))
    val withRisk = byT
      .withColumn(
        "n",
        sum("cnt").over(
          Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .select(col("t"), col("n"), col("d"))
    // bounded (≤ #calendar-months) step table → one array scalar; the
    // e6 survival fold is a codegen'd higher-order aggregate per step
    withRisk
      .agg(expr("sort_array(collect_list(named_struct('t', t, 'n', n, 'd', d)))").as("steps"))
      .select(
        explode(
          expr("""transform(steps, (x, i) -> named_struct(
                    't', x.t, 'n_risk', x.n, 'd', x.d,
                    'surv_e6', aggregate(slice(steps, 1, i + 1), 1000000L,
                                 (acc, y) -> acc * (y.n - y.d) div y.n)))"""))
          .as("s"))
      .select(col("s.t"), col("s.n_risk"), col("s.d"), col("s.surv_e6"))
  }

  /** #235 SAX motif discovery: symbolize each event type's daily
    * cents series into value quartiles (the SAX alphabet, Lin et al.
    * 2003 — rank-based, so no float breakpoints) and count 3-day
    * sliding words over CONTIGUOUS days; the top word per series is
    * its dominant weekly micro-shape ("rise-rise-fall"), the motif
    * primitive behind time-series indexing and anomaly grammars.
    *
    * Exact/deterministic: quartile symbol = ntile(4) under the
    * (value, day) total order — identical assignment in both engines;
    * words from two day-ordered leads with day-contiguity guards (a
    * gap breaks the word, as SAX requires); word encoded as the
    * integer s₁·100 + s₂·10 + s₃. All windows partitioned by
    * event_type; the top-1 pick is a rank with (count desc, word)
    * tiebreak inside the alphabet-bounded (type × ≤64 words) count
    * frame.
    */
  def saxMotifs(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
    val sym = daily.withColumn(
      "s",
      ntile(4).over(Window.partitionBy("event_type").orderBy(col("c"), col("day"))).cast("long"))
    val wDay = Window.partitionBy("event_type").orderBy("day")
    val words = sym
      .withColumn("s2", lead("s", 1).over(wDay))
      .withColumn("s3", lead("s", 2).over(wDay))
      .withColumn("d2", lead("day", 1).over(wDay))
      .withColumn("d3", lead("day", 2).over(wDay))
      .filter(
        col("s3").isNotNull &&
          col("d2") === col("day") + 1 && col("d3") === col("day") + 2)
      .select(col("event_type"), (col("s") * 100 + col("s2") * 10 + col("s3")).as("word"))
    val counts = words
      .groupBy("event_type", "word")
      .agg(count(lit(1)).as("n_occurrences"))
    val totals = words.groupBy("event_type").agg(count(lit(1)).as("n_words"))
    counts
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy("event_type").orderBy(col("n_occurrences").desc, col("word"))))
      .filter(col("rk") === 1)
      .join(totals, "event_type")
      .select(col("event_type"), col("word").as("motif"), col("n_occurrences"), col("n_words"))
  }

  /** #236 Time-constrained funnel: signup → engagement → purchase
    * where EACH step must land within 7 days of the previous one —
    * the product-analytics funnel semantics (#18's funnel counts
    * "eventually converted"; this counts "converted while the intent
    * was live", which is what activation metrics actually mean).
    * Greedy earliest-chain semantics: the first engagement inside the
    * signup window anchors the purchase window — deterministic and
    * the convention funnel tools use.
    *
    * Same scale shape as #18: per-user min aggregates chained by
    * user_id-keyed joins with the window predicate pushed into the
    * join filter — linear, no windows, no self-joins on raw events.
    */
  def funnelWindowed(spark: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    val usWindow = windowDays * 86400000000L
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), expr("ts div 1000").as("ts"), col("event_type"))
    val signup = ev
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min("ts").as("signup_ts"))
    val engaged = ev
      .filter(col("event_type").isin("click", "view"))
      .join(signup, "user_id")
      .filter(col("ts") > col("signup_ts") && col("ts") <= col("signup_ts") + usWindow)
      .groupBy("user_id")
      .agg(min("ts").as("engage_ts"))
    val converted = ev
      .filter(col("event_type") === "purchase")
      .join(engaged, "user_id")
      .filter(col("ts") > col("engage_ts") && col("ts") <= col("engage_ts") + usWindow)
      .groupBy("user_id")
      .agg(min("ts").as("convert_ts"))
    signup
      .agg(count(lit(1)).as("n_signup"))
      .crossJoin(engaged.agg(count(lit(1)).as("n_engaged_7d")))
      .crossJoin(converted.agg(count(lit(1)).as("n_converted_7d")))
  }

  /** #166 Connected components over the co-purchase graph: which
    * parts form closed purchasing ecosystems — the graph primitive
    * under recommendation clustering, fraud rings, and the dedup
    * keep-list (#64's CC, promoted to a first-class generic query).
    *
    * Convergence-adaptive short-cutting label propagation: each round
    * is (a) a neighbor-min hop — label(p) ← min over p and its
    * neighbors — then (b) a pointer jump, label(p) ← label(label(p)).
    * The jump composes chains, so the propagation radius roughly
    * doubles per round (path-graph recurrence c₁=2, cᵣ₊₁ = 2cᵣ + 2 —
    * see `AnalyticsExtSpec` "planted path"): 12 capped rounds cover
    * diameter ≳8000, versus 6 for the previous fixed 6-hop version,
    * which a diameter-7 chain already defeats. The jump is an inner
    * self-join that is always total, because every label value is
    * itself a vertex id present in the frame.
    *
    * The loop exits early the first round the label vector stops
    * changing (one bounded driver scalar per round); `converged`
    * records whether the fixpoint was reached within `maxRounds`.
    * Replayability is preserved because both steps are IDEMPOTENT at
    * the fixpoint: the DuckDB oracle unrolls all `maxRounds` rounds
    * as CTEs and still compares bit-exactly to an early-exited run —
    * and on a not-yet-converged graph both engines truncate at the
    * same round with identical intermediate algebra. Support-≥2
    * edges keep the graph sparse; isolated parts are their own
    * singleton components.
    *
    * Scale: each round = two hash joins against the dst-partitioned
    * cached edge list + a groupBy min — linear per round, O(log
    * diameter) rounds; label snapshots are eagerly lineage-cut per
    * round (they double as the convergence-check materialization)
    * and the cached frames are released on exit (#124 discipline).
    *
    * `shortcut = false` recovers the legacy plain-hop propagation —
    * kept so the spec can demonstrate the divergence-by-diameter
    * failure mode the jump removes.
    */
  def components(
      spark: SparkSession,
      dir: String,
      maxRounds: Int = 12,
      minSupport: Int = 2,
      shortcut: Boolean = true): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    val po =
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
    // r14: pairs is an EAGER cut (was a lazy cache) — sym's two union
    // branches and the loop's broadcast builds raced on the lazy
    // frame and re-executed the pair join (see pageRank)
    val pairs = po
      .select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(po.select(col("l_orderkey"), col("l_partkey").as("part_b")), "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
      .cp(eager = true)
    // r14: eager checkpoint instead of `.cache()` — the cache pinned
    // the 32-partition width of the repartition (cached plans skip
    // adaptive re-optimization), making every propagate round run
    // 32-wide over a tiny graph; the eager cut inherits AQE's
    // data-sized width (see betweennessSym)
    val sym = scope.cp(
      pairs
        .select(col("part_a").as("src"), col("part_b").as("dst"))
        .unionAll(pairs.select(col("part_b").as("src"), col("part_a").as("dst")))
        .repartition(col("dst")),
      eager = true)
    val verts = po.select(col("l_partkey").as("part")).distinct()
    val seed = verts.select(col("part"), col("part").as("label"))
    val (labels, converged) = propagateMinLabels(seed, sym, maxRounds, shortcut)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    val out = labels
      .join(sizes, "label")
      .select(
        col("part"),
        col("label").as("component"),
        col("comp_size"),
        lit(if (converged) 1L else 0L).as("converged"))
    (out, Seq.empty)
  }

  /** The capped early-exit min-label loop shared by [[components]]
    * and [[componentsIncremental]]: per round a neighbor-min hop then
    * (optionally) a pointer jump, eager lineage cut, one bounded
    * convergence scalar. Any seed labeling that is a per-vertex UPPER
    * bound on the component minimum (identity labels, or a prior
    * run's labels) converges to the same fixpoint.
    */
  private[operators] def propagateMinLabels(
      seed: DataFrame,
      sym: DataFrame,
      maxRounds: Int,
      shortcut: Boolean)(implicit scope: Lineage.Scope): (DataFrame, Boolean) = {
    var labels = seed.cp(eager = true)
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      round += 1
      val nmin = sym
        .join(labels.select(col("part").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("part"))
        .agg(min("nl").as("m"))
      // the round's OLD label rides along as `prev`, so the
      // convergence check is a scan of the checkpointed frame — no
      // extra join per round
      // r14: `hop` is lineage-cut EAGERLY before the jump self-join —
      // un-cut, the jump's stream side and its broadcast build each
      // executed the labels⋈nmin subtree (the edge join + min
      // aggregate, the round's expensive half) once per round; a lazy
      // cut is no better, because the two consumers RACE on the
      // unmaterialized blocks and still compute it twice.
      val hop0 = labels
        .join(nmin, Seq("part"), "left")
        .select(
          col("part"),
          col("label").as("prev"),
          least(col("label"), coalesce(col("m"), col("label"))).as("label"))
      val next = (if (shortcut) {
                    val hop = hop0.cp(eager = true)
                    hop
                      .join(
                        hop.select(col("part").as("jp"), col("label").as("jl")),
                        col("label") === col("jp"))
                      .select(col("part"), col("prev"), col("jl").as("label"))
                  } else hop0).cp(eager = false)
      // bounded driver state: one scalar per round. r14: the count
      // aggregate IS the materializing action of the round's lazy
      // checkpoint (a full scan computes and persists every
      // partition — never a limit, which would truncate a lazy
      // checkpoint's block set), so each round pays ONE job instead
      // of eager-materialize + isEmpty.
      val nChanged = next.filter(col("label") =!= col("prev")).count()
      if (sys.env.contains("GRAFT_DEBUG_ROUNDS"))
        System.err.println(s"[propagate] round $round changed=$nChanged")
      converged = nChanged == 0L
      labels = next.select("part", "label")
    }
    (labels, converged)
  }

  /** #225 Incremental connected components: fold a DELTA ingest batch
    * (the 10% of orders with l_orderkey % 10 = 0 — the #74/#135
    * incremental-maintenance split) into an EXISTING components state
    * without recomputing from scratch. State = the base run's label
    * vector plus its pair-support counts; the fold is (a) incremental
    * support maintenance — delta pair counts summed onto the base
    * counts, only delta orders rescanned — then (b) the SAME
    * short-cutting propagation seeded with the base labels (new parts
    * seed identity). Any upper-bound seeding converges to the same
    * fixpoint, so the contract is bit-equality with the BATCH
    * operator on the full input: this query shares `q_components`'
    * oracle verbatim (the #103/#138 shared-oracle pattern), and the
    * spec additionally pins frame-equality against [[components]].
    *
    * Scale: the delta rescan is |delta| work; the seeded propagation
    * converges in O(log merged-diameter) rounds and typically fewer
    * than the cold run — merged regions already share base labels.
    */
  def componentsIncremental(
      spark: SparkSession,
      dir: String,
      maxRounds: Int = 12,
      minSupport: Int = 2): DataFrame = Lineage.checkpointReleasing(spark) { implicit scope =>
    val po = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")).distinct()
    def pairCounts(df: DataFrame): DataFrame = df
      .select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(df.select(col("l_orderkey"), col("l_partkey").as("part_b")), "l_orderkey")
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("w"))
    // ---- base state (what a prior run would have persisted) ----
    val poBase = po.filter(col("l_orderkey") % 10 =!= 0).cp(eager = false)
    // r14: eager — basePairs feeds baseSym's two union branches plus
    // the fullPairs union; lazy, those consumers raced and re-ran the
    // pair join (see pageRank)
    val basePairs = pairCounts(poBase).cp(eager = true)
    // r14: eager cuts, data-sized widths (see components' sym), and
    // the base-state propagation runs CONCURRENTLY with the merged
    // graph's delta-rescan/build (guide §2.6) — both depend only on
    // the already-materialized basePairs
    val (baseLabels, sym) = Lineage.par2(
      {
        val baseSym = scope.cp(
          basePairs
            .filter(col("w") >= minSupport)
            .select(col("part_a").as("src"), col("part_b").as("dst"))
            .unionAll(basePairs.filter(col("w") >= minSupport)
              .select(col("part_b").as("src"), col("part_a").as("dst")))
            .repartition(col("dst")),
          eager = true)
        val baseSeed = poBase.select(col("l_partkey").as("part")).distinct()
          .select(col("part"), col("part").as("label"))
        propagateMinLabels(baseSeed, baseSym, maxRounds, shortcut = true)._1
      }, {
        // ---- incremental fold of the delta batch ----
        val deltaPairs = pairCounts(po.filter(col("l_orderkey") % 10 === 0))
        val fullPairs = basePairs
          .select(col("part_a"), col("part_b"), col("w"))
          .unionAll(deltaPairs)
          .groupBy("part_a", "part_b")
          .agg(sum("w").as("w"))
          .filter(col("w") >= minSupport)
          .cp(eager = true)
        scope.cp(
          fullPairs
            .select(col("part_a").as("src"), col("part_b").as("dst"))
            .unionAll(fullPairs.select(col("part_b").as("src"), col("part_a").as("dst")))
            .repartition(col("dst")),
          eager = true)
      })
    val seed = po.select(col("l_partkey").as("part")).distinct()
      .join(baseLabels.select(col("part"), col("label").as("base_label")), Seq("part"), "left")
      .select(col("part"), coalesce(col("base_label"), col("part")).as("label"))
    val (labels, converged) = propagateMinLabels(seed, sym, maxRounds, shortcut = true)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
    val out = labels
      .join(sizes, "label")
      .select(
        col("part"),
        col("label").as("component"),
        col("comp_size"),
        lit(if (converged) 1L else 0L).as("converged"))
    (out, Seq.empty)
  }

  /** #110 Nearest-neighbor as-of join: each event matched to its
    * user's temporally CLOSEST order, backward or forward (ties
    * backward) — attribution when the touchpoint can precede or
    * follow the order. Same one-shuffle union-window shape as #35,
    * with two frames over one sort ([[AsOf.nearest]]).
    */
  def asofNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts"))
    val ord = Tables
      .orders(spark, dir)
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy("o_custkey", "o_orderdate").orderBy(col("o_orderkey").desc)))
      .filter(col("rn") === 1)
      .select(
        col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_ts"),
        col("o_orderkey"))
    AsOf.nearest(
      ev,
      ord,
      leftKey = "user_id",
      rightKey = "o_custkey",
      leftTime = "ts",
      rightTime = "o_ts",
      payload = Seq("o_orderkey"))
  }

  /** #109 Rolling window median: each event's trailing-7-day median
    * value within its user's history — a percentile aggregate over a
    * RANGE frame (the robust rolling baseline behind anomaly flags;
    * plain avg is what the fat tail owns). One shuffle on user_id;
    * the frame is integer nanoseconds, 6dp-rounded output (the
    * cross-engine interpolation guard).
    */
  def rollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val sevenDaysNs = 7L * 24 * 3600 * 1000000000L
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts"))
      .rangeBetween(-sevenDaysNs, 0)
    Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("med_7d", round(percentile(col("value"), lit(0.5)).over(w), 6))
      .select(col("event_id"), col("user_id"), col("med_7d"))
  }

  /** #105 Event-gap detection (lag/lead audit): per user, pairs of
    * consecutive events more than `minGapSec` apart — the silence
    * audit behind session-boundary checks and sensor-dropout
    * monitoring. One window over the (user_id) partitioning; gap
    * arithmetic is integer nanoseconds end to end, so the oracle
    * replays it exactly (`epoch_ns` on the DuckDB side).
    */
  def eventGaps(spark: SparkSession, dir: String, minGapSec: Long = 86400L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("prev_event_id", lag("event_id", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .withColumn("gap_sec", expr("(ts - prev_ts) div 1000000000"))
      .filter(col("gap_sec") >= minGapSec)
      .select(
        col("user_id"),
        col("prev_event_id"),
        col("event_id"),
        col("gap_sec"))
  }

  /** #106 Discrete percentiles (percentile_disc parity): per
    * event_type, the ACTUAL data value at p ∈ {0.25, 0.5, 0.75,
    * 0.95} — defined explicitly as the row with row_number
    * ⌈p·n⌉ under the (value, event_id) total order, so both engines
    * pick the identical row with zero interpolation arithmetic
    * (interpolated percentiles are the cross-engine ulp hazard
    * winsorize has to round away; discrete ones are exact by
    * construction). One window pass + a 4-element probe array.
    */
  def percentileDisc(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("p", explode(typedlit(Seq(0.25, 0.5, 0.75, 0.95))))
      .filter(col("rn") === ceil(col("p") * col("n")))
      .select(col("event_type"), col("p"), round(col("value"), 2).as("value"))
  }

  /** #161 Theil–Sen robust trend: per customer, the MEDIAN of all
    * pairwise slopes (y_j−y_i)/(x_j−x_i) over x_j > x_i — the
    * outlier-immune companion to #159's OLS (one wild order skews the
    * mean-based slope, not the median-based one; breakdown point
    * 29%). Slopes on the e4 grid by toward-zero integer division; the
    * median is DISCRETE: the slope at rank ⌈m/2⌉ under a (slope,
    * pair-id) total order, zero interpolation. The pair join fans out
    * per KEY only — orders per customer is domain-bounded (≤ tens),
    * so the n² term is a constant per key and the shuffle stays
    * linear in the fact table, the same contract as the co-purchase
    * basket² shape. Customers whose orders all share one day have no
    * defined slope and drop out.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("x"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("y"))
    val a = base.select(
      col("o_custkey"),
      col("o_orderkey").as("k1"),
      col("x").as("x1"),
      col("y").as("y1"))
    val b = base.select(
      col("o_custkey"),
      col("o_orderkey").as("k2"),
      col("x").as("x2"),
      col("y").as("y2"))
    val pairs = a
      .join(b, Seq("o_custkey"))
      .filter(col("x2") > col("x1"))
      .withColumn("slope_e4", expr("((y2 - y1) * 10000) div (x2 - x1)"))
    val w = Window.partitionBy("o_custkey").orderBy(col("slope_e4"), col("k1"), col("k2"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("o_custkey")))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .select(col("o_custkey"), col("m").cast("long").as("m"), col("slope_e4").as("ts_slope_e4"))
  }

  /** #160 Weighted discrete percentiles: per return flag, the price at
    * which a fraction p of total QUANTITY (not row count) is reached —
    * the inventory/value-at-risk percentile, where heavy rows count
    * proportionally. Fully discrete and all-integer: threshold
    * T = ⌈(num·W)/den⌉ = (num·W + den − 1) div den over exact
    * fractions p = num/den, winner = the row whose running quantity
    * interval (cum − w, cum] contains T under the (price, orderkey,
    * linenumber) total order. No interpolation arithmetic, exact
    * cross-engine like #106. At 100 TB the per-flag running sum uses
    * the hierarchical-cumsum construction (#118) since the group
    * cardinality is tiny.
    */
  def weightedPercentile(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window
      .partitionBy("l_returnflag")
      .orderBy(col("price_c"), col("l_orderkey"), col("l_linenumber"))
    Tables
      .lineitem(spark, dir)
      .select(
        col("l_returnflag"),
        col("l_orderkey"),
        col("l_linenumber"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"))
      .withColumn(
        "cum",
        sum("qty").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("wtot", sum("qty").over(Window.partitionBy("l_returnflag")))
      .withColumn(
        "pr",
        expr("explode(array(struct(1 AS num, 4 AS den), struct(1 AS num, 2 AS den), " +
          "struct(3 AS num, 4 AS den), struct(9 AS num, 10 AS den)))"))
      .withColumn("t", expr("(pr.num * wtot + pr.den - 1) div pr.den"))
      .filter(col("cum") - col("qty") < col("t") && col("t") <= col("cum"))
      .select(
        col("l_returnflag"),
        (col("pr.num").cast("double") / col("pr.den")).as("p"),
        col("price_c"))
  }

  /** #159 Per-key OLS trend: closed-form least-squares slope/intercept
    * of customer spend (cents) over order day — the per-entity trend
    * extractor (LTV trajectory, churn signal) as ONE partial-agg pass:
    * slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) over integer day index ×
    * integer cents, emitted on the e4 grid by integer division (both
    * engines truncate toward zero — verified, and Cauchy–Schwarz
    * bounds every intermediate under 2⁶³). Zero windows, zero joins:
    * five integer sums per key, then per-row arithmetic — the cheapest
    * possible distributed shape for a regression per key. Keys with
    * one order or a single distinct day carry no slope and are
    * excluded (denominator 0).
    */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long").as("x"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("y"))
    o.groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= 2 && expr("n * sxx - sx * sx") > 0)
      .withColumn("slope_e4", expr("((n * sxy - sx * sy) * 10000) div (n * sxx - sx * sx)"))
      .withColumn("intercept_e4", expr("(sy * 10000 - slope_e4 * sx) div n"))
      .select(col("o_custkey"), col("n"), col("slope_e4"), col("intercept_e4"))
  }

  /** #156 Equi-depth histogram: per event_type, B rank-defined bins
    * over `value` — the optimizer/statistics histogram (equal ROW
    * counts per bin, data-adaptive boundaries) as opposed to #91's
    * fixed-width value bins. Bin of a row = ((rn−1)·B) div n + 1
    * under the (value, event_id) total order — all-integer, bin
    * populations equal ±1 by construction, no interpolation
    * arithmetic anywhere (the same discrete discipline as #106).
    * One window pass partitioned BY TYPE + a partial-agg rollup; at
    * 100 TB the per-type sort is the hierarchical-rank construction
    * (#86) if a single type outgrows a partition.
    */
  def equidepthHist(spark: SparkSession, dir: String, bins: Int = 8): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("bin", expr(s"CAST((rn - 1) * $bins div n AS BIGINT) + 1"))
      .groupBy("event_type", "bin")
      .agg(
        count(lit(1)).as("n_rows"),
        round(min("value"), 2).as("lo"),
        round(max("value"), 2).as("hi"))
  }

  /** #178 U-shape multi-touch attribution: each `purchase` event's
    * conversion credit split over the same user's non-purchase
    * touchpoints in the 24 hours before it — 40% to the first touch,
    * 40% to the last, 20% shared by the middles (the position-based
    * model marketing teams default to between last-touch (#35's
    * as-of) and data-driven Shapley). Credit lives in EXACT basis
    * points: 10000 per conversion, degenerate paths get 10000 (n=1)
    * or 5000/5000 (n=2), and the middle share is Hamilton-apportioned
    * (base = 2000 div (n−2), remainder +1 to the earliest middles) so
    * every conversion telescopes to exactly 10000 — no float leakage,
    * exact in any engine (the #150 apportionment discipline applied
    * to attribution).
    *
    * Join shape: conversions ⋈ touches on user then time-window
    * filter — per-user bounded fan-out, credit windows partition BY
    * CONVERSION (a path's touchpoints, never the table). Integer µs
    * time arithmetic throughout.
    */
  def attribution(spark: SparkSession, dir: String, windowHours: Int = 24): DataFrame = {
    val winUs = windowHours.toLong * 3600000000L
    val ev = Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        expr("ts div 1000").as("ts_us"),
        col("event_id"),
        col("event_type"))
    val conv = ev
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("conv_us"), col("event_id").as("conv_id"))
    val touch = ev.filter(col("event_type") =!= "purchase")
    val j = conv
      .join(touch, "user_id")
      .filter(col("ts_us") >= col("conv_us") - winUs && col("ts_us") < col("conv_us"))
    val w = Window.partitionBy("conv_id")
    val r = j
      .withColumn("rn", row_number().over(w.orderBy(col("ts_us"), col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn(
        "bp",
        expr("""CAST(CASE WHEN n = 1 THEN 10000
                          WHEN n = 2 THEN 5000
                          WHEN rn = 1 OR rn = n THEN 4000
                          ELSE 2000 div (n - 2)
                               + (CASE WHEN rn - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END)
                     END AS BIGINT)"""))
    r.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_touch"),
        countDistinct(col("conv_id")).as("n_conversions"),
        sum("bp").as("credit_bp"))
  }

  /** #182 CUSUM changepoint detection: per event type, the day where
    * the cumulative deviation of daily volume from its mean peaks —
    * the classic single-changepoint locator (Page's CUSUM / binary
    * segmentation's first split): a level shift in event rate pulls
    * the cumulative sum into a V whose apex IS the shift day.
    * Monitoring teams run exactly this over daily metric series to
    * date a regression or a traffic-mix change.
    *
    * Division-free: instead of S_k = Σ(c_d − T/n) (a rational mean),
    * everything is scaled by n — S'_k = Σ(n·c_d − T) = n·S_k, which
    * preserves the argmax exactly and keeps the whole trajectory in
    * BIGINTs. Changepoint = (|S'| desc, day asc) winner per type.
    * Per-type day windows are bounded (the series length, never the
    * event table); one partial-agg pass builds the daily counts.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .events(spark, dir)
      .select(col("event_type"), expr("(ts div 1000) div 86400000000").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("c"))
    val totals = daily
      .groupBy("event_type")
      .agg(sum("c").as("t"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type").orderBy(col("day"))
    val cusum = daily
      .join(totals, "event_type")
      .withColumn(
        "s",
        sum(col("n_days") * col("c") - col("t"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("s_abs", abs(col("s")))
    cusum
      .withColumn(
        "rk",
        row_number().over(
          Window.partitionBy("event_type").orderBy(col("s_abs").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(
        col("event_type"),
        col("n_days"),
        col("t").as("total_events"),
        col("day").as("cp_day_idx"),
        col("s").as("s_at_cp"),
        col("s_abs"))
  }

  /** #180 Gini coefficient of customer spend: the inequality summary
    * behind every "top x% of customers drive y% of revenue" deck, and
    * the distribution-level companion to the per-key skew diagnostic
    * (#99) — skew says which keys are heavy, Gini says how unequal
    * the whole distribution is. One row: customer count, total spend,
    * Gini on the e6 grid, and the top-1-customer revenue share.
    *
    * Exact: spend in whole dollars (per-row floor, integer sums), the
    * sorted-rank identity G = (2Σi·xᵢ − (n+1)Σxᵢ)/(n·Σxᵢ) with the
    * rank built hierarchically (monotone spend-range shard + offsets
    * ≡ global row_number — the #86 construction, no single-partition
    * data window). The e6 scaling runs through DECIMAL(38,0) because
    * (n·Σx)·10⁶ exceeds 2⁶³ already at test scale — the same decimal
    * path a 1000× corpus needs, exercised now, with DuckDB's HUGEINT
    * `//` agreeing exactly.
    */
  def gini(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val per = Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice) AS BIGINT)")).as("x"))
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
    local
      .join(broadcast(offsets), "shard")
      .withColumn("i", col("off") + col("rn"))
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum(col("i") * col("x")).as("six"),
        max("x").as("mx"))
      .select(
        col("n").as("n_customers"),
        col("sx").as("total_usd"),
        expr("""CAST((CAST(2 * six - (n + 1) * sx AS DECIMAL(38, 0)) * 1000000)
                 div CAST(n * sx AS DECIMAL(38, 0)) AS BIGINT)""").as("gini_e6"),
        expr("CAST((mx * 1000000) div sx AS BIGINT)").as("top1_share_e6"))
  }

  /** #179 Association rules by lift: the co-purchase pairs (#89)
    * promoted to the full market-basket rule metrics — support,
    * directed confidence, and lift = P(ab)/(P(a)P(b)), the measure
    * that separates genuinely-associated pairs from pairs that merely
    * contain popular parts (confidence alone always crowns the
    * bestsellers). Top-k by lift among pairs co-occurring ≥ minCount
    * times.
    *
    * All metrics live on the e6 integer grid (c_ab·10⁶ div N etc.) —
    * exact cross-engine, no float ratios. Counts come from ONE
    * distinct (order, part) projection: pair counts via the #89
    * basket² explode (never a fact self-join), item counts via one
    * partial agg, both joined at pair cardinality. The top-k rank is
    * a TakeOrdered on (lift, pair) — map-side bounded.
    */
  def basketLift(
      spark: SparkSession,
      dir: String,
      minCount: Int = 2,
      topK: Int = 25): DataFrame = {
    val bp = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
    val n = bp.select(col("l_orderkey")).distinct().agg(count(lit(1)).as("n_baskets"))
    val itemCounts = bp.groupBy(col("l_partkey")).agg(count(lit(1)).as("c_item"))
    val pairs = bp
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
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(itemCounts.select(col("l_partkey").as("part_a"), col("c_item").as("c_a")), "part_a")
      .join(itemCounts.select(col("l_partkey").as("part_b"), col("c_item").as("c_b")), "part_b")
      .crossJoin(broadcast(n))
      .withColumn("support_e6", expr("(c_ab * 1000000) div n_baskets"))
      .withColumn("conf_ab_e6", expr("(c_ab * 1000000) div c_a"))
      .withColumn("conf_ba_e6", expr("(c_ab * 1000000) div c_b"))
      .withColumn("lift_e6", expr("(c_ab * n_baskets * 1000000) div (c_a * c_b)"))
      .orderBy(col("lift_e6").desc, col("part_a"), col("part_b"))
      .limit(topK)
      .select(
        col("part_a"),
        col("part_b"),
        col("c_ab"),
        col("c_a"),
        col("c_b"),
        col("support_e6"),
        col("conf_ab_e6"),
        col("conf_ba_e6"),
        col("lift_e6"))
  }

  /** #176 Triangle count + global clustering coefficient over the
    * co-purchase graph — the graph-family capstone beside PageRank
    * (#124) and connected components (#166): triangles measure
    * community cohesion (parts bought together in CLOSED loops), and
    * the clustering coefficient 3T/W is the standard graph-health
    * statistic.
    *
    * Degree-oriented node-iterator (the MapReduce-classic shape):
    * orient every edge small→large under the (degree, id) total order
    * — the orientation is acyclic and bounds out-degree by O(√m), so
    * wedge fan-out is Σ outdeg² ≤ m^1.5, never Σ deg² (which a hub
    * node would blow up). Each triangle has exactly ONE source node
    * under the orientation ⇒ counted once, no division by 3. The
    * wedge-close is an EQUI-join on the ≺-ordered pair — hash join,
    * no OR predicate. Edges come from the #89 basket² explode
    * (co-occurrence ≥ minOrders), never a fact self-join.
    *
    * All-integer; one driver row: nodes, edges, oriented wedges,
    * triangles, and cc_e6 = (3T·10⁶) div W_open with
    * W_open = Σ deg(deg−1)/2 — exact in any engine.
    */
  def triangles(spark: SparkSession, dir: String, minOrders: Int = 2): DataFrame = {
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
    val deg = e
      .select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val oe = e
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
      .select(
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pa"))
          .otherwise(col("pb"))
          .as("u"),
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pb"))
          .otherwise(col("pa"))
          .as("v"),
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("db"))
          .otherwise(col("da"))
          .as("dv"))
    val a = oe.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val b = oe.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = a
      .join(b, Seq("u"))
      .filter(col("x") < col("y"))
      .select(
        col("u"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("x"))
          .otherwise(col("y"))
          .as("lo"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("y"))
          .otherwise(col("x"))
          .as("hi"))
    val tri = wedges.join(
      oe.select(col("u").as("lo"), col("v").as("hi")),
      Seq("lo", "hi"),
      "left_semi")
    deg
      .agg(
        count(lit(1)).as("n_nodes"),
        expr("CAST(sum(deg * (deg - 1)) div 2 AS BIGINT)").as("open_wedges"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(wedges.agg(count(lit(1)).as("n_wedges"))))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
      .select(
        col("n_nodes"),
        col("n_edges"),
        col("open_wedges"),
        col("n_wedges"),
        col("n_triangles"),
        expr("CAST((3 * n_triangles * 1000000) div greatest(open_wedges, 1) AS BIGINT)")
          .as("cc_e6"))
  }

  /** #174 Event-type transition matrix: per-user Markov transitions
    * over the changelog — for each (from, to) event-type pair, how
    * often `to` directly follows `from` in a user's timeline, with the
    * per-from transition probability on the e6 integer grid. The
    * sequence-model companion to the funnel (#18) and session (#16)
    * operators: funnels check ONE prescribed path, the transition
    * matrix is the full first-order dynamics (what actually follows
    * what), the input to churn path mining and next-event prediction.
    *
    * One lag window per user (bounded partitions — a user's history,
    * never the table), one partial-agg count, margins joined back at
    * type-pair cardinality (tiny). p_e6 = (n_trans·10⁶) div n_from —
    * exact integer division in any engine.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables
      .events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
    val fromTotals = trans
      .groupBy("from_type")
      .agg(sum("n_trans").as("n_from"))
    trans
      .join(fromTotals, "from_type")
      .withColumn("p_e6", expr("(n_trans * 1000000) div n_from"))
      .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"), col("p_e6"))
  }

  /** #168 Grouped weighted median: per nation, the customer account
    * balance at which half the nation's ORDER VOLUME is reached — each
    * customer weighted by lifetime order count, so a whale with 40
    * orders pulls the median 40× harder than a one-order account. The
    * segmentation median every pricing/credit team actually wants
    * (the row-median treats both customers equally and lies).
    *
    * Same all-integer discipline as the weighted percentiles (#160):
    * balances in cents, weights as exact BIGINT counts, lower weighted
    * median = the row whose running-weight interval (cum − w, cum]
    * contains T = ⌈W/2⌉ = (W+1) div 2 under the (bal_c, custkey)
    * total order. Zero interpolation, exact in any engine.
    *
    * Scale: one partial-agg pass for the weights, one broadcast-ready
    * join (weights frame = |customers| but two columns), one window
    * partitioned BY NATION — no global ordering anywhere; a nation
    * outgrowing a partition takes the hierarchical-cumsum
    * construction (#118) unchanged.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("w"))
    val c = Tables
      .customer(spark, dir)
      .select(
        col("c_custkey"),
        col("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_c"))
    val ord = Window.partitionBy("c_nationkey").orderBy(col("bal_c"), col("c_custkey"))
    c.join(w, c("c_custkey") === w("o_custkey"))
      .withColumn(
        "cum",
        sum("w").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("wtot", sum("w").over(Window.partitionBy("c_nationkey")))
      .withColumn("t", expr("(wtot + 1) div 2"))
      .filter(col("cum") - col("w") < col("t") && col("t") <= col("cum"))
      .select(
        col("c_nationkey").cast("long").as("c_nationkey"),
        col("wtot").cast("long").as("w_total"),
        col("bal_c").as("median_bal_c"))
  }

  /** #189 Chi-square association audit: is order PRIORITY independent
    * of order STATUS? The contingency-table test every profiling
    * stage runs on categorical column pairs — a large statistic says
    * the pair carries joint structure (worth a composite feature or a
    * partition key), a small one says the columns are independent.
    * Per-cell contribution and the total statistic, both on the e6
    * integer grid: chi2 cell = (n*O - R*C)^2 / (n*R*C), computed as
    * DECIMAL(38,0) floor divisions (the squared term passes 2^63
    * already at test scale; DuckDB replays in HUGEINT — the #180
    * discipline). One count pass, two margin reductions broadcast
    * back, everything else arithmetic.
    */
  def chi2Assoc(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("o"))
    val rowm = cells.groupBy("o_orderstatus").agg(sum("o").as("r"))
    val colm = cells.groupBy("o_orderpriority").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"))
    val contrib = cells
      .join(broadcast(rowm), "o_orderstatus")
      .join(broadcast(colm), "o_orderpriority")
      .crossJoin(broadcast(tot))
      .select(
        col("o_orderstatus"),
        col("o_orderpriority"),
        col("o").as("n_cell"),
        expr("CAST((CAST(r AS DECIMAL(38,0)) * c * 1000000) div CAST(n AS DECIMAL(38,0)) AS BIGINT)")
          .as("expected_e6"),
        expr("""CAST((CAST(n * o - r * c AS DECIMAL(38,0)) * CAST(n * o - r * c AS DECIMAL(38,0))
                      * 1000000)
                 div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)""")
          .as("contrib_e6"))
    contrib.withColumn(
      "chi2_total_e6",
      sum("contrib_e6").over(Window.partitionBy()))
  }

  /** #191 ABC / Pareto revenue classification: parts banded into the
    * classic inventory classes by cumulative revenue share — A while
    * the running share is ≤ 80%, B to 95%, C above — the "top x% of
    * SKUs drive y% of revenue" cut that decides stocking policy, and
    * the class-banded companion to #180's single-number Gini.
    *
    * Exact: whole-dollar per-row floors summed as BIGINTs (the #180
    * money grid), the descending revenue rank and its cumulative sum
    * built HIERARCHICALLY — monotone revenue-range shards, in-shard
    * windows, a shards-row offset table broadcast back (the #86/#180
    * construction; no single-partition window over the part dim,
    * which at warehouse scale is NOT small). The DuckDB oracle is the
    * FLAT global window, so the hash-MATCH proves the decomposition.
    * Share scaling runs DECIMAL(38,0) ↔ HUGEINT (cum·10⁶ > 2⁶³ at
    * scale). Class cuts compare integer e6 shares — no float ratios.
    */
  def abcPareto(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val (classed, tot) = abcClassed(spark, dir, nShards)
    classed
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("class_revenue_usd"))
      .crossJoin(broadcast(tot))
      .select(
        col("abc_class"),
        col("n_parts"),
        col("class_revenue_usd"),
        expr("CAST((CAST(class_revenue_usd AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)")
          .as("class_share_e6"))
  }

  /** The per-part ABC classification shared by #191 and #257: the
    * hierarchical cumulative-revenue-share build (monotone rev-desc
    * shard + within-shard cumsum + ≤nShards-row carry — equal
    * revenues never span shards, so the shard index is monotone in
    * the (rev desc, partkey) total order) and the 80/95 class cut.
    * Returns the classed per-part frame plus the 1-row revenue total.
    */
  private[operators] def abcClassed(
      spark: SparkSession,
      dir: String,
      nShards: Int): (DataFrame, DataFrame) = {
    val rev = Tables
      .lineitem(spark, dir)
      .select(
        col("l_partkey"),
        expr("CAST(floor(l_extendedprice * (1.0d - l_discount)) AS BIGINT)").as("r"))
      .groupBy("l_partkey")
      .agg(sum("r").as("rev"))
    val bounds = rev.agg(min("rev").as("lo"), max("rev").as("hi"))
    val sharded = rev
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((hi - rev) * $nShards) div (hi - lo + 1)"))
    val ws = Window.partitionBy("shard").orderBy(col("rev").desc, col("l_partkey"))
    val local = sharded.withColumn("csum", sum("rev").over(ws))
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
    val classed = local
      .join(broadcast(offsets), "shard")
      .crossJoin(broadcast(tot))
      .withColumn(
        "share_e6",
        expr("CAST((CAST(roff + csum AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)"))
      .withColumn(
        "abc_class",
        when(col("share_e6") <= 800000, "A")
          .when(col("share_e6") <= 950000, "B")
          .otherwise("C"))
    (classed, tot)
  }

  /** The per-part weekly-demand moment frame shared by #256/#257:
    * observed-week demand (qty summed per epoch-week a part actually
    * sold — the demand-history contract; structural zero weeks are a
    * documented non-goal, matching how interval-based inventory
    * models read a transaction log) with n, Σq, Σq² per part.
    */
  private[operators] def weeklyDemand(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(
        Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(
        col("l_partkey"),
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) div 7")
          .as("week"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
      .groupBy("l_partkey", "week")
      .agg(sum("q").as("qw"))
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n_weeks"),
        sum("qw").as("sq"),
        sum(expr("CAST(qw AS DECIMAL(38,0)) * qw")).as("sqq"))

  /** #256 Safety stock / reorder point: per part, the buffer a
    * service-level policy holds against demand variability over the
    * replenishment lead time — ss = z·√(L·Var) with z = 2 (~97.7%
    * one-sided) and L = 2 weeks, reorder = L·mean + ss. The standard
    * inventory-control read-out over the same demand history #212
    * allocates FIFO lots from. All-integer: weekly-demand moments in
    * DECIMAL(38,0), sample variance var = (nΣq² − (Σq)²) div
    * (n(n−1)), and the square root is the #226 one-ulp-clamp EXACT
    * integer sqrt (s₀ = floor(double sqrt), ±1 CASE corrections) of
    * z²·L·var — so ss = isqrt(4·2·var) exactly, identically in both
    * engines. Parts need ≥2 observed weeks (variance undefined
    * below). One join + two aggregate passes, linear, no windows.
    */
  def safetyStock(spark: SparkSession, dir: String): DataFrame =
    weeklyDemand(spark, dir)
      .filter(col("n_weeks") >= 2)
      .withColumn(
        "var_q",
        expr("""CAST((CAST(n_weeks AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0)) * sq)
                 div (CAST(n_weeks AS DECIMAL(38,0)) * (n_weeks - 1)) AS BIGINT)"""))
      .withColumn("mean_w", expr("sq div n_weeks"))
      .withColumn("s0", expr("CAST(floor(sqrt(CAST(8 * var_q AS DOUBLE))) AS BIGINT)"))
      .withColumn(
        "ss",
        expr("""s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= 8 * var_q THEN 1 ELSE 0 END)
                   - (CASE WHEN s0 * s0 > 8 * var_q THEN 1 ELSE 0 END)"""))
      .select(
        col("l_partkey"),
        col("n_weeks"),
        col("sq").as("total_qty"),
        col("mean_w").as("mean_weekly_qty"),
        col("var_q"),
        col("ss").as("safety_stock"),
        (lit(2L) * col("mean_w") + col("ss")).as("reorder_point"))

  /** #257 ABC-XYZ inventory matrix: the 9-cell planning grid every
    * S&OP process starts from — #191's ABC (revenue concentration)
    * crossed with XYZ demand-variability classes, cv² = Var/mean² on
    * the e6 grid as the SINGLE exact quotient cv²·10⁶ = (nΣq²−(Σq)²)
    * ·n·10⁶ div ((n−1)·(Σq)²) (X < 0.25·10⁶, Y < 10⁶, else Z — the
    * standard cv<0.5/cv<1 cuts, squared so no sqrt exists anywhere).
    * AX parts (high value, steady) get automated min-max; CZ parts
    * (low value, erratic) get make-to-order — the matrix is the
    * decision, which is why it is the deliverable rather than the
    * per-part frame. Parts with one observed week are class Z by
    * convention (variability unknowable). Reuses #191's hierarchical
    * share build verbatim; one join on the part key; output ≤ 9
    * rows.
    */
  def xyzMatrix(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val (classed, tot) = abcClassed(spark, dir, nShards)
    val xyz = weeklyDemand(spark, dir)
      .withColumn(
        "cv2_e6",
        expr("""CASE WHEN n_weeks < 2 THEN CAST(NULL AS BIGINT)
                 ELSE CAST((CAST(n_weeks AS DECIMAL(38,0)) * sqq
                            - CAST(sq AS DECIMAL(38,0)) * sq) * n_weeks * 1000000
                      div ((CAST(n_weeks AS DECIMAL(38,0)) - 1)
                           * CAST(sq AS DECIMAL(38,0)) * sq) AS BIGINT) END"""))
      .withColumn(
        "xyz_class",
        when(col("cv2_e6").isNull, "Z")
          .when(col("cv2_e6") < 250000, "X")
          .when(col("cv2_e6") < 1000000, "Y")
          .otherwise("Z"))
      .select(col("l_partkey"), col("xyz_class"))
    classed
      .join(xyz, "l_partkey")
      .groupBy("abc_class", "xyz_class")
      .agg(count(lit(1)).as("n_parts"), sum("rev").as("cell_revenue_usd"))
      .crossJoin(broadcast(tot))
      .select(
        col("abc_class"),
        col("xyz_class"),
        col("n_parts"),
        col("cell_revenue_usd"),
        expr("CAST((CAST(cell_revenue_usd AS DECIMAL(38,0)) * 1000000) div t AS BIGINT)")
          .as("cell_share_e6"))
  }

  /** #258 Nation basket similarity: Jaccard between every pair of
    * nations' DISTINCT-part purchase sets — "which markets buy the
    * same catalog", the assortment-overlap screen behind market
    * clustering and transfer-pricing comparisons. Built the
    * `text_sparse_sim` way (#171): an INVERTED INDEX on the part key
    * — per part, the nations buying it pair up — so intersection
    * counts come from a posting-list join whose fan-out per part is
    * nations-per-part², alphabet-bounded (≤25²), never parts². Union
    * by inclusion-exclusion from per-nation set sizes; e6 integer
    * Jaccard. One lineitem→customer join is the only data-scale
    * pass; everything after runs on (nation, part) distincts.
    */
  def nationSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val np = Tables
      .lineitem(spark, dir)
      .join(
        Tables.orders(spark, dir).select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        "l_orderkey")
      .join(
        Tables.customer(spark, dir).select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey")
      .select(col("c_nationkey").cast("long").as("nation"), col("l_partkey"))
      .distinct()
      .localCheckpoint(eager = false)
    val sizes = np.groupBy("nation").agg(count(lit(1)).as("n_parts"))
    val inter = np
      .alias("a")
      .join(np.alias("b"), col("a.l_partkey") === col("b.l_partkey") &&
        col("a.nation") < col("b.nation"))
      .groupBy(col("a.nation").as("nation_a"), col("b.nation").as("nation_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("nation").as("nation_a"), col("n_parts").as("na"))),
        "nation_a")
      .join(broadcast(sizes.select(col("nation").as("nation_b"), col("n_parts").as("nb"))),
        "nation_b")
      .select(
        col("nation_a"),
        col("nation_b"),
        col("na"),
        col("nb"),
        col("n_common"),
        expr("CAST(n_common * 1000000 div (na + nb - n_common) AS BIGINT)")
          .as("jaccard_e6"))
  }

  /** #259 Half-life discounted LTV: per customer, lifetime spend
    * where each order's cents are discounted by 2^(age in months) —
    * the recency-weighted value ranking CRM prioritization actually
    * uses (a $1000 order three half-lives ago counts $125; #14's
    * plain LTV treats them equally, #216's curve shows the raw
    * timing). DYADIC decay keeps it exact: cents div 2^age is a
    * right-shift, no float discounting, identical in any engine;
    * age = corpus max month − order month from a 1-row broadcast
    * clock. One aggregate pass; shift capped at 62 so the divisor
    * stays in BIGINT at any corpus span.
    */
  def discountedLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        expr("CAST(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT)")
          .as("m"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val clock = o.agg(max("m").as("mmax"))
    o.crossJoin(broadcast(clock))
      .select(
        col("o_custkey"),
        col("cents"),
        expr("least(mmax - m, CAST(62 AS BIGINT))").as("age"))
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        sum("cents").as("raw_cents"),
        sum(expr("cents div CAST(pow(2, age) AS BIGINT)")).as("discounted_cents"))
  }

  /** #260 Burstiness / Fano factor: per event type, the
    * variance-to-mean ratio of daily event counts on the e6 grid —
    * the index-of-dispersion screen that separates Poisson-like
    * steady streams (≈10⁶) from bursty ones (≫10⁶), the one-number
    * triage before reaching for #182's changepoints or #223's
    * anomaly flags. Single exact quotient: Fano·10⁶ =
    * (nΣc²−(Σc)²)·10⁶ div ((n−1)·Σc) — variance AND mean share the
    * n denominator, so it cancels and no intermediate division
    * truncates. One day-keyed aggregate per type over the
    * calendar-bounded daily frame; DECIMAL(38,0) cross products.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    Tables
      .events(spark, dir)
      .select(col("event_type"), expr(s"ts div ${nsPerDay}L").as("day"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum("c").as("n_events"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("scc"))
      .filter(col("n_days") >= 2)
      .select(
        col("event_type"),
        col("n_days"),
        col("n_events"),
        expr("""CAST((CAST(n_days AS DECIMAL(38,0)) * scc
                      - CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000000
                 div (CAST(n_days - 1 AS DECIMAL(38,0)) * n_events) AS BIGINT)""")
          .as("fano_e6"))
  }

  /** #192 Skyline / Pareto-frontier preference query: the parts no
    * other part beats on BOTH price and size (minimize `p_retailprice`,
    * minimize `p_size`) — the classic "best tradeoff set" operator
    * (Börzsönyi et al., ICDE 2001) that product search and
    * supplier-selection queries run at warehouse scale.
    *
    * Distributed shape: a fixed-width price grid (B bins) reduces to a
    * per-bin min-size STAIRCASE (one tiny aggregate); its strict
    * prefix-min, broadcast back, prunes every point dominated by a
    * strictly-cheaper bin — the surviving candidate set is
    * O(B + skyline), independent of the fact row count, so the exact
    * residual pass (a range-frame running min over survivors only)
    * never sees the full table. At 100 TB, raise B; the fact table is
    * touched once, map-side, against a broadcast staircase. Money on
    * the cent grid (BIGINT); dominance strict-somewhere, so exact
    * (price,size) duplicates are both retained — matching the oracle's
    * NOT EXISTS replay bit-for-bit.
    */
  def skyline(spark: SparkSession, dir: String, bins: Int = 64): DataFrame = {
    val pts = Tables
      .part(spark, dir)
      .select(
        col("p_partkey"),
        expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("price_c"),
        col("p_size").cast("long").as("p_size"))
    val bounds = pts.agg(min("price_c").as("lo"), max("price_c").as("hi"))
    val binned = pts
      .crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"((price_c - lo) * $bins) div (hi - lo + 1)"))
    // staircase: min size per price bin, then min over all strictly lower bins
    val stairs = binned
      .groupBy("bin")
      .agg(min("p_size").as("bin_min"))
      .withColumn(
        "pref_min",
        min("bin_min").over(
          Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bin"), col("pref_min"))
    val survivors = binned
      .join(broadcast(stairs), "bin")
      .filter(col("pref_min").isNull || col("pref_min") > col("p_size"))
    // exact residual: dominated iff a strictly cheaper survivor is no
    // larger, or an equal-price survivor is strictly smaller
    val strictCheaper =
      Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    val samePrice = Window.partitionBy("price_c")
    survivors
      .withColumn("run_min", min("p_size").over(strictCheaper))
      .withColumn("eq_min", min("p_size").over(samePrice))
      .filter(
        (col("run_min").isNull || col("run_min") > col("p_size")) &&
          col("p_size") === col("eq_min"))
      .select(col("p_partkey"), col("price_c"), col("p_size"))
  }

  /** #193 Rolling 7-day active users (sliding exact count-distinct):
    * for every active day, the number of DISTINCT users seen in the
    * trailing 7-day window — the rolling-MAU/WAU metric that naive
    * windowing cannot express (distinct does not decompose over a
    * sliding frame).
    *
    * Distributed shape: dedup to per-(day, user) presence, then each
    * presence row COVERS the next 7 target days (a bounded 7-way
    * explode — `sequence` + `explode`, map-side), and one hash
    * aggregate counts distinct users per covered day. O(7·presence)
    * rows shuffled on target_day — linear, no global window, no
    * per-day full rescan; window length w scales cost as O(w·n),
    * independent of the corpus day span. Target days restricted to
    * days with activity (inner join with the presence day set), so
    * the output domain is data-defined on both engines.
    */
  def rollingMau(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val pres = Tables
      .events(spark, dir)
      .select(expr(s"ts div ${nsPerDay}L").as("day"), col("user_id"))
      .distinct()
    val days = pres.select(col("day").as("target_day")).distinct()
    val covered = pres
      .select(explode(expr("sequence(day, day + 6)")).as("target_day"), col("user_id"))
    covered
      .join(days, "target_day")
      .groupBy("target_day")
      .agg(countDistinct("user_id").as("n_active_7d"))
  }

  /** #195 Event-sequence pattern match (MATCH_RECOGNIZE shape): each
    * user's event history becomes an ordered symbol string
    * (signup→s, click→c, view→v, purchase→p, error→e) and a regex
    * counts the browse-to-buy runs `v[vc]*p` — a view followed by any
    * browsing that ends in a purchase. This is the SQL-2016
    * MATCH_RECOGNIZE / funnel-regex operator: sequence predicates no
    * join can express cheaply, compiled to one per-key aggregation.
    *
    * Shape: one hash exchange on `user_id`; `collect_list(struct)` +
    * `array_sort` orders by (ts, event_id) inside the aggregate —
    * per-key state is activity-bounded (the sessionization contract),
    * never a global sort. The regex runs codegen'd per key. Both
    * engines scan left-to-right non-overlapping with a greedy,
    * alternation-free pattern, so Java and RE2 agree exactly.
    */
  def eventRegex(spark: SparkSession, dir: String): DataFrame = {
    val sym = when(col("event_type") === "signup", "s")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "view", "v")
      .when(col("event_type") === "purchase", "p")
      .otherwise("e")
    Tables
      .events(spark, dir)
      .select(
        col("user_id"),
        struct(col("ts"), col("event_id"), sym.as("ch")).as("ev"))
      .groupBy("user_id")
      .agg(
        array_join(expr("transform(array_sort(collect_list(ev)), x -> x.ch)"), "")
          .as("seq"))
      .select(
        col("user_id"),
        length(col("seq")).cast("long").as("n_events"),
        size(expr("regexp_extract_all(seq, 'v[vc]*p', 0)")).cast("long")
          .as("n_browse_to_buy"))
  }

  /** #207 Conversion-lag percentiles: per converting user, the time
    * from FIRST view to the first purchase after it, summarized as
    * discrete p50/p90/p99 order statistics — the funnel-latency
    * companion to #18 (which counts conversions; this measures how
    * long they take). µs lags via truncate-then-diff (each ns stamp
    * `div 1000` before subtracting — the classify() convention, so
    * both timestamp generations agree with `epoch_us` exactly).
    *
    * Percentile ranks are type-1 discrete (⌈q·n⌉ — the #106 zero-
    * interpolation discipline) over a global lag rank built
    * HIERARCHICALLY (#191 value-range shards + broadcast offsets —
    * converting users are NOT small at warehouse scale). One
    * events-table pass per leg, user_id exchanges only.
    */
  def conversionLag(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"))
    val firstView = ev
      .filter(col("event_type") === "view")
      .groupBy("user_id")
      .agg(min("us").as("v"))
    val lags = ev
      .filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("us") > col("v"))
      .groupBy("user_id", "v")
      .agg(min("us").as("p"))
      .select(col("user_id"), (col("p") - col("v")).as("lag_us"))
    val bounds = lags.agg(min("lag_us").as("lo"), max("lag_us").as("hi"))
    val sharded = lags
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((lag_us - lo) * $nShards) div (hi - lo + 1)"))
    val ws = Window.partitionBy("shard").orderBy(col("lag_us"), col("user_id"))
    val local = sharded.withColumn("lrank", row_number().over(ws))
    val offsets = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "roff",
        coalesce(
          sum("cnt").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("roff"))
    val ranked = local
      .join(broadcast(offsets), "shard")
      .select(col("lag_us"), (col("roff") + col("lrank")).as("grank"))
    val total = lags.agg(count(lit(1)).as("n"))
    val targets = spark
      .createDataFrame(Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
      .toDF("pctl", "num", "den")
    targets
      .crossJoin(broadcast(total))
      .withColumn("rank", expr("(n * num + den - 1) div den"))
      .join(ranked, col("rank") === col("grank"))
      .select(col("pctl"), col("rank"), col("lag_us"), col("n").as("n_converted"))
  }

  /** #200 K-core decomposition (convergence-adaptive peeling): the
    * maximal subgraph of the co-purchase graph in which every part
    * keeps degree ≥ k — the graph-density backbone extraction behind
    * community seeding and spam/anomaly filtering, the peeled
    * complement of #176's triangle census.
    *
    * Shape: each peel round is degree-count + two semi-joins
    * restricting edges to surviving nodes — all hash exchanges on
    * node ids. The loop exits early the first round that removes no
    * edge (the per-round edge count is both the convergence scalar
    * and the checkpoint materialization), capped at `maxRounds`; the
    * `converged` column records whether the peel fixpoint was reached
    * within the cap. Restriction is IDEMPOTENT at the fixpoint, so
    * the DuckDB oracle unrolls all `maxRounds` rounds and compares
    * bit-exactly to an early-exited run (the #166 replay
    * discipline); its converged flag is the same last-two-rounds
    * edge-count equality, computed in-data. Output: each core member
    * with its within-core degree.
    */
  def kcore(spark: SparkSession, dir: String, k: Int = 3, maxRounds: Int = 16): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set("l_partkey")).as("parts"))
    var edges = baskets
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
      .filter(col("n_orders") >= 2)
      .select("pa", "pb")
      .cp(eager = false)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("pa").as("node"))
        .unionAll(e.select(col("pb").as("node")))
        .groupBy("node")
        .agg(count(lit(1)).as("deg"))
    // peeling only removes edges, so count equality ⟺ fixpoint — one
    // bounded driver scalar per round, doubling as the materialization
    var nEdges = edges.count()
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      round += 1
      val keep = degrees(edges).filter(col("deg") >= k).select("node")
      edges = edges
        .join(keep.select(col("node").as("pa")), Seq("pa"), "left_semi")
        .join(keep.select(col("node").as("pb")), Seq("pb"), "left_semi")
        .select("pa", "pb")
        .cp(eager = true)
      val n = edges.count()
      converged = n == nEdges
      nEdges = n
    }
    (degrees(edges).select(
      col("node"),
      col("deg").as("core_deg"),
      lit(if (converged) 1L else 0L).as("converged")), Seq.empty)
  }

  /** #196 EWMA trailing smoothing (α = 1/2, 16-day horizon): the
    * exponentially-weighted moving average of each event type's daily
    * spend — the smoothing primitive behind anomaly baselines and
    * forecast seeds, beside #182's CUSUM (which detects) and #168's
    * OLS (which extrapolates).
    *
    * EWMA's recursion is inherently sequential; the distributed form
    * exploits that α = 1/2 truncated at 16 lags is EXACT dyadic
    * arithmetic: weight of lag i is 2^(15-i) on a 2^16 grid, so
    * num/den BIGINTs replace floats entirely. Each daily point COVERS
    * its next 16 target days (bounded explode, the #193 cover-join
    * shape), one hash agg sums weighted cents — O(16·days·keys)
    * rows, linear, no per-key sequential scan, no window at all.
    * Output carries the exact rational (num, den) plus the truncated
    * cents quotient (all inputs positive, so Spark `div` and DuckDB
    * `//` agree).
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
    val present = daily.select(col("event_type"), col("day").as("target_day"))
    daily
      .select(
        col("event_type"),
        col("c"),
        col("day"),
        explode(expr("sequence(0, 15)")).as("off"))
      .select(
        col("event_type"),
        (col("day") + col("off")).as("target_day"),
        expr("c * shiftleft(CAST(1 AS BIGINT), 15 - off)").as("wc"),
        expr("shiftleft(CAST(1 AS BIGINT), 15 - off)").as("w"))
      .join(present, Seq("event_type", "target_day"))
      .groupBy("event_type", "target_day")
      .agg(sum("wc").as("num"), sum("w").as("den"))
      .select(
        col("event_type"),
        col("target_day").as("day"),
        col("num"),
        col("den"),
        expr("num div den").as("ewma_cents"))
  }

  /** #201 Quantile normalization across sources: each document's
    * length is replaced by the GLOBAL length at the same within-source
    * rank quantile — the distribution-alignment transform (classic in
    * batch-effect removal) that makes per-source features comparable
    * when sources were collected under different length regimes;
    * #190's KS measures the drift, this removes it.
    *
    * All-integer: within-source rank r_s of n_s maps to global
    * position ⌈r_s·N/n_s⌉ (type-1 discrete quantile — no
    * interpolation arithmetic), looked up by an equi-join against the
    * globally-ranked value table. The GLOBAL rank is built
    * HIERARCHICALLY (value-range shards + broadcast offset table —
    * the #191 construction; equal values cannot straddle shards, so
    * the shard index is monotone and no single-partition window ever
    * sees the corpus). Within-source windows partition on `source`;
    * at 100 TB a mega-source would get the same shard treatment.
    */
  def quantileNormalize(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars").as("len"))
    val bounds = docs.agg(min("len").as("lo"), max("len").as("hi"))
    val sharded = docs
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr(s"((len - lo) * $nShards) div (hi - lo + 1)"))
    val ws = Window.partitionBy("shard").orderBy(col("len"), col("doc_id"))
    val local = sharded.withColumn("lrank", row_number().over(ws))
    val offsets = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "roff",
        coalesce(
          sum("cnt").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("roff"))
    val global = local
      .join(broadcast(offsets), "shard")
      .select(col("len").as("g_len"), (col("roff") + col("lrank")).as("grank"))
    val total = docs.agg(count(lit(1)).as("n"))
    val wsrc = Window.partitionBy("source").orderBy(col("len"), col("doc_id"))
    val ranked = docs
      .withColumn("srank", row_number().over(wsrc))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy("source")))
    ranked
      .crossJoin(broadcast(total))
      .withColumn("target", expr("(srank * n + n_s - 1) div n_s"))
      .join(global, col("target") === col("grank"))
      .select(col("doc_id"), col("source"), col("len"), col("g_len").as("norm_len"))
  }

  /** #221 Seasonal-trend decomposition (STL-lite, classical
    * decomposition): each event type's daily spend split into
    * trend + weekly seasonal + remainder — the additive model behind
    * seasonality-aware anomaly baselines, completing the time-series
    * family: #196 EWMA smooths, #182 CUSUM detects, #168 OLS
    * extrapolates, this EXPLAINS the weekly shape.
    *
    * All-integer classical decomposition: trend = centered 7-day
    * moving sum div 7 (cents positive, so Spark `div` ≡ DuckDB `//`),
    * kept only where the frame is FULL and GAP-FREE (7 rows spanning
    * exactly 6 days — a ROWS frame over a gappy calendar would span
    * more, so both guards are asserted in-data); seasonal(dow) =
    * per-weekday mean of the detrended series as a sign-factored
    * truncating quotient (detrended can be negative, where Spark div
    * truncates but DuckDB // floors — magnitudes divided, sign
    * re-applied, the #202 discipline); remainder closes the additive
    * identity cents = trend + seasonal + remainder exactly.
    *
    * Scale: one partial-agg pass to days (series × days rows), one
    * 7-row window partitioned BY SERIES (never global), one tiny
    * (series × 7) seasonal aggregate broadcast back. Linear, gap-safe,
    * exact in any engine.
    */
  def seasonalDecomp(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    val kept = daily
      .withColumn("wsum", sum("c").over(w))
      .withColumn("wcnt", count(lit(1)).over(w))
      .withColumn("wmin", min("day").over(w))
      .withColumn("wmax", max("day").over(w))
      .filter(col("wcnt") === 7 && col("wmax") - col("wmin") === 6)
      .select(
        col("event_type"),
        col("day"),
        col("c"),
        expr("wsum div 7").as("trend"),
        (col("c") - expr("wsum div 7")).as("det"),
        pmod(col("day"), lit(7)).as("dow"))
      .localCheckpoint(eager = false)
    val seasonal = kept
      .groupBy("event_type", "dow")
      .agg(sum("det").as("snum"), count(lit(1)).as("sn"))
      .select(
        col("event_type"),
        col("dow"),
        expr("CASE WHEN snum < 0 THEN -(abs(snum) div sn) ELSE snum div sn END").as("seasonal"))
    kept
      .join(broadcast(seasonal), Seq("event_type", "dow"))
      .select(
        col("event_type"),
        col("day"),
        col("dow"),
        col("c").as("cents"),
        col("trend").as("trend_cents"),
        col("seasonal").as("seasonal_cents"),
        (col("det") - col("seasonal")).as("remainder_cents"))
  }

  /** #299 Seasonal/trend strength (Hyndman's F-statistics): per
    * event-type series, how much of the detrended variance the weekly
    * seasonal explains — F_seasonal = max(0, 1 − Var(rem)/Var(det)) —
    * and how much of the deseasonalized variance the trend explains —
    * F_trend = max(0, 1 − Var(rem)/Var(cents − seasonal)). The
    * one-number summary of whether #221's decomposition (and #292's
    * seasonal state) is EARNING its complexity on this series: a
    * near-zero F_seasonal says use #250's Holt and stop. Exact: both
    * ratios computed on raw moment forms n·Σx² − (Σx)² (the shared n
    * cancels), cross products in DECIMAL(38,0)↔HUGEINT, denominators
    * floored at 1. One ≤|series|-row aggregate over the #221 frame.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame =
    seasonalDecomp(spark, dir)
      .select(
        col("event_type"),
        (col("cents") - col("trend_cents")).as("det"),
        (col("cents") - col("seasonal_cents")).as("des"),
        col("remainder_cents").as("rem"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_days"),
        sum("det").as("sd"),
        sum(expr("CAST(det AS DECIMAL(38,0)) * det")).as("sdd"),
        sum("des").as("ss"),
        sum(expr("CAST(des AS DECIMAL(38,0)) * des")).as("sss"),
        sum("rem").as("sr"),
        sum(expr("CAST(rem AS DECIMAL(38,0)) * rem")).as("srr"))
      .select(
        col("event_type"),
        col("n_days"),
        expr("""CAST(greatest(CAST(n_days AS DECIMAL(38,0)) * sdd - CAST(sd AS DECIMAL(38,0)) * sd, 1)
                 AS DECIMAL(38,0))""").as("vd"),
        expr("""CAST(greatest(CAST(n_days AS DECIMAL(38,0)) * sss - CAST(ss AS DECIMAL(38,0)) * ss, 1)
                 AS DECIMAL(38,0))""").as("vs"),
        expr("""CAST(CAST(n_days AS DECIMAL(38,0)) * srr - CAST(sr AS DECIMAL(38,0)) * sr
                 AS DECIMAL(38,0))""").as("vr"))
      .select(
        col("event_type"),
        col("n_days"),
        expr("CAST(greatest(0, (vd - vr) * 1000000 div vd) AS BIGINT)")
          .as("f_seasonal_e6"),
        expr("CAST(greatest(0, (vs - vr) * 1000000 div vs) AS BIGINT)")
          .as("f_trend_e6"))

  /** #223 Seasonal-remainder anomaly flags: the capstone of the
    * time-series family — #221's decomposition explains trend and
    * weekly shape; what's left (the remainder) is where anomalies
    * live, and the robust threshold is the MAD rule (flag when
    * |remainder − median| > 3·MAD), immune to the anomalies' own
    * pull in a way that z-scores are not (#113's argument, applied to
    * the deseasonalized series rather than the raw one — a weekly
    * spike that is NORMAL for a Saturday no longer flags).
    *
    * All-integer: lower discrete medians via row_number at rank
    * (n+1) div 2 under the (value, day) total order — zero
    * interpolation, the #106 percentile_disc pattern; strict > on
    * the 3×MAD comparison so a zero-MAD series flags every nonzero
    * deviation. Per-series windows only; the median/MAD frames are
    * (series × 1) broadcasts.
    */
  def anomalyFlags(spark: SparkSession, dir: String): DataFrame = {
    val rem = seasonalDecomp(spark, dir)
      .select(col("event_type"), col("day"), col("remainder_cents").as("rem"))
      .localCheckpoint(eager = false)
    def lowerMedian(df: DataFrame, value: String, out: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col(value), col("day"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(value).as(out))
    }
    val med = lowerMedian(rem, "rem", "med")
    val dev = rem
      .join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("rem") - col("med")))
    val mad = lowerMedian(dev, "adev", "mad")
    dev
      .join(broadcast(mad), "event_type")
      .select(
        col("event_type"),
        col("day"),
        col("rem").as("remainder_cents"),
        col("med").as("med_cents"),
        col("mad").as("mad_cents"),
        (col("adev") > col("mad") * 3).cast("long").as("is_anomaly"))
  }

  /** #202 Lag-1 autocorrelation per series (daily spend per event
    * type): the serial-dependence diagnostic behind seasonality
    * detection and forecast-model choice — #168's OLS fits the trend,
    * this measures whether residual day-to-day persistence exists at
    * all.
    *
    * Exact integer Pearson over consecutive-day pairs: one self-join
    * on (series, day+1), one aggregation collecting the five power
    * sums, then the correlation reported as exact BIGINT moments
    * (num, den_a, den_b) plus the signed squared correlation on the
    * e6 grid — cross products run DECIMAL(38,0) ↔ HUGEINT (the #189
    * discipline), zero floats, zero square roots. Gaps in the
    * calendar simply produce no pair (both engines agree by
    * construction).
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val daily = Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        expr(s"ts div ${nsPerDay}L").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy("event_type", "day")
      .agg(sum("cents").as("c"))
      // tiny (series × days) frame read on both sides of the lag join —
      // barrier it so the events scan+agg runs once, not twice
      .localCheckpoint(eager = false)
    val pairs = daily
      .alias("a")
      .join(
        daily.alias("b"),
        col("a.event_type") === col("b.event_type") &&
          col("b.day") === col("a.day") + 1)
      .select(
        col("a.event_type").as("event_type"),
        col("a.c").as("x"),
        col("b.c").as("y"))
    pairs
      .groupBy("event_type")
      // power sums and moment cross products in DECIMAL(38,0) (↔ the
      // oracle's HUGEINT): raw 64-bit would wrap silently in Spark but
      // raise in DuckDB once x·y crosses 2^63 at larger SFs — same
      // discipline r2_signed_e6 below already applies
      .agg(
        count(lit(1)).as("m"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .select(
        col("event_type"),
        col("m"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("num"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS BIGINT)")
          .as("den_x"),
        expr("CAST(CAST(m AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy AS BIGINT)")
          .as("den_y"),
        // r² as a product of two e3-scaled quotients (|num|·10³ div den;
        // Cauchy-Schwarz bounds their PRODUCT ≤ 10⁶, not each factor):
        // num² would overflow DECIMAL(38) and HUGEINT past sf0.1, the
        // factored form never does.
        // Magnitudes divided (floor == trunc on both engines), sign
        // applied after in the integer domain.
        expr("""CAST(CASE WHEN m * sxy - sx * sy < 0 THEN -1 ELSE 1 END *
                 ((abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                   div CAST(m * sxx - sx * sx AS DECIMAL(38,0)))
                  * (abs(CAST(m * sxy - sx * sy AS DECIMAL(38,0))) * 1000
                     div CAST(m * syy - sy * sy AS DECIMAL(38,0))))
                AS BIGINT)""").as("r2_signed_e6"))
  }

  /** #239 Local clustering coefficient: per-vertex triangle density
    * over the co-purchase graph — lcc(v) = 2·tri(v)·10⁶ div
    * (deg(v)·(deg(v)−1)) — the node-level refinement of #176's single
    * global coefficient. #176 says how clustered the GRAPH is; this
    * says which PARTS sit inside closed purchasing communities
    * (high lcc = ecosystem anchor, low lcc at high degree = bridge /
    * hub spanning otherwise-unrelated baskets — the classic
    * structural-role split the global number can't see).
    *
    * Same degree-oriented node-iterator as #176 (orientation bounds
    * wedge fan-out by Σ outdeg² ≤ m^1.5): each closed wedge yields one
    * triangle with corners (u, lo, hi); per-vertex counts are the
    * 3-way corner explode of that triangle frame — alphabet-3
    * fan-out, then one groupBy on the node key. Degrees ride the
    * existing degree frame; nodes in no triangle keep lcc = 0 via a
    * left join. All-integer: 2·tri·10⁶ < 2⁶³ needs deg ≲ 10⁹ — safe.
    */
  def localClustering(spark: SparkSession, dir: String, minOrders: Int = 2): DataFrame = {
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
    val deg = e
      .select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("deg"))
    val oe = e
      .join(deg.select(col("node").as("pa"), col("deg").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("db")), "pb")
      .select(
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pa"))
          .otherwise(col("pb"))
          .as("u"),
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("pb"))
          .otherwise(col("pa"))
          .as("v"),
        when(struct(col("da"), col("pa")) < struct(col("db"), col("pb")), col("db"))
          .otherwise(col("da"))
          .as("dv"))
    val a = oe.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val b = oe.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = a
      .join(b, Seq("u"))
      .filter(col("x") < col("y"))
      .select(
        col("u"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("x"))
          .otherwise(col("y"))
          .as("lo"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("y"))
          .otherwise(col("x"))
          .as("hi"))
    val tri = wedges.join(
      oe.select(col("u").as("lo"), col("v").as("hi")),
      Seq("lo", "hi"),
      "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("lo"), col("hi"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(
        col("node"),
        col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("""CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
                 ELSE CAST((2 * coalesce(n_tri, 0) * 1000000)
                      div (deg * (deg - 1)) AS BIGINT) END""").as("lcc_e6"))
  }

  /** #240 Growth accounting: the day-over-day active-user ledger —
    * every active user on day d is exactly one of NEW (first-ever
    * activity), RETAINED (also active on d−1), or RESURRECTED (seen
    * before, but absent on d−1); CHURNED on day d counts users active
    * on d−1 who did not return — active(d) = new+retained+resurrected
    * and churned(d) = active(d−1) − retained(d) hold as integer
    * identities (both spec-pinned). This is the standard growth
    * decomposition under every DAU dashboard; #193's rolling MAU
    * counts heads, this explains the flux behind the count.
    *
    * One (user, day) distinct, one per-user lag window (single user_id
    * exchange), a day-keyed aggregate, then a day→day−1 self-join on
    * the CALENDAR-bounded daily frame — linear in events, never in
    * users × days.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val nsPerDay = 86400L * 1000000000L
    val ud = Tables
      .events(spark, dir)
      .select(col("user_id"), expr(s"ts div ${nsPerDay}L").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val flagged = ud
      .withColumn("prev_day", lag("day", 1).over(w))
      .select(
        col("day"),
        (col("prev_day").isNull).cast("long").as("is_new"),
        // <=> keeps the flag 0 (not NULL) on first-ever activity rows
        (col("prev_day") <=> (col("day") - 1)).cast("long").as("is_retained"),
        (col("prev_day").isNotNull && col("prev_day") < col("day") - 1)
          .cast("long")
          .as("is_resurrected"))
    val daily = flagged
      .groupBy("day")
      .agg(
        count(lit(1)).as("active"),
        sum("is_new").as("new_users"),
        sum("is_retained").as("retained"),
        sum("is_resurrected").as("resurrected"))
      .localCheckpoint(eager = false)
    daily
      .join(
        daily.select(col("day") + 1 as "day", col("active").as("active_prev")),
        Seq("day"),
        "left")
      .select(
        col("day"),
        col("active"),
        col("new_users"),
        col("retained"),
        col("resurrected"),
        (coalesce(col("active_prev"), lit(0L)) - col("retained")).as("churned"))
  }
}
