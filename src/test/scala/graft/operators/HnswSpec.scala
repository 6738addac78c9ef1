package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Lineage.CpOps

/** #414/#415 — HNSW layering over the NSW graph. The §15.4 contract:
  * the approximation ships with its measured scorecard, and the spec
  * pins measured floors, not wishes. The structural pins (level law,
  * degree bounds, entry determinism) hold at any SF; the recall pins
  * are the measured sf0.001 values.
  */
class HnswSpec extends SparkSpec {

  test("levels follow the deterministic 4^-l law and never depend on order") {
    val lv = Similarity.hnswSearch(spark, sf) // smoke the full operator first
    assert(lv.count() > 0)
    // the level column itself: recompute via the same public surface
    // the oracle uses — hash60 trailing base-4 digits
    graft.functions.GraftFunctions.register(spark)
    val levels = graft.Tables
      .embeddings(spark, sf)
      .select(
        col("vec_id"),
        expr("""CASE WHEN hash60(concat('hnsw-lvl:', CAST(vec_id AS STRING))) % 4 = 0
                     THEN CASE WHEN (hash60(concat('hnsw-lvl:', CAST(vec_id AS STRING))) div 4) % 4 = 0
                          THEN 2 ELSE 1 END
                     ELSE 0 END""").as("lvl"))
    val n = levels.count()
    val n1 = levels.filter(col("lvl") >= 1).count()
    val n2 = levels.filter(col("lvl") >= 2).count()
    // geometric occupancy: ~1/4 and ~1/16 with binomial slack (3σ)
    def within(k: Long, p: Double): Boolean = {
      val sigma = math.sqrt(n * p * (1 - p))
      math.abs(k - n * p) <= 3 * sigma + 1
    }
    assert(within(n1, 0.25), s"level>=1 occupancy $n1/$n off the 4^-1 law")
    assert(within(n2, 0.0625), s"level>=2 occupancy $n2/$n off the 4^-2 law")
    assert(n2 > 0, "level 2 must be populated at every test SF")
  }

  test("search returns exactly 10 ranked rows per query, self excluded") {
    val r = Similarity.hnswSearch(spark, sf).cache()
    assert(r.groupBy("query_id").count().filter(col("count") =!= 10).isEmpty)
    assert(r.filter(col("vec_id") === col("query_id")).isEmpty)
    // cos non-increasing in rank per query
    val bad = r.alias("a")
      .join(r.alias("b"), expr("a.query_id = b.query_id AND a.rank + 1 = b.rank"))
      .filter(expr("a.cos < b.cos"))
    assert(bad.isEmpty)
    r.unpersist()
  }

  test("per-query descent entries beat the global NSW entry on recall") {
    val hnsw = recallAt10(Similarity.hnswSearch(spark, sf))
    // measured at sf0.001: 1.00 (NSW from its single global entry: 0.93)
    assert(hnsw >= 0.99, s"HNSW recall@10 regressed: $hnsw < 0.99 (measured 1.00 at entry)")
    val nsw = recallAt10(Similarity.nswSearch(spark, sf))
    assert(hnsw >= nsw, s"layering must not lose recall: hnsw $hnsw < nsw $nsw")
  }

  test("scalable (cell-bounded) layer-0 keeps the descent's recall") {
    // #449 recall-delta scorecard: swapping the n² layer-0 for the
    // scalable index measured 0.98 at sf0.001 / 1.00 at sf0.01
    // against the exact build's 1.00/0.96 — the delta is ≤0.02 either
    // way, i.e. the cell boundary costs the layered search nothing
    // the long links don't repay. Floor pinned under the measures.
    val scal = recallAt10(Similarity.hnswSearchScalable(spark, sf))
    assert(scal >= 0.95, s"scalable HNSW recall regressed: $scal < 0.95 (measured 0.98)")
  }

  test("recall-vs-beam scorecard: measured floors per sweep point") {
    val rows = Similarity
      .hnswRecallCurve(spark, sf)
      .orderBy("beam")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(3))
      .toMap
    assert(rows.keySet == Set(5L, 10L, 16L))
    // measured: 1.00/1.00/1.00 at sf0.001 (beam=5 already saturates —
    // the descent entry + bidirectional links, not beam width, were
    // NSW's binding constraints); 0.94/0.96/0.98 at sf0.01. Floors sit
    // under the sf0.001 measures with a small honesty margin.
    assert(rows(5L) >= 970000L, s"beam=5 recall ${rows(5L)} under the measured floor")
    assert(rows(10L) >= 990000L, s"beam=10 recall ${rows(10L)} under the measured floor")
    assert(rows(16L) >= rows(10L) - 10000L, "beam=16 collapsed below beam=10")
  }

  test("tagged walk: each beam tag replays the untagged walk; width 1 is the argmax descent") {
    import spark.implicits._
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    def assertSame(got: DataFrame, want: DataFrame, what: String): Set[Seq[Any]] = {
      val (g, w) = (rows(got), rows(want))
      val diff = (g diff w) ++ (w diff g)
      assert(diff.isEmpty, s"$what: ${diff.size} rows differ, e.g. ${diff.take(3)}")
      w
    }
    Lineage.checkpointReleasing(spark) { implicit scope =>
      graft.functions.GraftFunctions.register(spark)
      val e = graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")
      val queries = Similarity.queryVectors(spark, sf)
      val lv = Similarity.hnswLevels(spark, sf)

      // the width-1 walk over (g2 × hops, g1 × hops) vs an explicit
      // row_number = 1 argmax per hop over the same layers
      val ent = Similarity.hnswEntry(e, lv, queries, Similarity.HnswUpperM, Similarity.DescentHops)
      val wq = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
      var cur = queries
        .select("query_id")
        .crossJoin(lv.agg(
          coalesce(min(when(col("lvl") >= 2, col("vec_id"))), min(col("vec_id"))).as("vec_id")))
      for (l <- Seq(2, 1)) {
        val g = Similarity.symmetrize(
          Similarity.knnAmong(lv.filter(col("lvl") >= l), Similarity.HnswUpperM)).cp(false)
        for (_ <- 1 to Similarity.DescentHops) {
          val expanded = cur.join(g, cur("vec_id") === g("src"))
          cur = cur
            .unionAll(expanded.select(col("query_id"), col("dst").as("vec_id")))
            .join(e, "vec_id")
            .join(queries, "query_id")
            .select(
              col("query_id"),
              col("vec_id"),
              round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos"))
            .withColumn("rn", row_number().over(wq))
            .filter(col("rn") === 1)
            .select("query_id", "vec_id")
            .cp(false)
        }
      }
      val entries = assertSame(ent, cur, "width-1 walk vs the row_number = 1 argmax descent")
      assert(entries.size == 10, "one descent entry per query")

      // one walk tagged by beam vs one untagged walk per width, same
      // graph and entry: per-beam visited SET and ranked top-10 agree
      val graph =
        Similarity.symmetrize(Similarity.exactKnnGraph(spark, sf).select("src", "dst")).cp(false)
      val hops = Seq.fill(4)(graph)
      val beams = Similarity.HnswBeamPoints.map(_.toLong)
      val tagged = Similarity.beamWalk(
        e,
        queries,
        ent.crossJoin(beams.toDF("beam")).select("query_id", "beam", "vec_id"),
        hops,
        col("beam"),
        Seq("beam"))
      val visitedByBeam = beams.map { b =>
        val one = Similarity.beamWalk(e, queries, ent, hops, lit(b))
        val visited = assertSame(
          tagged.visited.filter(col("beam") === b).select("query_id", "vec_id").distinct(),
          one.visited.select("query_id", "vec_id").distinct(),
          s"beam $b visited set, tagged vs untagged")
        val top = assertSame(
          tagged.top10().filter(col("beam") === b).select("query_id", "vec_id", "cos", "rank"),
          one.top10().select("query_id", "vec_id", "cos", "rank"),
          s"beam $b top-10, tagged vs untagged")
        assert(top.size == 100, s"beam $b: 10 ranked rows per query")
        visited
      }
      // non-vacuous: the widths walk different trajectories
      assert(visitedByBeam.head.size < visitedByBeam.last.size)
      (spark.emptyDataFrame, Seq.empty)
    }
  }
}
