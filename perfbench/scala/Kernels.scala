package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, sort_array}

import graft.functions.GraftFunctions

/** ns/row of graft's native Catalyst kernels over seeded generated
  * columns: each kernel is projected over a cached frame into the noop
  * sink, median of three, so the figure is scan + kernel per row.
  */
object Kernels {
  private def vec(salt: Long) =
    s"transform(sequence(0, 63), d -> CAST(((xxhash64(id, d, $salt) & 2047) - 1024) / 1024.0 AS FLOAT))"
  private def set(salt: Long) = s"transform(sequence(0, 19), i -> xxhash64(id, i, $salt) & 1023)"

  private def nsPerRow(df: DataFrame, e: String, rows: Long): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.selectExpr(s"$e AS r").write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    ts.sorted.apply(1).toDouble / rows
  }

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    GraftFunctions.register(spark)
    val rows = 100000L
    val base = spark.range(rows)
      .selectExpr(s"${vec(seed)} AS a", s"${vec(seed + 1)} AS b", s"${set(seed + 2)} AS x",
        s"${set(seed + 3)} AS y")
      .cache()
    base.count()
    val flat = Seq(
      "cosine_sim" -> "cosine_sim(a, b)",
      "minhash_sig" -> "minhash_sig(x)",
      "intersect_card" -> "intersect_card(x, y)",
      "union_card" -> "union_card(x, y)",
      "lsh_bucket" -> "lsh_bucket(a, 0, 16)",
      "rp_project" -> "rp_project(a, 16)"
    ).map { case (k, e) => k -> nsPerRow(base, e, rows) }
    base.unpersist(blocking = true)

    // robust_prune_idx: 32 candidates per point against a vec_id-sorted corpus
    val corpusSize = 512
    val pruneRows = 5000L
    val corpus = spark.range(corpusSize)
      .selectExpr(s"named_struct('v', id, 'emb', ${vec(seed + 4)}) AS e")
      .agg(sort_array(collect_list(col("e"))).as("corpus"))
    val points = spark.range(pruneRows)
      .selectExpr(s"id % $corpusSize AS p",
        s"array_distinct(transform(sequence(1, 32), i -> (xxhash64(id, i, ${seed + 5}) & 2147483647) % $corpusSize)) AS c")
      .selectExpr("p", "filter(c, v -> v != p) AS cands")
      .crossJoin(corpus)
      .cache()
    points.count()
    val prune = nsPerRow(points, "robust_prune_idx(p, cands, corpus, 8, 6, 5)", pruneRows)
    points.unpersist(blocking = true)
    (flat :+ ("robust_prune_idx" -> prune)).toMap
  }
}
