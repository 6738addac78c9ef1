package graft.functions

import org.apache.spark.sql.SparkSession

/** Registers graft's native Catalyst expressions as SQL functions so
  * operators can use them via `expr("cosine_sim(a, b)")` — the stable
  * way to lift a catalyst Expression into the Column API across Spark
  * versions (Column-from-Expression constructors are internal in 4.x).
  */
object GraftFunctions {

  /** Arity guard: a silently ignored argument (e.g. `minhash_sig(x, 64)`
    * returning a 32-hash signature) is a wrong-results bug, not a nicety.
    */
  private def checkArity(
      name: String,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      expected: Int*): Unit =
    if (!expected.contains(args.length)) {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> expected.mkString(" or "),
          "actualNum" -> args.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }

  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RewriteSetCardinality)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteSetCardinality
    }
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim",
      args => { checkArity("cosine_sim", args, 2); CosineSim(args.head, args(1)) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64",
      args => { checkArity("simhash64", args, 1); SimHash64(args.head) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig",
      // optional second arg: a literal numHashes (default 32)
      args => {
        checkArity("minhash_sig", args, 1, 2)
        val numHashes = args.lift(1) match {
          case None => 32
          case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
          case Some(other) =>
            throw new IllegalArgumentException(
              s"minhash_sig: numHashes must be an integer literal, got $other")
        }
        MinHashSig(args.head, numHashes)
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64w",
      args => { checkArity("simhash64w", args, 2); SimHash64Weighted(args.head, args(1)) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "intersect_card",
      args => { checkArity("intersect_card", args, 2); IntersectCard(args.head, args(1)) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "union_card",
      args => { checkArity("union_card", args, 2); UnionCard(args.head, args(1)) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "hash60",
      args => { checkArity("hash60", args, 1); Hash60(args.head) },
      "built-in")
    reg.createOrReplaceTempFunction(
      "lsh_bucket",
      args => {
        checkArity("lsh_bucket", args, 3)
        val lits = args.drop(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other =>
            throw new IllegalArgumentException(
              s"lsh_bucket: table and bits must be integer literals, got $other")
        }
        LshBucket(args.head, lits(0), lits(1))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "robust_prune_idx",
      args => {
        checkArity("robust_prune_idx", args, 6)
        val lits = args.drop(3).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
          case other =>
            throw new IllegalArgumentException(
              s"robust_prune_idx: r, alphaNum, alphaDen must be integer literals, got $other")
        }
        if (lits(0) < 1 || lits(0) > Int.MaxValue)
          throw new IllegalArgumentException(
            s"robust_prune_idx: r must be a positive Int, got ${lits(0)}")
        RobustPruneIdxExpr(args(0), args(1), args(2), lits(0).toInt, lits(1), lits(2))
      },
      "built-in")
    reg.createOrReplaceTempFunction(
      "rp_project",
      args => {
        checkArity("rp_project", args, 2)
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other =>
            throw new IllegalArgumentException(
              s"rp_project: k must be an integer literal, got $other")
        }
        RpProject(args.head, k)
      },
      "built-in")
  }
}
