package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** DiskANN RobustPrune (Subramanya et al. 2019, Alg. 2) over ONE
  * node's candidate list, run natively in a single pass: the per-node
  * loop is the arithmetic of the unrolled DataFrame form on the same
  * e6 integer grid — argmax by (cos_e6 desc, c asc), then drop every
  * remaining v with α·(1e6 − cosE6(c*, v)) ≤ (1e6 − cosE6(p, v)),
  * cross-multiplied exactly — so the emitted (c, cos_e6, rank) rows
  * are bit-identical to it (the DuckDB oracle replays the unrolled
  * CTEs and hash-matches; VamanaSpec pins the α invariant and
  * selection-order monotonicity on this path).
  *
  * Output: array<struct<c: bigint, cos_e6: bigint, rank: bigint>>,
  * rank = 1-based selection order, ≤ r entries, stops early when the
  * candidate set empties (the window-over-empty behaviour).
  *
  * The cosine is [[CosineSim]]'s exact float→double loop with the
  * same `floor(cos·1e6 + 0.5)` half-up quantization the `cosE6`
  * column expression applies — digit-for-digit the join form.
  */
private[functions] object RobustPrune {
  /** `CAST(floor(cosine_sim(a, b) * 1000000 + 0.5) AS BIGINT)` — the
    * exact expression-grid quantization of [[CosineSim]]'s value.
    */
  def cosE6(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    val cos = if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
    math.floor(cos * 1000000.0 + 0.5).toLong
  }

  /** The selection loop (Alg. 2): r rounds of argmax by
    * (cos_e6 desc, c asc) + α-dominance drop. Returns the picks.
    */
  def select(
      cs: Array[Long],
      cos: Array[Long],
      embs: Array[ArrayData],
      r: Int,
      alphaNum: Long,
      alphaDen: Long): Array[Any] = {
    val n = cs.length
    val alive = Array.fill(n)(true)
    val picks = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var round = 1
    var done = false
    var i = 0
    while (round <= r && !done) {
      // argmax over the survivors by (cos_e6 desc, c asc) — the
      // row_number()-over-(cos_e6 desc, c) = 1 pick
      var best = -1
      i = 0
      while (i < n) {
        if (alive(i) &&
          (best < 0 || cos(i) > cos(best) || (cos(i) == cos(best) && cs(i) < cs(best))))
          best = i
        i += 1
      }
      if (best < 0) done = true
      else {
        picks += new GenericInternalRow(
          Array[Any](cs(best), cos(best), round.toLong))
        alive(best) = false
        if (round < r) {
          // drop the pick's duplicates (c = cstar) and every v the
          // pick α-dominates — the exact cross-multiplied compare
          i = 0
          while (i < n) {
            if (alive(i)) {
              if (cs(i) == cs(best)) alive(i) = false
              else if (alphaNum * (1000000L - cosE6(embs(best), embs(i))) <=
                  alphaDen * (1000000L - cos(i))) alive(i) = false
            }
            i += 1
          }
        }
        round += 1
      }
    }
    picks.toArray[Any]
  }

  val outputType: DataType = ArrayType(
    StructType(Seq(
      StructField("c", LongType, nullable = false),
      StructField("cos_e6", LongType, nullable = false),
      StructField("rank", LongType, nullable = false))),
    containsNull = false)
}

/** `robust_prune_idx(p, cands, corpus, r, alphaNum, alphaDen)`: the
  * [[RobustPrune]] loop with CORPUS-LOOKUP embeddings. The candidate
  * list is bare ids and the corpus comes ONCE as a vec_id-sorted
  * array<struct<v, emb>> column (a broadcast single-row frame — the
  * same O(corpus) broadcast footprint as the cosE6 scoring joins), so
  * the prune exchange carries ids, never embeddings. Both the (p, c)
  * scores and the candidate-candidate dominance cosines are computed
  * inside, via binary search on v.
  *
  * Inputs: p bigint, cands array<bigint> (unique per the callers'
  * upstream distinct), corpus array<struct<v: bigint, emb:
  * array<float>>> SORTED by v ascending (the callers' sort_array).
  * A candidate or p missing from the corpus is a caller bug and
  * throws rather than mis-scoring.
  */
case class RobustPruneIdxExpr(
    p: Expression,
    cands: Expression,
    corpus: Expression,
    r: Int,
    alphaNum: Long,
    alphaDen: Long)
    extends TernaryExpression
    with CodegenFallback {

  override def first: Expression = p
  override def second: Expression = cands
  override def third: Expression = corpus

  override def checkInputDataTypes(): TypeCheckResult =
    (p.dataType, cands.dataType, corpus.dataType) match {
      case (LongType, ArrayType(LongType, _), ArrayType(StructType(Array(v, e)), _))
          if v.dataType == LongType &&
            (e.dataType == ArrayType(FloatType, false) ||
              e.dataType == ArrayType(FloatType, true)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"robust_prune_idx expects (bigint, array<bigint>, " +
            s"array<struct<bigint, array<float>>>), got $other")
    }

  override def dataType: DataType = RobustPrune.outputType

  override def prettyName: String = "robust_prune_idx"

  override def nullSafeEval(pv: Any, candsV: Any, corpusV: Any): Any = {
    val pId = pv.asInstanceOf[Long]
    val cArr = candsV.asInstanceOf[ArrayData]
    val corp = corpusV.asInstanceOf[ArrayData]
    val m = corp.numElements()
    def embOf(id: Long): ArrayData = {
      var lo = 0
      var hi = m - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val st = corp.getStruct(mid, 2)
        val v = st.getLong(0)
        if (v == id) return st.getArray(1)
        else if (v < id) lo = mid + 1
        else hi = mid - 1
      }
      throw new IllegalStateException(s"robust_prune_idx: vec_id $id not in corpus")
    }
    val pEmb = embOf(pId)
    val n = cArr.numElements()
    val cs = new Array[Long](n)
    val cos = new Array[Long](n)
    val embs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      cs(i) = cArr.getLong(i)
      embs(i) = embOf(cs(i))
      cos(i) = RobustPrune.cosE6(pEmb, embs(i))
      i += 1
    }
    new GenericArrayData(RobustPrune.select(cs, cos, embs, r, alphaNum, alphaDen))
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression,
      newSecond: Expression,
      newThird: Expression): RobustPruneIdxExpr =
    copy(p = newFirst, cands = newSecond, corpus = newThird)
}
