package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkEntry}
import graft.operators.Cdc
import graft.sources.Formats
import graft.streaming.{CdcStream, CurrentRow, JdbcUpsertSink}

/** One benchmark run in one JVM: set-up cycles, warm-up, the measured
  * loop, and (traced) the per-layer extras. It only times calls into
  * graft's public functions and reads Spark's public listener APIs; the
  * run record goes to `<out>/result.json` for `run.py` to check and
  * summarise.
  *
  * Args: --workload W --data DIR --out DIR --seconds S --trace 0|1
  *       --cores N --setups K --seed N
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ctx = Ctx(a("workload"), a("data"), a("out"), a("seconds").toDouble, a("trace") == "1",
      a("cores").toInt, a("setups").toInt, a("seed").toLong)
    val rec = scala.collection.mutable.LinkedHashMap[String, Any]("workload" -> ctx.workload)
    val code =
      try { run(ctx, rec); 0 }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          rec("fatal") = e.toString
          2
      }
    Files.writeString(Paths.get(ctx.out, "result.json"), J(rec))
    System.exit(code)
  }

  private def run(ctx: Ctx, rec: scala.collection.mutable.Map[String, Any]): Unit = {
    val ops = new Ops
    val w: Workload = ctx.workload match {
      case "batch_mix" => new BatchMix(ctx, ops)
      case "cdc_stream" => new CdcStreamLoad(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = ArrayBuffer[Double]()
    val setupConf = scala.collection.mutable.SortedSet[String]()
    var spark: SparkSession = null
    for (k <- 0 until ctx.setups) {
      val t0 = Clock.us
      spark = GraftSession.local(ctx.cores)
      val conf0 = spark.conf.getAll
      w.first(spark, k)
      setups += (Clock.us - t0) / 1e6
      val conf1 = spark.conf.getAll
      setupConf ++= (conf0.keySet ++ conf1.keySet).filter(k => conf0.get(k) != conf1.get(k))
      if (k < ctx.setups - 1) { w.endCycle(spark); spark.stop() }
    }
    rec("setup_s") = setups.toSeq
    rec("setup_conf_changed") = setupConf.toSeq
    w.warmup(spark)
    w.measure(spark, "main", ctx.seconds)
    rec("peak_rss_mb") = peakRssMb()
    if (ctx.traced) {
      val tr = new EngineTrace
      tr.attach(spark)
      w.measure(spark, "traced", ctx.seconds)
      tr.detach(spark)
      rec("engine") = tr.toJson
      rec("kernels") = Kernels.run(spark, ctx.seed)
      spark = w.extras(spark)
    }
    w.endCycle(spark)
    w.finish(spark)
    rec("ops") = ops.records.toSeq
    rec("passes") = ops.passes.toSeq
    rec ++= w.record
    rec("oracle_sql") = w.oracles.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    spark.stop()
  }

  /** High-water mark of this JVM's resident set, from /proc. */
  def peakRssMb(): Double = {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally s.close()
  }
}

final case class Ctx(
    workload: String, data: String, out: String, seconds: Double, traced: Boolean,
    cores: Int, setups: Int, seed: Long)

/** Times each call, ties its jobs to it, and releases what it leaves
  * cached. Before/after snapshots of the persistent RDDs and the session
  * conf make the shared-session hazards countable per call.
  */
final class Ops {
  val records = ArrayBuffer[Map[String, Any]]()
  val passes = ArrayBuffer[Map[String, Any]]()
  private var nextSpan = 0

  def run(spark: SparkSession, phase: String, name: String, pass: Int)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    nextSpan += 1
    val rddsBefore = sc.getPersistentRDDs.keySet
    val confBefore = spark.conf.getAll
    sc.setLocalProperty(Span.Key, nextSpan.toString)
    val t0 = Clock.us
    val err =
      try { body; null }
      catch { case NonFatal(e) => e.toString }
    val t1 = Clock.us
    sc.setLocalProperty(Span.Key, null)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !rddsBefore(id) }
    val leftMb = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    left.values.foreach(_.unpersist(blocking = true))
    val confAfter = spark.conf.getAll
    val confChanged = (confBefore.keySet ++ confAfter.keySet).filter(k => confBefore.get(k) != confAfter.get(k))
    records += Map(
      "span" -> nextSpan, "phase" -> phase, "name" -> name, "pass" -> pass,
      "t0_us" -> t0, "t1_us" -> t1, "error" -> err,
      "rdds_left" -> left.size, "storage_mb_left" -> leftMb, "conf_changed" -> confChanged.toSeq.sorted)
  }
}

trait Workload {
  /** Start the workload in a fresh session and return at its first result. */
  def first(spark: SparkSession, cycle: Int): Unit
  def endCycle(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, phase: String, seconds: Double): Unit
  /** Traced-run extras; may replace the session. */
  def extras(spark: SparkSession): SparkSession = spark
  def finish(spark: SparkSession): Unit = ()
  def record: Map[String, Any] = Map.empty
  def oracles: Seq[String] = Nil
}

/** `batch_mix`: a closed loop with one client over a fixed ordered list
  * of calls (`<data>/mix.tsv`: name, kind, SQL, the `SparkEntry.oracleSql`
  * key of its oracle). Kinds: `cdc`, the reference's batch path (Debezium
  * parse, then the seven Cdc steps); `entry`, a `SparkEntry.queries`
  * entry; and `setup`, the psql-style read over
  * `GraftSession.registerWarehouse` that each set-up cycle ends with. Each
  * call materialises its result as parquet under `<out>/<name>` for the
  * correctness check.
  */
final class BatchMix(ctx: Ctx, ops: Ops) extends Workload {
  private val list: Seq[(String, String, String, String)] = {
    val s = Source.fromFile(s"${ctx.data}/mix.tsv")
    try s.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      (f(0), f(1), f(2), f(3))
    }.toList
    finally s.close()
  }
  private val setupCall = list.find(_._2 == "setup").get._1
  private val calls = list.map(_._1).filter(_ != setupCall)
  private val kindOf = list.map(c => c._1 -> c._2).toMap
  private val sqlOf = list.map(c => c._1 -> c._3).toMap

  private def frame(spark: SparkSession, call: String): DataFrame = (kindOf(call), call) match {
    case ("cdc", "parse") =>
      Formats.parseDebezium(spark.read.parquet(s"${ctx.data}/envelopes.parquet"), col("value"))
    case ("cdc", "classify") => Cdc.classify(spark, ctx.data)
    case ("cdc", "history") => Cdc.history(spark, ctx.data)
    case ("cdc", "current") => Cdc.current(spark, ctx.data)
    case ("cdc", "stats") => Cdc.stats(spark, ctx.data)
    case ("cdc", "dedup_redelivery") => Cdc.dedupRedelivery(spark, ctx.data)
    case ("cdc", "scd2") => Cdc.scd2(spark, ctx.data)
    case ("cdc", "compact") => Cdc.compact(spark, ctx.data)
    case ("setup", _) => GraftSession.sql(spark, sqlOf(call))
    case ("entry", _) => SparkEntry.queries(call)(spark, ctx.data)
  }

  private def call(spark: SparkSession, name: String): Unit =
    frame(spark, name).write.mode("overwrite").parquet(s"${ctx.out}/$name")

  private def pass(spark: SparkSession, phase: String, p: Int, names: Seq[String]): Unit = {
    val t0 = Clock.us
    names.foreach(n => ops.run(spark, phase, n, p)(call(spark, n)))
    ops.passes += Map("phase" -> phase, "pass" -> p, "t0_us" -> t0, "t1_us" -> Clock.us)
  }

  /** Register the warehouse and run its psql-style read. */
  def first(spark: SparkSession, cycle: Int): Unit = {
    GraftSession.registerWarehouse(spark, ctx.data)
    call(spark, setupCall)
  }

  /** The set-up cycles have run the first call; the rest of the list
    * warms up in the first measured passes, which `run.py` leaves out.
    */
  def warmup(spark: SparkSession): Unit = ()

  /** At least three passes (two in the traced phase, which runs on a JVM
    * the untraced phase has warmed), then passes until `seconds` have gone
    * by.
    */
  def measure(spark: SparkSession, phase: String, seconds: Double): Unit = {
    val minPasses = if (phase == "traced") 2 else 3
    val t0 = Clock.us
    var p = 1
    while (p <= minPasses || Clock.us - t0 < seconds * 1e6) { pass(spark, phase, p, calls); p += 1 }
  }

  /** One pass of the `cdc` calls on one core, the base of
    * `apply.parallel_eff`. The JVM is already warm.
    */
  override def extras(spark: SparkSession): SparkSession = {
    spark.stop()
    val one = GraftSession.local(1)
    pass(one, "1core", 1, calls.filter(kindOf(_) == "cdc"))
    one
  }

  override def oracles: Seq[String] = list.map(_._4).filter(_.nonEmpty)
}

/** `cdc_stream`: an open-loop generator thread delivers fixed-size
  * changelog files on a schedule that does not wait for Spark; one query
  * runs `CdcStream.currentState` into `JdbcUpsertSink.upsertBatch` on
  * in-memory Derby. `<data>/schedule.tsv` lines: file, due seconds from
  * the phase start, phase, ladder step.
  */
final class CdcStreamLoad(ctx: Ctx) extends Workload {
  private val schedule: Seq[(Int, Double, String, Int)] = {
    val s = Source.fromFile(s"${ctx.data}/schedule.tsv")
    try s.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      (f(0).toInt, f(1).toDouble, f(2), f(3).toInt)
    }.toList
    finally s.close()
  }
  private val fileRows = Source.fromFile(s"${ctx.data}/file_rows").mkString.trim.toLong
  private val delivered = ArrayBuffer[Map[String, Any]]()
  private val commits = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private var progress: ProgressLog = _
  private var query: StreamingQuery = _
  private var url: String = _
  private var dir: String = _
  private var nDelivered = 0
  private var cycle = 0

  private def sink(batch: Dataset[CurrentRow], id: Long): Unit = {
    val t0 = Clock.us
    JdbcUpsertSink.upsertBatch(url)(batch, id)
    commits.add(Map("cycle" -> cycle, "batch" -> id, "t0_us" -> t0, "t1_us" -> Clock.us))
  }

  /** Copy pool file `f` in under a hidden name, then rename it into the
    * watched directory, so the source sees it whole.
    */
  private def deliver(f: Int, phase: String, step: Int, dueUs: Long): Unit = {
    val name = f"part-$f%05d.parquet"
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.copy(Paths.get(ctx.data, "pool", name), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    val stamp = Clock.us
    nDelivered += 1
    delivered += Map("cycle" -> cycle, "file" -> f, "phase" -> phase, "step" -> step,
      "due_us" -> dueUs, "stamp_us" -> stamp)
  }

  private def awaitCommitted(timeoutS: Double): Unit = {
    val deadline = Clock.us + (timeoutS * 1e6).toLong
    while (progress.rowsSeen < nDelivered * fileRows && Clock.us < deadline) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    if (progress.rowsSeen < nDelivered * fileRows)
      throw new IllegalStateException(s"stream did not drain: ${progress.rowsSeen} of ${nDelivered * fileRows} rows")
  }

  def first(spark: SparkSession, k: Int): Unit = {
    cycle = k
    url = s"jdbc:derby:memory:graftbench$k;create=true"
    dir = s"${ctx.out}/stream/c$k/changelog"
    Files.createDirectories(Paths.get(dir))
    nDelivered = 0
    progress = new ProgressLog
    spark.streams.addListener(progress)
    query = CdcStream.currentState(CdcStream.readChangelog(spark, dir))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${ctx.out}/stream/c$k/checkpoint")
      .foreachBatch(sink _)
      .start()
    deliver(0, "setup", -1, Clock.us)
    awaitCommitted(120)
  }

  override def endCycle(spark: SparkSession): Unit = {
    query.stop()
    spark.streams.removeListener(progress)
  }

  /** Deliver the files of one phase on schedule; a late file never
    * delays the ones after it. Then wait until every file is committed.
    */
  private def play(phase: String): Unit = {
    val t0 = Clock.us
    schedule.filter(_._3 == phase).foreach { case (f, due, _, step) =>
      val dueUs = t0 + (due * 1e6).toLong
      val wait = dueUs - Clock.us
      if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
      deliver(f, phase, step, dueUs)
    }
    awaitCommitted(60)
  }

  def warmup(spark: SparkSession): Unit = play("warmup")
  def measure(spark: SparkSession, phase: String, seconds: Double): Unit = play(phase)

  override def finish(spark: SparkSession): Unit =
    JdbcUpsertSink.readCurrent(spark, url).write.mode("overwrite").parquet(s"${ctx.out}/stream_current")

  override def record: Map[String, Any] = Map(
    "file_rows" -> fileRows,
    "files" -> delivered.toSeq,
    "commits" -> commits.asScala.toSeq,
    "batches" -> progress.batches.asScala.values.toSeq,
    "final_cycle" -> cycle)
}
