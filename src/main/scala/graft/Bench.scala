package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized through the noop sink (count()
  * would let Catalyst prune the projection and under-measure scans).
  * A warmup job first absorbs session/codegen/parquet-footer startup
  * so per-query numbers measure the plan, not the JVM.
  *
  * The full query suite shares one JVM, and round-2 showed accumulated heap/GC
  * debt inflating late queries up to 10× over their isolated times
  * (q_json_extract: 13.8 s recorded, 0.7 s isolated). Three defenses:
  * drop caches AND persistent RDD blocks (localCheckpoint blocks live
  * in getPersistentRDDs, not the CacheManager — the r6 finding: they
  * accumulated across 312 queries until late ones ran 2-3× slow),
  * force a GC + settle BEFORE each query, and record the BEST OF TWO
  * back-to-back runs (the second run re-plans from scratch — only
  * JVM-level noise is amortized, never Spark results).
  *
  * Round-4 follow-up (the 2.9×-pagerank / uniform-1.6× drift
  * verdict): suite-conditioned numbers must carry their own
  * explanation. After the main pass, every query whose best-of-two
  * exceeds 2× its BASELINE.md entry is re-measured — and since r7 the
  * retry runs in a FRESH JVM (the r6 verdict: the end-of-suite
  * "isolated" retry ran in a heap-conditioned JVM and measured the
  * suite, not the query — q_ppr retried SLOWER than in-suite). The
  * parent stops its own SparkSession, forks a child with the exact
  * runtime flags it was launched with (RuntimeMXBean input args carry
  * the add-opens + Xmx), and the child re-runs just the offenders
  * under the same warmup + fresh-cache best-of-two protocol, writing
  * per-query times to SPARK_GRAFT_RESULT_FILE. If the fork fails the
  * in-suite numbers stand (worst case: an honest over-2× entry).
  * The one-line JSON keeps `queries` FIRST and the verdict fields
  * (`retry_isolated`, `over2x_after_retry`, `failed`, totals) LAST: the
  * driver's capture keeps the tail of the line, so the diagnosis
  * survives even when the full per-query map is truncated. The
  * complete record (first-run series, suite order, baseline ratios,
  * retries) goes to BENCH_DETAIL.json in the working directory;
  * suite position = alphabetical rank (queries run in sorted order).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // (first-run, best-of-two): the best suppresses JVM noise for the
    // baseline compare, but best-of-two alone systematically under-
    // reports one-shot latency (planning/codegen cost) — the first-run
    // series is published alongside in BENCH_DETAIL.json so single-
    // execution regressions stay visible.
    def materialize(name: String): (Double, Double) = {
      spark.catalog.clearCache()
      // checkpoint blocks are NOT in the CacheManager: without this
      // sweep every query's localCheckpoint blocks outlive it and
      // condition every later measurement (r6: q_ppr 6.2 s entry,
      // 14.9 s at suite position 250+)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      Thread.sleep(50)
      val first = once(name)
      if (first < 0) return (first, first)
      val second = once(name)
      (first, if (second < 0) first else math.min(first, second))
    }

    // per-query baseline entries for the 2× rule (absent for queries
    // first measured this round)
    val baseline: Map[String, Double] = {
      val p = Paths.get("BASELINE.md")
      if (!Files.exists(p)) Map.empty
      else {
        val Row = """\|\s*(\S+)\s*\|\s*([0-9.]+)\s*\|""".r
        // explicit UTF-8: the forked JVM's default charset may be
        // POSIX/ASCII and the file contains multibyte prose
        Files
          .readString(p, java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator
          .collect { case Row(n, s) => n -> s.toDouble }
          .toMap
      }
    }

    // warmup: touch every table + exercise codegen paths once
    spark.read.parquet(s"$sfDir/lineitem.parquet").write.format("noop").mode("overwrite").save()
    once(SparkEntry.queries.keys.head)

    // optional comma-separated filter for local iteration / the
    // fresh-JVM retry child
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val results = names.map(n => n -> materialize(n))

    // child mode: a fresh-JVM retry fork — write the per-query bests
    // where the parent asked and exit (no nested retries, no JSON line)
    sys.env.get("SPARK_GRAFT_RESULT_FILE") match {
      case Some(path) =>
        Files.writeString(
          Paths.get(path),
          results.map { case (n, (_, best)) => f"$n $best%.3f" }.mkString("", "\n", "\n"))
        spark.stop()
        return
      case None => ()
    }

    // fresh-JVM isolated retries for everything over 2× baseline:
    // stop this session first so the child doesn't compete for memory.
    // SPARK_GRAFT_NO_RETRY=1 skips the retry pass — for scaling-gate
    // runs at sf != 0.1 where EVERY query legitimately exceeds its
    // sf0.1 baseline and a retry sweep would re-run the whole suite.
    val noRetry = sys.env.get("SPARK_GRAFT_NO_RETRY").contains("1")
    val offenders = (if (noRetry) Seq.empty else results)
      .collect {
        case (n, (_, best)) if best >= 0 && baseline.get(n).exists(b => best > 2 * b) =>
          n -> best / baseline(n)
      }
      .sortBy(-_._2)
      .map(_._1)
    val retries: Map[String, Double] =
      if (offenders.isEmpty) Map.empty
      else {
        // the whole point of the fresh-JVM retry: the parent releases
        // its session (threads, blocks, shuffle files) BEFORE the child
        // starts, so the retry measures the query, not the suite
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        spark.stop()
        System.gc()
        // a failed fork or a query the child couldn't time falls back
        // to the in-suite number — honest, never better than measured
        val childTimes = freshJvmRetry(offenders, sfDir).getOrElse(Map.empty)
        val inSuite = results.toMap
        offenders.map(n => n -> childTimes.getOrElse(n, inSuite(n)._2)).toMap
      }
    val stillOver = offenders.filter(n => retries(n) > 2 * baseline(n))

    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // `total` sums the queries that ran; the ones that threw are
    // named in `failed` (summary, detail) and fail the run
    val total = results.map(_._2._2).filter(_ >= 0).sum
    val failed = results.collect { case (n, (first, _)) if first < 0 => n }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")

    val detail = names.zipWithIndex
      .map { case (n, i) =>
        val (first, best) = results(i)._2
        val extra =
          baseline.get(n).map(b => f""","baseline":$b%.3f,"ratio":${best / b}%.2f""").getOrElse("") +
            retries.get(n).map(r => f""","retry_isolated":$r%.3f""").getOrElse("")
        f"""  "$n": {"pos":$i,"first":$first%.3f,"best":$best%.3f$extra}"""
      }
      .mkString("{\n", ",\n", "\n}")
    // filtered (SPARK_GRAFT_ONLY) iteration runs must not clobber the
    // committed full-suite record
    if (only.isEmpty)
      Files.writeString(
        Paths.get("BENCH_DETAIL.json"),
        f"""{"sf":"$sfDir","order":"alphabetical","retry":"fresh-jvm","total_best":$total%.3f,"failed":$failedJson,"queries":\n$detail}\n""")

    // queries first, verdict fields last — the tail survives capture
    val summary =
      f"""{"metric":"total","queries":${jmap(results.map { case (n, r) => n -> r._2 })},""" +
        f""""retry_isolated":${jmap(retries.toSeq.sortBy(_._1))},""" +
        f""""over2x_after_retry":${stillOver.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        f""""failed":$failedJson,""" +
        f""""n_queries":${results.size},"value":$total%.3f,"unit":"sec","sf":"$sfDir"}"""
    println(summary)
    // the driver's stdout-tail capture has truncated this line two
    // rounds running (BENCH_rN.json "parsed": null) — the summary is
    // self-recovering from its own file, same full-suite-only guard
    // as BENCH_DETAIL.json
    if (only.isEmpty)
      Files.writeString(Paths.get("BENCH_SUMMARY.json"), summary + "\n")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Fork a fresh JVM (same classpath + runtime flags as this one) that
    * re-measures ONLY `names` under the standard protocol and returns
    * its per-query best-of-two times. None on any fork/parse failure.
    */
  private def freshJvmRetry(names: Seq[String], sfDir: String): Option[Map[String, Double]] =
    try {
      val out = Files.createTempFile("graft-bench-retry", ".txt")
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala
        .toSeq
      val cmd =
        Seq(javaBin) ++ jvmFlags ++ Seq("-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_RESULT_FILE", out.toString)
      // the child's stdout goes to a scratch file (NOT inherited: the
      // parent's stdout must stay the single JSON line the driver
      // captures); its stderr shares ours for live progress
      val childLog = Files.createTempFile("graft-bench-retry", ".log")
      pb.redirectOutput(ProcessBuilder.Redirect.to(childLog.toFile))
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      System.err.println(s"[bench] fresh-JVM retry of ${names.size} over-2x queries: " +
        names.mkString(", "))
      val proc = pb.start()
      val done = proc.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { proc.destroyForcibly(); return None }
      if (proc.exitValue() != 0) return None
      val Line = """(\S+) ([0-9.\-]+)""".r
      Some(
        Files
          .readString(out, java.nio.charset.StandardCharsets.UTF_8)
          .linesIterator
          .collect { case Line(n, t) if t.toDouble >= 0 => n -> t.toDouble }
          .toMap)
    } catch { case e: Throwable => System.err.println(s"[bench] retry fork failed: $e"); None }
}
