package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink formats. The reference ingests Debezium-flattened JSON
  * records from Kafka — `{id, user_id, account, registered_at,
  * __deleted}` (reference: airflow-dags/simple_kafka_etl.py:56-77,
  * mysql-connector-config-clean.json) — and its consumers classify
  * INSERT vs UPDATE by whether the key already exists
  * (simple_kafka_etl.py:128-131). `parseDebezium` reproduces that
  * surface declaratively: JSON envelope → typed columns → op
  * classification via a per-key window (first non-tombstone change =
  * INSERT), one shuffle.
  */
object Formats {

  /** The Debezium-flattened value schema the reference consumes. */
  val debeziumSchema: StructType = StructType(
    Seq(
      StructField("id", LongType),
      StructField("user_id", LongType),
      StructField("account", StringType),
      StructField("registered_at", LongType),
      StructField("__deleted", StringType)
    ))

  /** Parse a column of Debezium-flattened JSON envelopes into typed
    * change records with ops classified reference-style.
    */
  def parseDebezium(df: DataFrame, jsonCol: Column): DataFrame =
    classifyDebezium(
      df.select(from_json(jsonCol, debeziumSchema).as("r"))
        .select(
          col("r.id"),
          col("r.user_id"),
          col("r.account"),
          col("r.registered_at"),
          col("r.__deleted")))

  /** The reference-style op classification over ALREADY-parsed
    * envelope columns (id, user_id, account, registered_at,
    * __deleted) — shared by the JSON and Avro decode paths so the two
    * converters cannot drift (the wire format is the only difference
    * between them).
    */
  def classifyDebezium(parsed: DataFrame): DataFrame =
    classifyDebeziumKeeping(parsed, Nil)

  /** [[classifyDebezium]] carrying extra payload columns through the
    * classification untouched (the typed-envelope path keeps its
    * decoded `balance_cents` beside the classified op).
    */
  def classifyDebeziumKeeping(parsed: DataFrame, extra: Seq[String]): DataFrame = {
    val isDel = col("__deleted") === "true"
    // rank non-tombstone changes per key: the first is the INSERT
    val w = Window
      .partitionBy(col("user_id"), isDel)
      .orderBy(col("registered_at"), col("id"))
    parsed
      .withColumn("rn", row_number().over(w))
      .select(
        Seq(
          col("id"),
          col("user_id"),
          col("account"),
          col("registered_at"),
          when(isDel, "DELETE").when(col("rn") === 1, "INSERT").otherwise("UPDATE").as("op"))
          ++ extra.map(col): _*)
  }

  /** The Maxwell daemon's JSON envelope — the other widely deployed
    * MySQL-binlog CDC format (Zendesk Maxwell): `{database, table,
    * type: insert|update|delete, ts, data: {...}, old: {...}}`.
    * Unlike Debezium-flattened records, the op arrives EXPLICIT in
    * `type`, so no existence window is needed.
    */
  val maxwellSchema: StructType = StructType(
    Seq(
      StructField("database", StringType),
      StructField("table", StringType),
      StructField("type", StringType),
      StructField("ts", LongType),
      StructField(
        "data",
        StructType(Seq(
          StructField("id", LongType),
          StructField("user_id", LongType),
          StructField("account", StringType),
          StructField("value", DoubleType)
        )))
    ))

  /** Parse a column of Maxwell JSON envelopes into the same typed
    * change-record shape [[parseDebezium]] emits — connector-agnostic
    * downstream: `Cdc`/`CdcStream` operators run unchanged on either
    * feed. Maxwell's `ts` is EPOCH SECONDS (second-granular by
    * design); it is normalized to the µs timeline every downstream
    * consumer runs on (watermarks, latest-wins ordering, the JDBC
    * sink's merge guard) — passing it through raw would misorder
    * changes against a Debezium feed by a factor of 10⁶. Pure per-row
    * projection, no shuffle.
    */
  def parseMaxwell(df: DataFrame, jsonCol: Column): DataFrame =
    df.select(from_json(jsonCol, maxwellSchema).as("r"))
      .select(
        col("r.data.id").as("id"),
        col("r.data.user_id").as("user_id"),
        col("r.data.account").as("account"),
        (col("r.ts") * 1000000L).as("registered_at"),
        upper(col("r.type")).as("op"))

  /** #92 Quarantine reader: JSONL parsed PERMISSIVE with malformed
    * lines routed to a dead-letter frame instead of poisoning the
    * batch — the ingest-robustness pattern every production CDC feed
    * needs (one bad producer record must not fail a 100 TB backfill).
    * Returns (good, quarantined-raw-lines); both come from ONE pass
    * over the source (the corrupt-record column is populated by the
    * same parse).
    */
  /** A quarantined read: the parsed `good` frame, the dead-letter
    * `bad` frame, and `release()`, which drops the shared parse cache
    * once both are consumed — without it, repeated ingest calls
    * accumulate cached partitions in executor storage for the life of
    * the session.
    */
  final case class QuarantinedRead(good: DataFrame, bad: DataFrame, private val parsed: DataFrame) {
    def release(): Unit = { parsed.unpersist(); () }
  }

  def readJsonlWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType): QuarantinedRead = {
    import org.apache.spark.sql.types.StringType
    val withCorrupt = schema.add("_corrupt_record", StringType)
    // cached: Spark disallows querying only the corrupt-record column
    // straight off the file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
    // caching also makes the good/bad split literally one parse pass
    val parsed = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    val good = parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = parsed
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    QuarantinedRead(good, bad, parsed)
  }

  /** The STREAMING form of [[readJsonlWithQuarantine]] — the
    * reference consumer's rollback-and-CONTINUE on a bad message
    * (reference: airflow-dags/simple_kafka_etl.py:188-191) expressed
    * as Structured Streaming ingress: the file source reads raw text
    * lines, `from_json` parses each PERMISSIVE, well-formed records
    * flow on typed while malformed lines route to a dead-letter frame
    * — one poison record never fails (or stalls) the query, and the
    * skip is OBSERVABLE (the dead letter carries the raw line for
    * replay), not silent. Returns (good, bad) streaming frames split
    * from the same single-parse plan; `PoisonPillSpec` replays a
    * corrupt record mid-stream and pins skip-and-continue ≡ the batch
    * view over the valid records.
    */
  def streamJsonlWithQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    val withCorrupt = schema.add("_corrupt_record", StringType)
    val parsed = spark.readStream
      .text(path)
      .select(
        col("value").as("raw"),
        from_json(
          col("value"),
          withCorrupt,
          Map(
            "mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")).as("r"))
    val good = parsed
      .filter(col("r._corrupt_record").isNull)
      .select(col("r.*"))
      .drop("_corrupt_record")
    val bad = parsed.filter(col("r._corrupt_record").isNotNull).select(col("raw"))
    (good, bad)
  }

  /** CSV reader with explicit schema, header expected. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC reader — the other columnar format a warehouse migration
    * brings along; same pushdown/pruning behavior as parquet.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Hive-style partitioned parquet sink with in-partition ordering —
    * the layout that gives downstream readers partition pruning plus
    * clustered scans. At 100 TB add `.bucketBy` on the join key via
    * saveAsTable for co-located joins.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String]): Unit =
    df.sortWithinPartitions(sortCols.map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** #93 Schema-evolution read: union parquet datasets written under
    * DIFFERENT schema versions (columns added over time) into one
    * frame — `mergeSchema` unifies the footers and back-fills missing
    * columns with null, the lake-format behavior that lets a 100 TB
    * table evolve without rewriting history. Metadata-only schema
    * merge; no data pass.
    */
  def readEvolved(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** #90 Small-file compaction: rewrite a fragmented parquet dataset
    * into ⌈bytes/targetBytes⌉ evenly-sized files — the maintenance job
    * every streaming/CDC sink needs, because a 100 TB table made of
    * million-row-per-file fragments destroys scan throughput (footer
    * overhead, no vectorized runs) and executor scheduling. Sizing
    * comes from a filesystem listing (metadata-only, no data read);
    * the rewrite itself is one round-robin repartition — no skew,
    * every output file within one row of even. Returns the chosen
    * file count.
    */
  def compactBySize(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long = 128L << 20): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).repartition(n).write.mode("overwrite").parquet(outDir)
    n
  }
}
