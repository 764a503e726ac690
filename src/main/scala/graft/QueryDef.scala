package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine operator exposed through the driver contract.
  *
  * @param name   stable key (maps to a SURVEY.md §2 inventory row)
  * @param fn     (session, sfDir) => result plan over the driver's parquet tables
  * @param oracle equivalent DuckDB SQL over the same tables (None => rows-only check)
  * @param doc    which reference behavior this reproduces (file:line in /root/reference)
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Tables {
  // Schema memo per table path: a bare spark.read.parquet runs a footer
  // schema-inference job on EVERY call, so each plan build would fire one
  // Spark job per table read. Inferring once and passing the schema
  // explicitly makes later plan builds job-free — the catalog role a
  // metastore plays in production. (Keyed by path: all sessions here share
  // the same parquet-reading confs, e.g. nanosAsLong.)
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.ts has shipped as two physical parquet types across testdata
    * generations, normalized here to one logical type (µs TimestampType)
    * so every downstream plan — window(), epoch casts, watermarks — sees
    * the same column either way:
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to TimestampType;
    *    sessions set spark.sql.legacy.parquet.nanosAsLong=true, so it
    *    arrives as Long nanos → timestamp_micros(ns div 1000) (integer
    *    div — double division would lose precision above 2^53 ns);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TimestampNTZType, which Spark's ANSI rules won't cast to numeric
    *    → cast to TimestampType, value-preserving under the UTC session
    *    timezone every entry point pins.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(t(s, d, "events"))

  /** The ts normalization alone, for frames NOT read through [[t]] (the
    * file-source streaming read stages its own copy of events.parquet).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Row count straight from the parquet footers — driver-side metadata
    * IO, NO Spark job: the cardinality hint for operators that pick a
    * physical shape by input size (d4's exact-vs-prefix-index dispatch)
    * without breaking the zero-jobs-at-plan-build contract. Footers carry
    * the exact row count per row group, so this equals `count()`.
    */
  def footerRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
  }

  /** Splittable scan units the table offers — parquet row groups summed
    * over files (footer metadata, no Spark job): a scan task reads at
    * least one whole row group, so this bounds the scan's achievable
    * parallelism no matter what the split configs say.
    */
  def footerRowGroups(spark: SparkSession, sfDir: String, name: String): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    fs.listStatus(root).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try rd.getRowGroups.size finally rd.close()
      }.sum
  }

  /** Table read for COMPUTE-HEAVY map-side derivations (r16 §2/§6):
    * when the parquet layout offers fewer splittable units (row groups)
    * than the session's cores, everything derived map-side from the
    * scan — gram digests, BM25 sorted-run counting, minhash signatures
    * — runs on that handful of tasks regardless of cost (stage probe:
    * d21's 6-gram md5 build, 3.4 s on ONE task; d15/x11's BM25 index
    * cold build, 12–14 s, same single task). A pinned-count hash
    * repartition on the row key spreads the derivation across cores
    * first; the moved bytes are exactly the under-split file's. At any
    * real scale the row-group count exceeds the core count and the
    * branch adds NOTHING (no exchange in the plan). Pinned count
    * (REPARTITION_BY_NUM) deliberately: AQE's byte-based coalescing
    * would otherwise fold the tiny exchange straight back to one
    * partition. The decision is driver-side footer metadata — d4's
    * zero-jobs-at-plan-build dispatch contract.
    */
  def balanced(spark: SparkSession, sfDir: String, name: String,
      key: String): DataFrame = {
    val df = t(spark, sfDir, name)
    val cores = spark.sparkContext.defaultParallelism
    if (footerRowGroups(spark, sfDir, name) < cores)
      df.repartition(cores, org.apache.spark.sql.functions.col(key))
    else df
  }
}
