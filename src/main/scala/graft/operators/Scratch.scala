package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped scratch location for intra-query materialization — the
  * shuffle-boundary checkpoint pattern: write a small derived table once,
  * read it back, and release every upstream cache so iterative stages
  * (connected-component rounds, multi-pass sketches) never leak state into
  * later queries.
  *
  * Locally this lands under `java.io.tmpdir`; on a real cluster set
  * `graft.scratch.dir` to a cluster-visible path (HDFS/S3) — the
  * write/read-back pattern requires a filesystem all executors share.
  */
object Scratch {
  // a key SET, not a [String, Boolean] map: putIfAbsent on a map with a
  // scala.Boolean value type statically returns Boolean, so its
  // absent-key null unboxes to false and `== null` is always-false —
  // the r1-r5 hook registration never actually fired (caught by the
  // scalac comparing-Boolean-and-Null warning this round)
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val issued =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayDeque[String]]()
  private val Retain = 2

  /** A fresh `prefix`-named subdirectory per call: intra-query
    * materializations must NOT reuse a fixed path — a second invocation's
    * overwrite would yank the files out from under the first invocation's
    * still-lazy returned plan. To keep a long-lived interactive session
    * (N calls to `cluster()`/d8) from accumulating N dirs until JVM exit,
    * each prefix retains a sliding window of `Retain` = 2 dirs (current +
    * one predecessor) and best-effort-deletes anything older — so a
    * scratch-backed result stays readable until two later invocations of
    * the SAME operator supersede it. Reaping only applies to the
    * local-tmpdir default; an explicit `graft.scratch.dir` is cluster
    * storage whose lifecycle (quotas, TTL) is the cluster's business,
    * matching the shutdown-hook policy below.
    */
  def uniqueDir(spark: SparkSession, prefix: String): String = {
    val d = s"${dir(spark)}/${prefix}_${seq.incrementAndGet()}"
    if (spark.conf.getOption("graft.scratch.dir").isEmpty) {
      val q = issued.computeIfAbsent(
        s"${spark.sparkContext.applicationId}:$prefix",
        _ => new java.util.ArrayDeque[String]())
      q.synchronized {
        q.addLast(d)
        while (q.size > Retain) deleteRecursively(new java.io.File(q.removeFirst()))
      }
    }
    d
  }

  def dir(spark: SparkSession): String = {
    val explicit = spark.conf.getOption("graft.scratch.dir")
    val root = explicit.getOrElse(sys.props("java.io.tmpdir"))
    val d = s"$root/graft-scratch-${spark.sparkContext.applicationId}"
    // local default: reap the session's scratch on JVM exit so repeated
    // runs don't accumulate under /tmp. An explicit cluster scratch dir
    // is left alone — its lifecycle (quotas, TTL policies) is the
    // cluster's business, not a driver shutdown hook's.
    if (explicit.isEmpty && hooked.add(d))
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(new java.io.File(d))))
    d
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}

/** Materialization policy for the session-shared derived frames (the
  * five lazy-persist caches: positional, anchor spans, c1/c2 bitsets,
  * d2 signatures, d7 quantized base).
  *
  *  - default: lazy `MEMORY_AND_DISK` persist — zero jobs at plan build,
  *    CacheManager dedupes by canonicalized plan, eviction degrades to
  *    recompute. The interactive-analysis form.
  *  - `graft.cache.mode=scratch`: write ONCE to [[Scratch]] parquet and
  *    read back — the one-shot-ETL form for a 100 TB run, where a shared
  *    frame should live on cluster storage (set `graft.scratch.dir`)
  *    instead of executor memory, survives executor loss, and is readable
  *    by later jobs. Eager by design: the write runs at first build.
  *
  * Both modes return a frame with identical rows; SharedFrameSpec runs
  * consumers under each and compares.
  *
  * Per-frame routing (r16): deep composite pipelines (x6/x6b/x9) stack
  * several shared frames, so in persist mode every consumer carries the
  * full upstream LINEAGE — the analyzed tree of x6b's warm rep rendered
  * 860 InMemoryTableScan nodes, and ~1.3 s/rep went to driver-side
  * analysis + cache-lookup canonicalization of that tree (stage probe,
  * r16). The scratch path truncates the plan to a parquet leaf at every
  * such boundary, which is the guide's "materialise an intermediate to
  * cut planning time" remedy (§3.3/§7.3) with no CacheManager identity
  * interaction (the rebase-on-InMemoryRelation variant measured
  * net-negative twice — see OPTIMIZATION_r16.md). Call sites opt in via
  * `preferScratch = true`; `graft.cache.mode` still overrides globally
  * in either direction (`scratch` forces all, `persist` forces none).
  */
object SharedFrame {
  private val written = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  def apply(df: org.apache.spark.sql.DataFrame, name: String, key: String): org.apache.spark.sql.DataFrame =
    apply(df, name, key, preferScratch = false)

  def apply(df: org.apache.spark.sql.DataFrame, name: String, key: String,
            preferScratch: Boolean): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val useScratch = spark.conf.getOption("graft.cache.mode") match {
      case Some("scratch") => true
      case Some("persist") => false
      case _ => preferScratch
    }
    if (useScratch) {
      val tag = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
      val path = s"${Scratch.dir(spark)}/shared/${name}_$tag"
      val once = s"${spark.sparkContext.applicationId}:$path"
      // computeIfAbsent, not putIfAbsent-then-write: the mapping is only
      // recorded AFTER the write succeeds (a failed write doesn't poison
      // the frame for the rest of the app), and a concurrent consumer
      // blocks until the winner's write completes instead of reading a
      // half-written directory.
      written.computeIfAbsent(once,
        _ => { df.write.mode("overwrite").parquet(path); true })
      spark.read.parquet(path)
    } else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }
}
