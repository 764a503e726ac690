package graft.operators

import org.apache.spark.sql.SparkSession

/** Execution-posture confs the engine sets for its own query plans, on a
  * scoped session clone ([[scoped]], which TopK.sessionWithHashAggCapacity
  * shares: the caller's session is never mutated; SQLConf is read from the
  * plan's own session at execution time, so every frame built from the
  * returned session carries the posture through execution).
  *
  * == The AQE byte-floor vs compute-dense stages (r16) ==
  *
  * AQE's partition coalescing is BYTE-based: with `parallelismFirst`
  * (default on) it targets `max(totalBytes / defaultParallelism,
  * minPartitionSize)`, and the floor defaults to 1 MB. The engine's
  * analytics operators are routinely compute-dense at tiny byte sizes —
  * d4's in-block pair scan evaluates ~200k sorted-array intersections
  * out of a 2 MB exchange — so the 1 MB floor coalesces the whole stage
  * onto ONE task and serializes the query (a stage probe measured d4's
  * scan stage at wall 1.92 s / 1 task; with the floor released the same
  * stage ran 28 tasks / 0.25 s wall, query 3.2 s -> 1.3 s, and the
  * driver's 8-core-matches-32-core anomaly across the suite is this
  * floor, not serial algorithms).
  *
  * Releasing the floor is posture-neutral at scale: once bytes-per-core
  * exceed 1 MB (any real corpus) the parallelism-first target dominates
  * and the floor never binds; it only decides behavior in the regime
  * where data-per-core is tiny and only compute can justify tasks, so
  * the released floor is the constant `1b`.
  */
object Tuning {
  private val Key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Scoped clone carrying the released coalescing floor. */
  def computeDense(spark: SparkSession): SparkSession =
    scoped(spark, Key, "1b")

  /** A state clone of `spark` (same SparkContext, SharedState and cache;
    * copied runtime confs and temp functions) with `key` set to `value`.
    * Frames built on it carry that conf through execution while the
    * caller's session never sees it. One clone is cached per parent
    * session and key: cloneSession plus the clone's lazy SessionState
    * cost a measured ~0.5 s on first use, which a fresh clone per plan
    * build would pay on every bench rep (r13: d5b build+run 1.16 s with
    * a per-build clone vs 0.59 s warm). Every access re-syncs the
    * parent's runtime conf into the clone, so a conf the caller changes
    * between builds is still honored by the next build.
    */
  def scoped(spark: SparkSession, key: String, value: String): SparkSession =
    clones.synchronized {
      // evict clones of stopped parents first: a clone's SessionState
      // strongly reaches its parent (cloneSession keeps the parent
      // state's builder closures), so the WeakHashMap KEY never becomes
      // weakly reachable while its value lives — without this sweep a
      // process cycling getOrCreate/stop (test JVMs) accumulates one
      // dead parent and its clones per cycle for the JVM lifetime. A
      // clone shares its parent's SparkContext, so parent-stopped ⇒
      // context-stopped ⇒ the cached clone is unusable anyway.
      clones.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
      val byKey = clones.computeIfAbsent(spark,
        _ => scala.collection.mutable.Map.empty[String, SparkSession])
      val c = byKey.getOrElseUpdate(key,
        org.apache.spark.sql.GraftSqlShim.cloneSession(spark))
      syncConf(spark, c, key)
      c.conf.set(key, value)
      c
    }

  // the few long-lived sessions a process holds (Verify/Bench: one)
  // cache one clone per scoped key each; guarded by its own lock —
  // SparkSession access is cheap, creation rare
  private val clones = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[String, SparkSession]]()

  /** Make the clone's runtime conf mirror the parent's except `key`: set
    * entries that differ, unset entries the parent no longer carries.
    * Static confs throw on set — skipped; they cannot diverge between
    * sessions sharing one SparkContext anyway.
    */
  private def syncConf(parent: SparkSession, scoped: SparkSession, key: String): Unit = {
    val p = parent.conf.getAll
    val s = scoped.conf.getAll
    p.foreach { case (k, v) =>
      if (k != key && !s.get(k).contains(v))
        try scoped.conf.set(k, v) catch { case _: Exception => () }
    }
    (s.keySet -- p.keySet - key).foreach { k =>
      try scoped.conf.unset(k) catch { case _: Exception => () }
    }
  }
}
