package graft.pangenome

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX fallbacks for the cases where the positional model's linearity
  * assumption breaks (SURVEY §4: plasmids / multiple contigs ⇒ several
  * chains per strain, or arbitrary neighbour graphs): connected
  * components, the scalable grouping for similarity graphs (C4; the
  * reference slices scipy cluster labels driver-side).
  *
  * The DataFrame positional engine remains the fast path — these exist so
  * the engine is *correct* on inputs the reference never sees.
  *
  * Cache lifecycle: GraphX persists its graph and Pregel internals at
  * call time. Callers that embed these in a larger lazy plan must
  * materialize the result and then call [[releaseGraphXCaches]] with a
  * pre-call snapshot (the pattern d8 and `Similarity.cluster` follow), or
  * the caches outlive the query.
  */
object GraphFallback {

  /** Release the caches a GraphX call left behind: unpersist every RDD
    * that (a) registered after the `before` snapshot and (b) sits at
    * GraphX's default MEMORY_ONLY level. The level filter keeps the sweep
    * away from DataFrame/Dataset persists (MEMORY_AND_DISK by default) —
    * a SharedFrame materializing on another thread is not collateral
    * damage. A *concurrent GraphX job* on another thread could still race
    * the sweep; callers hold the iterative region single-threaded (the
    * engine executes queries sequentially per session).
    */
  def releaseGraphXCaches(sc: org.apache.spark.SparkContext,
      before: scala.collection.Set[Int]): Unit =
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id) &&
          rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        rdd.unpersist(blocking = true)
    }

  /** Build a GraphX graph from feature-neighbour edges (src, dst string
    * ids). Vertex ids are stable hashes of the feature ids; the returned
    * mapping DataFrame restores the names.
    */
  def buildGraph(spark: SparkSession, edges: DataFrame): (Graph[String, Int], DataFrame) = {
    import spark.implicits._
    val verts = edges.select(col("src").as("name"))
      .union(edges.select(col("dst"))).distinct()
      .withColumn("vid", xxhash64(col("name")))
    val vertRdd = verts.select("vid", "name").as[(Long, String)].rdd
    val vmap = verts.select(col("name"), col("vid"))
    val edgeRdd = edges
      .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
      .as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    (Graph(vertRdd, edgeRdd), vmap)
  }

  /** Connected components over an undirected similarity edge set
    * (id1, id2) — the 100 TB alternative to driver-side flat clustering:
    * emit (member, component) pairs as a DataFrame.
    */
  def similarityComponents(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val (g, vmap) = buildGraph(spark,
      pairs.select(col("id1").cast("string").as("src"),
        col("id2").cast("string").as("dst")))
    val cc = g.connectedComponents()
    val ccDf = cc.vertices.toDF("vid", "component")
    vmap.join(ccDf, "vid").select(col("name").as("member"), col("component"))
  }
}
