package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** Connected components of an undirected edge set: edges (a, b) in,
  * (member, component) out, one row per vertex that appears in an edge.
  * The component is the smallest member id under the id column's own
  * ordering (numeric for long ids, UTF-8 byte order for strings, as
  * Spark's `min` orders them), so no id is ever hashed and no two
  * vertices can merge by collision.
  *
  * Each round runs a union-find inside every partition of its edge set
  * (one `mapPartitions`, no Catalyst plan per round) and then gathers each
  * vertex's local roots in one shuffle. A vertex that saw several roots
  * links them: it emits (smallest root, other root) pairs, and those
  * pairs are the next round's edges; a vertex's label is its smallest
  * root, and labels compose across rounds. The loop stops when a round
  * emits no pair. Each round's edges sit in half as many partitions as
  * the one before (at least one), and a round over one partition emits no
  * pair, so there are at most ⌈log2 P⌉ + 1 rounds for P input partitions.
  * Scale limit: a partition's union-find holds that partition's vertices
  * in memory, and the last rounds can gather every remaining root pair
  * into one task.
  *
  * The edge set is read once. The labels are written to scratch parquet
  * and every cache the call creates is released before it returns, so the
  * returned plan reads the scratch files and holds no session state.
  */
object Components {

  /** `a` and `b` must share one type: long or string. Edges with a
    * null end are dropped. `prefix` names the scratch directory (see
    * [[Scratch.uniqueDir]]: each prefix keeps its own retention window).
    */
  def apply(edges: DataFrame, a: String, b: String,
      prefix: String = "components"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val t = edges.schema(a).dataType
    require(edges.schema(b).dataType == t,
      s"edge ends must share one type, got $t and ${edges.schema(b).dataType}")
    val pairs = edges.select(col(a), col(b)).where(col(a).isNotNull && col(b).isNotNull)
    val scratch = Scratch.uniqueDir(spark, prefix)
    val schema = StructType(Seq(StructField("member", t, nullable = false),
      StructField("component", t, nullable = false)))
    def store[K](labels: RDD[(K, K)]): Unit =
      spark.createDataFrame(labels.map { case (m, c) => Row(m, c) }, schema)
        .write.mode("overwrite").parquet(scratch)
    t match {
      case LongType => run(pairs.as[(Long, Long)].rdd, Ordering.Long)(store)
      case StringType => run(pairs.as[(String, String)].rdd, Utf8Order)(store)
      case other => throw new IllegalArgumentException(
        s"Components takes long or string ids, got $other")
    }
    spark.read.parquet(scratch)
  }

  /** The rounds over `edges`; hands the final (member, component) labels
    * to `sink` while the rounds' caches still exist, then releases them.
    * Returns the number of rounds run.
    */
  private[graft] def run[K: ClassTag](edges: RDD[(K, K)], ord: Ordering[K])(
      sink: RDD[(K, K)] => Unit): Int = {
    // per round: each vertex -> its distinct local roots, smallest first
    val gathered = ArrayBuffer.empty[RDD[(K, Array[K])]]
    try {
      var round = edges
      var linked = true
      while (linked) {
        val parts = math.max(1, round.getNumPartitions)
        val roots = round
          .mapPartitions(localRoots(_, ord))
          .groupByKey(new HashPartitioner(parts))
          .mapValues(_.toArray.distinct.sorted(ord))
          .persist(StorageLevel.MEMORY_AND_DISK)
        gathered += roots
        round = roots
          .flatMap { case (_, rs) => rs.iterator.drop(1).map(r => (rs(0), r)) }
          .coalesce(math.max(1, parts / 2))
        linked = round.count() > 0
      }
      // a label names a vertex of the next round, whose own label (if it
      // has one there) is later in the chain
      val labels = gathered.init.foldRight(gathered.last.mapValues(_(0))) {
        (roots, later) =>
          roots.map { case (v, rs) => (rs(0), v) }
            .leftOuterJoin(later)
            .map { case (l, (v, fin)) => (v, fin.getOrElse(l)) }
      }
      sink(labels)
      gathered.size
    } finally gathered.foreach(_.unpersist(blocking = true))
  }

  /** Union-find over one partition's edges: every vertex it saw, with the
    * smallest vertex of its local component.
    */
  private def localRoots[K](edges: Iterator[(K, K)], ord: Ordering[K]): Iterator[(K, K)] = {
    val index = new java.util.HashMap[K, Integer]()
    val keys = ArrayBuffer.empty[K]
    var parent = new Array[Int](64)
    var size = new Array[Int](64)
    val least = ArrayBuffer.empty[K]
    def id(k: K): Int = {
      val i = index.get(k)
      if (i != null) i.intValue
      else {
        val n = keys.length
        if (n == parent.length) {
          parent = java.util.Arrays.copyOf(parent, 2 * n)
          size = java.util.Arrays.copyOf(size, 2 * n)
        }
        index.put(k, n)
        keys += k
        least += k
        parent(n) = n
        size(n) = 1
        n
      }
    }
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (a, b) =>
      var ra = find(id(a))
      var rb = find(id(b))
      if (ra != rb) {
        if (size(ra) < size(rb)) { val t = ra; ra = rb; rb = t }
        parent(rb) = ra
        size(ra) += size(rb)
        if (ord.lt(least(rb), least(ra))) least(ra) = least(rb)
      }
    }
    keys.indices.iterator.map(i => (keys(i), least(find(i))))
  }

  /** Spark's string order: UTF-8 bytes, which is code-point order. Java's
    * `compareTo` compares UTF-16 units, which puts U+E000..U+FFFF above the
    * supplementary characters; lifting surrogates above that range
    * restores code-point order.
    */
  private object Utf8Order extends Ordering[String] {
    def compare(x: String, y: String): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val a = x.charAt(i)
        val b = y.charAt(i)
        if (a != b) return lift(a) - lift(b)
        i += 1
      }
      x.length - y.length
    }
    private def lift(c: Char): Int =
      if (c < 0xD800) c else if (c < 0xE000) c + 0x2000 else c - 0x800
  }
}
