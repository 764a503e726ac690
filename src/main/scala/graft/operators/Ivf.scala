package graft.operators

import graft.{Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The building blocks of the inverted-file (IVF) and product-quantized
  * (PQ) indexes, each written once for the ANN family (d7, d13, x10, x11,
  * x12c/d/e, x14, x15, d16, `semDedup`) and the corpus rehearsal.
  *
  * Vectors are quantized BIGINT arrays `q` with their squared norm `nn`;
  * centroids carry the same pair as `cq`/`cn`. The similarity to a
  * centroid is `long_dot(q, cq) / sqrt(nn · cn)` in doubles, exactly the
  * expression the DuckDB oracles re-derive, and every choice among
  * centroids breaks a similarity tie toward the smaller centroid key. PQ
  * distances are int64 squared L2 (`long_sqdist`), ties toward the
  * smaller codeword id. Both kernels are graft extensions: register them
  * (`GraftExtensions.registerInto`) before building a plan here.
  *
  * Callers choose the sample predicate, the stride floor and cap, the key
  * columns and the [[SharedFrame]] name; nothing here depends on which
  * caller it serves.
  */
object Ivf {

  /** d7's quantized base `(vec_id, q, nn)` over `embeddings`: coordinates
    * fixed-pointed at 1e-3, one shared frame per session (`d7_base`). */
  def base(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftExtensions.registerInto(s)
    SharedFrame(
      T.embeddings(s, d).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))").as("q"))
        .withColumn("nn", expr("long_dot(q, q)")),
      "d7_base", d)
  }

  /** The sampling stride that caps the centroid count near `cap`: it
    * widens with the row count (a footer count costs no job) so the
    * broadcast and the O(N·K) assignment stay bounded, and never drops
    * below `floor`, the stride the oracles use at the test scales. */
  def stride(rows: Long, floor: Long, cap: Long): Long = math.max(floor, rows / cap)

  /** Centroids `(cid…, cq, cn)`: the points that pass `sample`, each key
    * column renamed as `keys` maps it (point column → centroid column). */
  def centroids(points: DataFrame, sample: Column, keys: (String, String)*): DataFrame =
    points.filter(sample).select(
      keys.map { case (k, c) => col(k).as(c) } ++ Seq(col("q").as("cq"), col("nn").as("cn")): _*)

  private def sim: Column =
    expr("long_dot(q, cq)").cast("double") /
      sqrt(col("nn").cast("double") * col("cn").cast("double"))

  /** Every point `(keys…, q, nn)` to its nearest centroid: one row per
    * point, `(keys…, centKeys…, sim)`. The O(N·K) build term of an index:
    * centroids broadcast, then one aggregation keyed on the point. No
    * centroid, no row. */
  def assign(points: DataFrame, keys: Seq[String], cents: DataFrame,
      centKeys: Seq[String]): DataFrame = {
    val kept = centKeys :+ "sim"
    points.join(broadcast(cents))
      .withColumn("sim", sim)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(kept.map(col): _*),
        struct(col("sim") +: centKeys.map(k => -col(k)): _*)).as("a"))
      .select(keys.map(col) ++ kept.map(k => col(s"a.$k")): _*)
  }

  /** Each query `(keys…, q, nn, …)` with its `n` nearest centroids: the
    * query's columns plus `centKeys…`, up to `n` rows per query. */
  def probe(queries: DataFrame, keys: Seq[String], cents: DataFrame,
      centKeys: Seq[String], n: Int): DataFrame =
    queries.join(broadcast(cents))
      .withColumn("sim", sim)
      .withColumn("rk", row_number().over(Window.partitionBy(keys.map(col): _*)
        .orderBy(col("sim").desc +: centKeys.map(col): _*)))
      .filter(col("rk") <= n)
      .select((queries.columns.toSeq ++ centKeys).map(col): _*)

  /** The PQ split of the vector column `vec` into `m` subspaces of
    * `width` dims, as a `posexplode` generator: alias it `(b, s)`. */
  def subspaces(vec: String, m: Int, width: Int): Column =
    posexplode(expr(
      s"transform(sequence(0, ${m - 1}), b -> slice($vec, b * $width + 1, $width))"))

  /** A PQ codebook `(b, pcid, cs)`: the subvectors `(key, b, s)` of the
    * rows that pass `sample`, keyed by their row's `key`. */
  def codebook(subs: DataFrame, key: String, sample: Column): DataFrame =
    subs.filter(sample).select(col("b"), col(key).as("pcid"), col("s").as("cs"))

  private def sqDist: Column = expr("long_sqdist(s, cs)")

  /** PQ encode: every subvector `(key, b, s)` to its nearest codeword,
    * `(key, b, pcid)`. */
  def encode(subs: DataFrame, key: String, book: DataFrame): DataFrame =
    subs.join(broadcast(book), Seq("b"))
      .withColumn("dist", sqDist)
      .groupBy(col(key), col("b"))
      .agg(min_by(col("pcid"), struct(col("dist"), col("pcid"))).as("pcid"))

  /** The asymmetric-distance (ADC) table of query subvectors
    * `(qkey, b, s)`: `(qkey, b, pcid, qdist)` for every codeword. */
  def distances(querySubs: DataFrame, qkey: String, book: DataFrame): DataFrame =
    querySubs.join(broadcast(book), Seq("b"))
      .withColumn("qdist", sqDist)
      .select(col(qkey), col("b"), col("pcid"), col("qdist"))
}
