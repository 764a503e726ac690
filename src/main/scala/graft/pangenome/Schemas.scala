package graft.pangenome

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed views of the node tables (SURVEY §1.4: case classes with
  * `Encoder`s where type safety helps; `DataFrame` where schema is
  * dynamic) and the at-rest layout.
  *
  * Layout: each stored table is ONE directory of plain zstd parquet
  * files, with no `partitionBy` directories. Features and feature-level
  * edges are range-partitioned by strain and sorted inside each file
  * (features in genome order, edges by source feature), so a strain
  * predicate prunes by row-group statistics and a strain's rows sit
  * together for the per-strain windows that read them.
  * Cluster tables are small by comparison and keep their natural order.
  */
object Schemas {

  final case class Feature(
      Name: String, Start: Long, End: Long, Length: Long, Strand: String,
      Product: String, Strain: String, FeatureType: String,
      Variation: Option[String], FullSequences: Option[String])

  final case class ClusterNode(
      cluster_id: String, description: String, threshold: Long,
      number_genomes: Long, min_length: Long, max_length: Long,
      average_length: Double,
      feature_ids: Option[Seq[String]], // real clusters, cypher:39-40
      CDS_ids: Option[String],          // lonely clusters, cypher:83
      reference_locus: String,
      reference_sequence: Option[String], lonely_cluster: Boolean,
      feature_type: Option[String])

  final case class Strain(
      name: String, avg_GC: Option[Double], stDev_GC: Option[Double],
      avg_CAI: Option[Double], stDev_CAI: Option[Double])

  def features(df: DataFrame): Dataset[Feature] = {
    import df.sparkSession.implicits._
    df.select("Name", "Start", "End", "Length", "Strand", "Product", "Strain",
      "FeatureType", "Variation", "FullSequences").as[Feature]
  }

  def clusters(df: DataFrame): Dataset[ClusterNode] = {
    import df.sparkSession.implicits._
    df.select("cluster_id", "description", "threshold", "number_genomes",
      "min_length", "max_length", "average_length", "feature_ids", "CDS_ids",
      "reference_locus", "reference_sequence", "lonely_cluster",
      "feature_type").as[ClusterNode]
  }

  def strains(df: DataFrame): Dataset[Strain] = {
    import df.sparkSession.implicits._
    df.select("name", "avg_GC", "stDev_GC", "avg_CAI", "stDev_CAI").as[Strain]
  }

  /** Persist the graph tables, one zstd parquet directory per table.
    *
    * `features` and `feature_neighbours` are range-partitioned on the
    * strain and sorted within each file: features by (`Start`, `Name`),
    * the genome order, and edges by source feature. No reader prunes by
    * directory, and per-strain directories would cost a directory and a
    * file per strain and table, each created through a forked `chmod` on
    * Hadoop's local filesystem; range clustering keeps a strain predicate
    * selective through row-group min/max statistics instead. zstd, not
    * snappy: the DNA columns (`clusters.reference_sequence`, lonely
    * features' `FullSequences`) dominate the bytes.
    *
    * ORTHOLOG is stored grouped by cluster, ordered by
    * (`length(cluster_id)`, `cluster_id`) so numerically adjacent families
    * (`g2` … `g10`), whose member ids share prefixes, stay adjacent.
    * FEATURE_IN_STRAIN is not stored: it is two columns of `features`,
    * and [[readGraph]] derives it.
    *
    * Once the last table is stored, the build's cached membership frame is
    * released, blocking until its blocks are gone, so the next stage does
    * not run beside the removal.
    */
  def writeGraph(g: Pangenome.GraphTables, dir: String): Unit = {
    def store(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").option("compression", "zstd").parquet(s"$dir/$table")
    try {
      store(g.features.repartitionByRange(col("Strain"))
        .sortWithinPartitions(col("Strain"), col("Start"), col("Name")), "features")
      store(g.featureNeighbours.repartitionByRange(col("strain"))
        .sortWithinPartitions(col("strain"), col("src")), "feature_neighbours")
      store(g.clusters, "clusters")
      store(g.strains, "strains")
      store(g.ortholog.sortWithinPartitions(length(col("cluster_id")), col("cluster_id")),
        "ortholog")
      store(g.clusterNeighbours, "cluster_neighbours")
      store(g.clusterInStrain, "cluster_in_strain")
    } finally g.membership.foreach(_.unpersist(blocking = true))
  }

  /** The stored graph; `featureInStrain` is projected from `features`. */
  def readGraph(spark: SparkSession, dir: String): Pangenome.GraphTables = {
    val features = spark.read.parquet(s"$dir/features")
    Pangenome.GraphTables(
      features = features,
      clusters = spark.read.parquet(s"$dir/clusters"),
      strains = spark.read.parquet(s"$dir/strains"),
      ortholog = spark.read.parquet(s"$dir/ortholog"),
      clusterNeighbours = spark.read.parquet(s"$dir/cluster_neighbours"),
      featureNeighbours = spark.read.parquet(s"$dir/feature_neighbours"),
      featureInStrain = features.select(col("Name").as("feature_id"), col("Strain").as("strain")),
      clusterInStrain = spark.read.parquet(s"$dir/cluster_in_strain"))
  }
}
