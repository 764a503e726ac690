package graft.pangenome

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed views of the node tables (SURVEY §1.4: case classes with
  * `Encoder`s where type safety helps; `DataFrame` where schema is
  * dynamic) and the at-rest layout.
  *
  * Layout (SURVEY §7 step 10, "100 TB posture"): features and
  * feature-level edges are hash-partitioned *by strain* on disk, so every
  * per-strain job (ordering, windows, chains, genome tracks) prunes to its
  * strains' files and the orderBy-within-strain shuffle reads co-located
  * input. Cluster tables are small by comparison and stay unpartitioned.
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

  /** Persist the graph tables; strain-keyed tables partitioned by strain.
    *
    * The strain-keyed frames are repartitioned ON the partition column
    * first: without it every upstream task holds a slice of every strain
    * and the dynamic-partition writer emits |tasks| x |strains| tiny files
    * (at 770 strains x 32 tasks, ~25k files per table). After the
    * repartition each task owns whole strains and writes one file per
    * strain — the layout a 1000-executor job needs too.
    *
    * ORTHOLOG is stored grouped by cluster: the membership frame it is read
    * from is in feature order, and runs of one cluster_id compress better
    * (the benchmark's 8-strain lifecycle: 286 KB, against 333 KB in feature
    * order). Once the last table is stored, the build's cached membership
    * frame is released.
    */
  def writeGraph(g: Pangenome.GraphTables, dir: String): Unit =
    try {
      g.features.repartition(col("Strain"))
        .write.mode("overwrite").partitionBy("Strain").parquet(s"$dir/features")
      g.featureNeighbours.repartition(col("strain"))
        .write.mode("overwrite").partitionBy("strain")
        .parquet(s"$dir/feature_neighbours")
      g.clusters.write.mode("overwrite").parquet(s"$dir/clusters")
      g.strains.write.mode("overwrite").parquet(s"$dir/strains")
      g.ortholog.sortWithinPartitions(col("cluster_id"))
        .write.mode("overwrite").parquet(s"$dir/ortholog")
      g.clusterNeighbours.write.mode("overwrite").parquet(s"$dir/cluster_neighbours")
      g.featureInStrain.repartition(col("strain"))
        .write.mode("overwrite").partitionBy("strain")
        .parquet(s"$dir/feature_in_strain")
      g.clusterInStrain.write.mode("overwrite").parquet(s"$dir/cluster_in_strain")
    } finally g.membership.foreach(_.unpersist())

  def readGraph(spark: SparkSession, dir: String): Pangenome.GraphTables =
    Pangenome.GraphTables(
      features = spark.read.parquet(s"$dir/features"),
      clusters = spark.read.parquet(s"$dir/clusters"),
      strains = spark.read.parquet(s"$dir/strains"),
      ortholog = spark.read.parquet(s"$dir/ortholog"),
      clusterNeighbours = spark.read.parquet(s"$dir/cluster_neighbours"),
      featureNeighbours = spark.read.parquet(s"$dir/feature_neighbours"),
      featureInStrain = spark.read.parquet(s"$dir/feature_in_strain"),
      clusterInStrain = spark.read.parquet(s"$dir/cluster_in_strain"))
}
