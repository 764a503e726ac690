package graft

import graft.pangenome.Pangenome
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force property test for the graph-build job — the reference's
  * 1,805 s centerpiece (`01_creatingDatabase.cypher`). Random pangenomes
  * with lonely features, clusters lacking reference sequences, and mixed
  * feature types; every output table is compared against a naive
  * driver-side reconstruction: one ORTHOLOG per feature, lonely clusters
  * carrying the feature's sequence (feature nulled), ref-seq repair from
  * the reference feature, CDS>tRNA>pseudogene priority, neighbour
  * contraction with sorted member lists, deduped 2-hop cluster⋈strain.
  * All eight tables are also compared, as row multisets, with a frozen
  * copy of the build's earlier join/anti-join/union formulation, on the
  * random pangenomes and on a hand-built one with degenerate member lists.
  */
class BuildGraphBruteForceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** feature row: (name, start, product, ftype, strain, cluster,
    * lonely, fullSeq)
    */
  private type FRow = (String, Long, String, String, String, String,
    Boolean, Option[String])

  private def randomPangenome(seed: Int): (Seq[FRow], Map[String, Option[String]]) = {
    val rnd = new scala.util.Random(seed)
    val nStrains = 4 + rnd.nextInt(3)
    val nSlots = 15 + rnd.nextInt(10)
    // clusters without an aligned reference sequence: repair path
    val nullSeqSlots = (0 until nSlots).filter(_ => rnd.nextDouble() < 0.15).toSet
    val rows = Seq.newBuilder[FRow]
    for (s <- 0 until nStrains) {
      var pos = 0L
      var idx = 0
      for (slot <- 0 until nSlots) {
        if (rnd.nextDouble() < 0.75) {
          val ftype = rnd.nextInt(10) match {
            case 0 => "tRNA"
            case 1 => "pseudogene"
            case _ => "CDS"
          }
          val lonely = rnd.nextDouble() < 0.06
          // members of a no-refseq cluster, and lonely features, carry
          // their genome substring (the ETL's J5+P6 path)
          val fullSeq =
            if (lonely || nullSeqSlots(slot))
              Some("ACGT" * (2 + (slot + s) % 3))
            else None
          rows += ((f"S${s}%02d_$idx%03d", pos * 10 + 1, "prod",
            ftype, f"S$s%02d", f"g$slot%03d", lonely, fullSeq))
          pos += 1; idx += 1
        }
      }
    }
    val all = rows.result()
    val clusterSeq: Map[String, Option[String]] =
      all.groupBy(_._6).map { case (c, _) =>
        val slot = c.drop(1).toInt
        c -> (if (nullSeqSlots(slot)) None else Some("GCT" * (2 + slot % 3)))
      }
    (all, clusterSeq)
  }

  private def etlTables(rows: Seq[FRow], clusterSeq: Map[String, Option[String]]) = {
    import spark.implicits._
    val features = rows.map { r =>
      (r._1, r._2, r._2 + 8, 9L, "+", r._3, r._5, r._4,
        if (r._7 || r._8.nonEmpty) None else Some(""), r._8)
    }.toDF("Name", "Start", "End", "Length", "Strand", "Product", "Strain",
      "FeatureType", "Variation", "FullSequences")
    val clusters = rows.filter(!_._7).groupBy(_._6).map { case (c, members) =>
      (c, "desc", 50L, members.map(_._5).distinct.size.toLong, 9L, 9L, 9.0,
        members.map(_._1).sorted.mkString(";"),
        members.map(_._1).min, clusterSeq(c).orNull)
    }.toSeq.toDF("allele_name", "consensus_product", "threshold",
      "number_genomes", "min_length", "max_length", "average_length",
      "feature", "reference_locus", "Seq")
    Pangenome.EtlTables(features, clusters, neighbourEdges(features))
  }

  /** Consecutive features per strain in (Start, Name) order. */
  private def neighbourEdges(features: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("Strain")).orderBy(col("Start"), col("Name"))
    features
      .withColumn("sourceFeature", lag(col("Name"), 1).over(wOrd))
      .filter(col("sourceFeature").isNotNull)
      .select(col("sourceFeature"), col("Name").as("receivingFeature"),
        col("Strain").as("strain"))
  }

  /** The graph build as it was formulated before the membership frame:
    * an inner join for ORTHOLOG, a left-anti join for the lonely features,
    * their union, and `clusterType` joining ORTHOLOG back onto the
    * features. Kept frozen here as the equivalence reference.
    */
  private def legacyBuildGraph(t: Pangenome.EtlTables): Pangenome.GraphTables = {
    val features0 = t.features
    val clustered = t.clusters
      .select(col("allele_name").as("cluster_id"),
        explode(filter(split(col("feature"), ";"), x => x =!= "0" && x =!= ""))
          .as("feature_id"))
    val ortholog0 = clustered.join(
      features0.select(col("Name").as("feature_id")), Seq("feature_id"))
    val lonely = features0.join(ortholog0.select(col("feature_id")),
        col("Name") === col("feature_id"), "left_anti")
    val lonelyClusters = lonely.select(
      col("Name").as("cluster_id"), col("Product").as("description"),
      lit(50L).as("threshold"), lit(1L).as("number_genomes"),
      col("Length").as("min_length"), col("Length").as("max_length"),
      col("Length").cast("double").as("average_length"),
      lit(null).cast("array<string>").as("feature_ids"),
      col("Name").as("CDS_ids"),
      col("Name").as("reference_locus"), col("FullSequences").as("reference_sequence"),
      lit(true).as("lonely_cluster"))
    val ortholog = ortholog0.unionByName(
      lonely.select(col("Name").as("cluster_id"), col("Name").as("feature_id")))
    val features = features0.join(
        lonely.select(col("Name").as("ln")), col("Name") === col("ln"), "left")
      .withColumn("FullSequences",
        when(col("ln").isNotNull, lit(null).cast("string")).otherwise(col("FullSequences")))
      .drop("ln")
    val typePrio = when(col("FeatureType") === "CDS", 3)
      .when(col("FeatureType") === "tRNA", 2)
      .when(col("FeatureType") === "pseudogene", 1).otherwise(0)
    val clusterType = ortholog
      .join(features.select(col("Name").as("feature_id"), col("FeatureType")),
        Seq("feature_id"))
      .groupBy(col("cluster_id")).agg(max(typePrio).as("tp"))
      .withColumn("feature_type",
        when(col("tp") === 3, "CDS").when(col("tp") === 2, "tRNA")
          .when(col("tp") === 1, "pseudogene"))
      .drop("tp")
    val realClusters = t.clusters.select(
      col("allele_name").as("cluster_id"), col("consensus_product").as("description"),
      col("threshold"), col("number_genomes"), col("min_length"), col("max_length"),
      col("average_length"),
      filter(split(col("feature"), ";"), x => x =!= "0" && x =!= "").as("feature_ids"),
      lit(null).cast("string").as("CDS_ids"),
      col("reference_locus"), col("Seq").as("reference_sequence"),
      lit(false).as("lonely_cluster"))
    val allClusters = realClusters.unionByName(lonelyClusters)
    val repairSrc = features0.select(col("Name").as("rl"),
      col("FullSequences").as("repair_seq"))
    val clusters = allClusters
      .join(repairSrc, col("reference_locus") === col("rl"), "left")
      .withColumn("reference_sequence",
        coalesce(col("reference_sequence"), col("repair_seq")))
      .drop("rl", "repair_seq")
      .join(clusterType, Seq("cluster_id"), "left")
    val o1 = ortholog.select(col("feature_id").as("sf"), col("cluster_id").as("c1"))
    val o2 = ortholog.select(col("feature_id").as("rf"), col("cluster_id").as("c2"))
    val clusterNeighbours = t.neighbourEdges
      .join(o1, col("sourceFeature") === col("sf"))
      .join(o2, col("receivingFeature") === col("rf"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("number_of_members"),
        sort_array(collect_list(col("strain"))).as("members"))
    val featureNeighbours = t.neighbourEdges.select(
      col("sourceFeature").as("src"), col("receivingFeature").as("dst"), col("strain"))
    val strains = features.select(col("Strain").as("name")).distinct()
    val featureInStrain = features.select(col("Name").as("feature_id"),
      col("Strain").as("strain"))
    val clusterInStrain = ortholog.join(featureInStrain, Seq("feature_id"))
      .select(col("cluster_id"), col("strain")).distinct()
    Pangenome.GraphTables(features, clusters, strains, ortholog, clusterNeighbours,
      featureNeighbours, featureInStrain, clusterInStrain)
  }

  /** All eight tables: same column names and types in the same order, and
    * the same rows as multisets.
    */
  private def assertSameTables(got: Pangenome.GraphTables,
      want: Pangenome.GraphTables): Unit = {
    def tables(g: Pangenome.GraphTables) = Seq(
      "features" -> g.features, "clusters" -> g.clusters, "strains" -> g.strains,
      "ortholog" -> g.ortholog, "clusterNeighbours" -> g.clusterNeighbours,
      "featureNeighbours" -> g.featureNeighbours,
      "featureInStrain" -> g.featureInStrain, "clusterInStrain" -> g.clusterInStrain)
    def bag(df: DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    tables(got).zip(tables(want)).foreach { case ((name, g), (_, w)) =>
      assert(g.schema.map(f => (f.name, f.dataType)) == w.schema.map(f => (f.name, f.dataType)),
        s"$name schema")
      assert(bag(g) == bag(w), s"$name rows")
    }
  }

  for (seed <- Seq(3, 17, 71)) {
    test(s"buildGraph equals the naive reconstruction on seed $seed") {
      val (rows, clusterSeq) = randomPangenome(seed)
      val t = etlTables(rows, clusterSeq)
      val g = Pangenome.buildGraph(spark, t)
      val byName = rows.map(r => r._1 -> r).toMap
      val lonelyNames = rows.filter(_._7).map(_._1).toSet

      // ORTHOLOG: every feature exactly once; lonely -> own cluster
      val ortho = g.ortholog.collect()
        .map(r => r.getAs[String]("feature_id") -> r.getAs[String]("cluster_id"))
      assert(ortho.length == rows.size)
      ortho.foreach { case (f, c) =>
        val r = byName(f)
        assert(c == (if (r._7) f else r._6), s"feature $f")
      }

      // lonely clusters: own id, the feature's sequence moved over,
      // feature's FullSequences nulled
      val lc = g.clusters.filter(org.apache.spark.sql.functions.col("lonely_cluster"))
        .collect().map(r => r.getAs[String]("cluster_id") ->
          r.getAs[String]("reference_sequence")).toMap
      assert(lc.keySet == lonelyNames)
      lonelyNames.foreach(n => assert(lc(n) == byName(n)._8.get, s"lonely $n"))
      val nulled = g.features
        .filter(org.apache.spark.sql.functions.col("Name").isin(lonelyNames.toSeq: _*))
        .collect().map(r => r.getAs[String]("Name") -> (r.getAs[String]("FullSequences") == null))
      nulled.foreach { case (n, isNull) => assert(isNull, s"lonely feature $n not nulled") }

      // ref-seq repair: null Seq clusters take the reference feature's
      // genome substring
      val realClusters = g.clusters
        .filter(!org.apache.spark.sql.functions.col("lonely_cluster"))
        .collect().map(r => r.getAs[String]("cluster_id") ->
          (r.getAs[String]("reference_sequence"), r.getAs[String]("feature_type"))).toMap
      val prio = Map("CDS" -> 3, "tRNA" -> 2, "pseudogene" -> 1)
      rows.filter(!_._7).groupBy(_._6).foreach { case (c, members) =>
        val (gotSeq, gotType) = realClusters(c)
        val refLocus = members.map(_._1).min
        val wantSeq = clusterSeq(c).getOrElse(byName(refLocus)._8.orNull)
        assert(gotSeq == wantSeq, s"cluster $c ref seq")
        val wantType = members.map(m => prio(m._4)).max match {
          case 3 => "CDS"; case 2 => "tRNA"; case 1 => "pseudogene"
        }
        assert(gotType == wantType, s"cluster $c feature_type")
      }

      // cluster NEIGHBOUR contraction: weights + sorted strain members
      val want = scala.collection.mutable.Map.empty[(String, String), List[String]]
      rows.groupBy(_._5).foreach { case (_, fs) =>
        fs.sortBy(r => (r._2, r._1)).sliding(2).foreach {
          case Seq(a, b) =>
            val ca = if (a._7) a._1 else a._6
            val cb = if (b._7) b._1 else b._6
            want((ca, cb)) = a._5 :: want.getOrElse((ca, cb), Nil)
          case _ => ()
        }
      }
      val gotEdges = g.clusterNeighbours.collect().map(r =>
        (r.getAs[String]("c1"), r.getAs[String]("c2")) ->
          ((r.getAs[Long]("number_of_members"), r.getAs[Seq[String]]("members")))).toMap
      assert(gotEdges.keySet == want.keySet)
      want.foreach { case (k, strains) =>
        assert(gotEdges(k) == ((strains.size.toLong, strains.sorted)), s"edge $k")
      }

      // deduped 2-hop cluster-in-strain
      val wantCis = rows.map(r => (if (r._7) r._1 else r._6, r._5)).toSet
      val gotCis = g.clusterInStrain.collect()
        .map(r => (r.getAs[String]("cluster_id"), r.getAs[String]("strain")))
      assert(gotCis.length == gotCis.distinct.length)
      assert(gotCis.toSet == wantCis)

      assertSameTables(g, legacyBuildGraph(t))
      g.membership.foreach(_.unpersist())
    }
  }

  test("buildGraph equals the pre-change formulation on degenerate membership") {
    import spark.implicits._
    // a1 is named by g1 AND g2; "zz" and "ghost" name no feature; "0" and
    // empty tokens sit in the lists; g4 has no real member and g5 an empty
    // list; a3, a4 and b3 are lonely, a4 with no sequence at all; g2 and g3
    // have no reference sequence: g2's reference locus is the twice-named
    // a1, g3's the lonely a3
    val features = Seq(
      ("a1", 1L, "CDS", "A", None, Some("CCGG")),
      ("a2", 11L, "tRNA", "A", Some(""), None),
      ("a3", 21L, "CDS", "A", None, Some("ACGT")),
      ("a4", 31L, "pseudogene", "A", None, None),
      ("b1", 1L, "pseudogene", "B", None, Some("TTTT")),
      ("b2", 11L, "CDS", "B", Some(""), None),
      ("b3", 21L, "tRNA", "B", None, Some("GGCC")),
      ("b4", 31L, "CDS", "B", Some(""), None)
    ).map { case (n, start, ftype, strain, variation, full) =>
      (n, start, start + 8, 9L, "+", s"prod_$n", strain, ftype,
        variation: Option[String], full: Option[String])
    }.toDF("Name", "Start", "End", "Length", "Strand", "Product", "Strain",
      "FeatureType", "Variation", "FullSequences")
    val clusters = Seq(
      ("g1", "a1;a2;0;;b4;", "a1", Some("AAA")),
      ("g2", "0;a1;b1;zz", "a1", None),
      ("g3", "b2;;0", "a3", None),
      ("g4", "ghost;0", "ghost", Some("CCC")),
      ("g5", "", "none", None)
    ).map { case (c, members, ref, seq) =>
      (c, s"desc_$c", 50L, 2L, 9L, 9L, 9.0, members, ref, seq: Option[String])
    }.toDF("allele_name", "consensus_product", "threshold", "number_genomes",
      "min_length", "max_length", "average_length", "feature", "reference_locus", "Seq")
    val t = Pangenome.EtlTables(features, clusters, neighbourEdges(features))
    val g = Pangenome.buildGraph(spark, t)
    assertSameTables(g, legacyBuildGraph(t))
    // the degenerate cases are really present in the output
    val ortho = g.ortholog.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ortho == Set("a1" -> "g1", "a1" -> "g2", "a2" -> "g1", "b4" -> "g1",
      "b1" -> "g2", "b2" -> "g3", "a3" -> "a3", "a4" -> "a4", "b3" -> "b3"))
    val refSeq = g.clusters.collect()
      .map(r => r.getAs[String]("cluster_id") -> r.getAs[String]("reference_sequence")).toMap
    assert(refSeq("g3") == "ACGT" && refSeq("g2") == "CCGG" && refSeq("a4") == null)
    g.membership.foreach(_.unpersist())
  }
}
