package perfbench

import graft.pangenome.Pangenome
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** The benchmark's seeded pangenome generator: PIRATE-shaped ETL tables
  * (features, gene-family clusters, consecutive-feature edges) with the
  * shape of `graft.Rehearsal.synthesize`, owned here so that a change to
  * the program's own entry points cannot change the workload. The rows are
  * made on the driver, so generating them costs the set-up little next to
  * the program's own work.
  *
  * Each strain's genome is a walk over 6,500 gene-family slots. Every 65
  * slots form one block whose last 8 slots are an island of accessory
  * genes; an island is present as a unit in about 20% of strains and
  * carries a phage integrase (slot 58 of the block) and an IS5
  * transposase (slot 61). Core slots drop out at 2%, 0.3% of features are
  * lonely (no cluster), and a quarter carry a one-base variation against
  * the cluster's reference sequence.
  *
  * `seed` enters every hash, so presence, islands, variation, lengths and
  * DNA all change with it; the same seed gives the same tables.
  */
object Gen {
  val SlotsPerStrain = 6500
  val BlockSlots = 65
  val IslandFrom = 57

  private val Codons = graft.functions.Cai.SharpEcoliIndex.keys.toArray.sorted

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A non-negative 63-bit hash of the seed and up to four values
    * (SplitMix64 rounds); `a` names the purpose of the draw.
    */
  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long =
    mix(mix(mix(mix(mix(seed) ^ a) ^ b) ^ c) ^ d) >>> 1

  private def nCodons(seed: Long, slot: Long): Int = 300 + (hash(seed, 3, slot) % 100).toInt

  private def pad(x: Long, width: Int): String = {
    val d = x.toString
    if (d.length >= width) d else "0" * (width - d.length) + d
  }

  private def dna(seed: Long, a: Long, b: Long, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 3 + 6).append("ATG")
    var i = 1
    while (i <= n) { sb.append(Codons((hash(seed, 5, a, b, i) % Codons.length).toInt)); i += 1 }
    sb.append("TGA").toString
  }

  private val featureSchema = StructType(Seq(
    StructField("Name", StringType), StructField("Start", LongType),
    StructField("End", LongType), StructField("Length", LongType),
    StructField("Strand", StringType), StructField("Product", StringType),
    StructField("Strain", StringType), StructField("FeatureType", StringType),
    StructField("Variation", StringType), StructField("FullSequences", StringType)))
  private val clusterSchema = StructType(Seq(
    StructField("allele_name", StringType), StructField("consensus_product", StringType),
    StructField("threshold", LongType), StructField("number_genomes", LongType),
    StructField("min_length", LongType), StructField("max_length", LongType),
    StructField("average_length", DoubleType), StructField("feature", StringType),
    StructField("reference_locus", StringType), StructField("Seq", StringType)))
  private val edgeSchema = StructType(Seq(
    StructField("sourceFeature", StringType), StructField("receivingFeature", StringType),
    StructField("strain", StringType)))

  def synthesize(spark: SparkSession, nStrains: Int, seed: Long): Pangenome.EtlTables = {
    require(nStrains >= 2 && nStrains < 1000, s"nStrains must be in [2, 999], got $nStrains")
    val features = ArrayBuffer.empty[Row]
    val edges = ArrayBuffer.empty[Row]
    // slot -> (strains, member names) of its non-lonely features
    val members = Array.fill(SlotsPerStrain)((Set.empty[Long], ArrayBuffer.empty[String]))
    for (sid <- 0L until nStrains.toLong) {
      val strain = "S" + pad(sid, 3)
      var prev: String = null
      for (slot <- 0L until SlotsPerStrain) {
        val islot = slot % BlockSlots
        val accessory = islot >= IslandFrom
        // islands toggle as a unit per (strain, island); core drops out at 2%
        val present =
          if (accessory) hash(seed, 1, sid, slot / BlockSlots) % 100 < 20
          else hash(seed, 2, sid, slot) % 100 < 98
        if (present) {
          val n = nCodons(seed, slot)
          val h = hash(seed, 4, sid, slot)
          val lonely = h % 1000 < 3
          val name = s"${strain}_f${pad(slot, 5)}"
          features += Row(name, slot * 1500 + 1, slot * 1500 + n * 3 + 6, n * 3 + 6L,
            if (h % 2 == 0) "+" else "-",
            if (accessory && islot == 58) "phage integrase"
            else if (accessory && islot == 61) "IS5 transposase"
            else "hypothetical protein",
            strain,
            if (islot == 13) "tRNA" else if (islot == 37) "pseudogene" else "CDS",
            if (lonely) null else if (h % 4 == 0) s"${h % 200 + 1}T" else "",
            if (lonely) dna(seed, sid, slot, n) else null)
          if (!lonely) {
            val (strains, names) = members(slot.toInt)
            members(slot.toInt) = (strains + sid, names += name)
          }
          // features are made in genome order, so each follows the one before
          if (prev != null) edges += Row(prev, name, strain)
          prev = name
        }
      }
    }
    // gene-family table in the PIRATE shape: the member list is the
    // ';'-joined id string the reference's cypher UNWINDs
    val clusters = members.indices.collect { case slot if members(slot)._2.nonEmpty =>
      val (strains, names) = members(slot)
      val n = nCodons(seed, slot.toLong)
      val sorted = names.sorted
      Row("g" + pad(slot, 4), "hypothetical protein", 50L, strains.size.toLong,
        n * 3 + 6L, n * 3 + 6L, (n * 3 + 6).toDouble, sorted.mkString(";"), sorted.head,
        dna(seed, -1L, slot.toLong, n))
    }
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    Pangenome.EtlTables(df(features.toSeq, featureSchema), df(clusters, clusterSchema),
      df(edges.toSeq, edgeSchema))
  }

  /** Balanced binary Newick over S000..S(n−1) with unit branch lengths:
    * the stand-in for the reference's core-genome tree.
    */
  def balancedNewick(n: Int): String = {
    def go(lo: Int, hi: Int): String =
      if (hi - lo == 1) f"S$lo%03d"
      else { val mid = (lo + hi) / 2; s"(${go(lo, mid)}:1,${go(mid, hi)}:1)" }
    go(0, n) + ";"
  }
}
