package graft.operators

import graft.functions.Agglomerative
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Size-dispatched set-similarity: the library behind C1/C2 (Dice/Jaccard
  * over per-entity sets, RGPs.ipynb cells 70/80) and the dice step of the
  * insertion analysis ([[graft.pangenome.Pangenome.insertionDice]]).
  *
  * Two physical shapes, one semantic:
  *
  *  - **exact**: self-join on `id1 < id2` — the reference's own all-pairs
  *    form, correct and fastest below ~10^5 rows (the reference runs it at
  *    N≈5k);
  *  - **lsh**: MinHash band keys -> bucket equi-join -> exact metric on the
  *    *candidates* only. Candidate generation is linear in N; the pair
  *    explosion never happens. This is the only shape that survives 100×.
  *
  * The dispatcher picks per call: an explicit row-count threshold
  * (`maxExactRows`) and one cheap count() aggregate decide. A similarity
  * floor (`minSim > 0`) is required for the LSH branch — a *full*
  * similarity matrix is inherently quadratic output and only the exact
  * branch can produce it (at scale a full matrix is not a meaningful
  * artifact; the thresholded near-pair list is).
  */
object Similarity {

  /** MinHash-LSH candidate pairs: (id1, id2, s1, s2), each candidate once.
    * Default 32 perms / 4 rows-per-band = 8 bands; pair-generation callers
    * tune both knobs from their similarity floor via [[bandGeometryFor]]
    * so the banding S-curve tracks the floor. Planted-dup recall is pinned
    * in SimilaritySpec/SketchesSpec.
    *
    * Scale shape (the d2/d8 contract, `PipelineOps.scala:113-128,440-450`):
    * the band stream carries **(band, id) only** — the token sets never
    * ride the ~8×-exploded band shuffle. The sets join back per SURVIVING
    * candidate through two linear equi-joins on id; the candidate set is
    * tiny by construction (near-pairs + band collisions), so the heavy
    * arrays move once, keyed by id, instead of 8× through the self-join.
    */
  def lshCandidates(
      sets: DataFrame, idCol: String, setCol: String,
      numPerms: Int = 32, rowsPerBand: Int = 4): DataFrame = {
    graft.functions.GraftExtensions.registerInto(sets.sparkSession)
    val src = sets.select(col(idCol).as("id"), col(setCol).as("st"))
    val buckets = src
      .withColumn("bands", expr(
        s"minhash_bands(transform(st, x -> CAST(x AS STRING)), $numPerms, $rowsPerBand)"))
      .select(col("id"), posexplode(col("bands")).as(Seq("bi", "bk")))
    val a = buckets.select(col("bi"), col("bk"), col("id").as("id1"))
    val b = buckets.select(col("bi").as("bi2"), col("bk").as("bk2"),
      col("id").as("id2"))
    val cand = a.join(b,
        col("bi") === col("bi2") && col("bk") === col("bk2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .dropDuplicates("id1", "id2")
    cand
      .join(src.select(col("id").as("id1"), col("st").as("s1")), Seq("id1"))
      .join(src.select(col("id").as("id2"), col("st").as("s2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("s1"), col("s2"))
  }

  private def allPairs(sets: DataFrame, idCol: String, setCol: String): DataFrame = {
    val a = sets.select(col(idCol).as("id1"), col(setCol).as("s1"))
    val b = sets.select(col(idCol).as("id2"), col(setCol).as("s2"))
    a.join(b, col("id1") < col("id2"))
  }

  private def diceExpr: Column = {
    val inter = size(array_intersect(col("s1"), col("s2")))
    inter * 2.0 / (size(col("s1")) + size(col("s2")))
  }

  private def jaccardExpr: Column = {
    val inter = size(array_intersect(col("s1"), col("s2")))
    inter.cast("double") / (size(col("s1")) + size(col("s2")) - inter)
  }

  /** Band geometry (numPerms, rowsPerBand) from the jaccard floor: the
    * most selective rung of the ladder whose estimated recall at the
    * floor, 1 − (1 − j^r)^(p/r), stays ≥ 0.8. The banding S-curve then
    * moves WITH the floor instead of silently cliffing — fixed 32/4 has
    * ~40% recall at j = 0.5 and ~1% at j ≈ 0.18.
    *
    * Low floors buy recall with MORE PERMUTATIONS (64/2, 128/2 → more
    * bands, each still 2 rows), never with single-row bands: r = 1 keys
    * buckets on raw per-permutation minhash values, and on Zipfian text
    * every document sharing the corpus's most common shingle collides —
    * the band join degenerates toward all-pairs, the exact failure mode
    * the LSH branch exists to avoid. The extra perms cost one linear
    * signature pass and a wider (still ids-only) band stream. Below
    * j ≈ 0.17 even 128/2 drops under the 0.8 bar (ladder bottom, recall
    * degrades smoothly) — a floor that low demands near-quadratic output
    * and belongs to the exact branch.
    */
  def bandGeometryFor(jaccardFloor: Double): (Int, Int) = {
    val ladder = Seq((32, 8), (32, 4), (32, 2), (64, 2), (128, 2))
    ladder.find { case (p, r) =>
      1.0 - math.pow(1.0 - math.pow(jaccardFloor, r), p.toDouble / r) >= 0.8
    }.getOrElse(ladder.last)
  }

  /** The geometry every floor-aware LSH entry point uses
    * ([[dicePairs]]/[[jaccardPairs]]/[[cluster]]'s distributed branch,
    * `StreamingJobs.incrementalNearDedup`'s default): the
    * [[bandGeometryFor]] ladder at the caller's floor. A floor of 0
    * (diagnostic forceLsh use) has nothing for the ladder to aim at and
    * keeps the classic 32/4. Callers passing explicit knobs (e.g.
    * `PipelineOps.minhashSignatures`) bypass it — d2's oracle-pinned 32/4.
    */
  def geometryFor(jaccardFloor: Double): (Int, Int) =
    if (jaccardFloor > 0.0) bandGeometryFor(jaccardFloor) else (32, 4)

  private def pairs(
      sets: DataFrame, idCol: String, setCol: String, simCol: String,
      sim: Column, minSim: Double, jaccardFloor: Double, maxExactRows: Long,
      forceLsh: Boolean): DataFrame = {
    // dispatch: one cheap count() over the (normally materialized) sets
    // table; the LSH branch needs a floor to be meaningful (see scaladoc)
    val useLsh = forceLsh || (minSim > 0.0 && sets.count() > maxExactRows)
    val cand =
      if (useLsh) {
        val (p, r) = geometryFor(jaccardFloor)
        lshCandidates(sets, idCol, setCol, numPerms = p, rowsPerBand = r)
      } else allPairs(sets, idCol, setCol)
    cand
      .withColumn(simCol, sim)
      .filter(col(simCol) >= minSim)
      .select(col("id1"), col("id2"), col(simCol))
  }

  /** Dice pairs ≥ minDice (C1). minDice = 0 always takes the exact branch
    * (full matrix demanded); dice ≥ t ⟺ jaccard ≥ t/(2−t), so the 0.5-ish
    * LSH tuning holds for the dice floor too.
    *
    * The exact branch is a non-equi self-join (id1 < id2), which Spark can
    * only run as a broadcast nested loop — pair count AND broadcast size
    * grow quadratically/linearly with N, so the dispatch default is sized
    * like [[cluster]]'s: 20k rows ≈ 2×10⁸ candidate pairs and a
    * tens-of-MB broadcast side, 4× the reference's own N≈5k workload.
    * The old 100k default licensed 5×10⁹ pairs through a ~1 GB broadcast
    * — past every autoBroadcastJoinThreshold and hours of compute — in
    * the branch that exists for reference fidelity, not scale.
    *
    * The LSH branch the dispatch switches to is APPROXIMATE in recall:
    * band collision probability 1−(1−j⁴)⁸ is ≈1 at j ≥ 0.7 but only ~1%
    * at j ≈ 0.18, so it is the right trade for high-similarity floors
    * (dedup/near-dup, the scale workload) and the wrong one for low
    * floors — whose near-quadratic OUTPUT is inherently exact-branch
    * territory anyway. Callers with 20k–100k rows and a low floor who
    * accept the BNLJ cost should pass `maxExactRows` explicitly (the old
    * default's behavior, now an opt-in rather than a silent recall cliff).
    */
  def dicePairs(
      sets: DataFrame, idCol: String, setCol: String,
      minDice: Double = 0.0, maxExactRows: Long = 20000,
      forceLsh: Boolean = false): DataFrame =
    pairs(sets, idCol, setCol, "dice", diceExpr, minDice,
      // dice ≥ t ⟺ jaccard ≥ t/(2−t): the band tuning works in jaccard space
      jaccardFloor = if (minDice > 0) minDice / (2.0 - minDice) else 0.0,
      maxExactRows, forceLsh)

  /** Jaccard-similarity pairs ≥ minSim (C2 complement); dispatch sized as
    * [[dicePairs]].
    */
  def jaccardPairs(
      sets: DataFrame, idCol: String, setCol: String,
      minSim: Double = 0.0, maxExactRows: Long = 20000,
      forceLsh: Boolean = false): DataFrame =
    pairs(sets, idCol, setCol, "jaccard", jaccardExpr, minSim,
      jaccardFloor = minSim, maxExactRows, forceLsh)

  /** Flat clustering at jaccard-distance `cutoff` (C3/C4). Below
    * `maxDriverN` rows: the reference's exact complete-linkage on the
    * driver (scipy linkage+fcluster fidelity). Above: MinHash-LSH
    * similarity graph, derived once, + [[Components]]' union-find rounds
    * — single-linkage semantics, the documented 100 TB analogue (a
    * complete-linkage dendrogram needs the full distance matrix by
    * definition).
    * Returns (id, label); labels are dense, ordered by each cluster's
    * minimum id, so both branches are deterministic.
    *
    * The default threshold is sized by the kernel's memory, not wishful
    * thinking: the condensed matrix is n(n−1)/2 doubles, so 20k rows
    * ≈ 1.6 GB of driver heap — 4× the reference's own N≈5k workload.
    * The old 100k default would have demanded 40 GB and was never
    * driver-safe. Note the branches differ in LINKAGE above the cut:
    * lowering the default moves 20k–100k-row inputs from complete-linkage
    * to the single-linkage components semantics — callers in that band
    * who relied on the old default's exact dendrogram (and have the tens
    * of GB it implies) must now pass `maxDriverN` explicitly.
    *
    * Recall envelope of the distributed branch: edges come from
    * [[bandGeometryFor]]'s ladder at floor 1 − cutoff, so TIGHT cutoffs
    * (≤ ~0.5, similarity floors ≥ 0.5 — every workload the reference
    * runs) get ≥ 0.8 per-edge recall, and component connectivity pushes
    * effective cluster recall higher still. LOOSE cutoffs (≥ ~0.8 →
    * floors ≤ 0.2) sit at the ladder bottom where recall degrades —
    * inherent to LSH, since a near-zero floor's edge set approaches all
    * pairs; no geometry serves it and only the driver branch (raise
    * `maxDriverN`, pay its memory) is exact there.
    */
  def cluster(
      sets: DataFrame, idCol: String, setCol: String,
      cutoff: Double, maxDriverN: Long = 20000): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val n = sets.count()
    if (n <= maxDriverN) {
      val rows = sets
        .select(col(idCol).cast("string"), transform(col(setCol), _.cast("string")))
        .orderBy(col(idCol))
        .as[(String, Seq[String])].collect()
      val ids = rows.map(_._1)
      val tok = rows.map(_._2.toSet)
      // Building the condensed distance matrix is O(N^2) intersections —
      // for small vocabularies encode each set as a fixed-width bitmask so
      // the intersection is a popcount over a few longs instead of a
      // Set-hash walk (same integer counts, identical distances and merge
      // order; the Set path remains for unbounded vocabularies).
      val vocab = tok.iterator.flatten.toArray.distinct.sorted
      val dist: (Int, Int) => Double =
        if (vocab.length <= 4096) {
          val idx = vocab.zipWithIndex.toMap
          val w = (vocab.length + 63) >>> 6
          val masks = tok.map { ts =>
            val m = new Array[Long](w)
            ts.foreach { t => val i = idx(t); m(i >>> 6) |= 1L << (i & 63) }
            m
          }
          val sizes = tok.map(_.size)
          (i: Int, j: Int) => {
            var inter = 0; var k = 0
            val mi = masks(i); val mj = masks(j)
            while (k < w) { inter += java.lang.Long.bitCount(mi(k) & mj(k)); k += 1 }
            1.0 - inter.toDouble / (sizes(i) + sizes(j) - inter)
          }
        } else { (i: Int, j: Int) =>
          val inter = (tok(i) & tok(j)).size
          1.0 - inter.toDouble / (tok(i).size + tok(j).size - inter)
        }
      val labels = Agglomerative.completeLinkageCut(ids.length, dist, cutoff)
      ids.zip(labels).toSeq.toDF("id", "label")
        .select(col("id"), col("label").cast("long").as("label"))
    } else {
      val minSim = 1.0 - cutoff
      val edges = jaccardPairs(sets, idCol, setCol, minSim, maxExactRows = 0,
        forceLsh = true)
        .select(col("id1").cast("string").as("id1"), col("id2").cast("string").as("id2"))
      // the verified edge set is derived once, inside Components, which
      // hands back a plan over its scratch labels and keeps no cache
      val comp = Components(edges, "id1", "id2", prefix = "simcluster")
        .select(col("member").as("id"), col("component"))
      // a singleton (no qualifying edge) is its own component: both are
      // the smallest member id, so the component names its cluster
      val withComp = sets.select(col(idCol).cast("string").as("id"))
        .join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("comp"))
      // dense labels ordered by each component's min id. NOT a global
      // row_number() window (an un-partitioned Window funnels every rep
      // through ONE task — a scale-killer in the branch that exists for
      // >maxDriverN inputs): range-partitioned sort + zipWithIndex keeps
      // the ranking fully parallel (zipWithIndex = one light count pass
      // for per-partition offsets, then local index assignment).
      val sorted = withComp.select(col("comp")).distinct().orderBy(col("comp"))
      val labeled = spark.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
        },
        sorted.schema.add("label", org.apache.spark.sql.types.LongType))
      withComp.join(labeled, "comp").select(col("id"), col("label"))
    }
  }
}
