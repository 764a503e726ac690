package graft

import graft.operators.Skew
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** 100 TB skew posture for the per-key shuffle family (d9b's digest join,
  * the W1-W5 / g-family `Window.partitionBy(doc_id/strain)` plans): one
  * pathological key holding ~10% of all rows.
  *
  * Three mitigations, each pinned:
  *  - JOINS split at runtime: AQE's skew-join carves the hot partition
  *    into task-sized slices — but ONLY when both join children are
  *    direct shuffle stages; d9b's literal shape (fact joined to its own
  *    dup-key AGGREGATE) is not splittable, pinned negatively below;
  *  - so for the agg-dim shape the operative mitigation is manual:
  *    [[Skew.saltedJoin]] produces identical rows while scattering the
  *    hot key over `salts` sub-keys;
  *  - WINDOWS cannot split a key (every frame needs its full partition):
  *    the honest bound is max-task-input = hot key + its partition's fair
  *    share of cold keys — LINEAR in the hot key's size, no amplification
  *    — asserted against the same Murmur3 hash model HashPartitioning
  *    uses, plus output correctness on the hot key itself.
  */
class SkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val parts = 8

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", parts)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val hotN = 20000L
  private val coldKeys = 2000L
  private val totalN = 200000L

  /** 200k rows; key 0 holds 10%, 2000 cold keys share the rest. `pad`
    * fattens rows so byte-based AQE thresholds see the skew too — sha2
    * per row, NOT a constant-fill lpad: the shuffle codec compresses a
    * partition of near-identical pads to almost nothing, hiding the
    * skew from AQE's (compressed) map-output statistics.
    */
  private def skewed() = {
    spark.range(totalN)
      .select(
        when(col("id") < hotN, 0L)
          .otherwise(col("id") % coldKeys + 1).as("key"),
        col("id").as("seq"),
        (col("id") % 97).as("value"),
        sha2(col("id").cast("string").cast("binary"), 256).as("pad"))
  }

  test("AQE skew split: fires on direct shuffle joins, NOT through an agg-derived dim") {
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // 32 partitions put the hot key at ~4.5× the median partition (at
      // 8, hot + fair-share is only ~1.9× median — not officially skewed)
      "spark.sql.shuffle.partitions" -> "32",
      // scaled-down byte thresholds: the spec's ~MB hot partition plays
      // the role of the production default's 256 MB one
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      // keep the sort-merge join (skew split's target); at real scale
      // neither side of d9b's dup join is broadcastable anyway
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = skewed()
      // positive pin: dim is a plain table, so BOTH join children are
      // Sort(ShuffleQueryStage) — the only shape OptimizeSkewedJoin
      // matches — and the hot partition gets carved into task slices
      val dimPlain = spark.range(coldKeys + 1)
        .select(col("id").as("key"), lit(1L).as("n"))
      val direct = fact.join(dimPlain, Seq("key"))
      // materialize THIS dataframe's query execution — a count() would
      // build (and finalize) a different AQE plan around an agg
      assert(direct.collect().length == totalN)
      val directPlan = direct.queryExecution.executedPlan.toString
      assert(directPlan.contains("skew=true"),
        s"AQE did not mark the hot partition for skew split:\n$directPlan")
      // negative pin (the d9b literal shape): an agg-derived dim puts a
      // HashAggregate between the dim shuffle and the join, the pattern
      // no longer matches, and AQE CANNOT split the hot fact partition —
      // splitting partition i of one side requires re-reading the exact
      // shuffle output of partition i on the other, which an intervening
      // operator forbids. The operative mitigation for a hot key in a
      // fact-join-derived-dim is Skew.saltedJoin (next test) or
      // materializing the dim to storage first (both sides become plain
      // scans). Pinned so a Spark upgrade that lifts the limitation
      // surfaces as a failing expectation, not silent behavior drift.
      val dimAgg = fact.groupBy(col("key")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
      val throughAgg = fact.join(dimAgg, Seq("key"))
      assert(throughAgg.collect().length == totalN)
      assert(!throughAgg.queryExecution.executedPlan.toString.contains("skew=true"),
        "AQE now splits through an agg-derived dim — update the d9b posture docs")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedJoin scatters the hot key and reproduces the plain join exactly") {
    val fact = skewed()
    val dim = fact.groupBy(col("key")).agg(count(lit(1)).as("n"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("key"), col("seq"), col("n"))
        .collect().map(_.toString).sorted.toSeq
    val plain = canon(fact.join(dim, Seq("key")))
    val salted = canon(Skew.saltedJoin(fact, dim, "key", salts = 8))
    assert(salted == plain)
    // the scatter is real: the hot key's rows spread over all 8 salts
    val spread = fact.filter(col("key") === 0L)
      .withColumn("__salt",
        pmod(xxhash64(struct(fact.columns.map(col): _*)), lit(8)).cast("int"))
      .groupBy(col("__salt")).count().collect()
    assert(spread.length == 8, s"hot key landed on ${spread.length}/8 salts")
    assert(spread.map(_.getLong(1)).max < hotN / 2,
      "no salt may keep a majority of the hot key")
  }

  test("window over a pathological key: tail is linear in the hot key, results exact") {
    val df = skewed()
    // W1's shape: trailing rolling mean per key
    val w = Window.partitionBy(col("key")).orderBy(col("seq")).rowsBetween(-3, 0)
    val rolled = df.select(col("key"), col("seq"), col("value"),
      avg(col("value")).over(w).as("roll"))
    // the plan partitions by the key alone — never SinglePartition
    val plan = rolled.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("hashpartitioning(key"), s"window must shuffle by key:\n$plan")
    assert(!plan.contains("singlepartition"), s"window fell to a global partition:\n$plan")
    val t0 = System.nanoTime()
    val out = rolled.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == totalN, "window is row-preserving")
    // hot-key correctness: same sequential mean the window computes
    val hot = out.filter(_.getLong(0) == 0L).sortBy(_.getLong(1))
    assert(hot.length == hotN)
    for (p <- Seq(0, 1, 3, 50, hotN.toInt - 1)) {
      val vals = (math.max(0, p - 3) to p).map(i => (i % 97).toDouble)
      assert(math.abs(hot(p).getDouble(3) - vals.sum / vals.length) < 1e-9,
        s"rolling mean at hot position $p")
    }
    // the documented bound: the window CANNOT split a key, so the tail
    // task's input is hotN + its partition's fair share of cold keys.
    // Model it with the same hash HashPartitioning uses (Murmur3 via
    // hash()): max partition ≈ hot + cold/parts, and NEVER more than
    // hot + 3× fair share — linear in the hot key, zero amplification.
    val byPart = df.groupBy(pmod(hash(col("key")), lit(parts)).as("p"))
      .count().collect().map(_.getLong(1))
    val maxPart = byPart.max
    val fairCold = (totalN - hotN) / parts
    assert(maxPart >= hotN, "the hot key lives in one partition — that IS the tail")
    assert(maxPart <= hotN + 3 * fairCold,
      s"tail partition $maxPart exceeds hot + 3×fair-share ${hotN + 3 * fairCold}")
    info(f"window over 10%%-hot key: $secs%.2f s for $totalN rows, " +
      s"tail partition $maxPart rows (hot $hotN + fair cold ≈ $fairCold)")
  }

  test("rangeRolling: chunked plan equals the plain range window, hot key scatters over chunks") {
    import org.apache.spark.sql.expressions.WindowSpec
    val df = skewed()
    val win = 100L
    def aggs(w: WindowSpec): Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "cnt" -> count(col("value")).over(w),
      "s" -> sum(col("value")).over(w),
      "mx" -> max(col("value")).over(w))
    val plainW = Window.partitionBy(col("key")).orderBy(col("seq"))
      .rangeBetween(-win, 0)
    def canon(out: org.apache.spark.sql.DataFrame): Seq[String] =
      out.select(col("key"), col("seq"), col("cnt"), col("s"), col("mx"))
        .collect().map(_.toString).sorted.toSeq
    val plain = canon(aggs(plainW).foldLeft(df.toDF()) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    })
    val chunked = Skew.rangeRolling(df, Seq("key"), col("seq"), win)(aggs)
    assert(canon(chunked) == plain,
      "chunked range window must be row-for-row identical to the plain window")
    // the scatter is structural: the exchange hashes (key, __chunk), so
    // the hot key's rows land in span/W = 20000/400 = 50 chunk groups
    // instead of one window partition
    val plan = chunked.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(key") && plan.contains("__chunk"),
      s"chunked window must shuffle by (key, __chunk):\n$plan")
    val hotChunks = hotN / (win * 4)
    info(s"hot key scatters over $hotChunks chunk groups (was: 1 window partition)")
    assert(hotChunks >= 50)
    // floor-division chunking is exact for negative ords too: a span
    // crossing zero must not double- or zero-count at the boundary
    val neg = spark.range(-7L, 8L).select(lit(0L).as("key"),
      col("id").as("seq"), col("id").as("value"))
    val negPlain = canon(aggs(Window.partitionBy(col("key")).orderBy(col("seq"))
      .rangeBetween(-3L, 0)).foldLeft(neg.toDF()) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    })
    val negChunked = canon(Skew.rangeRolling(neg, Seq("key"), col("seq"), 3L)(aggs))
    assert(negChunked == negPlain, "negative-ord chunk boundaries must stay exact")
  }

  test("rowsRolling: two-phase plan equals the plain rows window, incl. sparse multi-chunk frames") {
    import org.apache.spark.sql.expressions.WindowSpec
    val df = skewed()
    val win = 5
    def aggs(w: WindowSpec): Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "cnt" -> count(col("value")).over(w),
      "s" -> sum(col("value")).over(w),
      "mx" -> max(col("value")).over(w))
    def canon(out: org.apache.spark.sql.DataFrame): Seq[String] =
      out.select(col("key"), col("seq"), col("cnt"), col("s"), col("mx"))
        .collect().map(_.toString).sorted.toSeq
    val plain = canon(aggs(Window.partitionBy(col("key")).orderBy(col("seq"))
      .rowsBetween(-win, 0)).foldLeft(df.toDF()) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    })
    // chunkSpan 400 makes each cold key's (key, chunk) group hold ~4
    // rows, so a 5-row frame reaches back MULTIPLE value chunks — the
    // sparse case where an adjacent-chunk carry alone would be wrong and
    // the global-rn prefix sum is load-bearing. The hot key (seq 0..20k
    // dense) exercises the dense path in the same run.
    val chunked = Skew.rowsRolling(df, Seq("key"), col("seq"), Nil,
      window = win, chunkSpan = 400L)(aggs)
    assert(canon(chunked) == plain,
      "two-phase rows window must be row-for-row identical to the plain window")
    // the scatter is structural: the final exchange hashes (key, __rchunk)
    val plan = chunked.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(key") && plan.contains("__rchunk"),
      s"rows window must shuffle by (key, __rchunk):\n$plan")
    val hotRchunks = hotN / (win.toLong * 4)
    info(s"hot key scatters over $hotRchunks row-chunk groups (was: 1 window partition)")
    assert(hotRchunks >= 1000)
    // negative ords flow through the same floor-div value chunking
    val neg = spark.range(-7L, 8L).select(lit(0L).as("key"),
      col("id").as("seq"), col("id").as("value"))
    val negPlain = canon(aggs(Window.partitionBy(col("key")).orderBy(col("seq"))
      .rowsBetween(-3, 0)).foldLeft(neg.toDF()) {
      case (acc, (n, c)) => acc.withColumn(n, c)
    })
    val negChunked = canon(Skew.rowsRolling(neg, Seq("key"), col("seq"), Nil,
      window = 3, chunkSpan = 4L)(aggs))
    assert(negChunked == negPlain, "negative-ord value chunks must stay exact")
  }

  test("seeded random corpora: rowsRolling equals the plain rows window across geometries") {
    import org.apache.spark.sql.expressions.WindowSpec
    import spark.implicits._
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(seed)
      val nKeys = 1 + rnd.nextInt(8)
      val n = 200 + rnd.nextInt(600)
      // strictly increasing, gappy, signed ord domain shared across keys
      // (so (key, ord) is unique — a total order, both plans' contract);
      // ~half the rows land on hot key 0
      var ord = -5000L
      val rows = (0 until n).map { _ =>
        ord += 1 + rnd.nextInt(97)
        val key = if (rnd.nextBoolean()) 0L else rnd.nextInt(nKeys).toLong
        (key, ord, rnd.nextInt(1000).toLong)
      }
      val df = rows.toDF("key", "seq", "value")
      val window = 1 + rnd.nextInt(7)
      val chunkSpan = 1L + rnd.nextInt(500)
      val chunkFactor = 2 + rnd.nextInt(5)
      def canon(out: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
        out.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      // rolling aggregates
      def aggs(w: WindowSpec): Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "cnt" -> count(col("value")).over(w),
        "s" -> sum(col("value")).over(w),
        "mx" -> max(col("value")).over(w))
      val rollCols = Seq("key", "seq", "cnt", "s", "mx")
      val plainRoll = canon(aggs(Window.partitionBy(col("key")).orderBy(col("seq"))
        .rowsBetween(-window, 0)).foldLeft(df.toDF()) {
        case (acc, (nm, c)) => acc.withColumn(nm, c)
      }, rollCols)
      val chunkedRoll = canon(Skew.rowsRolling(df, Seq("key"), col("seq"), Nil,
        window, chunkSpan, chunkFactor)(aggs), rollCols)
      assert(chunkedRoll == plainRoll,
        s"rowsRolling mismatch at seed=$seed window=$window span=$chunkSpan factor=$chunkFactor")
    }
  }

  test("chunked windows refuse temp-column collisions and degenerate chunkFactor") {
    val df = skewed().withColumnRenamed("value", "__chunk")
    val ex = intercept[IllegalArgumentException] {
      Skew.rangeRolling(df, Seq("key"), col("seq"), 10L)(w =>
        Seq("cnt" -> count(lit(1)).over(w)))
    }
    assert(ex.getMessage.contains("__chunk"))
    val ex2 = intercept[IllegalArgumentException] {
      Skew.rangeRolling(skewed(), Seq("key"), col("seq"), 10L, chunkFactor = 1)(w =>
        Seq("cnt" -> count(lit(1)).over(w)))
    }
    assert(ex2.getMessage.contains("chunkFactor"))
    val ex3 = intercept[IllegalArgumentException] {
      Skew.rowsRolling(skewed(), Seq("key"), col("seq"), Nil,
        window = 3, chunkSpan = 4L, chunkFactor = 1)(w =>
        Seq("cnt" -> count(lit(1)).over(w)))
    }
    assert(ex3.getMessage.contains("chunkFactor"))
  }
}
