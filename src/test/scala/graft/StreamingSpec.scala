package graft

import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.{ChainEdge, FeatureEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(minutes: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 UTC

  test("tumbling window aggregate over a memory stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    input.addData((ts(5), "click", 1.0), (ts(20), "click", 2.0), (ts(65), "view", 3.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM tumbling ORDER BY win_start, event_type")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    q.stop()
    assert(rows.toSeq == Seq(
      (ts(0).getTime, "click", 2L),
      (ts(60).getTime, "view", 1L)))
  }

  test("streaming dedup keeps the first arrival per key across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "event_id", "ts")
    val q = StreamingJobs.dedupFirstArrival(events)
      .writeStream.format("memory").queryName("st4dedup")
      .outputMode("append").start()
    // event-time-ordered arrival: batch 1, then a batch with duplicates
    input.addData((1L, "click", 10L, ts(0)), (1L, "view", 11L, ts(1)))
    q.processAllAvailable()
    input.addData((1L, "click", 12L, ts(2)), // dup key — dropped
      (2L, "click", 13L, ts(3))) // new key — kept
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM st4dedup ORDER BY user_id, event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    q.stop()
    assert(rows.toSeq == Seq((1L, "click", 10L), (1L, "view", 11L), (2L, "click", 13L)))
  }

  test("incremental near-dedup flags cross-batch and in-batch dups, stores only novel docs") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incdedup")
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.incrementalNearDedup(docs, store, out, ckpt).start()
    val base = "the quick brown fox jumps over the lazy dog tonight"
    input.addData((1L, base), (2L, "completely different content about spark engines"))
    q.processAllAvailable()
    input.addData(
      (3L, base.replace("tonight", "today")), // near-dup of stored doc 1
      (4L, "another brand new unrelated document entirely"),
      (5L, "another brand new unrelated document entirely")) // in-batch dup of 4
    // (5 is an exact copy: in-batch linkage is under test here, not LSH
    // recall at borderline similarity — SketchesSpec pins that)
    q.processAllAvailable()
    q.stop()
    val flags = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
      .toMap
    assert(flags(1L).isEmpty && flags(2L).isEmpty && flags(4L).isEmpty)
    assert(flags(3L).contains(1L), s"doc 3 should match stored doc 1: $flags")
    assert(flags(5L).contains(4L), s"doc 5 should match in-batch doc 4: $flags")
    // store holds signatures only for novel docs
    val stored = spark.read.parquet(store).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(stored == Set(1L, 2L, 4L))
  }

  test("incremental CDC dedup: cross-batch resync, in-batch keep-first, digest-only store") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inccdc")
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    // every token unique (seed-prefixed index): no in-doc chunk repeats,
    // so per-doc novelty expectations are exact — cross-doc dedup is the
    // thing under test here, not in-doc periodicity (d18's spec owns that)
    def mkText(seed: Int, words: Int): String =
      (1 to words).map(i => s"${seed}w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.incrementalCdcDedup(docs, store, out, ckpt).start()
    val base = mkText(7, 400)
    val other = mkText(13, 300)
    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    val fresh = mkText(23, 250)
    input.addData(
      (3L, "X " + base), // shifted copy: CDC boundaries resync vs STORED doc 1
      (4L, fresh),
      (5L, fresh))       // exact in-batch copy of 4: keep-first linkage
    q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks"), r.getAs[Long]("dup_chars")))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // batch-1 docs and the fresh batch-2 doc are all-novel
    for (id <- Seq(1L, 2L, 4L)) assert(rows(id)._2 == 0L, s"doc $id: ${rows(id)}")
    // the shifted copy dedupes against the STORE (cross-batch CDC resync)
    val (n3, dup3, dupChars3) = rows(3L)
    assert(n3 >= 4 && dup3 >= n3 - 2, s"doc 3 must resync vs stored doc 1: ${rows(3L)}")
    assert(dupChars3 > base.length * 0.5, s"doc 3 dup chars too low: $dupChars3")
    // the exact copy dedupes ENTIRELY against its in-batch twin
    val (n5, dup5, _) = rows(5L)
    assert(n5 == rows(4L)._1 && dup5 == n5, s"doc 5 must dedupe against doc 4: ${rows(5L)}")
    // store = digests of novel chunks only (sum of per-doc novel counts,
    // minus cross-doc digest collisions the accounting attributes as dup)
    val stored = spark.read.parquet(store).select("dg").collect().length
    val novel = rows.values.map { case (n, d, _) => n - d }.sum
    assert(stored == novel, s"store must hold exactly the novel digests: $stored vs $novel")
    // and nothing but digests rides the store
    assert(spark.read.parquet(store).columns.toSet == Set("dg", "batch_id"))
  }

  test("streaming HDR cells equal the batch derivation across two batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val events = input.toDF().toDF("ts", "value")
    val q = StreamingJobs.streamingHdrCells(events)
      .writeStream.format("memory").queryName("hdrcells")
      .outputMode("complete").start()
    val batch1 = Seq((ts(5), 0.012), (ts(20), 0.5), (ts(30), 17.3))
    val batch2 = Seq((ts(70), 1.0), (ts(80), 1.001), (ts(90), 250.0),
      (ts(95), -3.0)) // non-positive value: filtered, never bucketed
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.sql(
      "SELECT * FROM hdrcells ORDER BY win_start, e, m").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    q.stop()
    val batch = StreamingJobs.hdrCellsOf(
        (batch1 ++ batch2).toDF("ts", "value"))
      .orderBy(col("win_start"), col("e"), col("m")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(streamed.toSeq == batch.toSeq,
      "additive cells must make stream and batch structurally identical")
    // spot-pin one cell's geometry: v=12 (0.012) -> e=3, pw=8, m=8, lo=12
    assert(batch.exists(c => c._2 == 3L && c._3 == 8L && c._4 == 12L))
  }

  test("incremental data card: merged deltas equal the batch card over everything ingested") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft_cardstore").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cardckpt").toString
    val rnd = new scala.util.Random(5150)
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until (1 + rnd.nextInt(60))).map(_ => s"w${rnd.nextInt(200)}").mkString(" "))
    val batch1 = (1 to 40).map(doc) :+ (41L, "") // empty doc must stay counted
    val batch2 = (42 to 90).map(doc)
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.incrementalDataCard(
      input.toDF().toDF("doc_id", "text"), store, ckpt).start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // both batches' delta partitions exist; replay overwrites in place
    // partition-directory columns read back with inferred (int) type
    val batchIds = spark.read.parquet(s"$store/cells")
      .select("batch_id").distinct().collect()
      .map(_.getAs[Number](0).longValue).sorted
    assert(batchIds.toSeq == Seq(0L, 1L))
    val streamed = StreamingJobs.readDataCard(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    // the batch truth: x16 over everything ingested, via the same table
    // surface the oracled query reads
    val dir = java.nio.file.Files.createTempDirectory("graft_cardall").toString
    (batch1 ++ batch2).toDF("doc_id", "text").withColumn("lang", lit("en"))
      .write.parquet(s"$dir/documents.parquet")
    val batchCard = SparkEntry.queries("x16_shard_data_card")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    assert(streamed.toSeq == batchCard.toSeq,
      "additive carriers must make the incremental card equal the batch card")
  }

  test("streaming KMV sketches converge to the batch bottom-k across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(424)
    def doc(i: Int, src: String): (Long, String, String) =
      (i.toLong, (0 until 30).map(_ => s"${src}tk${rnd.nextInt(40)}").mkString(" "), src)
    val batch1 = (1 to 6).map(i => doc(i, "sA")) ++ (7 to 12).map(i => doc(i, "sB"))
    val batch2 = (13 to 18).map(i => doc(i, "sA")) :+ (19L, "short doc", "sB")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingJobs.streamingKmvSketches(
        input.toDF().toDF("doc_id", "text", "source"), k = 16)
      .writeStream.format("memory").queryName("kmvsk")
      .outputMode("complete").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM kmvsk ORDER BY source").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    q.stop()
    // batch truth from first principles: 16 smallest distinct gram hashes
    def md5h(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val bySrc = (batch1 ++ batch2).groupBy(_._3)
    bySrc.foreach { case (src, ds) =>
      val grams = ds.flatMap { d =>
        val ts = d._2.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
        if (ts.size < 6) Seq.empty[Long]
        else (0 to ts.size - 6).map(i => md5h(ts.slice(i, i + 6).mkString(" ")))
      }.toSet
      assert(streamed(src) == grams.toSeq.sorted.take(16),
        s"source $src sketch differs from the batch bottom-k")
    }
  }

  test("incremental substring dedup converges to batch d25 under doc-ordered arrival") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("incsubstr")
    val (store, out, ckpt) = (s"$dir/store", s"$dir/out", s"$dir/ckpt")
    def uniq(tag: String, k: Int): Seq[String] = (0 until k).map(i => s"$tag$i")
    val block20 = (0 until 20).map(i => s"blk$i")
    val block18 = (0 until 18).map(i => s"rep$i")
    val doc1 = 1L -> (uniq("a", 8) ++ block20 ++ uniq("b", 7)).mkString(" ")
    val doc2 = 2L -> (uniq("c", 5) ++ block20 ++ uniq("d", 9)).mkString(" ")
    val doc3 = 3L -> (uniq("g", 4) ++ block18 ++ uniq("h", 5) ++ block18).mkString(" ")
    val doc4 = 4L -> uniq("z", 25).mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.incrementalSubstrDedup(
      input.toDF().toDF("doc_id", "text"), store, out, ckpt).start()
    input.addData(doc1, doc4) // batch 0: canonical copies arrive first
    q.processAllAvailable()
    // batch 0 is all-novel → zero spans → schemaless output dir; the
    // reader API must return an empty typed frame, not throw
    assert(StreamingJobs.readSubstrSpans(spark, out).count() == 0)
    input.addData(doc2, doc3) // batch 1: cross-batch repeat + self-repeat
    q.processAllAvailable()
    q.stop()
    val streamed = StreamingJobs.readSubstrSpans(spark, out)
      .select("doc_id", "span_start", "span_end", "n_tokens")
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)).toSeq
    // batch truth: the oracled d25 over everything ingested — arrival
    // followed doc_id order, so first-arrival == min-(doc_id, pos)
    val bdir = java.nio.file.Files.createTempDirectory("incsubstr_b").toString
    Seq(doc1, doc2, doc3, doc4).toDF("doc_id", "text")
      .write.parquet(s"$bdir/documents.parquet")
    val batchSpans = SparkEntry.queries("d25_exact_substring_dedup")(spark, bdir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed == batchSpans,
      s"streamed $streamed != batch $batchSpans")
    assert(streamed.map(_._1).toSet == Set(2L, 3L),
      "exactly the cross-batch repeat and the self-repeat carry spans")
    // the store holds 8-byte digests only, never gram text
    assert(spark.read.parquet(store).columns.toSet == Set("h", "batch_id"))
  }

  test("streaming CMS cells converge cell-identical to the batch sketch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    def doc(i: Int): (Long, String) =
      (i.toLong, (0 until 25).map(_ => s"tok${rnd.nextInt(30)}").mkString(" "))
    val batch1 = (1 to 8).map(doc)
    val batch2 = (9 to 14).map(doc) :+ (15L, "")
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.streamingCmsCells(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cmscells")
      .outputMode("complete").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    def n3(r: org.apache.spark.sql.Row) =
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue)
    val streamed = spark.sql("SELECT * FROM cmscells ORDER BY r, c").collect()
      .map(n3).toSeq
    q.stop()
    // batch truth: the SAME shared definition over the union — additive
    // cells, so streamed-in-two-batches must equal batched-at-once
    val batch = graft.operators.PipelineOps
      .cmsCells((batch1 ++ batch2).toDF("doc_id", "text"))
      .orderBy("r", "c").collect()
      .map(n3).toSeq
    assert(streamed == batch,
      "streaming CMS cells must be cell-identical to the batch sketch")
    assert(streamed.nonEmpty && streamed.map(_._3).sum == 14 * 25 * 4,
      "every token increments exactly one cell in each of the 4 rows")
  }

  test("streaming AMS counters converge counter-identical to the batch sketch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(4048)
    def doc(i: Int, lang: String): (Long, String, String) =
      (i.toLong, (0 until 20).map(_ => s"w${rnd.nextInt(25)}").mkString(" "), lang)
    val batch1 = (1 to 6).map(i => doc(i, "en")) ++ (7 to 10).map(i => doc(i, "fr"))
    val batch2 = (11 to 16).map(i => doc(i, "en")) :+ (17L, "", "fr")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingJobs.streamingAmsCounters(
        input.toDF().toDF("doc_id", "text", "lang"))
      .writeStream.format("memory").queryName("amsctr")
      .outputMode("complete").start()
    input.addData(batch1: _*)
    q.processAllAvailable()
    input.addData(batch2: _*)
    q.processAllAvailable()
    def ln(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)
    val streamed = spark.sql("SELECT * FROM amsctr ORDER BY lang, sx").collect()
      .map(ln).toSeq
    q.stop()
    val batch = graft.operators.PipelineOps
      .amsCounters((batch1 ++ batch2).toDF("doc_id", "text", "lang"))
      .orderBy("lang", "sx").collect()
      .map(ln).toSeq
    assert(streamed == batch,
      "streaming AMS counters must equal the batch counters (linear sketch)")
    // 32 counters per lang, and each counter is bounded by the token count
    assert(streamed.count(_._1 == "en") == 32 && streamed.count(_._1 == "fr") == 32)
    val nEn = 12 * 20
    assert(streamed.filter(_._1 == "en").forall(c => math.abs(c._3) <= nEn))
  }

  test("streaming decontamination drops eval-tainted docs across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_decon").toString
    // static eval suite: one doc, 8 tokens => 3 eval 6-grams
    val evalDigests = StreamingJobs.evalDigestsOf(
      Seq((7L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")).persist()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.streamingDecontaminate(
      docs, evalDigests, s"$dir/out", s"$dir/ckpt").start()
    input.addData(
      (1L, "alpha beta gamma delta epsilon zeta different tail here now"), // tainted
      (2L, "totally unrelated words about nothing important here at all"))
    q.processAllAvailable()
    input.addData(
      (3L, "more clean text with no benchmark overlap at all today"),
      (4L, "prefix words then beta gamma delta epsilon zeta eta trailing")) // tainted
    q.processAllAvailable()
    q.stop()
    evalDigests.unpersist()
    val kept = spark.read.parquet(s"$dir/out")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"contaminated docs 1 and 4 must be dropped: $kept")
  }

  test("near-dedup store refuses a stream with a different band geometry") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_geom").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs.incrementalNearDedup(docs, s"$dir/store", s"$dir/out",
      s"$dir/ckpt").start()
    input.addData((1L, "some document text to seed the signature store"))
    q.processAllAvailable()
    input.addData((2L, "a second batch advances the store's lineage"))
    q.processAllAvailable(); q.stop()
    def failsWith(marker: String)(body: => Unit): Unit = {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](body)
      assert(e.getMessage.contains(marker) ||
        Option(e.getCause).exists(_.getMessage.contains(marker)), e.getMessage)
    }
    // same store, explicitly different geometry -> the batch must fail
    // fast, not silently match nothing forever
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingJobs.incrementalNearDedup(input2.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt2",
      numPerms = 32, rowsPerBand = 8).start()
    input2.addData((3L, "another document"))
    failsWith("geometry") { q2.processAllAvailable() }
    q2.stop()
    // same store, SAME geometry, fresh checkpoint -> the store's lineage
    // (max batch_id 1) is ahead of the rebound stream's batch 0: continuing
    // would dedup against nothing and clobber the old partitions
    val input3 = MemoryStream[(Long, String)]
    val q3 = StreamingJobs.incrementalNearDedup(input3.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt3").start()
    input3.addData((4L, "yet another document"))
    failsWith("lineage") { q3.processAllAvailable() }
    q3.stop()
    // and half-specified knobs fail at configuration time, pre-start
    intercept[IllegalArgumentException] {
      StreamingJobs.incrementalNearDedup(docs, s"$dir/s2", s"$dir/o2",
        s"$dir/c2", numPerms = 64)
    }
  }

  test("near-dedup store refuses a foreign batch-0 lineage; adoptStore rebases it") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage0").toString
    def failsWith(marker: String)(body: => Unit): Unit = {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](body)
      assert(e.getMessage.contains(marker) ||
        Option(e.getCause).exists(_.getMessage.contains(marker)), e.getMessage)
    }
    // lineage A runs exactly ONE batch: the store holds only batch-0 rows,
    // so max(batch_id) <= batchId alone cannot tell a fresh foreign
    // checkpoint (also at batch 0) from a legitimate batch-0 replay — the
    // one case the pre-marker probe let through (silent clobber of the
    // old batch-0 partition after deduping against an empty corpus)
    val inA = MemoryStream[(Long, String)]
    val qA = StreamingJobs.incrementalNearDedup(inA.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/outA", s"$dir/ckptA").start()
    val seed = "the quick brown fox jumps over the lazy dog tonight"
    inA.addData((1L, seed))
    qA.processAllAvailable(); qA.stop()
    // fresh checkpoint, same store, batch 0 vs batch-0-only store: refuse
    val inB = MemoryStream[(Long, String)]
    val qB = StreamingJobs.incrementalNearDedup(inB.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/outB", s"$dir/ckptB").start()
    inB.addData((2L, "unrelated content"))
    failsWith("lineage") { qB.processAllAvailable() }
    qB.stop()
    // explicit opt-in: the store is rebased (batch_id = -1, rows kept in
    // the corpus forever) and re-claimed; the adopted signature still
    // catches a near-dup arriving under the new lineage
    spark.conf.set("graft.stream.adoptStore", "true")
    try {
      val inC = MemoryStream[(Long, String)]
      val qC = StreamingJobs.incrementalNearDedup(inC.toDF().toDF("doc_id", "text"),
        s"$dir/store", s"$dir/outC", s"$dir/ckptC").start()
      inC.addData((3L, seed.replace("tonight", "today"))) // near-dup of adopted doc 1
      qC.processAllAvailable(); qC.stop()
      val flags = spark.read.parquet(s"$dir/outC")
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toMap
      assert(flags(3L).contains(1L), s"doc 3 should match the adopted doc 1: $flags")
      val batches = spark.read.parquet(s"$dir/store")
        .select("doc_id", "batch_id")
        .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toMap
      assert(batches(1L) == -1L, s"adopted rows must be rebased to batch -1: $batches")
    } finally spark.conf.unset("graft.stream.adoptStore")
  }

  test("near-dedup geometry gate is the _graft_geometry marker, not a row scan") {
    // r11: per-batch store sanity must be O(1) FS reads (the marker +
    // one directory listing), never a Spark aggregate over every stamped
    // row — that scan grew linearly with stream age. Pin the marker as
    // the LIVE gate: it exists after the first batch, records p/r, and a
    // tampered marker fails the NEXT batch with the geometry error even
    // though every stored row still carries the stream's own stamps (a
    // row scan would pass — only the marker read can produce this error).
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_geommark").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.incrementalNearDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    input.addData((1L, "seed document text for the geometry marker store"))
    q.processAllAvailable(); q.stop()
    val marker = java.nio.file.Paths.get(s"$dir/store/_graft_geometry")
    assert(java.nio.file.Files.exists(marker), "first batch must stamp the marker")
    val recorded = new String(java.nio.file.Files.readAllBytes(marker))
    assert(recorded.matches("""\d+/\d+"""), s"marker must record p/r, got '$recorded'")
    // rewrite THROUGH the hadoop fs so the sidecar .crc stays consistent:
    // a raw java.nio write makes the next read die on ChecksumException
    // (also a failure, but it would pass this assert only because the
    // marker PATH contains 'geometry' — the parse-and-compare path is
    // what this test exists to pin)
    val hp = new org.apache.hadoop.fs.Path(s"$dir/store/_graft_geometry")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(hp, true)
    try out.write("9999/3".getBytes) finally out.close()
    val q2 = StreamingJobs.incrementalNearDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    input.addData((2L, "a second document under the tampered marker"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def msg(t: Throwable): String =
      Option(t.getMessage).getOrElse("") +
        Option(t.getCause).map(c => " | " + Option(c.getMessage).getOrElse("")).getOrElse("")
    assert(msg(e).contains("band geometry") && msg(e).contains("9999"),
      s"expected the parse-and-compare mismatch error, got: ${msg(e)}")
    q2.stop()
  }

  test("a foreign store AHEAD of a new stream adopts; rolled-back own store refuses") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lineageN").toString
    // lineage A runs TWO batches, so its digest store reaches batch 1 —
    // ahead of any fresh checkpoint's batch 0. The rollback pairing
    // check must not fire for a FOREIGN store (its batch numbering is
    // meaningless under a new lineage; r10 fix — the pre-fix order ran
    // the rollback require first, making the documented adoptStore path
    // unreachable exactly here)
    val inA = MemoryStream[(Long, String)]
    def mkText(seed: Int): String = (1 to 300).map(i => s"${seed}w$i").mkString(" ")
    val qA = StreamingJobs.incrementalCdcDedup(inA.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/outA", s"$dir/ckptA").start()
    inA.addData((1L, mkText(7)))
    qA.processAllAvailable()
    inA.addData((2L, mkText(13)))
    qA.processAllAvailable(); qA.stop()
    assert(spark.read.parquet(s"$dir/store")
      .agg(org.apache.spark.sql.functions.max("batch_id"))
      .collect()(0).getAs[Number](0).longValue == 1L)
    spark.conf.set("graft.stream.adoptStore", "true")
    try {
      val inB = MemoryStream[(Long, String)]
      val qB = StreamingJobs.incrementalCdcDedup(inB.toDF().toDF("doc_id", "text"),
        s"$dir/store", s"$dir/outB", s"$dir/ckptB").start()
      inB.addData((3L, mkText(7))) // exact copy of adopted doc 1's text
      qB.processAllAvailable(); qB.stop()
      val rows = spark.read.parquet(s"$dir/outB").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks"))).toMap
      assert(rows(3L)._2 == rows(3L)._1 && rows(3L)._1 > 0,
        s"doc 3 must fully dedupe against the adopted store: $rows")
      // adopted rows rebased to -1
      val bids = spark.read.parquet(s"$dir/store")
        .select("batch_id").distinct()
        .collect().map(_.getAs[Number](0).longValue).toSet
      assert(bids.contains(-1L), s"adopted digests must sit at batch -1: $bids")
    } finally spark.conf.unset("graft.stream.adoptStore")
  }

  test("phantom batch_id directory passes the pairing check; real rows ahead refuse") {
    // r11 review: maxBatchIn reads DIRECTORY names, and a batch_id=N dir
    // can outlive its data files (aborted write, lost parquet). The
    // pairing check must confirm the listing's claim with one row scan
    // before refusing — phantom dirs pass, genuinely-ahead rows refuse.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phantom").toString
    def mkText(seed: Int): String = (1 to 300).map(i => s"${seed}w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.incrementalCdcDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    input.addData((1L, mkText(7)))
    q.processAllAvailable()
    input.addData((2L, mkText(13)))
    q.processAllAvailable(); q.stop()
    // plant a PHANTOM partition: directory exists, zero data files
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/store/batch_id=99"))
    // same checkpoint resumes at batch 2 < 99: pre-fix this bricked the
    // stream; the row-scan fallback sees max(batch_id) = 1 and proceeds
    val q2 = StreamingJobs.incrementalCdcDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    input.addData((3L, mkText(7))) // copy of doc 1: dedups against the store
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(s"$dir/out").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks"))).toMap
    assert(rows(3L)._2 == rows(3L)._1 && rows(3L)._1 > 0,
      s"the stream must proceed past the phantom dir and still dedup: $rows")
    // now make batch 99 REAL: rows genuinely ahead of the stream refuse
    Seq((12345L, 99L)).toDF("dg", "batch_id")
      .write.partitionBy("batch_id").mode("append").parquet(s"$dir/store")
    val q3 = StreamingJobs.incrementalCdcDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    input.addData((4L, mkText(23)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    val m = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(m.contains("rolled-back checkpoint"), m)
    q3.stop()
  }

  test("sketch version guard: stamp, mismatch fail-fast, pre-version adopt") {
    val base = java.nio.file.Files.createTempDirectory("graft_skver").toString
    // fresh dir: claimed and stamped
    StreamingJobs.sketchVersionGuard(spark, s"$base/fresh", "cms-km", 2)
    val marker = java.nio.file.Paths.get(s"$base/fresh/_graft_sketch_version")
    assert(java.nio.file.Files.exists(marker))
    assert(new String(java.nio.file.Files.readAllBytes(marker)) == "cms-km/2")
    // same version: idempotent
    StreamingJobs.sketchVersionGuard(spark, s"$base/fresh", "cms-km", 2)
    // derivation bump: the stale state fails fast naming both versions
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.sketchVersionGuard(spark, s"$base/fresh", "cms-km", 3)
    }
    assert(e.getMessage.contains("cms-km/2") && e.getMessage.contains("cms-km/3"),
      e.getMessage)
    // populated-but-unmarked dir (pre-stamping state): refuse without the
    // explicit adoption conf; adopt re-stamps
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/old"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$base/old/state"), "x".getBytes)
    val e2 = intercept[IllegalArgumentException] {
      StreamingJobs.sketchVersionGuard(spark, s"$base/old", "cms-km", 2)
    }
    assert(e2.getMessage.contains("predates"), e2.getMessage)
    spark.conf.set("graft.sketch.adoptVersion", "true")
    try StreamingJobs.sketchVersionGuard(spark, s"$base/old", "cms-km", 2)
    finally spark.conf.unset("graft.sketch.adoptVersion")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/old/_graft_sketch_version")))
  }

  test("streaming CMS via the checkpoint overload guards the derivation version") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cmsver").toString + "/ckpt"
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.streamingCmsCells(
        input.toDF().toDF("doc_id", "text"), ckpt)
      .writeStream.format("memory").queryName("cmsver")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    input.addData((1L, "alpha beta gamma"))
    q.processAllAvailable(); q.stop()
    // the checkpoint now carries the version marker beside the state
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$ckpt/_graft_sketch_version")))
    // tamper: a checkpoint written under an older derivation must refuse
    // at stream-DEFINITION time, before any state merges
    val hp = new org.apache.hadoop.fs.Path(s"$ckpt/_graft_sketch_version")
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(hp, true)
    try out.write("cms-km/1".getBytes) finally out.close()
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.streamingCmsCells(input.toDF().toDF("doc_id", "text"), ckpt)
    }
    assert(e.getMessage.contains("cms-km/1"), e.getMessage)
  }

  test("per-micro-batch Spark job count stays constant as the store ages") {
    // r11 verdict #2: the zero-per-batch-store-probe claim, pinned by a
    // listener instead of code reading. Every batch of identical shape
    // must run the SAME number of Spark jobs regardless of how many
    // batches preceded it — a reintroduced per-batch store aggregate
    // (the pre-r11 geometry row-scan, a count() probe) adds at least one
    // job to every later batch and fails the equality.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jobage").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.incrementalNearDedup(input.toDF().toDF("doc_id", "text"),
      s"$dir/store", s"$dir/out", s"$dir/ckpt").start()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // identical batch SHAPE each round (one fresh 10-token doc) so the
      // only thing that varies across rounds is store age
      val counts = (0 until 6).map { i =>
        // drain async listener events from the previous round first
        // (the PrefixJoinSpec convention — the bus is private[spark])
        Thread.sleep(400)
        val before = jobs.get()
        input.addData((100L + i, (1 to 10).map(w => s"b${i}w$w").mkString(" ")))
        q.processAllAvailable()
        Thread.sleep(400)
        jobs.get() - before
      }
      q.stop()
      // batch 0 creates the store (different job shape); compare 1..5.
      // Two teeth: (a) the count must not VARY with store age, and
      // (b) it must not exceed the measured write-path constant — 16 on
      // Spark 4.1.2 / local[2] / AQE for this exact batch shape, with
      // sig and dupOf built eagerly (validated: a planted per-batch
      // raw.count() store probe reads 18). (a) alone cannot catch a probe
      // (constant +k per batch); (b) alone would allow age-proportional
      // growth on the last batch.
      val steady = counts.drop(1)
      assert(steady.distinct.size == 1,
        s"per-batch job count must not vary with stream age: $counts")
      assert(steady.head <= 16,
        s"steady-state batch runs more jobs than the write path needs " +
          s"(probe reintroduced?): $counts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("watermark drops late rows once the window is past") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.tumblingCounts(events)
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("update").start()
    input.addData((ts(5), "click", 1.0))
    q.processAllAvailable()
    // advance the watermark past the [0h,1h) window end (75m - 10m = 65m)
    input.addData((ts(75), "view", 1.0))
    q.processAllAvailable()
    // this row is now later than the watermark -> dropped, no new update
    input.addData((ts(6), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val updates = spark.sql(
      "SELECT n FROM late_drop WHERE event_type = 'click'").collect().map(_.getLong(0))
    assert(updates.toSeq == Seq(1L), "late row must not re-update the closed window")
  }

  test("foreachBatch upsert merges counts across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val q = StreamingJobs.upsertQuery(events, s"$dir/state", s"$dir/ckpt").start()
    input.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2)))
    q.processAllAvailable()
    input.addData((1L, ts(10)), (3L, ts(11)))
    q.processAllAvailable()
    q.stop()
    val state = spark.read.parquet(s"$dir/state")
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(state.toSeq == Seq((1L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("events parquet drives the windowed aggregate as a file-source stream") {
    // the driver's events table as a file stream (FIXTURES.md §2): same
    // window definition, streaming execution must converge to the batch
    // answer on the closed input.
    val dir = "/root/testdata/sf0.001"
    val nanosSpark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val batchRaw = graft.Tables.events(nanosSpark, dir)
    val schema = nanosSpark.read.parquet(s"$dir/events.parquet").schema
    // file streams watch a directory; stage the (read-only) table file
    val stage = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val streamRaw = graft.Tables.normalizeEventTs(
      nanosSpark.readStream.schema(schema).parquet(stage.toString))
    val q = StreamingJobs.tumblingCounts(streamRaw)
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = nanosSpark.sql(
        "SELECT win_start, event_type, n FROM file_stream ORDER BY win_start, event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val batch = batchRaw
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .orderBy("start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("stateful chain building emits G1 neighbour edges across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FeatureEvent]
    val q = StreamingJobs.chainEdges(input.toDS())
      .writeStream.format("memory").queryName("chains")
      .outputMode("append").start()
    input.addData(FeatureEvent(1, 10, ts(0)), FeatureEvent(1, 11, ts(1)),
      FeatureEvent(2, 20, ts(0)))
    q.processAllAvailable()
    input.addData(FeatureEvent(1, 12, ts(2)), FeatureEvent(2, 21, ts(3)))
    q.processAllAvailable()
    q.stop()
    val edges = spark.sql("SELECT * FROM chains ORDER BY user_id, src")
      .as[ChainEdge].collect().toSeq
    assert(edges == Seq(ChainEdge(1, 10, 11), ChainEdge(1, 11, 12),
      ChainEdge(2, 20, 21)))
  }

  test("streaming quality gate drops rule-violating docs inside the plan") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    // stateless per-row gate: composes into the streaming plan directly
    // (no foreachBatch) — SemDedupGopherSpec owns the per-rule flags;
    // this pins that the SAME expressions gate a live stream
    val gated = StreamingJobs.streamingQualityGate(
      input.toDF().toDF("doc_id", "text"))
    val q = gated.select("doc_id").writeStream.format("memory")
      .queryName("gate_out").outputMode("append").start()
    input.addData(
      // 20 words, mean length 5, stopwords the/of => passes
      (1L, "the quick brown foxes jumped over lazy dogs while many other " +
        "small animals watched from of green field near town"),
      // 7 space-split words => word-count rule drops it
      (2L, "- alpha beta gamma\n- delta epsilon zeta"))
    q.processAllAvailable()
    input.addData(
      // 26 one-char words => mean-word-length rule drops it
      (3L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      // 20 words, mean length 5, stopwords the/with => passes
      (4L, "the state keeps nothing here because every rule runs inside " +
        "codegen over plain columns today right with more good words"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.sql("select doc_id from gate_out")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L), s"rule violators 2 and 3 must be dropped: $kept")
  }

  test("classifier gate drops negative-logit docs across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // independent weight re-derivation (MessageDigest, MixDecontamSpec's
    // t14 helper) picks one positive- and one negative-weight token, so
    // the planted stream provably exercises both sides of the threshold
    def wt(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 4096L *
        2654435761L + 40503L) % 2003L - 1001L
    }
    val toks = (0 until 100).map(i => s"tok$i")
    val pos = toks.find(wt(_) > 0).get
    val neg = toks.find(wt(_) < 0).get

    val input = MemoryStream[(Long, String)]
    val gated = StreamingJobs.streamingClassifierGate(
      input.toDF().toDF("doc_id", "text"))
    val q = gated.select("doc_id").writeStream.format("memory")
      .queryName("clf_out").outputMode("append").start()
    input.addData((1L, s"$pos $pos"), (2L, s"$neg $neg"))
    q.processAllAvailable()
    input.addData((3L, s"$pos $neg $pos"), (4L, neg))
    q.processAllAvailable()
    q.stop()
    val kept = spark.sql("select doc_id from clf_out")
      .collect().map(_.getLong(0)).toSet
    val exp = Map(
      1L -> (2 * wt(pos)), 2L -> (2 * wt(neg)),
      3L -> (2 * wt(pos) + wt(neg)), 4L -> wt(neg))
      .collect { case (id, logit) if logit >= 0 => id }.toSet
    assert(kept == exp, s"expected $exp, got $kept")
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(4L))
  }

  test("streaming sequence pack: offsets continue across micro-batches per shard") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import graft.operators.ShardSink
    val input = MemoryStream[(Long, Long)]
    val packed = StreamingJobs.streamingSequencePack(
      input.toDS().map { case (id, n) => StreamingJobs.PackDoc(id, n) },
      nShards = 2, packTokens = 100L)
    val q = packed.writeStream.format("memory")
      .queryName("pack_out").outputMode("append").start()
    val batches = Seq(
      Seq((1L, 60L), (2L, 50L), (3L, 70L), (4L, 40L)),
      Seq((5L, 80L), (6L, 30L), (7L, 90L)))
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val rows = spark.sql("select * from pack_out")
      .as[StreamingJobs.PackedDoc].collect().toSet

    // independent replay: per-shard running offsets survive the batch
    // boundary; within a batch a shard packs in doc_id order
    def shardOf(id: Long): Int = (ShardSink.sampleHash(id) % 2).toInt
    val off = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    val exp = batches.flatMap { b =>
      b.groupBy { case (id, _) => shardOf(id) }.toSeq.flatMap { case (s, ds) =>
        ds.sortBy(_._1).map { case (id, n) =>
          val o = off(s); off(s) = o + n
          StreamingJobs.PackedDoc(id, s, o, o / 100L)
        }
      }
    }.toSet
    assert(rows == exp, s"expected $exp, got $rows")
    // the law the test exists for: both shards received docs in both
    // batches, and at least one batch-2 offset is strictly positive and
    // continues a batch-1 prefix (state survived the boundary)
    val b2 = exp.filter(p => p.doc_id >= 5L)
    assert(b2.exists(_.tok_offset > 0L), s"no continued offset in $b2")
  }
}
