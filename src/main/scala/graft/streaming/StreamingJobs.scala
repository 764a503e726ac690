package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY §2.10 — the reference has no streaming, but its enrichment
  * scripts are incremental batch upserts (MERGE ... ON MATCH SET,
  * 02_addNucleotideCompositionMetrics.cypher:4-11). This module exposes the
  * same surface through Structured Streaming:
  *
  *  - watermarked tumbling/sliding windowed aggregates (streaming analogue
  *    of the W1-W3 trailing windows);
  *  - `foreachBatch` keyed merge — the J11 upsert pattern against a
  *    parquet-backed state table;
  *  - stateful chain building (`flatMapGroupsWithState`) — the G1
  *    neighbour-edge derivation on a live feed (SURVEY §2.10 stretch goal).
  *
  * All operators are partitioned by the natural key (user/strain), so state
  * scales horizontally with executors; watermarks bound state size.
  */
object StreamingJobs {

  /** Tumbling windowed counts/means with a 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding windowed counts (1h window, 30m slide). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** ST4 streaming dedup: keep the first arrival per (user, type) key.
    * State is bounded by the watermark (keys older than the horizon are
    * dropped from the dedup map — the only state shape that survives an
    * unbounded stream). Converges to the st4 batch view when arrival
    * order follows event time.
    */
  def dedupFirstArrival(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      // WithinWatermark, not dropDuplicates: plain dropDuplicates only
      // evicts state when the event-time column is part of the key, so
      // a growing key space would grow state forever. The tradeoff is
      // explicit: a key can re-emit after its watermark expires.
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))

  /** Incremental near-duplicate detection over an unbounded document
    * stream — the 100 TB ingest shape: each micro-batch is MinHash-signed
    * once, checked against the persisted signature store (band-key join,
    * exact-Jaccard verify — PipelineOps.nearDupPairs) and against itself,
    * then only NOVEL documents' signatures append to the store. The store
    * carries signatures, never text: ~100 longs/doc regardless of document
    * size. At warehouse scale the store would be written bucketed by band
    * key (Bucketing.writeBucketed) so the per-batch candidate join is
    * shuffle-free on the store side. Dup linkage is one-hop (dup_of = the
    * matched doc); batch-mode d8 does the full transitive closure.
    *
    * Band geometry defaults to [[graft.operators.Similarity.geometryFor]]
    * at `minJaccard` (the verify floor IS the tuner's input; `graft.lsh.*`
    * session confs override cluster-wide), so the
    * default stream has ≥ 0.8 candidate recall at its own floor; pass
    * BOTH knobs to pin a geometry explicitly. The store only ever holds
    * ONE geometry — bands from different geometries never compare — so
    * every store row carries (num_perms, rows_per_band) and each batch
    * fails fast on a mismatch instead of silently matching nothing
    * against a store written under different knobs.
    */
  /** Streaming decontamination — d10's eval-overlap gate at INGEST time:
    * each micro-batch of (doc_id, text) is 6-gram-digested and probed
    * against a static eval digest frame; contaminated documents are
    * dropped before the clean append. The gate a live crawl pipeline
    * runs so eval-tainted pages never reach the training store.
    *
    * The eval frame is static per stream (benchmark suites change by
    * release, not by batch — restart the stream to adopt a new one) and
    * bounded by the SUITE size, so at scale the caller persists it once
    * and Spark broadcasts the per-batch semi join. Per batch: digests
    * only shuffle (8 bytes), the probe is LEFT SEMI (no multiplication),
    * the doc gate LEFT ANTI — d10's exact shapes, re-run incrementally.
    * foreachBatch (incrementalNearDedup's precedent) because the
    * gram-explode → per-doc distinct → anti-join chain needs full batch
    * semantics, not row-at-a-time append.
    */
  def streamingDecontaminate(docs: DataFrame, evalDigests: DataFrame,
      outPath: String, checkpoint: String) = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        graft.functions.GraftExtensions.registerInto(s)
        val grams = batch.select(col("doc_id"),
          explode(expr(
            "hashed_ngrams(filter(split(lower(text), ' '), x -> x != ''), 6)"))
            .as("h"))
        val contaminated = grams.join(evalDigests, Seq("h"), "left_semi")
          .select(col("doc_id")).distinct()
        batch.join(contaminated, Seq("doc_id"), "left_anti")
          .write.mode("append").parquet(outPath)
        ()
      }
  }

  /** Streaming Gopher quality gate — t12's rule table applied at ingest
    * time: every rule is a stateless per-row projection (exact integer
    * cross-multiplies over the text column), so the gate composes
    * DIRECTLY into the streaming plan as a select + filter inside
    * whole-stage codegen — no foreachBatch, no state store; watermarks
    * and sink semantics pass through unchanged. This is the contrast
    * case to [[streamingDecontaminate]]/[[incrementalNearDedup]], whose
    * cross-document semantics force batch boundaries. Returns the gated
    * stream with the rule flags retained for downstream QA rollups.
    */
  def streamingQualityGate(docs: DataFrame, minStop: Int = 1): DataFrame =
    graft.operators.PipelineOps.gopherFlags(docs, minStop)
      .filter(col("pass") === 1)

  /** t14's hashed linear classifier as a stateless ingest gate — like
    * [[streamingQualityGate]], a pure select + filter inside whole-stage
    * codegen (no foreachBatch, no state store): the logit is a per-row
    * closed form, so the SAME expressions that batch-score the corpus
    * gate a live stream. `minLogit` is the operating point a curator
    * picks from the batch score distribution (t14's default keep rule
    * is logit >= 0).
    */
  def streamingClassifierGate(docs: DataFrame, minLogit: Long = 0L): DataFrame =
    graft.operators.PipelineOps.classifierScore(docs)
      .filter(col("logit") >= minLogit)

  /** d18's content-defined chunker at ingest time — the third stateless
    * gate: chunk boundaries are a per-DOCUMENT closed form (the
    * `window_hashes` kernel + span arithmetic + digests, no cross-row
    * state), so the SAME projection that chunks the batch corpus chunks
    * a live stream inside the streaming plan — no foreachBatch, no
    * state store; watermarks and sink semantics pass through unchanged.
    * Emits (doc_id, chunk_idx, start, clen, dg) rows; pair with
    * [[incrementalCdcDedup]] when the digests must be deduplicated
    * against everything previously ingested.
    */
  def streamingCdcChunks(docs: DataFrame): DataFrame =
    graft.operators.PipelineOps.cdcChunks(docs)

  /** Incremental per-shard data-card maintenance — x16's card kept
    * current over an unbounded document stream. The design point:
    * every card carrier is ADDITIVE (HDR cell counts/sums SUM-merge,
    * min/max MIN/MAX-merge, HLL registers MAX-merge), so incremental
    * maintenance needs NO read-modify-write state at all — each batch
    * writes its own delta frames into a batch_id partition (replay of a
    * half-finished batch dynamically OVERWRITES its own partition, so
    * idempotency is structural, the incrementalCdcDedup discipline
    * without the store probe), and [[readDataCard]] merges deltas at
    * read time. Store size: ≤ (shards × buckets) + (shards × 64) rows
    * per batch — independent of document volume.
    */
  def incrementalDataCard(docs: DataFrame, storePath: String,
      checkpoint: String) = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        // store↔checkpoint pairing, the incrementalCdcDedup discipline:
        // a card store whose deltas were written by a lineage that
        // reached a LATER batch than this stream paired with a
        // rolled-back checkpoint would silently double-merge the
        // rolled-back batches at read time. batch_id is the partition
        // column, so its max comes from ONE FileSystem directory listing
        // per grain ([[maxBatchIn]]) — a per-batch Spark aggregation job
        // over the store would grow linearly with stream age (one
        // partition per batch forever) just to validate pairing.
        val seen = (maxBatchIn(s, s"$storePath/cells") ++
          maxBatchIn(s, s"$storePath/regs")).reduceOption(_ max _)
        // lineage marker at the store ROOT (one ownership for both delta
        // grains); on explicit adoption both subdirs rebase to
        // batch_id = -1 — additive deltas, so the adopted rows keep
        // merging into the card forever and -1 never collides with a
        // partition this lineage dynamically overwrites. Guard BEFORE
        // the pairing require: a foreign store's batch numbering is
        // meaningless (adoption rebases it), so checking it first would
        // make the documented adoptStore path unreachable whenever the
        // foreign store is ahead of this stream's batch counter.
        val adopted = lineageGuard(s, storePath, checkpoint,
          storeHasRows = seen.nonEmpty,
          rebasePaths = Seq(s"$storePath/cells", s"$storePath/regs"))
        if (!adopted) requirePairing("card", storePath, batchId, seen,
          // confirm across BOTH delta grains (whichever have rows)
          () => Seq(s"$storePath/cells", s"$storePath/regs")
            .flatMap(p =>
              try rowMaxBatch(s.read.parquet(p))
              catch { case _: org.apache.spark.sql.AnalysisException => None })
            .maxOption)
        val base = graft.operators.PipelineOps
          .shardCardBase(batch.select(col("doc_id"), col("text")))
          .persist() // two grains read it — don't tokenize twice
        try {
          // build the cache NOW, as incrementalNearDedup does: a cache first
          // built inside a write under AQE races that write's own scans
          base.count()
          graft.operators.PipelineOps.shardCardCells(base)
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(s"$storePath/cells")
          graft.operators.PipelineOps.shardCardRegs(base)
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(s"$storePath/regs")
        } finally base.unpersist()
        ()
      }
  }

  /** The read side of [[incrementalDataCard]]: merge the per-batch
    * delta frames (SUM/MIN/MAX over cells, MAX over registers) and
    * assemble the current card — identical rows to running x16 over
    * everything ingested so far (StreamingSpec pins the equality).
    * `upToBatchId` bounds the merge to deltas with batch_id ≤ that
    * value: a reader racing an in-flight batch N+1 (dynamic partition
    * overwrite is not atomic — a half-written partition is visible
    * mid-write) passes the last COMPLETED batch id and gets a
    * consistent card; adopted foreign deltas (batch_id = -1) always
    * merge. Unbounded reads remain correct when nothing is in flight.
    */
  def readDataCard(s: SparkSession, storePath: String,
      upToBatchId: Option[Long] = None): DataFrame = {
    def bounded(df: DataFrame): DataFrame =
      upToBatchId.map(b => df.filter(col("batch_id") <= b)).getOrElse(df)
    // a delta dir can exist with ZERO data files: a batch of only
    // zero-token docs writes no register rows (shardCardRegs is empty),
    // and parquet then throws "unable to infer schema" — fall back to
    // an explicit-schema empty frame (the incremental-dedup store
    // reader's established pattern) so the card still assembles from
    // whichever side has rows
    def readOrEmpty(path: String, fields: Seq[String]): DataFrame =
      try s.read.parquet(path)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(fields.map(f =>
              org.apache.spark.sql.types.StructField(f,
                org.apache.spark.sql.types.LongType))))
      }
    val cells = bounded(readOrEmpty(s"$storePath/cells",
        Seq("shard", "e", "m", "pw", "cnt", "sv", "mnv", "mxv", "batch_id")))
      .groupBy(col("shard"), col("e"), col("m"), col("pw"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sv")).as("sv"),
        min(col("mnv")).as("mnv"), max(col("mxv")).as("mxv"))
    val regs = bounded(readOrEmpty(s"$storePath/regs",
        Seq("shard", "j", "reg", "batch_id")))
      .groupBy(col("shard"), col("j"))
      .agg(max(col("reg")).as("reg"))
    graft.operators.PipelineOps.assembleShardCard(cells, regs)
  }

  /** Per-source KMV sketches maintained as a LIVE streaming aggregate —
    * the set-function face of sketch streaming (st5's additive cells
    * are the counter face): BottomK is a pure function of the input
    * SET, so Structured Streaming's stateful aggregation (update/
    * complete mode) maintains exactly the batch sketch, ≤ 64 longs of
    * state per source. The gram rule is d23's BY CONSTRUCTION — both
    * call [[graft.operators.PipelineOps.gramDigests]], so batch/stream
    * sketch equality is structural, not a parallel-maintenance promise.
    */
  def streamingKmvSketches(docs: DataFrame, k: Int = 64): DataFrame =
    docs
      .select(col("source"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("ts"))
      .select(col("source"),
        explode(graft.operators.PipelineOps.gramDigests("ts")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.BottomK.udaf(k)(col("h")).as("ks"))

  /** THE batch/stream-parity contract of the sketch family, as a NAMED
    * API instead of a convention (r11): `derive` must map a row frame to
    * ADDITIVE keyed cells — a groupBy over a bounded key domain whose
    * every aggregate is a sum/count of per-row contributions (CMS cells,
    * AMS sign counters, HDR bucket counts, the shard card's cell grain
    * all qualify; min/max carriers qualify too — any commutative
    * semigroup merge does). Additivity is exactly the property that
    * makes the SAME plan a batch aggregate and a stateful streaming
    * aggregate in update/complete mode with |key domain| rows of state:
    * merging partials IS the aggregation, so a streamed corpus and the
    * same corpus batched produce cell-identical sketches by
    * construction — no foreachBatch, no custom state store, no
    * replay-idempotency machinery. The named faces below are aliases of
    * this entry point; StreamingSpec pins each one's stream-equals-batch
    * equality.
    */
  def additiveCellStream(df: DataFrame,
      derive: DataFrame => DataFrame): DataFrame = derive(df)

  /** d20's Count-Min cells as a LIVE streaming aggregate — the counter
    * face of [[additiveCellStream]] ([[streamingKmvSketches]] is the
    * set face, [[streamingHdrCells]] the windowed face): ≤ depth×width
    * = 128 rows of state total, independent of stream volume. The cell
    * derivation is d20's BY CONSTRUCTION — both call
    * [[graft.operators.PipelineOps.cmsCells]] (one md5 per token,
    * Kirsch-Mitzenmacher row composition), so a streamed corpus and
    * the same corpus batched produce cell-identical sketches
    * (StreamingSpec pins it).
    */
  def streamingCmsCells(docs: DataFrame): DataFrame =
    additiveCellStream(docs, graft.operators.PipelineOps.cmsCells)

  /** [[streamingCmsCells]] with the derivation-version guard wired in
    * (r12): `checkpoint` is the directory the caller will pass as
    * `checkpointLocation` — the guard stamps/validates its
    * `_graft_sketch_version` marker at stream-DEFINITION time, so a
    * checkpoint whose CMS state predates the current [[graft.operators
    * .PipelineOps.cmsRowCols]] derivation (e.g. pre-r11 even-h2 cells)
    * fails fast here instead of silently merging old-keyed (r, c) state
    * with new-keyed increments on resume. The no-checkpoint overload
    * stays for callers who run the guard themselves.
    */
  def streamingCmsCells(docs: DataFrame, checkpoint: String): DataFrame = {
    sketchVersionGuard(docs.sparkSession, checkpoint, "cms-km",
      graft.operators.PipelineOps.cmsDerivationVersion)
    streamingCmsCells(docs)
  }

  /** d24's AMS F2 sign counters as a LIVE streaming aggregate: the
    * counters are LINEAR in the stream (per-lang sums of per-row ±1
    * signs) — [[additiveCellStream]] with 32 longs of state per lang.
    * Shares [[graft.operators.PipelineOps.amsCounters]] with the batch
    * query, so the streamed F2/skew estimate equals the batch one by
    * construction; a downstream reader folds Σc² div 32 exactly as
    * d24 does.
    */
  def streamingAmsCounters(docs: DataFrame): DataFrame =
    additiveCellStream(docs, graft.operators.PipelineOps.amsCounters)

  /** Windowed HDR-histogram cells over (ts, value) events — ONE
    * derivation serving batch and stream (the cdcChunks precedent): the
    * sketch family is streaming-NATIVE because its carriers are additive
    * counters, so a watermarked window aggregate IS the sketch — no
    * foreachBatch, no custom state. Values quantize to integer milli
    * (the d5 embedding rule) and bucket via [[graft.operators.Hdr]];
    * each (window, e, m) cell is a count, ≤ 16 cells per octave per
    * window cross the wire regardless of event volume. Downstream
    * readers fold cells to quantiles (st5's batch view pins the
    * answers against the oracle).
    */
  def hdrCellsOf(events: DataFrame): DataFrame =
    graft.operators.Hdr.withBuckets(
      events
        .withColumn("v", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
        .filter(col("v") >= 1))
      .groupBy(window(col("ts"), "1 hour"), col("e"), col("m"), col("pw"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", graft.operators.Hdr.loExpr)
      .select(col("window.start").as("win_start"), col("e"), col("m"),
        col("lo"), col("cnt"))

  /** [[hdrCellsOf]] under a 10-minute watermark — the live form
    * ([[additiveCellStream]]'s windowed face: window keys are part of
    * the bounded cell-key domain, the watermark bounds how many windows
    * stay open).
    */
  def streamingHdrCells(events: DataFrame): DataFrame =
    additiveCellStream(events.withWatermark("ts", "10 minutes"), hdrCellsOf)

  /** The static eval digest frame for [[streamingDecontaminate]]: the
    * distinct 6-gram digests of the benchmark documents. Persist (or
    * write once and re-read) before starting the stream so every batch
    * probes the materialized set instead of re-digesting the suite.
    */
  def evalDigestsOf(evalDocs: DataFrame): DataFrame = {
    graft.functions.GraftExtensions.registerInto(evalDocs.sparkSession)
    evalDocs.select(
      explode(expr(
        "hashed_ngrams(filter(split(lower(text), ' '), x -> x != ''), 6)"))
        .as("h"))
      .distinct()
  }

  def incrementalNearDedup(docs: DataFrame, storePath: String, outPath: String,
      checkpoint: String, minJaccard: Double = 0.5,
      numPerms: Int = 0, rowsPerBand: Int = 0) = {
    // resolve + validate at configuration time, not first micro-batch
    require((numPerms > 0) == (rowsPerBand > 0),
      s"pass both numPerms and rowsPerBand or neither, got ($numPerms, $rowsPerBand)")
    val (p, r) =
      if (numPerms > 0) (numPerms, rowsPerBand)
      else graft.operators.Similarity.geometryFor(docs.sparkSession, minJaccard)
    require(p % r == 0, s"rowsPerBand must divide the $p-perm signature, got $r")
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val sig = graft.operators.PipelineOps
          .minhashSignatures(batch.select(col("doc_id"), col("text")), p, r)
          .persist()
        // build the cache NOW, before any plan reads it: a cache first
        // built inside a write under AQE races that write's own scans of
        // it, which makes the per-batch job count follow thread timing
        // instead of the batch shape
        sig.count()
        // a store partition may exist from a half-finished attempt of
        // this same batch (foreachBatch is at-least-once): exclude it
        // from the corpus so replays see the pre-batch state
        val raw =
          try s.read.parquet(storePath)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              sig.schema.add("num_perms", "int").add("rows_per_band", "int")
                .add("batch_id", "long"))
          }
        // store sanity, before any batch_id pruning (a rebound stream's
        // fresh checkpoint restarts batchId at 0 and would prune the
        // evidence away), with ZERO Spark jobs in steady state:
        //  - max(batch_id): ONE FileSystem directory listing — it is the
        //    partition column, the directory names carry it;
        //  - geometry: ONE read of the `_graft_geometry` marker file.
        //    Geometry runs BEFORE the lineage guard so a foreign store
        //    with the wrong band geometry fails with the geometry error,
        //    not the lineage one (band keys never compare across
        //    geometries — that diagnosis outranks ownership).
        // The full row-scan validation (schema + null-stamp + min/max
        // geometry, the pre-r11 per-batch aggregate) now runs AT MOST
        // ONCE per store lifetime: only when a populated store carries no
        // marker — a foreign store ahead of adoption, or one written by a
        // pre-marker version, self-healed by stamping the marker below.
        val maxSeen = maxBatchIn(s, storePath)
        val storeHasRows = maxSeen.nonEmpty
        val geomMarker = readGeometryMarker(s, storePath)
        geomMarker match {
          case Some((mp, mr)) =>
            require(mp == p && mr == r,
              s"signature store $storePath was written with band geometry " +
                s"($mp/$mr) but this stream runs ($p/$r) — band keys " +
                "never compare across geometries; use a fresh storePath")
          case None if storeHasRows =>
            require(raw.columns.contains("num_perms") && raw.columns.contains("rows_per_band"),
              s"signature store $storePath predates geometry stamping — " +
                "rebuild it or use a fresh storePath")
            // min/max are null-skipping, so an explicit null count keeps
            // mixed or unstamped rows from slipping through =!='s
            // three-valued logic; count(*) leads because storeHasRows
            // came from a DIRECTORY listing — batch_id= dirs can outlive
            // their data files (aborted write, lost parquet), and an
            // all-null aggregate row over zero rows must read as "nothing
            // to validate", not throw on the unbox (r11 review)
            val probe = raw.agg(count(lit(1)),
              min(col("num_perms")), max(col("num_perms")),
              min(col("rows_per_band")), max(col("rows_per_band")),
              sum(when(col("num_perms").isNull || col("rows_per_band").isNull, 1L)
                .otherwise(0L))).collect()(0)
            if (probe.getLong(0) > 0) {
              def n(i: Int): Long = probe.getAs[Number](i).longValue
              require(n(5) == 0,
                s"signature store $storePath carries rows without geometry stamps; " +
                  "rebuild it or use a fresh storePath")
              require(n(1) == p && n(2) == p && n(3) == r && n(4) == r,
                s"signature store $storePath was written with band geometry " +
                  s"(${n(1)}/${n(3)}) but this stream runs ($p/$r) — band keys " +
                  "never compare across geometries; use a fresh storePath")
            }
          case None => () // brand-new store: marker stamped after the guard claims it
        }
        // lineage marker: max(batch_id) <= batchId cannot distinguish a
        // legitimate replay of batch 0 (same checkpoint, half-finished
        // first attempt — must proceed and overwrite its own partition)
        // from a BRAND-NEW checkpoint pointed at a pre-populated store
        // whose old lineage also stopped at batch 0 (proceeding would
        // dedup against an empty filtered corpus and silently clobber the
        // old batch-0 partition). A `_graft_lineage` file inside the
        // store (underscore-prefixed: invisible to parquet listing)
        // records which checkpoint owns the store; a mismatch refuses.
        // `graft.stream.adoptStore=true` explicitly adopts a foreign or
        // pre-marker store: its rows are rebased to batch_id = -1 (their
        // old batch numbering is meaningless under the new lineage, and
        // -1 < every batchId keeps them in the dedup corpus forever) and
        // the marker is rewritten to this checkpoint.
        val adopted = lineageGuard(s, storePath, checkpoint,
          storeHasRows = storeHasRows)
        // rollback pairing check AFTER the guard, and only for a store
        // this lineage owns: a foreign store's batch numbering is
        // meaningless (adoption rebases it to -1), so checking it first
        // made the documented adoptStore path unreachable whenever the
        // foreign store was ahead of the new stream's batch counter
        if (!adopted)
          requirePairing("signature", storePath, batchId, maxSeen,
            () => rowMaxBatch(raw))
        // stamp geometry once ownership is settled: a freshly claimed or
        // self-healed store gains its marker here; an adopted store's
        // rebase rewrote the directory wholesale (markers included), so
        // the marker must land again
        if (geomMarker.isEmpty || adopted) writeGeometryMarker(s, storePath, p, r)
        val rawNow = if (adopted) s.read.parquet(storePath) else raw
        val store = rawNow.filter(col("batch_id") < batchId)
          .drop("batch_id", "num_perms", "rows_per_band")
        val vsStore = graft.operators.PipelineOps
          .nearDupPairs(store, sig, minJaccard, ordered = false)
          .select(col("id2").as("doc_id"), col("id1").as("dup_of"))
        val inBatch = graft.operators.PipelineOps
          .nearDupPairs(sig, sig, minJaccard)
          .select(col("id2").as("doc_id"), col("id1").as("dup_of"))
        val dupOf = vsStore.unionByName(inBatch)
          .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
          .persist() // consumed by BOTH writes — don't run the joins twice
        try {
          dupOf.count() // eager, as sig above: its plan scans sig six times
          // batch_id-partitioned dynamic overwrite makes a replayed batch
          // rewrite ITS OWN partition instead of appending duplicates
          sig.select(col("doc_id"))
            .join(dupOf, Seq("doc_id"), "left")
            .select(col("doc_id"), col("dup_of"),
              col("dup_of").isNotNull.as("is_dup"), lit(batchId).as("batch_id"))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(outPath)
          sig.join(dupOf, Seq("doc_id"), "left_anti")
            .withColumn("num_perms", lit(p))
            .withColumn("rows_per_band", lit(r))
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(storePath)
        } finally { dupOf.unpersist(); sig.unpersist() }
        ()
      }
  }

  /** Incremental chunk-level CDC dedup — [[streamingCdcChunks]] feeding
    * a digest store with [[incrementalNearDedup]]'s replay discipline:
    * per micro-batch, chunk the arriving documents (stateless), flag
    * every chunk whose digest was already seen (in the store from prior
    * batches, or earlier in THIS batch by (doc_id, start) keep-first —
    * d18's canonicalization), write per-doc dedup accounting to
    * `outPath` and ONLY the novel digests to `storePath`. Both writes
    * are batch_id-partitioned dynamic overwrites, so an at-least-once
    * replay rewrites its own partition instead of appending; the store
    * carries the same `_graft_lineage` marker (foreign/pre-marker
    * stores refuse unless `graft.stream.adoptStore=true` rebases them
    * to batch_id = -1). The store holds 8-byte digests only — at
    * 100 TB the state is the chunk-digest set, never chunk text.
    */
  /** Incremental exact-substring dedup — d25's removal-span semantics
    * at ingest time, completing batch/stream parity for the dedup
    * family (doc d1/near d2-d8/span d9/chunk d18/substring d25 now all
    * have a live face). Per micro-batch: 6-gram digest every arriving
    * document, mark every occurrence whose digest was already seen (in
    * the store from prior batches, or earlier in THIS batch by
    * (doc_id, pos) keep-first), merge marked coverage per doc with
    * d25's gaps-and-islands rule and write removal spans of ≥ `minLen`
    * tokens to `outPath`; ONLY novel digests append to `storePath`.
    * Both writes are batch_id-partitioned dynamic overwrites (replay
    * rewrites its own partition) and the store carries the
    * `_graft_lineage` marker + max-batch-id pairing discipline.
    *
    * Canonical-occurrence semantics differ from batch d25 exactly the
    * way a stream must: the kept copy is the FIRST ARRIVAL (batch d25
    * keeps the global min (doc_id, pos)); when ingest order follows
    * doc_id order the two coincide and StreamingSpec pins span-identical
    * convergence with the oracled batch query. State at 100 TB: the
    * 8-byte digest set only — never gram text, the CDC store's shape.
    */
  def incrementalSubstrDedup(docs: DataFrame, storePath: String,
      outPath: String, checkpoint: String, minLen: Int = 15) = {
    val n = 6
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        graft.functions.GraftExtensions.registerInto(s)
        val W = org.apache.spark.sql.expressions.Window
        val grams = batch
          .select(col("doc_id"),
            expr(s"hashed_ngrams(filter(split(lower(text), ' '), x -> x != ''), $n)")
              .as("gs"))
          .select(col("doc_id"), posexplode(col("gs")).as(Seq("pos0", "h")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("h"))
          .persist()
        val raw =
          try s.read.parquet(storePath)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("h",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("batch_id",
                  org.apache.spark.sql.types.LongType))))
          }
        // max(batch_id) from ONE directory listing (it is the partition
        // column) — the maxBatchIn discipline all four stores share; a
        // per-batch Spark aggregate over the store grows with stream age.
        val maxSeen = maxBatchIn(s, storePath)
        // lineageGuard FIRST: a foreign store must hit the adopt path (or
        // its adopt-hint error) before the rollback check — its old batch
        // numbering is meaningless under this lineage, and adoption
        // rebases it to -1 which passes any pairing check. Only a store
        // this lineage owns can be "ahead", which is the rollback case
        // the require protects against.
        val adopted = lineageGuard(s, storePath, checkpoint,
          storeHasRows = maxSeen.nonEmpty)
        if (!adopted)
          requirePairing("digest", storePath, batchId, maxSeen,
            () => rowMaxBatch(raw))
        val rawNow = if (adopted) s.read.parquet(storePath) else raw
        // exclude this batch's own half-finished partition on replay
        val store = rawNow.filter(col("batch_id") < batchId)
          .select(col("h")).distinct()
        val marked = grams
          .withColumn("rn", row_number().over(
            W.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
          .join(store.withColumn("seen", lit(1)), Seq("h"), "left")
          .withColumn("removable", col("seen").isNotNull || col("rn") > 1)
          .persist() // consumed by the span write AND the store write
        try {
          // eager, as incrementalNearDedup's caches: neither is first
          // built inside a write
          grams.count()
          marked.count()
          graft.operators.PipelineOps.islandSpans(
              marked.filter(col("removable")).select(col("doc_id"), col("pos")), n)
            .filter(col("n_tokens") >= minLen)
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(outPath)
          // novel digests only: not in the store, and only the kept
          // (first) occurrence's row — one store row per digest
          marked.filter(col("rn") === 1 && col("seen").isNull)
            .select(col("h"))
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(storePath)
        } finally { marked.unpersist(); grams.unpersist() }
        ()
      }
  }

  /** The read side of [[incrementalSubstrDedup]]'s span output. A batch
    * with zero removal spans (the normal case early in a stream) writes
    * a schemaless parquet partition set — raw `spark.read.parquet`
    * throws "unable to infer schema" until the first span-bearing batch
    * — so reads go through the readDataCard readOrEmpty discipline with
    * an explicit schema. `upToBatchId` bounds the read to completed
    * batches for readers racing an in-flight batch (readDataCard's
    * contract).
    */
  def readSubstrSpans(s: SparkSession, outPath: String,
      upToBatchId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val raw =
      try
        // batch_id is the partition directory column: inference narrows
        // it to IntegerType on read-back, while the empty-store branch
        // below declares LongType — cast so the schema is STABLE across
        // the empty/non-empty transition (typed getLong access and
        // unions across stores must not depend on whether a span-bearing
        // batch has landed yet)
        s.read.parquet(outPath)
          .withColumn("batch_id", col("batch_id").cast("long"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq("doc_id", "span_start", "span_end", "n_tokens",
              "batch_id").map(StructField(_, LongType))))
      }
    upToBatchId.map(b => raw.filter(col("batch_id") <= b)).getOrElse(raw)
  }

  def incrementalCdcDedup(docs: DataFrame, storePath: String, outPath: String,
      checkpoint: String) = {
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val W = org.apache.spark.sql.expressions.Window
        val chunks = graft.operators.PipelineOps
          .cdcChunks(batch.select(col("doc_id"), col("text")))
          .persist()
        val raw =
          try s.read.parquet(storePath)
          catch { case _: org.apache.spark.sql.AnalysisException =>
            s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("dg",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("batch_id",
                  org.apache.spark.sql.types.LongType))))
          }
        // max(batch_id) from ONE directory listing — maxBatchIn, the
        // shared store-probe discipline (zero per-batch Spark jobs)
        val maxSeen = maxBatchIn(s, storePath)
        val adopted = lineageGuard(s, storePath, checkpoint,
          storeHasRows = maxSeen.nonEmpty)
        // rollback pairing check AFTER the guard and only for an owned
        // store (a foreign store's batch numbering is meaningless —
        // adoption rebases to -1; checking first made adoptStore
        // unreachable for a foreign store ahead of this stream)
        if (!adopted)
          requirePairing("digest", storePath, batchId, maxSeen,
            () => rowMaxBatch(raw))
        val rawNow = if (adopted) s.read.parquet(storePath) else raw
        // exclude this batch's own half-finished partition on replay
        val store = rawNow.filter(col("batch_id") < batchId)
          .select(col("dg")).distinct()
        val marked = chunks
          .withColumn("rn", row_number().over(
            W.partitionBy(col("dg")).orderBy(col("doc_id"), col("start"))))
          .join(store.withColumn("seen", lit(1)), Seq("dg"), "left")
          .withColumn("is_dup", col("seen").isNotNull || col("rn") > 1)
          .persist() // consumed by BOTH writes — don't rerun the joins
        try {
          // eager, as incrementalNearDedup's caches: neither is first
          // built inside a write
          chunks.count()
          marked.count()
          // account EVERY batch doc — an empty-text doc has zero chunks
          // (cdcChunks drops it), but its accounting row must still
          // exist or "docs ingested == docs accounted" reconciliation
          // silently undercounts (incrementalNearDedup's discipline)
          batch.select(col("doc_id")).distinct()
            .join(
              marked.groupBy(col("doc_id"))
                .agg(count(lit(1)).as("n_chunks"),
                  sum(when(col("is_dup"), 1L).otherwise(0L)).as("dup_chunks"),
                  sum(when(col("is_dup"), col("clen")).otherwise(0L)).as("dup_chars")),
              Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
              coalesce(col("dup_chunks"), lit(0L)).as("dup_chunks"),
              coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(outPath)
          marked.filter(!col("is_dup"))
            .select(col("dg")).distinct()
            .withColumn("batch_id", lit(batchId))
            .write.partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(storePath)
        } finally { marked.unpersist(); chunks.unpersist() }
        ()
      }
  }

  /** Max `batch_id` across a batch_id-partitioned store from ONE
    * FileSystem directory listing — the store-probe discipline ALL four
    * incremental stores share: a per-micro-batch Spark aggregation job
    * over the store would grow linearly with stream age (one partition
    * per batch forever) just to read a value the directory names already
    * carry. None ⇔ the store has no data partitions (adopted stores
    * surface as the batch_id=-1 partition and parse fine).
    */
  private def maxBatchIn(s: SparkSession, path: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
      .maxOption
  }

  /** The rollback pairing check all four stores run (an OWNED store must
    * never be ahead of its stream's batch counter), with a
    * phantom-directory fallback (r11 review): [[maxBatchIn]] reads
    * DIRECTORY names, and a `batch_id=N` directory can outlive its data
    * files (aborted write, lost parquet — the same failure mode the
    * geometry path's count(*) guard covers). When the listing claims the
    * store is ahead, ONE row-scan max(batch_id) confirms the claim
    * before refusing: phantom directories (row max ≤ batchId, or no rows
    * at all) pass instead of bricking the stream on state that does not
    * exist. The scan runs ONLY on the would-refuse path, so the steady
    * state keeps its zero-per-batch-Spark-jobs contract.
    */
  private def requirePairing(what: String, storePath: String, batchId: Long,
      dirMax: Option[Long], rowMax: () => Option[Long]): Unit =
    dirMax.filter(_ > batchId).foreach { m =>
      val confirmed = rowMax()
      require(confirmed.forall(_ <= batchId),
        s"$what store $storePath was written by this checkpoint " +
          s"lineage up to batch ${confirmed.getOrElse(m)} but the stream " +
          s"is at batch $batchId — a rolled-back checkpoint must not " +
          "pair with a newer store; restore the matching checkpoint or " +
          "use a fresh storePath")
    }

  /** Row-scan max(batch_id) of a store frame, for [[requirePairing]]'s
    * confirm step (partition-directory columns read back as int — hence
    * the Number access).
    */
  private def rowMaxBatch(df: DataFrame): Option[Long] = {
    val r = df.agg(max(col("batch_id"))).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getAs[Number](0).longValue)
  }

  /** Fail-fast version pairing for sketch state whose HASH DERIVATION is
    * part of its identity (the r11 advice gap): CMS cells are (r, c)
    * keyed by the Kirsch-Mitzenmacher composition, so a live streaming
    * aggregate's checkpoint state — or a persisted cell frame — written
    * under one derivation merges with increments computed under another
    * into silently corrupt estimates. The docstring contract
    * ("fresh checkpoint after a derivation change") becomes enforcement:
    * a `_graft_sketch_version` marker (`<tag>/<version>`, the
    * `_graft_geometry` pattern) rides the guarded directory.
    *
    *  - marker matches → proceed (O(1) file read);
    *  - marker mismatches → fail fast naming both versions;
    *  - no marker, directory absent/empty → claim it (stamp + proceed);
    *  - no marker, directory populated → state predates version
    *    stamping (or is foreign): refuse unless
    *    `graft.sketch.adoptVersion=true` asserts it was built under the
    *    CURRENT derivation and re-stamps.
    *
    * Call on the checkpoint dir of a live sketch aggregate (the
    * [[streamingCmsCells]] checkpoint overload does) and on any
    * directory persisting cell frames that later batches union/merge.
    */
  def sketchVersionGuard(s: SparkSession, dir: String, tag: String,
      version: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val d = new Path(dir)
    val fs = d.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(d, "_graft_sketch_version")
    def stamp(): Unit = {
      fs.mkdirs(d)
      val out = fs.create(marker, true)
      try out.write(s"$tag/$version".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val txt =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](256)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      require(txt.trim == s"$tag/$version",
        s"sketch state at $dir was written under derivation version " +
          s"'${txt.trim}' but this engine computes '$tag/$version' — " +
          "cells hashed under different derivations must never merge; " +
          "use a fresh checkpoint/store (and rebuild persisted cells) " +
          "after a derivation change")
    } else {
      val populated = fs.exists(d) && fs.listStatus(d).nonEmpty
      if (!populated) stamp()
      else {
        require(s.conf.getOption("graft.sketch.adoptVersion").contains("true"),
          s"sketch state at $dir predates derivation-version stamping — " +
            s"it may have been written under an older '$tag' derivation, " +
            "and merging across derivations silently corrupts estimates; " +
            "use a fresh checkpoint/store, or set " +
            "graft.sketch.adoptVersion=true to assert it was built under " +
            "the current derivation and stamp it")
        stamp()
      }
    }
  }

  /** The near-dedup store's band geometry, recorded ONCE in a
    * `_graft_geometry` marker file at the store root (underscore-prefixed:
    * invisible to parquet listing, travels with the store the way
    * `_graft_lineage` does). Per-batch geometry validation is then one
    * O(1) file read instead of a Spark aggregation over every stamped row
    * — the scan that used to run per micro-batch and grow with stream
    * age. The per-row num_perms/rows_per_band stamps still ride every
    * row for read-time tools; the one-shot full-scan validation runs only
    * when a populated store carries NO marker (a foreign store ahead of
    * adoption, or one written by a pre-marker version — self-healed by
    * stamping the marker once it validates).
    */
  private def readGeometryMarker(s: SparkSession, storePath: String): Option[(Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val marker = new Path(new Path(storePath), "_graft_geometry")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val txt =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](256)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
      txt.trim.split("/") match {
        case Array(p0, r0) =>
          for (pp <- p0.toIntOption; rr <- r0.toIntOption) yield (pp, rr)
        case _ => None
      }
    }
  }

  private def writeGeometryMarker(s: SparkSession, storePath: String,
      p: Int, r: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(storePath)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, "_graft_geometry"), true)
    try out.write(s"$p/$r".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The store's lineage identity for [[lineageGuard]]: the streaming
    * query id from `<checkpoint>/metadata` — stable across restarts of
    * the same checkpoint, regenerated when the checkpoint is wiped or
    * recreated, preserved if the checkpoint dir is moved/restored — so it
    * identifies the LINEAGE, not the path. Falls back to the qualified
    * checkpoint path if the metadata file is unreadable (it exists by the
    * time any foreachBatch runs, so the fallback is belt-and-braces).
    */
  private def lineageId(s: SparkSession, checkpoint: String): String = {
    import org.apache.hadoop.fs.Path
    val hconf = s.sparkContext.hadoopConfiguration
    val ckpt = new Path(checkpoint)
    val fs = ckpt.getFileSystem(hconf)
    val meta = new Path(ckpt, "metadata")
    val fromMeta =
      try {
        if (!fs.exists(meta)) None
        else {
          val in = fs.open(meta)
          val txt =
            try {
              val buf = new java.io.ByteArrayOutputStream()
              val b = new Array[Byte](4096)
              var n = in.read(b)
              while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
              new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
            } finally in.close()
          "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
        }
      } catch { case _: java.io.IOException => None }
    fromMeta.getOrElse(fs.makeQualified(ckpt).toString)
  }

  /** Enforce store↔checkpoint lineage pairing (see the call site in
    * [[incrementalNearDedup]]). Returns true when a foreign or pre-marker
    * store was adopted and rebased — the caller must re-read the path.
    */
  private[streaming] def lineageGuard(s: SparkSession, storePath: String,
      checkpoint: String, storeHasRows: Boolean,
      rebasePaths: Seq[String] = Nil): Boolean = {
    import org.apache.hadoop.fs.Path
    val storeDir = new Path(storePath)
    val fs = storeDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    // multi-grain stores (the data card's cells/ + regs/) keep ONE
    // marker at the root but rebase each delta dir separately; a grain
    // the old store never wrote (e.g. zero-token-only regs) is skipped,
    // and so is a dir holding only underscore markers — a foreign store
    // whose old lineage claimed it but crashed before writing data has
    // nothing to rebase, and reading it as parquet would throw (r12
    // matrix review: adoption of an empty-but-marked store must succeed)
    def hasData(p: Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    def rebaseAll(): Unit =
      (if (rebasePaths.isEmpty) Seq(storePath) else rebasePaths)
        .foreach(p => if (hasData(new Path(p))) rebase(s, fs, p))
    val id = lineageId(s, checkpoint)
    val marker = new Path(storeDir, "_graft_lineage")
    def writeMarker(): Unit = {
      val out = fs.create(marker, true)
      try out.write(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val owner: Option[String] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val b = new Array[Byte](4096)
          var n = in.read(b)
          while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
          Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      }
    val adopt = s.conf.getOption("graft.stream.adoptStore").contains("true")
    owner match {
      case Some(o) if o == id => false // same lineage — incl. batch-0 replay
      case Some(o) =>
        require(adopt,
          s"signature store $storePath belongs to checkpoint lineage $o but " +
            s"this stream runs under lineage $id — a new checkpoint must " +
            "never silently write over another lineage's store; use a fresh " +
            "storePath, restore the matching checkpoint, or set " +
            "graft.stream.adoptStore=true to rebase and adopt the store")
        rebaseAll(); writeMarker(); true
      case None if !storeHasRows =>
        // brand-new (or empty) store: claim it. The marker lands before
        // the first data write; a crash in between leaves an empty
        // claimed store, which replays cleanly.
        fs.mkdirs(storeDir)
        writeMarker()
        false
      case None =>
        require(adopt,
          s"signature store $storePath is pre-populated but carries no " +
            "lineage marker (a foreign store, or one written by a " +
            "pre-marker version) — a brand-new checkpoint must never see a " +
            "pre-populated store; use a fresh storePath or set " +
            "graft.stream.adoptStore=true to rebase and adopt it")
        rebaseAll(); writeMarker(); true
    }
  }

  /** Adopt a foreign store: rewrite every row under batch_id = -1 (the
    * old lineage's batch numbering is meaningless here; -1 keeps the rows
    * in the dedup corpus for every future batch and can never collide
    * with a partition this lineage overwrites). Via a sibling temp dir —
    * Spark refuses to overwrite a path it is reading — and geometry
    * stamps ride along (the probe already proved they match). The marker
    * is rewritten by the CALLER after this returns: mode("overwrite")
    * deletes the store dir wholesale, marker included, so marker-then-
    * rebase would un-claim the store on a crash in between.
    */
  private def rebase(s: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, storePath: String): Unit = {
    val tmp = storePath + "_adopt"
    s.read.parquet(storePath)
      .drop("batch_id").withColumn("batch_id", lit(-1L))
      .write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
      .write.partitionBy("batch_id").mode("overwrite").parquet(storePath)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true): Unit
  }

  /** J11 upsert as a foreachBatch merge: each micro-batch's per-key counts
    * are merged into `statePath` (coalesce(new,old) per column — the
    * MERGE ... ON MATCH SET semantics; Delta MERGE INTO on a real lake).
    */
  def upsertQuery(events: DataFrame, statePath: String, checkpoint: String) = {
    events.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val upd = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_new"), max(col("ts")).as("last_ts"))
        val old =
          try spark.read.parquet(statePath)
          catch { case _: Exception =>
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              upd.withColumnRenamed("n_new", "n").schema)
          }
        val merged = old.withColumnRenamed("n", "n_old")
          .withColumnRenamed("last_ts", "ts_old")
          .join(upd, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L))).as("n"),
            coalesce(col("last_ts"), col("ts_old")).as("last_ts"))
        // rewrite state (small keyed table; real deployments use Delta MERGE)
        merged.write.mode("overwrite").parquet(statePath + "_next")
        spark.read.parquet(statePath + "_next")
          .write.mode("overwrite").parquet(statePath)
      }
  }

  case class FeatureEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class ChainEdge(user_id: Long, src: Long, dst: Long)
  case class LastSeen(eventId: Long)

  /** G1 on a live feed: per-strain chain building. Each group (strain)
    * remembers its last feature and emits one edge per arriving feature.
    * Assumes per-key event-time order within a micro-batch (sorted below);
    * production hardening would buffer out-of-order arrivals by watermark.
    */
  def chainEdges(events: Dataset[FeatureEvent]): Dataset[ChainEdge] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastSeen, ChainEdge](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[FeatureEvent], state: GroupState[LastSeen]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last = state.getOption.map(_.eventId)
          val edges = sorted.flatMap { e =>
            val out = last.map(l => ChainEdge(userId, l, e.event_id))
            last = Some(e.event_id)
            out
          }
          last.foreach(l => state.update(LastSeen(l)))
          edges.iterator
      }
  }

  case class PackDoc(doc_id: Long, n_toks: Long)
  case class PackedDoc(doc_id: Long, shard_id: Int, tok_offset: Long, pack_id: Long)
  case class PackOffset(nextOffset: Long)

  /** t9's sequence packing at ingest time: docs are hash-dealt to shards
    * (ShardSink's portable hash) and each shard's running token offset
    * lives in GROUP STATE, so offsets continue seamlessly across
    * micro-batches — the stateful contrast to the stateless gates
    * (classifier/quality), and the streaming twin of
    * [[graft.operators.ShardSink.writePackedSequences]]. Within a batch
    * a shard's arrivals are packed in doc_id order (sorted below — the
    * batch path's law); ACROSS batches the order is arrival order, which
    * is the inherent semantics of incremental packing (a re-run of the
    * same batch sequence lands identically; a different batch split
    * packs differently, exactly like any append-only tokenizer feed).
    */
  def streamingSequencePack(docs: Dataset[PackDoc], nShards: Int = 16,
      packTokens: Long = 256L): Dataset[PackedDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => (graft.operators.ShardSink.sampleHash(d.doc_id)
        % nShards).toInt)
      .flatMapGroupsWithState[PackOffset, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[PackDoc], state: GroupState[PackOffset]) =>
          var off = state.getOption.map(_.nextOffset).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val r = PackedDoc(d.doc_id, shard, off, off / packTokens)
            off += d.n_toks
            r
          }
          state.update(PackOffset(off))
          out.iterator
      }
  }
}
