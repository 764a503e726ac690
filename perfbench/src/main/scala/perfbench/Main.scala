package perfbench

import graft.SparkEntry
import graft.pangenome.{Pangenome, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in its own JVM: set up, then time whole rounds of the
  * workload's public calls until `--seconds` have passed, and write a
  * manifest of every call (wall time, plan time, output path and, when
  * traced, its listener counters). `run.py` starts this JVM, checks the
  * stored outputs and turns the manifest into metrics.
  *
  * Usage: perfbench.Main --workload <lifecycle|query_suite>
  *   --seed <n> --seconds <s> --trace <0|1> --dir <fresh run dir>
  *   --manifest <file> [--queries a,b,... --data sfDir --mini-data sfDir]
  */
object Main {

  /** Strains of the lifecycle input: the fewest at which an island shared
    * by two strains still leaves a majority edge between its anchors, so
    * Dice pairs and phylo groups exist.
    */
  val Strains = 8

  /** The analyses take their scale branches (LSH Dice; LSH graph +
    * connected components) above this many insertions; every lifecycle
    * input has more.
    */
  val ExactLimit = 4L

  final case class Call(
      layer: String, name: String, ok: Boolean, error: String,
      wallS: Double, planS: Double, cpuS: Double, planCpuS: Double,
      out: Seq[String], counters: Option[SpanCounters])

  final case class Round(index: Int, dir: String, wallS: Double, cpuS: Double, calls: Seq[Call])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private def now: Double = System.nanoTime() / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dir = a("dir")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(cpus, dir)
    // seconds from JVM start at which each set-up step ended
    val setupSteps = ArrayBuffer("session" -> (System.currentTimeMillis() / 1e3 - jvmStart))
    def stepDone(name: String): Unit =
      setupSteps += name -> (System.currentTimeMillis() / 1e3 - jvmStart)
    val rounds = ArrayBuffer.empty[Round]
    var warmup: Round = null
    // process CPU seconds from JVM start to the first timed call
    var setupCpuS = 0.0
    try {
      val timedRound: (Int, Option[Trace]) => Round = workload match {
        case "lifecycle" =>
          // inputs: the seeded ETL tables, stored once, read by every round.
          // No warm-up round: the lifecycle is a one-shot pipeline, so its
          // first round pays JIT and codegen as a user's run does.
          storeEtl(spark, Gen.synthesize(spark, Strains, seed), s"$dir/etl")
          stepDone("inputs")
          (r, t) => lifecycleRound(spark, s"$dir/etl", s"$dir/rounds/$r", r, t)
        case "query_suite" =>
          val queries = a("queries").split(',').toSeq
          val oracles = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
          Files.write(Paths.get(s"$dir/oracle_sql.json"), oracles
            .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
            .getBytes(StandardCharsets.UTF_8))
          stepDone("inputs")
          warmup = suiteRound(spark, a("mini-data"), queries, s"$dir/mini", -1, None)
          (r, t) => suiteRound(spark, a("data"), queries, s"$dir/rounds/$r", r, t)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      stepDone("warmup")
      setupCpuS = cpuSeconds
      val trace = if (traced) Some(new Trace(spark)) else None
      trace.foreach(_.start())
      val t0 = now
      var r = 0
      while (r == 0 || now - t0 < seconds) {
        rounds += timedRound(r, trace)
        r += 1
      }
      trace.foreach(_.stop())
    } finally {
      spark.stop()
    }
    writeManifest(a("manifest"), workload, seed, cpus, setupSteps.toSeq, setupCpuS, warmup,
      rounds.toSeq)
  }

  def session(cpus: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$dir/local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def storeEtl(spark: SparkSession, t: Pangenome.EtlTables, dir: String): Unit = {
    t.features.repartition(col("Strain")).write.mode("overwrite").parquet(s"$dir/features")
    t.clusters.write.mode("overwrite").parquet(s"$dir/clusters")
    t.neighbourEdges.repartition(col("strain"))
      .write.mode("overwrite").parquet(s"$dir/neighbour_edges")
  }

  /** Runs one public call under its own job group. `plan` is the program's
    * function (it may run jobs of its own); `store` materializes and stores
    * its result. Wall and process CPU time are taken around both parts. A
    * call that throws yields no timing, only its error.
    */
  private final class Caller(spark: SparkSession, round: Int, trace: Option[Trace]) {
    val calls = ArrayBuffer.empty[Call]
    def apply[A](layer: String, name: String, out: Seq[String])(plan: => A)(store: A => Unit): Boolean = {
      val group = s"r$round/$name"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      trace.foreach(_.openSpan(group))
      val t0 = now
      val c0 = cpuSeconds
      var planS = 0.0
      var planCpuS = 0.0
      val err = try {
        val v = plan
        planS = now - t0
        planCpuS = cpuSeconds - c0
        store(v)
        null
      } catch {
        case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      val wallS = now - t0
      val cpuS = cpuSeconds - c0
      val counters = trace.map(_.close(group))
      spark.sparkContext.clearJobGroup()
      calls += (if (err == null) Call(layer, name, ok = true, null, wallS, planS, cpuS, planCpuS,
        out, counters) else Call(layer, name, ok = false, err, 0.0, 0.0, 0.0, 0.0, Nil, counters))
      err == null
    }
    def skipped(layer: String, name: String): Unit =
      calls += Call(layer, name, ok = false, "not run: an upstream call failed",
        0.0, 0.0, 0.0, 0.0, Nil, None)
  }

  private def timedRound(index: Int, dir: String)(body: => Seq[Call]): Round = {
    val c0 = cpuSeconds
    val t0 = now
    val calls = body
    Round(index, dir, now - t0, cpuSeconds - c0, calls)
  }

  /** buildGraph + writeGraph → enrich → the five analyses, each stored. */
  def lifecycleRound(spark: SparkSession, etlDir: String, dir: String, round: Int,
      trace: Option[Trace]): Round = timedRound(round, dir) {
    val call = new Caller(spark, round, trace)
    val etl = Pangenome.EtlTables(
      spark.read.parquet(s"$etlDir/features"),
      spark.read.parquet(s"$etlDir/clusters"),
      spark.read.parquet(s"$etlDir/neighbour_edges"))
    def parquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

    // a call whose input a failed call should have stored is not run; it
    // counts as failed too
    var ok = true
    def step(name: String)(run: => Boolean): Boolean =
      if (ok) run else { call.skipped(name, name); false }

    ok = step("buildGraph")(call("buildGraph", "buildGraph", Seq(s"$dir/graph"))(
      Pangenome.buildGraph(spark, etl))(g => Schemas.writeGraph(g, s"$dir/graph")))
    lazy val g = Schemas.readGraph(spark, s"$dir/graph")
    ok = step("enrich")(call("enrich", "enrich", Seq(s"$dir/enriched"))(
      Pangenome.enrich(spark, g)) { e =>
      parquet(e.features.repartition(col("Strain")), s"$dir/enriched/features")
      parquet(e.strains, s"$dir/enriched/strains")
    })
    lazy val e = Pangenome.EnrichedTables(
      spark.read.parquet(s"$dir/enriched/features"),
      spark.read.parquet(s"$dir/enriched/strains"))
    step("genomeTrack")(call("genomeTrack", "genomeTrack", Seq(s"$dir/track"))(
      Pangenome.genomeTrack(e, g))(parquet(_, s"$dir/track")))
    ok = step("rgpMine")(call("rgpMine", "rgpMine", Seq(s"$dir/rgps"))(
      Pangenome.rgpMine(e, g))(parquet(_, s"$dir/rgps")))
    lazy val rgps = spark.read.parquet(s"$dir/rgps")
    val analyses: Seq[(String, () => DataFrame)] = Seq(
      "insertionDice" -> (() =>
        Pangenome.insertionDice(rgps, minDice = 0.5, maxExactRows = ExactLimit)),
      "insertionClusters" -> (() =>
        Pangenome.insertionClusters(rgps, cutoff = 0.3, maxDriverN = ExactLimit)),
      "anchorPhylo" -> (() => Pangenome.anchorPhylo(rgps, Gen.balancedNewick(Strains))))
    analyses.foreach { case (name, fn) =>
      step(name)(call(name, name, Seq(s"$dir/$name"))(fn())(parquet(_, s"$dir/$name")))
    }
    call.calls.toSeq
  }

  /** Every query in `queries`, each result stored as parquet. */
  def suiteRound(spark: SparkSession, data: String, queries: Seq[String], dir: String,
      round: Int, trace: Option[Trace]): Round = timedRound(round, dir) {
    val call = new Caller(spark, round, trace)
    val modules = moduleOf
    queries.foreach { q =>
      val fn = SparkEntry.queries(q)
      call(modules(q), q, Seq(s"$dir/$q"))(fn(spark, data))(
        _.write.mode("overwrite").parquet(s"$dir/$q"))
    }
    call.calls.toSeq
  }

  /** Query name → its operator module, in `SparkEntry.allDefs` order. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq("CoreRelational" -> CoreRelational.defs, "Projections" -> Projections.defs,
      "Joins" -> Joins.defs, "Aggregations" -> Aggregations.defs,
      "Windows" -> Windows.defs, "SetOps" -> SetOps.defs, "GraphOps" -> GraphOps.defs,
      "PipelineOps" -> PipelineOps.defs, "DomainOps" -> DomainOps.defs,
      "Analyses" -> Analyses.defs, "StreamingOps" -> StreamingOps.defs)
      .flatMap { case (m, defs) => defs.map(_.name -> m) }.toMap
  }

  // ---------------------------------------------------------------- output

  private def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(c => dirBytes(c.getPath)).sum
  }

  private def counterJson(c: SpanCounters): String =
    Seq("catalyst_s" -> num(c.catalystMs / 1e3), "query_executions" -> c.queries.toString,
      "exec_cpu_s" -> num(c.execCpuNs / 1e9), "exec_run_s" -> num(c.execRunMs / 1e3),
      "tasks" -> c.tasks.toString, "max_task_s" -> num(c.maxTaskMs / 1e3),
      "shuffle_write_mb" -> num(c.shuffleWriteBytes / 1048576.0),
      "shuffle_read_mb" -> num(c.shuffleReadBytes / 1048576.0),
      "spill_mb" -> num(c.spillBytes / 1048576.0),
      "stages" -> c.stages.toString, "jobs" -> c.jobs.toString)
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def writeManifest(path: String, workload: String, seed: Long, cpus: Int,
      setupSteps: Seq[(String, Double)], setupCpuS: Double, warmup: Round,
      rounds: Seq[Round]): Unit = {
    def roundJson(r: Round): String = {
      val calls = r.calls.map { c =>
        val outBytes = if (c.ok) c.out.map(dirBytes).sum else 0L
        s"""{"layer":${q(c.layer)},"name":${q(c.name)},"ok":${c.ok},"error":${q(c.error)},""" +
          s""""wall_s":${num(c.wallS)},"plan_s":${num(c.planS)},""" +
          s""""cpu_s":${num(c.cpuS)},"plan_cpu_s":${num(c.planCpuS)},""" +
          s""""out_mb":${num(outBytes / 1048576.0)},""" +
          s""""counters":${c.counters.map(counterJson).getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      s"""{"round":${r.index},"dir":${q(r.dir)},"wall_s":${num(r.wallS)},""" +
        s""""cpu_s":${num(r.cpuS)},"calls":$calls}"""
    }
    val rs = rounds.map(roundJson).mkString("[", ",", "]")
    val json = s"""{"workload":${q(workload)},"seed":$seed,"cpus":$cpus,""" +
      s""""strains":$Strains,"exact_limit":$ExactLimit,""" +
      s""""setup_cpu_s":${num(setupCpuS)},""" +
      s""""setup_wall_s":${num(setupSteps.last._2)},""" +
      s""""setup_steps":${setupSteps.map { case (k, v) => s"${q(k)}:${num(v)}" }
        .mkString("{", ",", "}")},""" +
      s""""warmup":${Option(warmup).map(roundJson).getOrElse("null")},"rounds":$rs}"""
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}
