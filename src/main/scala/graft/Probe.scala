package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** The diagnostic entry point over the query suite, in Bench's session
  * posture and after Bench's untimed prep:
  *
  * `runMain graft.Probe [--reps n] [--stages] [--explain] [--conf k=v]... [query...]`
  *
  *  - for each named query and rep: seconds to build the DataFrame, to
  *    plan it (`executedPlan`) and to execute it through Bench's noop
  *    sink, plus the InMemoryTableScan and Exchange counts of its
  *    physical plan (no cache scan on a rep that should re-read a
  *    SharedFrame is a cache miss);
  *  - `--stages`: the rep's Spark stages, slowest first;
  *  - `--explain`: the rep's formatted physical plan;
  *  - `--conf k=v` (repeatable): a session conf on top of the shared
  *    posture;
  *  - no query named: scans the physical plan of every query for the
  *    scale-sensitive markers PlanContractSpec's allowlists rest on
  *    (cartesian products, broadcast nested-loop joins, single-partition
  *    exchanges, pushed IsNotNull filters, cache scans), runs nothing and
  *    skips the prep.
  *
  * Reads the SF directory from SPARK_GRAFT_SF_DIR (default sf0.1), as
  * Bench does.
  */
object Probe {
  final case class Opts(reps: Int = 1, stages: Boolean = false,
    explain: Boolean = false, confs: Seq[(String, String)] = Nil,
    queries: Seq[String] = Nil)

  private val usage =
    "usage: Probe [--reps n] [--stages] [--explain] [--conf k=v]... [query...]"

  @annotation.tailrec
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--reps" :: n :: rest if n.toIntOption.exists(_ > 0) =>
      parse(rest, o.copy(reps = n.toInt))
    case "--stages" :: rest => parse(rest, o.copy(stages = true))
    case "--explain" :: rest => parse(rest, o.copy(explain = true))
    case "--conf" :: kv :: rest if kv.contains('=') =>
      val Array(k, v) = kv.split("=", 2)
      parse(rest, o.copy(confs = o.confs :+ (k -> v)))
    case q :: rest if !q.startsWith("--") =>
      parse(rest, o.copy(queries = o.queries :+ q))
    case _ => throw new IllegalArgumentException(usage)
  }

  private val planMarkers = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
    "SinglePartition", "PushedFilters: [I", "InMemoryTableScan")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(32, o.confs: _*)
    try run(spark, sfDir, o, Raw.stdout.println) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, o: Opts, out: String => Unit): Unit =
    if (o.queries.isEmpty) scanPlans(spark, sfDir, out)
    else {
      val unknown = o.queries.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      Bench.prepare(spark, sfDir)
      for (q <- o.queries; r <- 1 to o.reps) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, sfDir)
        val t1 = System.nanoTime()
        val plan = df.queryExecution.executedPlan.toString
        val t2 = System.nanoTime()
        def exec(): Double = {
          val t = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        val (execS, stages) = if (o.stages) withStages(spark)(exec()) else (exec(), Nil)
        def count(s: String) = s.r.findAllIn(plan).length
        out(f"[rep] $q%-24s rep=$r build=${(t1 - t0) / 1e9}%.2f s " +
          f"plan=${(t2 - t1) / 1e9}%.2f s exec=$execS%.2f s " +
          s"InMemoryTableScan=${count("InMemoryTableScan")} Exchange=${count("Exchange")}")
        if (o.stages) stageTable(stages, 14).foreach(out)
        if (o.explain) out(df.queryExecution.explainString(FormattedMode))
      }
    }

  private def scanPlans(spark: SparkSession, sfDir: String, out: String => Unit): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val hits = planMarkers.filter(plan.contains)
        if (hits.nonEmpty) out(s"[plan] $name -> ${hits.mkString(", ")}")
      } catch {
        case e: Throwable => out(s"[plan] $name -> ERROR ${e.getClass.getSimpleName}")
      }
    }

  /** One completed Spark stage: wall from submission to completion, the
    * summed task run and CPU time, shuffle bytes, disk spill and tasks.
    */
  final case class Stage(id: Int, name: String, submitted: Long,
    wallS: Double, runS: Double, cpuS: Double, readMb: Double,
    writeMb: Double, spillMb: Double, tasks: Int)

  /** Runs `body` under a stage listener; returns its result and the stages
    * submitted while it ran. Listener events arrive asynchronously, so the
    * read first settles the bus: it polls the captured count every 100 ms
    * until two polls agree, for at most 2 s. A straggler past that bound
    * is dropped; the submission-time filter keeps one from an earlier
    * region out of this one.
    */
  def withStages[A](spark: SparkSession)(body: => A): (A, Seq[Stage]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wallMs = (for (s <- i.submissionTime; c <- i.completionTime)
          yield c - s).getOrElse(0L)
        seen.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(80),
          i.submissionTime.getOrElse(-1L), wallMs / 1e3,
          m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6, m.diskBytesSpilled / 1e6,
          i.numTasks))
        (): Unit
      }
    }
    val sc = spark.sparkContext
    val start = System.currentTimeMillis()
    sc.addSparkListener(listener)
    try {
      val r = body
      var prev = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 2000) {
        Thread.sleep(100); waited += 100
        val n = seen.size()
        if (n == prev) stable += 1 else { stable = 0; prev = n }
      }
      (r, seen.asScala.toSeq.filter(_.submitted >= start))
    } finally sc.removeSparkListener(listener)
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The rehearsals' per-stage timer: `timer(name) { body }` records
    * (name, wall seconds, process CPU seconds, executor CPU seconds).
    * Process CPU counts every thread of the JVM (executors, JIT,
    * collector), so a stage that reads slower in wall but not in CPU
    * waited on the host, not on the program. Executor CPU is the CPU time
    * of the stage's Spark tasks ([[withStages]]); the rest of its process
    * CPU went to the driver, the JIT and the collector. The listener's
    * settling wait falls outside the timed region.
    */
  final class StageTimer(spark: SparkSession) {
    private val recorded =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    def timings: Seq[(String, Double, Double, Double)] = recorded.toSeq

    def apply[A](name: String)(body: => A): A = {
      val ((r, wallS, cpuS), stages) = withStages(spark) {
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        val r = body
        (r, (System.nanoTime() - t0) / 1e9, (osBean.getProcessCpuTime - c0) / 1e9)
      }
      recorded += ((name, wallS, cpuS, stages.map(_.cpuS).sum))
      r
    }
  }

  /** The `"stages"`, `"stages_cpu"` and `"stages_exec_cpu"` JSON members
    * of a [[StageTimer]]'s timings, in seconds to one decimal.
    */
  def stagesJson(timings: Seq[(String, Double, Double, Double)]): String = {
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def block(key: String, v: ((String, Double, Double, Double)) => Double) =
      s""""$key":{${timings.map(t => s""""${t._1}":${f(v(t))}""").mkString(",")}}"""
    Seq(block("stages", _._2), block("stages_cpu", _._3),
      block("stages_exec_cpu", _._4)).mkString(",")
  }

  /** The `top` stages by wall time, one line each. */
  def stageTable(stages: Seq[Stage], top: Int): Seq[String] =
    stages.sortBy(-_.wallS).take(top).map { s =>
      f"   stage ${s.id}%5d wall=${s.wallS}%7.2fs run=${s.runS}%8.2fs " +
        f"cpu=${s.cpuS}%8.2fs shufR=${s.readMb}%8.1fMB shufW=${s.writeMb}%8.1fMB " +
        f"spillD=${s.spillMb}%7.1fMB tasks=${s.tasks}%4d ${s.name}"
    }
}
