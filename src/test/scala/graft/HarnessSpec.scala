package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The entry points' shared pieces: `Harness.session` is the only session
  * builder in the main sources and carries the shared posture, the main
  * sources read no tuning conf and a fixed set of environment variables,
  * `Probe` parses its flags and reports timings plus plan counts, and Bench's
  * smoke-run guard keeps a non-sf0.1 run from writing the default
  * artifact.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val defaultCpus = 2
  private lazy val spark = Harness.session(defaultCpus)

  override def afterAll(): Unit = spark.stop()

  test("Harness.session carries the shared confs") {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    assert(spark.sparkContext.master == s"local[$n]")
    val c = spark.conf
    assert(c.get("spark.sql.shuffle.partitions") == n)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  /** (file name, text) of every main-source file. */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }
  }

  /** Names of the main-source files whose text matches `pattern`. */
  private def mainSourcesMatching(pattern: scala.util.matching.Regex): Seq[String] =
    mainSources.filter { case (_, text) => pattern.findFirstIn(text).isDefined }
      .map(_._1).sorted

  test("SparkSession.builder appears in the main sources only in Harness.scala") {
    val builders = mainSourcesMatching("SparkSession\\.builder".r)
    assert(builders == Seq("Harness.scala"), s"session builders outside Harness: $builders")
  }

  test("the centroid similarity and the nearest-centroid max_by appear only in Ivf.scala") {
    Seq("""long_dot\(q, cq\)""".r,
        """(?s)max_by\((?:(?!max_by\().){0,200}?struct\(col\("sim"\)""".r,
        """long_sqdist\(s, cs\)""".r).foreach { p =>
      assert(mainSourcesMatching(p) == Seq("Ivf.scala"), s"copies of /$p/")
    }
  }

  test("the main sources read no tuning conf and only the kept SPARK_GRAFT_ variables") {
    val tuning = """graft\.(skew|lsh|aqe)\.|graft\.scratch\.retain""".r
    assert(mainSourcesMatching(tuning).isEmpty,
      s"tuning confs in ${mainSourcesMatching(tuning)}")
    // a new environment knob needs an edit here
    val kept = Set("SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_BENCH_REPS", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_QUIET_BASELINE", "SPARK_GRAFT_SCALING_QUERIES",
      "SPARK_GRAFT_SCALING_REPS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_STREAM_BATCHES")
    val read = mainSources.flatMap { case (_, text) =>
      "SPARK_GRAFT_[A-Z_]+".r.findAllIn(text) }.toSet
    assert(read == kept, s"added: ${read -- kept}, gone: ${kept -- read}")
  }

  test("Probe parses its flags and rejects unknown ones") {
    val o = Probe.parse(List("--reps", "3", "--stages", "--conf", "a.b=c=d",
      "--explain", "q1_agg", "j8_star_join"))
    assert(o == Probe.Opts(reps = 3, stages = true, explain = true,
      confs = Seq("a.b" -> "c=d"), queries = Seq("q1_agg", "j8_star_join")))
    assert(Probe.parse(Nil) == Probe.Opts())
    Seq(List("--reps", "0"), List("--reps"), List("--conf", "novalue"),
        List("--bogus")).foreach { bad =>
      intercept[IllegalArgumentException](Probe.parse(bad))
    }
  }

  test("Probe prints a timing line with plan counts for one query at sf0.001") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    Probe.run(spark, "/root/testdata/sf0.001",
      Probe.Opts(reps = 1, stages = true, queries = Seq("j8_star_join")), lines += _)
    val rep = lines.filter(_.startsWith("[rep]"))
    assert(rep.size == 1, lines.mkString("\n"))
    assert(("""\[rep\] j8_star_join\s+rep=1 build=[\d.]+ s plan=[\d.]+ s """ +
      """exec=[\d.]+ s InMemoryTableScan=\d+ Exchange=[1-9]\d*""").r.matches(rep.head),
      rep.head)
    assert(lines.exists(_.trim.startsWith("stage ")),
      s"--stages printed no stage table:\n${lines.mkString("\n")}")
  }

  test("Bench writes the default artifact only from sf0.1") {
    assert(Bench.artifactPath(None, "/root/testdata/sf0.1") == Right("bench_out.json"))
    assert(Bench.artifactPath(None, "/root/testdata/sf0.1/") == Right("bench_out.json"))
    assert(Bench.artifactPath(Some("/tmp/x.json"), "/root/testdata/sf0.001") ==
      Right("/tmp/x.json"))
    assert(Bench.artifactPath(Some("out.json"), "/root/testdata/sf0.1") ==
      Right("out.json"))
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/data/sf0.10", "/").foreach { d =>
      val r = Bench.artifactPath(None, d)
      assert(r.isLeft, s"$d: $r")
      assert(r.left.exists(_.contains("SPARK_GRAFT_BENCH_OUT")))
    }
  }
}
