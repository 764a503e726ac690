package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the engine's entry points (Bench,
  * Verify, Probe, the two rehearsals, ScalingSlopes). Every session
  * carries the same posture:
  *
  *  - `local[n]` with n shuffle partitions, where n is `SPARK_GRAFT_CPUS`
  *    when set and the caller's `defaultCpus` otherwise;
  *  - the session time zone pinned to UTC;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, so a TIMESTAMP(NANOS)
  *    events.ts arrives as Long for `Tables.normalizeEventTs` instead of
  *    failing as PARQUET_TYPE_ILLEGAL;
  *  - adaptive execution on, the UI off, log level WARN.
  *
  * `extraConfs` are applied after the shared posture, so an entry point
  * can add a conf or override a shared one.
  */
object Harness {
  def session(defaultCpus: Int, extraConfs: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (shared ++ extraConfs)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
