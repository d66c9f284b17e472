package graft

import graft.functions.expressions.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one session posture the engine ships with: the CLI and daemons
  * (`Main`), the correctness dump (`Verify`), the board (`Bench`), the
  * tools and the test suite all plan and run under it.
  *   - `GraftExtensions`: native vector functions, the optimizer rules and
  *     the TopK planner strategy ride the session from birth (each rule
  *     stays inert without its opt-in conf or custom node).
  *   - `shuffle.partitions = cpus`, UTC session time zone, AQE on, ANSI
  *     pinned so behavior never shifts with a deployment-level default.
  *   - checkpoint files are reclaimed when their RDD is GC'd
  *     (`cleanCheckpoints`), so a daemon never accumulates them.
  *   - UI off, log level WARN.
  * A caller that wants a different partition count sets it afterwards with
  * `spark.conf.set`. */
object GraftSession {
  def apply(master: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
