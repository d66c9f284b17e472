package e2ebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** What a workload gets from the harness: the session, the tracer, its input
  * and scratch directories, and the sinks for its results. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seconds: Int,
    val inputDir: String, val workDir: String) {
  /** Metric name -> (value, unit). */
  val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific readings printed beside the contract metrics. */
  val detail = scala.collection.mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Runs one counted operation; an exception or a false result is a
    * failed op, recorded with its reason. */
  def op(name: String)(f: => Boolean): Boolean = {
    attempted += 1
    val ok = try f catch {
      case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) {
      failed += 1
      if (!failures.exists(_.startsWith(name + ":"))) failures += s"$name: mismatch"
    }
    ok
  }
}

/** A benchmark workload: a warm-up that is part of set-up, then the
  * measured loop, then untimed output checks. */
trait Workload {
  def warmUp(spark: SparkSession, workDir: String, inputDir: String): Unit
  def run(ctx: Ctx): Unit
  /** Extra traced-run measurement after the spans are reported; may stop
    * the run's session. */
  def baseline(ctx: Ctx): Unit = ()
}

object Common {
  /** The session posture graft.Bench and graft.Verify ship: GraftExtensions,
    * pinned ANSI, AQE and checkpoint cleaning. Every path Spark writes to
    * lives under `root`. */
  def session(master: String, cpus: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$root/checkpoints")
    s
  }

  /** Computes every column of every row and discards the result. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive digest of a frame: row count, XOR and wrapping sum
    * of per-row xxhash64 over every column (sorted by name) as text.
    * Floating-point columns enter with nine significant digits, so the
    * summation order a core count implies does not change the digest.
    * Computing it executes the whole plan, so it doubles as the forcing
    * action. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", c)
        case _ => c.cast("string")
      }
      coalesce(text, lit("\u0000"))
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"),
        expr("sum(cast(h as decimal(38,0)))"))
      .first()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) java.math.BigDecimal.ZERO else r.getDecimal(2)
    s"${r.getLong(0)}:${java.lang.Long.toHexString(x)}:$s"
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest percentile that has at least ten samples above it, and the
    * number of samples the figure rests on; NaN below eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.length < 11) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      val i = s.length - 11
      (s(i), 100.0 * (i + 1) / s.length)
    }

  /** Sum of the heap pools' peak usage since the JVM started. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  /** Time this JVM's collectors have spent since it started. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).filter(_ >= 0).sum / 1e3
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirStats(path: String): (Long, Long) = {
    val root = java.nio.file.Path.of(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        val files = st.filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".")).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(java.nio.file.Files.size).sum)
      } finally st.close()
    }
  }

  /** Spark work per operation, as the generic per-layer metrics. */
  def perOp(ctx: Ctx, walls: Seq[Double], work: Seq[Work]): Unit = {
    def med(f: Work => Double) = Common.median(work.map(f))
    ctx.metric("op.jobs", med(_.jobs.toDouble), "count")
    ctx.metric("op.stages", med(_.stages.toDouble), "count")
    ctx.metric("op.tasks", med(_.tasks.toDouble), "count")
    ctx.metric("op.task_s", med(_.taskMs / 1e3), "s")
    ctx.metric("op.shuffle_read_bytes", med(_.shuffleRead.toDouble), "bytes")
    ctx.metric("op.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "bytes")
    ctx.metric("op.spill_bytes", med(_.spill.toDouble), "bytes")
    ctx.metric("op.outside_jobs_s", Common.median(walls.zip(work).map { case (w, k) =>
      math.max(0.0, w - k.jobMs / 1e3) }), "s")
  }

  /** Minimal JSON encoder for the result file. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => graft.util.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.util.Json.quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case (a, b) => json(Seq(a, b))
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => json(xs.toSeq)
    case o => graft.util.Json.quote(o.toString)
  }
}
