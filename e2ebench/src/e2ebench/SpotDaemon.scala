package e2ebench

import graft.operators.{Audit, Enrich}
import graft.sources.SpotSource
import graft.streaming.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path, StandardCopyOption}

/** The paper's polling daemon: JSON spot files dropped one at a time, each
  * followed by one `Trigger.AvailableNow` run of [[Ingest.start]] against a
  * single persistent checkpoint and sink (closed loop, one producer). After
  * the last drop, the three sink reads: the cursor bootstrap (the
  * reference's top-1 query), the gap audit and the windowed band stats. */
object SpotDaemon extends Workload {

  /** Runs of each sink read; its figure is the median. */
  val SinkReads = 3

  /** One staged drop: file name, rows in the file, rows new to the sink,
    * and the highest Spotnum committed once it is ingested. */
  final case class Drop(file: String, rows: Long, fresh: Long, maxId: Long)

  def drops(inputDir: String): Seq[Seq[Drop]] =
    Files.readAllLines(Path.of(inputDir, "spot", "manifest.csv")).toArray.toSeq
      .map(_.toString.split(","))
      .map(f => (f(0).toInt, Drop(f(1), f(2).toLong, f(3).toLong, f(4).toLong)))
      .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))

  private def trigger(spark: SparkSession, drop: String, ckpt: String, sink: String): Unit =
    Ingest.start(spark, drop, ckpt, sink, Trigger.AvailableNow()).awaitTermination()

  private def cursorAfter(ckpt: String): Long =
    Files.readString(Path.of(ckpt, "graft-cursor")).trim.split(",")(2).toLong

  def warmUp(spark: SparkSession, workDir: String, inputDir: String): Unit = {
    val drop = Path.of(workDir, "drop")
    Files.createDirectories(drop)
    Files.copy(Path.of(inputDir, "spot", "warm.json"), drop.resolve("w.json"))
    trigger(spark, drop.toString, s"$workDir/ckpt", s"$workDir/sink")
    Ingest.bootstrapCursor(spark, s"$workDir/sink")
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val staged = Path.of(ctx.inputDir, "spot", "drops")
    val dropDir = Path.of(ctx.workDir, "drop")
    val ckpt = s"${ctx.workDir}/ckpt"
    val sink = s"${ctx.workDir}/sink"
    Files.createDirectories(dropDir)

    // per drop: rows, seconds from drop to committed cursor, rows committed
    val lat = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
    val layers = scala.collection.mutable.ArrayBuffer[(Long, Map[String, Double])]()
    val dropped = scala.collection.mutable.ArrayBuffer[String]()
    var shadowBatch = 0L
    var cursor = 0L
    val t0 = System.nanoTime()
    val rounds = drops(ctx.inputDir)
    var r = 0
    while (r < rounds.length && (r == 0 || Common.secsSince(t0) < ctx.seconds)) {
      rounds(r).foreach { d =>
        val src = staged.resolve(d.file)
        val pre = if (!tr.enabled) Map.empty[String, Double] else {
          shadowBatch += 1
          prefixes(ctx, src.toString, cursor, shadowBatch - 1)
        }
        System.gc() // so no drop pays for its predecessors' garbage
        Files.move(src, dropDir.resolve(d.file), StandardCopyOption.ATOMIC_MOVE)
        dropped += dropDir.resolve(d.file).toString
        val td = System.nanoTime()
        val ok = ctx.op(s"trigger ${d.file}") {
          tr.span(s"streaming.ingest.trigger#${d.file}") {
            trigger(spark, dropDir.toString, ckpt, sink)
          }
          cursorAfter(ckpt) == d.maxId
        }
        val secs = Common.secsSince(td)
        if (ok) lat += ((d.rows, secs, d.fresh))
        if (ok && tr.enabled) layers += ((d.rows, pre +
          ("streaming.ingest.trigger_overhead_s" -> (secs - pre("streaming.ingest.commit_s")))))
        cursor = d.maxId
      }
      r += 1
    }
    val lats = lat.map(_._2).toSeq
    val daemonWall = lats.sum
    val committed = lat.map(_._3).sum
    val (tailS, tailPct) = Common.tail(lats)

    // the three sink reads, each checked against the generated ids
    val expectedIds = spark.read.schema(graft.spots.SpotSchema.apiSchema)
      .option("multiLine", value = true).json(dropped.toSeq: _*)
      .select(col("Spotnum").cast("long").as("Spotnum")).distinct()
      .agg(count(lit(1)), min("Spotnum"), max("Spotnum")).first()
    val (nIds, minId, maxId) = (expectedIds.getLong(0), expectedIds.getLong(1),
      expectedIds.getLong(2))
    val reads = scala.collection.mutable.LinkedHashMap[String, Double]()
    def read(name: String)(f: => Boolean): Unit =
      reads(name) = Common.median((1 to SinkReads).map { i =>
        val t = System.nanoTime()
        ctx.op(s"sink.read.$name")(tr.span(s"sinks.read.$name#$i")(f))
        Common.secsSince(t)
      })
    read("bootstrap_cursor")(Ingest.bootstrapCursor(spark, sink) == maxId)
    read("gap_audit") {
      val g = Audit.gapAudit(Ingest.readSink(spark, sink), "Spotnum").first()
      g.getAs[Long]("total_missing") == (maxId - minId + 1) - nIds
    }
    read("windowed_stats") {
      val w = Ingest.windowedSpotStats(Ingest.readSink(spark, sink))
        .agg(sum("n_spots")).first()
      w.getLong(0) == nIds
    }
    val sinkScan = reads.values.sum

    // untimed: the sink equals Enrich.formatted of the deduplicated input
    ctx.op("sink equals reference") {
      val reference = Enrich.formatted(SpotSource.cleanCallsigns(
        spark.read.schema(graft.spots.SpotSchema.apiSchema)
          .option("multiLine", value = true).json(dropped.toSeq: _*))
        .dropDuplicates("Spotnum"))
      val got = Ingest.readSink(spark, sink)
      val ids = (df: DataFrame) => df.select(col("Spotnum").cast("long")).distinct()
      Common.digest(got) == Common.digest(reference) &&
        ids(got).exceptAll(ids(reference)).isEmpty &&
        ids(reference).exceptAll(ids(got)).isEmpty
    }

    ctx.metric("op_p50_s", Common.median(lats), "s")
    ctx.metric("work_per_s", committed / daemonWall, "1/s")
    ctx.metric("read_s", sinkScan, "s")
    val (files, bytes) = Common.dirStats(sink)
    ctx.detail ++= Seq(
      "spot_batch_p50_s" -> Common.median(lats),
      "spot_batch_tail_s" -> tailS, "spot_batch_tail_pct" -> tailPct,
      "spot_batch_n" -> lats.length, "spot_rows_per_s" -> committed / daemonWall,
      "sink_scan_s" -> sinkScan, "spots_committed" -> committed,
      "spots_parsed" -> lat.map(_._1).sum,
      "drop_sizes" -> lat.map(_._1), "drop_latency_s" -> lats)
    reads.foreach { case (k, v) => ctx.detail(s"sink.read.${k}_s") = v }

    if (tr.enabled) {
      val byClass = layers.groupBy { case (rows, _) => if (rows <= 1000) "small" else "large" }
      for ((cls, xs) <- byClass; k <- xs.head._2.keys)
        ctx.detail(s"$k.$cls") = Common.median(xs.map(_._2(k)).toSeq)
      val spans = tr.all
      val self = tr.selfWork()
      val trig = spans.filter(_.name.startsWith("streaming.ingest.trigger#"))
      val trigWork = trig.map(s => self.getOrElse(s.id, new Work))
      val all = layers.map(_._2)
      ctx.detail ++= Seq("sinks.files" -> files.toDouble, "sinks.bytes" -> bytes.toDouble,
        "spark.jobs_per_trigger" -> Common.median(trigWork.map(_.jobs.toDouble)),
        "ingest.useful_ratio" -> committed.toDouble / lat.map(_._1).sum)
      Common.perOp(ctx, trig.map(_.secs), trigWork)
      ctx.metric("layer.input_s", Common.median(all.map(_("sources.parse_s")).toSeq), "s")
      ctx.metric("layer.transform_s", Common.median(all.map(m =>
        m("streaming.ingest.dedup_s") + m("operators.enrich_s")).toSeq), "s")
      ctx.metric("layer.commit_s", Common.median(all.map(_("sinks.write_s")).toSeq), "s")
      ctx.metric("state.files", files.toDouble, "count")
      ctx.metric("state.bytes_per_item", bytes.toDouble / committed, "bytes")
      ctx.metric("trace.op_p50_s", Common.median(lats), "s")
    }
  }

  /** Traced runs force each prefix of the path on the drop before the real
    * trigger sees it: parse, parse + cursor dedup, the full per-batch
    * transform, and a commit into a shadow sink and checkpoint that evolve
    * exactly like the real ones. Differences between consecutive prefixes
    * give each layer's time. */
  private def prefixes(ctx: Ctx, file: String, cursor: Long, batchId: Long): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def timed(name: String)(f: => Unit): Double = {
      val t = System.nanoTime(); tr.span(s"$name#$batchId")(f); Common.secsSince(t)
    }
    val parse = timed("sources.parse")(Common.force(SpotSource.fromJson(spark, file)))
    val dedup = timed("streaming.ingest.dedup")(Common.force(SpotSource.sorted(
      SpotSource.fromJson(spark, file).filter(col("Spotnum") > cursor)
        .dropDuplicates("Spotnum"))))
    val process = timed("streaming.ingest.process")(Common.force(
      Ingest.processBatch(SpotSource.fromJson(spark, file), cursor)))
    val commit = timed("streaming.ingest.commit")(Ingest.commitBatch(spark,
      SpotSource.fromJson(spark, file), batchId, s"${ctx.workDir}/shadow-sink",
      s"${ctx.workDir}/shadow-ckpt"))
    Map("sources.parse_s" -> parse, "streaming.ingest.dedup_s" -> (dedup - parse),
      "operators.enrich_s" -> (process - dedup), "sinks.write_s" -> (commit - process),
      "streaming.ingest.commit_s" -> commit)
  }

  /** The first round's drops through a fresh `local[1]` session: the
    * single-thread baseline of traced runs. Stops the run's session. */
  override def baseline(ctx: Ctx): Unit = {
    val round = drops(ctx.inputDir).head
    // the measured loop moved these files into its drop dir
    val from = Path.of(ctx.workDir, "drop")
    val dir = Path.of(ctx.workDir, "local1")
    val drop = dir.resolve("drop")
    Files.createDirectories(drop)
    ctx.spark.stop()
    val one = Common.session("local[1]", 1, ctx.workDir + "/local1")
    val lats = round.map { d =>
      Files.copy(from.resolve(d.file), drop.resolve(d.file))
      val t = System.nanoTime()
      ctx.op(s"local1 trigger ${d.file}") {
        trigger(one, drop.toString, s"$dir/ckpt", s"$dir/sink")
        cursorAfter(s"$dir/ckpt") == d.maxId
      }
      (d.fresh, Common.secsSince(t))
    }
    ctx.detail("local1.spot_batch_p50_s") = Common.median(lats.map(_._2))
    ctx.detail("local1.spot_rows_per_s") = lats.map(_._1).sum / lats.map(_._2).sum
    one.stop()
  }
}
