package e2ebench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path}

/** A fixed subset of [[SparkEntry.queries]] over generated sf0.02 tables,
  * after a warm-up pass over sf0.001 ones: one query per operator module
  * (Similarity, Dedup, Graph with its Checkpoints barriers) and one per
  * plan rewrite (plans.TopK). Passes repeat while the run has time left.
  * No query here writes an index under a fixed path. */
object BoardHot extends Workload {
  val Queries: Seq[String] = Seq("q129_tfidf_cosine_join", "q53_dedup_clusters",
    "q121_scc", "q21_window_topk")

  /** Tables each query reads, for the traced run's scan layer. */
  val Tables: Seq[String] = Seq("documents", "orders", "lineitem")

  private def digest(spark: SparkSession, dir: String, q: String): String =
    Common.digest(SparkEntry.queries(q)(spark, dir))

  /** Writes each warm-up result and its oracle SQL for the DuckDB
    * comparison that follows the run. */
  def warmUp(spark: SparkSession, workDir: String, inputDir: String): Unit = {
    Queries.foreach { q =>
      SparkEntry.queries(q)(spark, s"$inputDir/board/warm").coalesce(1)
        .write.parquet(s"$workDir/out/$q")
    }
    Files.writeString(Path.of(workDir, "oracle_sql.json"), Common.json(
      Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = s"${ctx.inputDir}/board/timed"
    // per query: wall of each pass and the digest of the first
    val walls = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val digests = scala.collection.mutable.LinkedHashMap[String, String]()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || Common.secsSince(t0) < ctx.seconds) {
      Queries.foreach { q =>
        System.gc()
        val t = System.nanoTime()
        ctx.op(s"query $q") {
          val d = tr.span(s"board.$q")(digest(spark, dir, q))
          digests.getOrElseUpdate(q, d) == d
        }
        walls(q) = walls.getOrElse(q, Nil) :+ Common.secsSince(t)
      }
      passes += 1
    }
    val perQuery = walls.map { case (q, xs) => q -> Common.median(xs) }
    val total = perQuery.values.sum
    ctx.metric("op_p50_s", Common.median(perQuery.values.toSeq), "s")
    ctx.metric("work_per_s", perQuery.size / total, "1/s")
    ctx.metric("read_s", total, "s")
    ctx.detail ++= Seq("board_total_s" -> total, "board_passes" -> passes,
      "board_digest" -> digests)
    perQuery.foreach { case (q, s) => ctx.detail(s"board.${q}_s") = s }

    if (tr.enabled) {
      val scans = Tables.map { t =>
        val s = System.nanoTime()
        tr.span(s"sources.scan.$t")(Common.force(spark.read.parquet(s"$dir/$t.parquet")))
        Common.secsSince(s)
      }
      val spans = tr.all
      val work = tr.inclusiveWork(tr.selfWork())
      val qs = spans.filter(_.name.startsWith("board."))
      val qw = qs.map(s => work.getOrElse(s.id, new Work))
      qs.zip(qw).foreach { case (s, w) =>
        val q = s.name.stripPrefix("board.")
        ctx.detail ++= Seq(s"board.$q.jobs" -> w.jobs,
          s"board.$q.shuffle_bytes" -> (w.shuffleRead + w.shuffleWrite),
          s"board.$q.spill_bytes" -> w.spill, s"board.$q.barrier_s" -> w.barrierMs / 1e3)
      }
      ctx.detail("barrier_s") = qw.map(_.barrierMs).sum / 1e3
      Common.perOp(ctx, qs.map(_.secs), qw)
      ctx.metric("layer.input_s", scans.sum, "s")
      ctx.metric("layer.transform_s", Common.median(qs.zip(qw).map { case (s, w) =>
        s.secs - w.barrierMs / 1e3 }), "s")
      ctx.metric("layer.commit_s", qw.map(_.barrierMs).sum / 1e3, "s")
      // the board's state is what its barriers and caches materialize
      val rows = digests.values.map(_.takeWhile(_ != ':').toLong).sum
      ctx.metric("state.files", tr.storedBlocks.get.toDouble / passes, "count")
      ctx.metric("state.bytes_per_item", tr.storedBytes.get.toDouble / passes / rows, "bytes")
      ctx.metric("trace.op_p50_s", Common.median(perQuery.values.toSeq), "s")
    }
  }
}
