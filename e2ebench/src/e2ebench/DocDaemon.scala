package e2ebench

import graft.operators.{Dedup, Retrieval}
import graft.streaming.DocIngest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The document daemon: seeded Zipf-vocabulary batches through
  * [[DocIngest.commitDocBatch]] with the LSH near-dup gate, the
  * re-delivery/Bloom gate and the BM25 postings fold on, compacting every
  * [[CompactEvery]] batches; one indexed BM25 top-k query after each batch
  * (closed loop, one producer). The daemon's first batch and query are its
  * warm-up; the measured loop continues the same corpus and indexes, and
  * runs at least until the first compaction. */
object DocDaemon extends Workload {
  val CompactEvery = 1
  /** Runs of each top-k query; its figure is the median. */
  val QueryRuns = 3
  val TopK = 10

  final case class Batch(file: String, rows: Long, novel: Set[Long])

  def batches(inputDir: String): Seq[Batch] =
    Files.readAllLines(Path.of(inputDir, "doc", "expected.csv")).toArray.toSeq
      .map(_.toString.split(",", -1))
      .map(f => Batch(f(1), f(2).toLong,
        f(3).split(" ").filter(_.nonEmpty).map(_.toLong).toSet))

  /** Query terms for batch `b`: a head, a middle and a tail rank of the
    * Zipf vocabulary, rotating so the queries touch different buckets. */
  def terms(b: Int): Seq[String] =
    Seq(s"w${1 + b % 5}", s"w${20 + 7 * b % 80}", s"w${300 + 37 * b % 700}")

  /** The daemon's corpus and indexes, shared by the warm-up and the run. */
  private def stateDir(workDir: String): String =
    Path.of(workDir).resolveSibling("doc-daemon").toString

  private def batchFile(inputDir: String, b: Batch) = s"$inputDir/doc/batches/${b.file}"

  private def read(spark: SparkSession, file: String) =
    spark.read.schema(DocIngest.docSchema).json(file)

  private def commit(spark: SparkSession, dir: String, file: String, id: Long,
      phases: Option[scala.collection.mutable.Map[String, Double]] = None) =
    DocIngest.commitDocBatch(spark, read(spark, file), id, s"$dir/corpus",
      s"$dir/lsh", invIndexPath = Some(s"$dir/bm25"), compactEvery = CompactEvery,
      phaseWalls = phases)

  def warmUp(spark: SparkSession, workDir: String, inputDir: String): Unit = {
    val dir = stateDir(workDir)
    commit(spark, dir, batchFile(inputDir, batches(inputDir).head), 0L)
    Retrieval.bm25TopKIndexed(spark, s"$dir/bm25", terms(0), TopK).collect()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = stateDir(ctx.workDir)
    val all = batches(ctx.inputDir)
    val batchS = scala.collection.mutable.ArrayBuffer[Double]()
    val queryS = scala.collection.mutable.ArrayBuffer[Double]()
    val layers = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var delivered, admitted = 0L
    // traced runs time DocIngest's own phases (it forces each phase's
    // frame at its boundary, so only there)
    val phases = scala.collection.mutable.Map[String, Double]()
    val t0 = System.nanoTime()
    var b = 1
    while (b < all.length && (b <= CompactEvery || Common.secsSince(t0) < ctx.seconds)) {
      val file = batchFile(ctx.inputDir, all(b))
      // traced runs force the batch parse and the within-batch LSH gate
      // first, so the commit's remaining time is the index side
      val pre = if (!tr.enabled) Map.empty[String, Double] else {
        def timed(name: String)(f: => Unit): Double = {
          val t = System.nanoTime(); tr.span(s"$name#$b")(f); Common.secsSince(t)
        }
        val parse = timed("docingest.parse")(Common.force(read(spark, file)))
        val gate = timed("operators.dedup.lsh_within")(Common.force(
          Dedup.minhashLshPairs(read(spark, file), 3, 64, 16, 0.35)))
        Map("parse_s" -> parse, "gate_s" -> gate)
      }
      System.gc() // so no batch pays for its predecessors' garbage
      val tb = System.nanoTime()
      var got = -1L
      ctx.op(s"batch $b") {
        got = tr.span(s"docingest.batch#$b")(commit(spark, dir, file, b.toLong,
          Some(phases).filter(_ => tr.enabled))).admitted
        got == all(b).novel.size
      }
      batchS += Common.secsSince(tb)
      if (tr.enabled) layers += pre + ("commit_s" -> batchS.last)
      delivered += all(b).rows
      admitted += math.max(got, 0L)
      queryS += Common.median((1 to QueryRuns).map { i =>
        val tq = System.nanoTime()
        ctx.op(s"query $b") {
          tr.span(s"retrieval.bm25_topk#$b.$i")(
            Retrieval.bm25TopKIndexed(spark, s"$dir/bm25", terms(b), TopK).collect()).nonEmpty
        }
        Common.secsSince(tq)
      })
      b += 1
    }
    val timed = 1 until b

    // untimed: the admitted set is exactly the novel docs, and top-k off the
    // folded index equals a cold rebuild from the admitted corpus
    ctx.op("admitted set") {
      val ids = DocIngest.readCorpus(spark, s"$dir/corpus").select(col("doc_id"))
        .collect().map(_.getLong(0))
      ids.length == ids.toSet.size && ids.toSet == all.take(b).flatMap(_.novel).toSet
    }
    Retrieval.writeInvertedIndex(DocIngest.readCorpus(spark, s"$dir/corpus"), s"$dir/cold")
    def topk(path: String, q: Int): Seq[Row] =
      Retrieval.bm25TopKIndexed(spark, path, terms(q), TopK).collect().toSeq
    timed.foreach { q =>
      ctx.op(s"top-k $q equals rebuild")(topk(s"$dir/bm25", q) == topk(s"$dir/cold", q))
    }

    val wall = batchS.sum
    ctx.metric("op_p50_s", Common.median(batchS.toSeq), "s")
    ctx.metric("work_per_s", delivered / wall, "1/s")
    ctx.metric("read_s", Common.median(queryS.toSeq), "s")
    val (tail, pct) = Common.tail(batchS.toSeq)
    ctx.detail ++= Seq("doc_batch_p50_s" -> Common.median(batchS.toSeq),
      "doc_batch_tail_s" -> tail, "doc_batch_tail_pct" -> pct,
      "doc_batch_n" -> timed.size, "doc_docs_per_s" -> delivered / wall,
      "doc_query_p50_s" -> Common.median(queryS.toSeq),
      "docs_delivered" -> delivered, "docs_admitted" -> admitted,
      "batch_s" -> batchS, "query_s" -> queryS)

    if (tr.enabled) {
      val (lsmFiles, lsmBytes) = Seq("lsh", "bm25").map(p => Common.dirStats(s"$dir/$p"))
        .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
      val spans = tr.all
      val self = tr.inclusiveWork(tr.selfWork())
      val batchSpans = spans.filter(_.name.startsWith("docingest.batch#"))
      val work = batchSpans.map(s => self.getOrElse(s.id, new Work))
      // the index holds the warm-up batch's docs too
      val indexed = DocIngest.readCorpus(spark, s"$dir/corpus").count()
      ctx.detail ++= Seq("docingest.batch_s" -> Common.median(batchS.toSeq),
        "spark.jobs_per_batch" -> Common.median(work.map(_.jobs.toDouble)),
        "lsm.files" -> lsmFiles, "lsm.bytes_per_admitted_doc" -> lsmBytes.toDouble / indexed,
        "retrieval.bm25_topk_s" -> Common.median(queryS.toSeq),
        "docingest.admitted_ratio" -> admitted.toDouble / delivered)
      phases.toSeq.sorted.foreach { case (k, v) =>
        ctx.detail(s"docingest.phase.${k}_s") = v / timed.size }
      Common.perOp(ctx, batchSpans.map(_.secs), work)
      ctx.metric("layer.input_s", Common.median(layers.map(_("parse_s")).toSeq), "s")
      ctx.metric("layer.transform_s", Common.median(layers.map(_("gate_s")).toSeq), "s")
      ctx.metric("layer.commit_s", Common.median(layers.map(m =>
        m("commit_s") - m("gate_s") - m("parse_s")).toSeq), "s")
      ctx.metric("state.files", lsmFiles.toDouble, "count")
      ctx.metric("state.bytes_per_item", lsmBytes.toDouble / indexed, "bytes")
      ctx.metric("trace.op_p50_s", Common.median(batchS.toSeq), "s")
    }
  }
}
