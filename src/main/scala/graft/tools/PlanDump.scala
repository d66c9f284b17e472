package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graftbridge.PlanProbe

/** Dump formatted physical plans for selected queries (plan hygiene review:
  * PushedFilters, ReadSchema pruning, broadcast vs shuffle joins,
  * WholeStageCodegen spans).
  *
  * `PlanDump --docingest <outDir>` instead runs two seeded document
  * batches through [[graft.streaming.DocIngest.commitDocBatch]] the way
  * the doc daemon does (LSH gate, Bloom re-delivery gate, BM25 fold,
  * compaction every batch) and writes, for the second batch,
  * `summary.txt` (one line per query: action, plan-description bytes,
  * leaf scans through cached relations, largest binary literal) and the
  * formatted plans of its admit query (the first to compute the
  * left-anti admission join) and its corpus write. Hex runs of 64+ digits
  * are elided from the plan files.
  *
  * `PlanDump --enrich <outDir>` writes `enrich.txt`: the expression-node
  * count, optimized logical plan and formatted physical plan of one spot
  * trigger's transform, [[graft.streaming.Ingest.processBatch]], over a
  * 200-spot JSON drop. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q01_pricing", "q13_enrich", "q20_join_agg", "q31_dedup_ngram", "q35_sim_topk", "q05_gap_audit")
    val spark = graft.GraftSession("local[4]", 4)
    if (names.headOption.contains("--docingest")) {
      require(names.length == 2, "usage: PlanDump --docingest <outDir>")
      docIngest(spark, names(1))
    } else if (names.headOption.contains("--enrich")) {
      require(names.length == 2, "usage: PlanDump --enrich <outDir>")
      enrich(spark, java.nio.file.Path.of(names(1)))
    } else names.foreach { n =>
      println(s"\n======== $n ========")
      println(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }

  /** Expression nodes summed over every operator of `plan`: what the
    * analyzer, optimizer and code generator walk on each trigger. */
  def expressionNodes(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum

  /** `n` API spots as a JSON array, over 4- and 6-character locators in
    * both cases. */
  def spotJson(n: Int): String = {
    val grids = Seq("DN70", "FN12gx", "JO62QM", "PM95", "QF56od", "IO91WM")
    (0 until n).map { i =>
      s"""{"Spotnum": ${i + 1}, "Date": ${1614159000L + i * 60}, "Reporter": "R$i", """ +
        s""""ReporterGrid": "${grids(i % 6)}", "dB": -21, "MHz": 7.040172, """ +
        s""""CallSign": "T$i", "Grid": "${grids((i + 1) % 6)}", "Power": 23, """ +
        s""""Drift": 0, "distance": 1, "azimuth": 1, "Band": 7, "version": "2.3.0", "code": 1}"""
    }.mkString("[", ",\n", "]")
  }

  private def enrich(spark: SparkSession, out: java.nio.file.Path): Unit = {
    val work = java.nio.file.Files.createTempDirectory("plandump-enrich")
    try {
      java.nio.file.Files.writeString(work.resolve("drop.json"), spotJson(200))
      val df = graft.streaming.Ingest.processBatch(
        graft.sources.SpotSource.fromJson(spark, work.toString), 0L)
      df.collect() // finalize the adaptive plan
      val qe = df.queryExecution
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.writeString(out.resolve("enrich.txt"),
        s"expression nodes (optimized plan): ${expressionNodes(qe.optimizedPlan)}\n\n" +
          s"== Optimized Logical Plan ==\n${qe.optimizedPlan}\n\n" +
          qe.explainString(FormattedMode))
      ()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  /** 50 docs over a Zipf-like 1,000-word vocabulary; batch 1 re-delivers
    * 5 of batch 0's ids and copies 5 of its texts. */
  private def docs(spark: SparkSession, batch: Int): DataFrame = {
    import spark.implicits._
    def text(seed: Long): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(40)(s"w${math.pow(1000, r.nextDouble()).toInt}").mkString(" ")
    }
    (0 until 50).map { i =>
      val id = batch * 50L + i
      val t = if (batch == 1 && i < 5) text(i + 20) else text(id)
      (if (batch == 1 && i >= 45) i - 45L else id, t, "en", "dump", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private def docIngest(spark: SparkSession, outDir: String): Unit = {
    val work = java.nio.file.Files.createTempDirectory("plandump-doc").toString
    try dumpDocBatch(spark, work, java.nio.file.Path.of(outDir))
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
  }

  private def dumpDocBatch(spark: SparkSession, work: String,
      out: java.nio.file.Path): Unit = {
    def commit(b: Int) = graft.streaming.DocIngest.commitDocBatch(spark,
      docs(spark, b), b.toLong, s"$work/corpus", s"$work/lsh",
      invIndexPath = Some(s"$work/bm25"), compactEvery = 1)
    commit(0)
    val (r, named) = PlanProbe.capture(spark)(commit(1))
    val qes = named.map(_._2)
    def text(qe: QueryExecution) = qe.explainString(FormattedMode)
    java.nio.file.Files.createDirectories(out)
    def write(name: String, s: String): Unit = {
      java.nio.file.Files.writeString(out.resolve(name), s); ()
    }
    write("summary.txt", (s"batch 1: $r" +:
      "query\taction\tdescription_bytes\tleaf_scans\tmax_binary_literal_bytes" +:
      named.zipWithIndex.map { case ((action, qe), i) =>
        s"$i\t$action\t${text(qe).length}\t${PlanProbe.leafScans(qe)}\t" +
          PlanProbe.maxBinaryLiteral(qe)
      }).mkString("", "\n", "\n"))
    def elided(qe: QueryExecution) = "[0-9A-Fa-f]{64,}".r
      .replaceAllIn(text(qe), m => s"<${m.matched.length} hex digits elided>")
    qes.find(qe => PlanProbe.anyNode(qe) {
      case j: BaseJoinExec => j.joinType == LeftAnti
      case _ => false
    }).foreach(qe => write("admit.txt", elided(qe)))
    qes.find(_.optimizedPlan.exists {
      case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.toString.contains(s"$work/corpus")
      case _ => false
    }).foreach(qe => write("corpus_write.txt", elided(qe)))
  }
}
