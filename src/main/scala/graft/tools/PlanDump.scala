package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
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
  * are elided from the plan files. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q01_pricing", "q13_enrich", "q20_join_agg", "q31_dedup_ngram", "q35_sim_topk", "q05_gap_audit")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (names.headOption.contains("--docingest")) {
      require(names.length == 2, "usage: PlanDump --docingest <outDir>")
      docIngest(spark, names(1))
    } else names.foreach { n =>
      println(s"\n======== $n ========")
      println(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
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
