package graft

import graft.operators.Multimodal
import graft.streaming.{DocIngest, MediaIngest}
import org.apache.spark.JobCount
import java.nio.file.Files
import scala.collection.mutable

class BatchScopeSpec extends SparkSpec {
  import spark.implicits._

  private type Phases = Option[mutable.Map[String, Double]]

  /** One daemon's batch `id` committed to the tree under `root`, and the
    * result the fixture's batch 1 must give (every gate live). */
  private case class Daemon(name: String, expected: DocIngest.BatchResult,
      commit: (String, Long, Phases) => DocIngest.BatchResult)

  private lazy val doc = {
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "red orange yellow green blue indigo violet purple pink white"
    val tD = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val tE = "spark catalyst tungsten shuffle partition broadcast join agg scan sort"
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    lazy val evalDir = {
      val d = Files.createTempDirectory("scope-eval").toString + "/eval"
      Seq((900L, tE)).toDF("doc_id", "text").write.parquet(d)
      d
    }
    // batch 1: 0 re-delivered, 2 a vs-index near-dup of 3, 7 a within-batch
    // near-dup of 6, 8 contaminated, 6 admitted
    val batches = Map(0L -> docs(0L -> tA, 3L -> tB),
      1L -> docs(0L -> tC, 2L -> tB, 6L -> tD, 7L -> tD, 8L -> tE))
    Daemon("DocIngest", DocIngest.BatchResult(1, 1, 1, 1, 1), (root, id, phases) =>
      DocIngest.commitDocBatch(spark, batches(id), id, s"$root/corpus",
        s"$root/index", invIndexPath = Some(s"$root/bm25"),
        evalPath = Some(evalDir), phaseWalls = phases))
  }

  private lazy val media = {
    def bmp(seed: Long) = Multimodal.encodeBmp(24, 16, seed)
    // batch 1: 3 re-delivered, 100 a copy of stored 1, 101 and 102 copies
    // of 7 within the batch, 7-9 admitted
    val batches = Map(0L -> (1L to 6L).map(i => i -> bmp(i)),
      1L -> Seq(7L -> bmp(7), 8L -> bmp(8), 9L -> bmp(9), 3L -> bmp(3),
        100L -> bmp(1), 101L -> bmp(7), 102L -> bmp(7)))
    Daemon("MediaIngest", DocIngest.BatchResult(3, 2, 1, 1), (root, id, phases) =>
      MediaIngest.commitMediaBatch(spark, batches(id).toDF("doc_id", "payload"),
        id, s"$root/corpus", s"$root/index", phaseWalls = phases))
  }

  test("phase telemetry adds no Spark job: equal job counts and results with phaseWalls set and unset") {
    for (d <- Seq(doc, media)) {
      val timed = Files.createTempDirectory("scope-timed").toString
      val plain = Files.createTempDirectory("scope-plain").toString
      d.commit(timed, 0L, None)
      d.commit(plain, 0L, None)
      val phases = mutable.LinkedHashMap[String, Double]()
      val (rTimed, jobsTimed) = JobCount(spark)(d.commit(timed, 1L, Some(phases)))
      val (rPlain, jobsPlain) = JobCount(spark)(d.commit(plain, 1L, None))
      assert(rPlain == d.expected, s"${d.name}: $rPlain")
      assert(rTimed == rPlain, s"${d.name}: telemetry changed the result: $rTimed")
      assert(phases.nonEmpty, s"${d.name}: no phase timed")
      assert(jobsTimed == jobsPlain,
        s"${d.name}: $jobsTimed jobs with phase walls, $jobsPlain without")
    }
  }
}
