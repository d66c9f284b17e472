package graft

import graft.operators.Multimodal
import graft.streaming.{DocIngest, MediaIngest}
import org.apache.spark.sql.functions._

class MediaIngestSpec extends SparkSpec {
  import spark.implicits._

  // distinct random BMPs: aHashes of independent seeds are ~32 bits apart,
  // far above the maxDist=6 gate, so only planted byte-copies pair up
  private def bmp(seed: Long): Array[Byte] = Multimodal.encodeBmp(24, 16, seed)
  private def batchDf(rows: Seq[(Long, Array[Byte])]) =
    rows.toDF("doc_id", "payload")

  private def served(path: String): Map[Long, Long] =
    Multimodal.servedHashes(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("commitMediaBatch gate: re-delivery, within-batch and vs-index copies drop") {
    val tmp = java.nio.file.Files.createTempDirectory("media-gate").toString
    val corpus = s"$tmp/corpus"; val idx = s"$tmp/idx"
    val d1 = (1L to 6L).map(i => i -> bmp(i))
    val r0 = MediaIngest.commitMediaBatch(spark, batchDf(d1), 0L, corpus, idx)
    assert(r0 == DocIngest.BatchResult(6, 0, 0, 0))
    // drop 2: three novel + re-delivery of id 3 + a byte-copy of image 1
    // under a new id (vs-index) + two byte-copies of new image 7 under
    // fresh ids (within-batch; drop-the-higher keeps 7 itself)
    val d2 = Seq(7L -> bmp(7), 8L -> bmp(8), 9L -> bmp(9),
      3L -> bmp(3), 100L -> bmp(1), 101L -> bmp(7), 102L -> bmp(7))
    val r1 = MediaIngest.commitMediaBatch(spark, batchDf(d2), 1L, corpus, idx)
    assert(r1 == DocIngest.BatchResult(3, 2, 1, 1), s"tallies: $r1")
    // served index == hashes of exactly the admitted corpus (rebuild
    // equivalence, the incremental == rebuild contract)
    val corpusHashes = Multimodal.imageHashes(spark,
        MediaIngest.readCorpus(spark, corpus)).collect()
      .map(h => h.doc_id -> h.ahash).toMap
    assert(served(idx) == corpusHashes && corpusHashes.keySet == (1L to 9L).toSet)
    // retry of the committed batch is a marker no-op
    val r1b = MediaIngest.commitMediaBatch(spark, batchDf(d2), 1L, corpus, idx)
    assert(r1b == DocIngest.BatchResult(0, 0, 0, 0))
    assert(served(idx) == corpusHashes)
    // the pure-verdict operator agrees (run pre-commit semantics on a
    // THIRD batch so the index state is known)
    val b3 = Multimodal.imageHashes(spark,
      batchDf(Seq(10L -> bmp(10), 5L -> bmp(5), 200L -> bmp(2)))).toDF()
    val v = Multimodal.mediaGateVerdicts(spark, idx, b3, maxDist = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(10L -> "admitted", 5L -> "redelivered",
      200L -> "neardup_index"))
    // plan shape: the index probe must broadcast the (small) batch side
    // and stream the stored chunk scan map-side — no shuffle of the index
    val plan = Multimodal.imageNearDupAgainstIndex(spark, idx, b3)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"batch side must broadcast against the stored chunks:\n$plan")
  }

  test("a producer-retried duplicate line collapses: corpus holds the payload ONCE") {
    val corpus = java.nio.file.Files.createTempDirectory("med-dup-c").toString
    val idx = java.nio.file.Files.createTempDirectory("med-dup-i").toString + "/idx"
    // doc 2 delivered twice in one batch — without the entry collapse the
    // payload write (a left_semi join against the RAW batch) emits both
    // rows while the hash index serves one (the r13 MediaSoak catch)
    val r0 = graft.streaming.MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(1L -> bmp(1), 2L -> bmp(2), 2L -> bmp(2), 3L -> bmp(3))),
      0L, corpus, idx)
    assert(r0.admitted == 3, s"duplicate line must collapse, got $r0")
    val corpusRows = graft.streaming.MediaIngest.readCorpus(spark, corpus)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 2L).count()
    assert(corpusRows == 1L, "the corpus must hold the duplicated payload ONCE")
    // served == a cold hash pass over the corpus, WITH multiplicity
    val servedN = graft.operators.Multimodal.servedHashes(spark, idx).count()
    val rebuiltN = graft.operators.Multimodal.imageHashes(spark,
      graft.streaming.MediaIngest.readCorpus(spark, corpus)).toDF().count()
    assert(servedN == 3L && rebuiltN == 3L)
  }

  test("readCorpus derives the vectorized reader batch size from the corpus's own payload stats") {
    val corpus = java.nio.file.Files.createTempDirectory("med-big-c").toString
    // ~256 KiB random (incompressible) payloads: the stock 4096-row
    // column batch would ask each task for ~1 GiB contiguous buffers —
    // the r14 512×512 MediaSoak OOM shape. The contract now lives at the
    // read site: batch ≈ 32 MiB / avg-row-bytes.
    val rnd = new scala.util.Random(7)
    val rows = (1L to 8L).map { i =>
      val b = new Array[Byte](256 * 1024); rnd.nextBytes(b); i -> b
    }
    batchDf(rows).repartition(2).write.parquet(s"$corpus/batch-0")
    val before = spark.conf
      .getOption("spark.sql.parquet.columnarReaderBatchSize")
    try {
      val df = MediaIngest.readCorpus(spark, corpus)
      val derived = spark.conf
        .get("spark.sql.parquet.columnarReaderBatchSize").toLong
      // 32 MiB / ~256 KiB ≈ 128 rows (parquet framing shifts it slightly)
      assert(derived >= 16 && derived <= 256,
        s"derived batch size must track payload bytes, got $derived")
      // the read itself stays correct under the derived conf
      assert(df.count() == 8 &&
        df.select(max(length(col("payload")))).head.getInt(0) == 256 * 1024)
    } finally before match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.columnarReaderBatchSize")
    }
  }

  test("commitMediaBatch persists logical payload stats; readCorpus sizes batches from them without a data listing") {
    val tmp = java.nio.file.Files.createTempDirectory("media-stats").toString
    val corpus = s"$tmp/corpus"; val idx = s"$tmp/idx"
    // HIGHLY COMPRESSIBLE ~128 KiB payloads (zero-filled beyond the BMP
    // header): on-disk bytes land far below logical bytes, the exact
    // shape where the old on-disk derivation clamps the batch too large
    // and re-admits the multi-GB column buffers it claims to prevent
    // (r15 ADVICE). Two batches so the stats path aggregates sidecars.
    def zeroPad(seed: Long): Array[Byte] = {
      val b = new Array[Byte](128 * 1024)
      val h = Multimodal.encodeBmp(24, 16, seed)
      System.arraycopy(h, 0, b, 0, h.length); b
    }
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(1L -> zeroPad(1), 2L -> zeroPad(2))), 0L, corpus, idx)
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(3L -> zeroPad(3))), 1L, corpus, idx)
    // the sidecars exist and carry LOGICAL bytes (3 rows x 128 KiB)
    val (bytes, rows, source) =
      MediaIngest.corpusPayloadStats(spark, corpus)
    assert(source == "stats", "a stats-bearing corpus must not fall back " +
      "to the listing walk")
    assert(rows == 3L && bytes == 3L * 128 * 1024,
      s"stats must be logical payload bytes, got ($bytes, $rows)")
    // readCorpus derives ~32MiB/128KiB = 256 rows from the LOGICAL size;
    // the on-disk derivation would have clamped to 4096 (compressed
    // parquet of zero-fill is a few KiB/row)
    val before = spark.conf
      .getOption("spark.sql.parquet.columnarReaderBatchSize")
    try {
      val df = MediaIngest.readCorpus(spark, corpus)
      val derived = spark.conf
        .get("spark.sql.parquet.columnarReaderBatchSize").toLong
      assert(derived == 256,
        s"batch must derive from logical bytes (expected 256, got $derived)")
      assert(df.count() == 3)
    } finally before match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.columnarReaderBatchSize")
    }
    // a batch dir missing its sidecar (pre-r16 corpus / crash between
    // parquet and stats write) falls the WHOLE derivation back — a
    // partial average could skew small
    val fs = graft.util.Lsm.fs(spark, corpus)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpus/batch-1/${MediaIngest.payloadStatsFile}"), false)
    val (_, rows2, source2) = MediaIngest.corpusPayloadStats(spark, corpus)
    assert(source2 == "derived" && rows2 == 3L)
  }

  test("crashed partial move is swept before the gate probes") {
    val tmp = java.nio.file.Files.createTempDirectory("media-crash").toString
    val corpus = s"$tmp/corpus"; val idx = s"$tmp/idx"
    MediaIngest.commitMediaBatch(spark,
      batchDf((1L to 4L).map(i => i -> bmp(i))), 0L, corpus, idx)
    // plant batch-1 debris: a marked copy of an existing chunk file — if it
    // survived, the gate would see batch 1's ids as already stored
    val fs = graft.util.Lsm.fs(spark, idx)
    val root = new org.apache.hadoop.fs.Path(s"$idx/chunks")
    val cell = fs.listStatus(root).filter(_.isDirectory).head.getPath
    val victim = fs.listStatus(cell).filter(_.isFile).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs,
      new org.apache.hadoop.fs.Path(cell, "b1-crashed.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    val r = MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(5L -> bmp(5))), 1L, corpus, idx)
    assert(r == DocIngest.BatchResult(1, 0, 0, 0),
      "the planted partial move must be swept, not gate or double-count")
    assert(served(idx).keySet == (1L to 5L).toSet)
    assert(served(idx).toSeq.map(_._1).sorted ==
      Multimodal.servedHashes(spark, idx).select("doc_id").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq, "no duplicate hash rows")
  }

  test("compaction merges fragments, serves identical results, later folds work") {
    val tmp = java.nio.file.Files.createTempDirectory("media-cpt").toString
    val corpus = s"$tmp/corpus"; val idx = s"$tmp/idx"
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(1L -> bmp(1), 2L -> bmp(2))), 0L, corpus, idx)
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(3L -> bmp(3))), 1L, corpus, idx)
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(4L -> bmp(4))), 2L, corpus, idx)
    val before = served(idx)
    val probeBefore = Multimodal.imageNearDupAgainstIndex(spark, idx,
      Seq((100L, before(2L))).toDF("doc_id", "ahash")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val fs = graft.util.Lsm.fs(spark, idx)
    val root = new org.apache.hadoop.fs.Path(s"$idx/chunks")
    def maxFiles: Int = fs.listStatus(root).filter(_.isDirectory).map { d =>
      fs.listStatus(d.getPath).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    }.max
    assert(maxFiles > 1, "fixture must actually be fragmented")
    Multimodal.hashIndexCompact(spark, idx)
    assert(maxFiles == 1, "every bucket must compact to one file")
    assert(served(idx) == before, "compaction must be content-preserving")
    assert(Multimodal.imageNearDupAgainstIndex(spark, idx,
      Seq((100L, before(2L))).toDF("doc_id", "ahash")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      == probeBefore)
    MediaIngest.commitMediaBatch(spark,
      batchDf(Seq(5L -> bmp(5))), 3L, corpus, idx)
    assert(served(idx).keySet == (1L to 5L).toSet)
  }

  test("a batch frees every block it materialized, also when it fails midway") {
    val tmp = java.nio.file.Files.createTempDirectory("media-free").toString
    val corpus = s"$tmp/corpus"; val idx = s"$tmp/idx"
    MediaIngest.commitMediaBatch(spark, batchDf((1L to 6L).map(i => i -> bmp(i))),
      0L, corpus, idx)
    // every gate live: bloom-positive re-delivery, vs-index and
    // within-batch near-dups
    val leaked = leakedBlocks {
      val r1 = MediaIngest.commitMediaBatch(spark, batchDf(Seq(7L -> bmp(7),
        3L -> bmp(3), 100L -> bmp(1), 101L -> bmp(7))), 1L, corpus, idx)
      assert(r1 == DocIngest.BatchResult(1, 1, 1, 1), s"r1=$r1")
    }
    assert(leaked.isEmpty, s"leaked $leaked")
    // fails at the corpus write, after the gates and the admit: the
    // corpus root is a regular file
    val blocker = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$tmp/blocker")).toString
    val phases = scala.collection.mutable.Map[String, Double]()
    val leakedOnFailure = leakedBlocks(intercept[Exception] {
      MediaIngest.commitMediaBatch(spark, batchDf(Seq(8L -> bmp(8),
        4L -> bmp(4))), 2L, blocker, idx, phaseWalls = Some(phases))
    })
    assert(phases.contains("admit") && !phases.contains("sidecar_fold"),
      s"the failure must come after the gates: ${phases.keySet}")
    assert(leakedOnFailure.isEmpty, s"leaked $leakedOnFailure")
  }

  test("streaming daemon: JSONL drops end-to-end with the hash gate") {
    import java.nio.file.{Files, Path => JPath}
    import java.util.Base64
    val in = Files.createTempDirectory("media-in").toString
    val ckpt = Files.createTempDirectory("media-ckpt").toString
    val out = Files.createTempDirectory("media-out").toString
    val corpus = s"$out/corpus"; val idx = s"$out/idx"
    def jsonl(rows: Seq[(Long, Array[Byte])]): String =
      rows.map { case (id, p) =>
        s"""{"doc_id": $id, "payload_b64": "${Base64.getEncoder.encodeToString(p)}"}"""
      }.mkString("\n")
    Files.writeString(JPath.of(in, "w1.jsonl"),
      jsonl((1L to 4L).map(i => i -> bmp(i))))
    def drain(): Unit = MediaIngest.start(spark, in, ckpt, corpus, idx,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    drain()
    assert(served(idx).keySet == (1L to 4L).toSet)
    // second drop: one novel + a byte-copy of image 2 under a new id
    Files.writeString(JPath.of(in, "w2.jsonl"),
      jsonl(Seq(5L -> bmp(5), 300L -> bmp(2))))
    drain()
    assert(served(idx).keySet == (1L to 5L).toSet,
      "the near-dup re-encode must be gated out by the index probe")
    val corpusIds = MediaIngest.readCorpus(spark, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == (1L to 5L).toSet)
  }
}
