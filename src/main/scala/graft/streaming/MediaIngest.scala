package graft.streaming

import graft.operators.Multimodal
import graft.util.Lsm
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming media ingest — the [[DocIngest]] pattern for image payloads:
  * a JSONL file-drop of (doc_id, base64 payload) records, each micro-batch
  * decoded where it lands ([[Multimodal.imageHashes]] — the payload bytes
  * never shuffle), perceptual-hash gated (exact re-delivery, then
  * pigeonhole Hamming near-dup within the batch and against the at-rest
  * chunk index), and the survivors' payloads written to per-batch corpus
  * directories while their hashes fold into the index via
  * [[Multimodal.hashIndexInsert]] under the batch-id-keyed protocol.
  * The daemon therefore maintains a duplicate-free media corpus at batch
  * cost: the corpus payload bytes — the part that dominates 100 TB — are
  * written once and never rescanned; every gate touches only the 16-byte
  * hash rows.
  *
  * With `compactEvery > 0`, every Nth batch also merges the index's LSM
  * fragments ([[Multimodal.hashIndexCompact]]) inside the single-writer
  * slot — the same maintenance loop as [[DocIngest]] and [[EmbIngest]].
  *
  * Crash posture: file-source offsets checkpoint the stream; a replayed
  * batch no-ops on a committed id and sweeps + redoes a crashed one
  * ([[commitMediaBatch]]); corpus batch directories rewrite with
  * overwrite semantics, so replay converges ([[Ingest.commitBatch]]).
  */
object MediaIngest {

  /** JSONL media-event schema for the file drop (payload base64-encoded —
    * JSONL is the drop format the daemon family shares; a production drop
    * of raw containers would use the binaryFile source with identical
    * downstream plumbing). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload_b64", StringType)))

  /** Commit one media micro-batch idempotently — the [[DocIngest]] gate
    * order for images: decode + hash per partition, collapse duplicate
    * doc_ids, drop exact re-deliveries, drop Hamming near-dups (the
    * higher id of each within-batch pair; any batch id within `maxDist`
    * of a stored hash), write admitted payloads to
    * `corpusDir/batch-<id>`, fold admitted hashes into `indexPath`.
    * The meta marker commits last, so the index fold is the idempotence
    * point; the corpus write is overwrite-idempotent per batch dir.
    *
    * `phaseWalls` (operational telemetry, None in production): each
    * phase's wall seconds accumulate under a stable key, so a soak can
    * attribute per-batch wall to decode vs gate vs write vs fold. Every
    * frame a phase builds is materialized inside it ([[BatchScope]]), so
    * the phases time the same jobs that run untraced. */
  def commitMediaBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpusDir: String, indexPath: String, maxDist: Int = 6,
      nBuckets: Int = 8, compactEvery: Int = 0,
      phaseWalls: Option[scala.collection.mutable.Map[String, Double]] = None)
      : DocIngest.BatchResult = {
    val fs = Lsm.fs(spark, indexPath)
    Lsm.recoverSwap(fs, indexPath, "meta")
    // shared entry: committed no-op, or sweep this batch's own partial
    // move BEFORE the gate probes the tree (hashIndexInsert re-sweeps;
    // harmless)
    if (Lsm.enterBatch(spark, fs, indexPath, batchId,
        markedRoots = Seq("chunks")).alreadyCommitted) {
      System.err.println(s"[mediaingest] batch $batchId: already committed")
      return DocIngest.BatchResult(0, 0, 0, 0)
    }
    // id-sidecar entry (recovery + own-marker sweep) alongside the chunk
    // tree's sweep, BEFORE the gate probes it
    graft.util.IdTree.enterBatch(spark, indexPath, batchId)
    val scope = new BatchScope(spark, batchId, phaseWalls)
    import scope.{cut, none, phase}
    try {
      // duplicate doc_id rows collapse deterministically (min payload)
      // BEFORE anything else — the EmbIngest producer-retry rule: the hash
      // gate already collapsed per id, but the payload write joined the RAW
      // batch, so a duplicated line wrote the same doc twice into the
      // corpus while the index served it once (caught by MediaSoak's
      // served==rebuild checkpoint, r13). One row per doc_id from here on,
      // so the hash frame needs no further per-id aggregation.
      val (b, hashes) = phase("decode_hash") {
        val b = cut(batch.groupBy("doc_id").agg(min(col("payload")).as("payload")))
        (b, cut(Multimodal.imageHashes(spark, b).toDF().select("doc_id", "ahash")))
      }
      // DATA-file probe, not dir existence: a crashed first fold's sweep
      // leaves empty tb= dirs behind, and a bare-dir read would throw on
      // every retry, wedging the daemon
      val indexExists = Lsm.hasBucketData(fs, new Path(s"$indexPath/chunks"))
      def storedIds = Multimodal.servedHashes(spark, indexPath)
        .select("doc_id").distinct()
      val redelivered = phase("gate_redelivery")(scope.redeliveredIds(hashes,
        indexPath, "doc_id", indexExists, storedIds))
      val (withinDrops, indexDrops) = phase("gate_neardup") {
        val w = cut(Multimodal.imageNearDupPairs(hashes, maxDist)
          .select(col("b_id").as("doc_id")).distinct())
        val i = if (indexExists)
          cut(Multimodal.imageNearDupAgainstIndex(spark, indexPath, hashes, maxDist)
            .select(col("a_id").as("doc_id")).distinct())
        else none(w)
        (w, i)
      }
      val admittedIds = phase("admit")(cut(hashes.select("doc_id").join(
        withinDrops.union(indexDrops).union(redelivered).distinct(),
        Seq("doc_id"), "left_anti")))
      // payloads of admitted ids, written where they already live — the
      // join is id-against-id; the binary column never shuffles
      phase("corpus_write") {
        val admitted = b.join(admittedIds, Seq("doc_id"), "left_semi")
        val batchDir = s"$corpusDir/batch-$batchId"
        admitted.write.mode("overwrite").parquet(batchDir)
        // persist LOGICAL payload stats next to the batch (r16 ask #3):
        // the daemon knows bytes/rows here for the cost of one agg over
        // the materialized batch, so readCorpus never has to re-derive them
        // from a full corpus listing + footer count. Logical (in-memory)
        // bytes, not on-disk: compressible payloads can be far smaller
        // on disk than in the reader's column buffers (r15 ADVICE), and
        // the reader-batch contract guards MEMORY. Overwrite-idempotent
        // alongside the batch dir itself; written before the meta
        // marker, so a crash between leaves a legacy-shaped batch the
        // reader's fallback still handles.
        writePayloadStats(spark, batchDir, admitted)
      }
      val admittedHashes = hashes.join(admittedIds, Seq("doc_id"), "left_semi")
      // sidecars fold BEFORE the index fold (BloomSidecar ordering
      // contract)
      phase("sidecar_fold")(scope.foldSidecars(indexPath, admittedIds, "doc_id",
        indexExists, storedIds))
      phase("fold_chunks")(Multimodal.hashIndexInsert(spark, indexPath,
        admittedHashes, batchId, maxDist, nBuckets))
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        phase("maintenance") {
          Multimodal.hashIndexCompact(spark, indexPath)
          graft.util.IdTree.compact(spark, indexPath, batchId)
          scope.rebuildBloom(indexPath, "doc_id", storedIds)
        }
      val r = DocIngest.BatchResult(admittedIds.count(), withinDrops.count(),
        indexDrops.count(), redelivered.count())
      System.err.println(s"[mediaingest] batch $batchId: admitted=${r.admitted} " +
        s"dropped_within=${r.droppedWithinBatch} " +
        s"dropped_vs_index=${r.droppedVsIndex} " +
        s"dropped_redelivered=${r.droppedRedelivered}")
      r
    } finally scope.close()
  }

  /** Name of the per-batch payload-stats sidecar. Underscore-prefixed so
    * parquet readers and [[Lsm]]-style data listings skip it as metadata. */
  private[graft] val payloadStatsFile = "_payload_stats.json"

  /** Write the batch's logical payload stats (row count + sum of payload
    * byte lengths) as a tiny JSON sidecar inside the batch directory.
    * One agg job over the admitted frame — batch-sized work on
    * the write path buys the read path out of a corpus-wide listing. */
  private[graft] def writePayloadStats(spark: SparkSession, batchDir: String,
      admitted: DataFrame): Unit = {
    val r = admitted.agg(count(lit(1)), sum(length(col("payload"))))
      .head()
    val rows = r.getLong(0)
    val bytes = if (r.isNullAt(1)) 0L else r.getLong(1)
    val fs = Lsm.fs(spark, batchDir)
    val out = fs.create(new Path(s"$batchDir/$payloadStatsFile"), true)
    try out.write(
      s"""{"rows":$rows,"payload_bytes":$bytes}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Corpus-wide payload stats: (logical payload bytes, rows, source).
    * Fast path reads the per-batch [[payloadStatsFile]] sidecars — one
    * SHALLOW listing of the corpus root plus one tiny file per batch
    * directory, no data-file walk, no footer pass (at a 100 TB corpus
    * with millions of files, the old recursive listing + count() was two
    * full metadata passes per call — r15 missing #3). Falls back to the
    * legacy derivation (recursive size walk + footer row count) when ANY
    * batch directory lacks its sidecar (pre-r16 corpora, or a crash
    * between parquet write and stats write): a partial-stats average
    * could skew small, and smaller-but-derived beats wrong. The fallback
    * measures ON-DISK (compressed) bytes, so callers must apply a
    * compression safety factor before sizing memory from it — see
    * `source == "derived"` handling in [[readCorpus]]. */
  private[graft] def corpusPayloadStats(spark: SparkSession,
      corpusDir: String): (Long, Long, String) = {
    val fs = Lsm.fs(spark, corpusDir)
    val root = new Path(corpusDir)
    if (!fs.exists(root)) return (0L, 0L, "empty")
    val batchDirs = fs.listStatus(root).filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val statPat = """"rows":(\d+).*"payload_bytes":(\d+)""".r.unanchored
    val sidecars = batchDirs.map { d =>
      val p = new Path(d.getPath, payloadStatsFile)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try {
          val buf = new Array[Byte](4096)
          val n = in.read(buf)
          new String(buf, 0, math.max(0, n), "UTF-8")
        } finally in.close()
        txt match {
          case statPat(r, b) => Some((b.toLong, r.toLong))
          case _ => None
        }
      }
    }
    if (batchDirs.nonEmpty && sidecars.forall(_.isDefined)) {
      val (bytes, rows) = sidecars.flatten
        .foldLeft((0L, 0L)) { case ((b, r), (b2, r2)) => (b + b2, r + r2) }
      (bytes, rows, "stats")
    } else {
      def dataBytes(p: Path): Long =
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).map { s =>
          if (s.getPath.getName.startsWith("_") ||
              s.getPath.getName.startsWith(".")) 0L
          else if (s.isDirectory) dataBytes(s.getPath)
          else s.getLen
        }.sum
      val bytes = dataBytes(root)
      val rows =
        spark.read.option("recursiveFileLookup", "true").parquet(corpusDir)
          .count() // column-pruned: footer row counts, payloads never buffered
      (bytes, rows, "derived")
    }
  }

  /** Read the admitted media corpus back (all batch directories),
    * deriving the vectorized reader's row-batch size from the corpus's
    * OWN payload stats — the r14 512×512 MediaSoak finding, enforced at
    * the read site instead of documented in prose: the vectorized
    * parquet reader sizes its column batches in ROWS
    * (`spark.sql.parquet.columnarReaderBatchSize`, default 4096), so a
    * corpus of ~1 MB binary payloads would ask each task for multi-GB
    * contiguous buffers and OOM. Average row bytes come from the
    * per-batch stats sidecars the daemon writes at commit time
    * ([[corpusPayloadStats]] — logical payload bytes, one shallow
    * listing, no data-file walk), falling back to on-disk sizes × a
    * compression safety factor for legacy corpora; the conf is set to
    * ~32 MB of payload per column batch, clamped to [16, 4096] (small
    * payloads keep the stock batch size). Session-level conf by Spark's
    * design — it is read at scan execution — so a mixed session reading
    * this corpus and small-row tables pays at most smaller (never
    * unsafe) batches on the latter. The daemon itself never re-reads
    * stored payloads on the batch path (hashes are computed from the
    * in-flight batch; the corpus is write-only there), so only
    * rebuild/audit readers come through here. */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame = {
    val (bytes0, rows, source) = corpusPayloadStats(spark, corpusDir)
    // The fallback's on-disk bytes understate in-memory row size on
    // compressible payloads (zero-padded buffers, sparse images — r15
    // ADVICE): apply a 4x compression safety factor there. Stats-bearing
    // corpora carry LOGICAL bytes, so no factor — and a smaller batch is
    // never unsafe, only slower.
    val bytes = if (source == "derived") bytes0 * 4 else bytes0
    if (rows > 0 && bytes > 0) {
      val avg = math.max(1L, bytes / rows)
      val batch = math.max(16L, math.min(4096L, (32L << 20) / avg))
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize",
        batch.toString)
    }
    spark.read.option("recursiveFileLookup", "true").parquet(corpusDir)
  }

  /** Start the streaming ingest: JSONL drops -> decode -> hash gate ->
    * per-batch corpus + index fold. */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
      corpusDir: String, indexPath: String, maxDist: Int = 6,
      nBuckets: Int = 8, compactEvery: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    spark.readStream.schema(mediaSchema).json(inputDir)
      .select(col("doc_id"), unbase64(col("payload_b64")).as("payload"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitMediaBatch(spark, batch, batchId, corpusDir, indexPath,
          maxDist, nBuckets, compactEvery)
        ()
      }
      .start()
}
