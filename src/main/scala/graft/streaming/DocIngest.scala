package graft.streaming

import graft.operators.Dedup
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Streaming document ingest with incremental near-dup gating — the
  * LLM-corpus counterpart of [[Ingest]]: a file-drop of JSONL document
  * batches, each micro-batch near-dup-checked WITHIN itself and against the
  * at-rest MinHash-LSH index ([[Dedup.writeLshIndex]] layout); only novel
  * documents are appended to the corpus sink AND admitted into the index,
  * so every batch dedups against everything admitted before it.
  * With `embIndexPath` set (and embeddings in the drop), the admission
  * decision is MULTIMODAL: cosine near-dups against the at-rest IVF tree
  * ([[EmbIngest]]'s gate) drop alongside the text near-dups, and admitted
  * docs' embeddings fold into that tree under the same batch id. With
  * `evalPath` set, docs sharing any n-gram with the at-rest eval set drop
  * too — continuous benchmark decontamination at the admission point.
  *
  * Scale shape, per batch: batch hashing + bands join + candidate verify
  * (the audited [[Dedup.minhashLshAgainstIndex]] plan) + one per-batch
  * write. The corpus is never rescanned and never re-hashed.
  *
  * Crash posture — the [[Ingest.commitBatch]] idempotence argument, restated
  * for dedup: every write is a `batch-<id>` directory with overwrite
  * semantics, so a replayed batch rewrites the same directories. The
  * admitted set reconverges on replay even though the index already
  * contains the batch's own first attempt:
  *   - self-matches are id-filtered (a probed doc never pairs with its own
  *     stored copy);
  *   - the within-batch drop list is a deterministic function of the batch
  *     alone, so it is identical on replay;
  *   - two admitted docs are never near-dups of each other (else the
  *     higher id would have been within-batch-dropped), so probing against
  *     the first attempt's admissions adds no new drops.
  *
  * Cross-batch re-delivery: the probe's self-id filter (required for the
  * replay argument above) would also exempt a doc whose only stored
  * near-dup is its own earlier copy — a doc_id admitted in batch 3 and
  * re-delivered in batch 7 must NOT ride that exemption back into the
  * corpus. So, before probing, already-admitted doc_ids are dropped
  * outright via an anti-join against the stored `sizes/` table — excluding
  * the current batch's own tag, so a replayed batch still reconverges
  * instead of anti-joining itself away.
  */
object DocIngest {

  /** Fixture-parquet-compatible document schema for the JSONL drop. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** [[docSchema]] plus an embedding column — the drop format when the
    * daemon also gates on vector similarity and maintains the IVF tree
    * ([[commitDocBatch]]'s `embIndexPath`). Docs may omit the field
    * (null embedding = text gates only for that doc). */
  val docEmbSchema: StructType = StructType(docSchema.fields :+
    StructField("embedding", ArrayType(FloatType)))

  /** Per-batch admission counts, for the audit log line. The drop counts
    * can overlap (a re-delivered doc may also near-dup something); they
    * are audit tallies, not a partition of the batch. */
  final case class BatchResult(admitted: Long, droppedWithinBatch: Long,
      droppedVsIndex: Long, droppedRedelivered: Long = 0L,
      droppedContaminated: Long = 0L)

  /** Commit one document micro-batch idempotently: self-dedup, probe the
    * index (if one exists yet), write admitted docs to
    * `corpusDir/batch-<id>`, admit them into `indexPath` under the same
    * batch tag. Within-batch rule: for every near-dup pair (a < b), b is
    * dropped — deterministic under replay and partitioning.
    *
    * Lineage is cut at every gate frame: the collapsed batch and each
    * gate's output are materialized behind a [[graft.util.Checkpoints.barrier]]
    * as they are built, so every later query plans over a handful of
    * small leaves instead of re-deriving (and re-analysing) the batch's
    * whole gate history. Gates that do not run yield empty local frames.
    * The barriers' blocks and the Bloom probe's broadcast are freed when
    * the batch ends, failed or not.
    *
    * `phaseWalls` (operational telemetry, None in production): when set,
    * each phase's wall seconds accumulate into the map under a stable
    * phase key. Every barrier runs inside its phase, so the phase walls
    * time the same jobs and plans that run untraced. */
  def commitDocBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      corpusDir: String, indexPath: String, threshold: Double = 0.35,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      gramHashes: (Column, Int) => Seq[Column] =
        (g, k) => (0 until k).map(i => xxhash64(g, lit(i))),
      bandBucket: Seq[Column] => Column = cs => xxhash64(cs: _*),
      invIndexPath: Option[String] = None,
      lpStatePath: Option[String] = None,
      compactEvery: Int = 0,
      embIndexPath: Option[String] = None,
      embThreshold: Double = 0.95, embNprobe: Int = 2,
      embNlist: Int = 16, embDim: Int = 64,
      evalPath: Option[String] = None, decontamN: Int = 5,
      phaseWalls: Option[scala.collection.mutable.Map[String, Double]] = None)
      : BatchResult = {
    val barriers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var bloom: Option[Broadcast[BloomFilter]] = None
    def cut(df: DataFrame): DataFrame = {
      val m = graft.util.Checkpoints.barrier(df)
      barriers += m
      m
    }
    // a gate that does not run: no rows, no lineage, no job
    def none(like: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), like.schema)
    def phase[T](name: String)(f: => T): T = phaseWalls match {
      case Some(m) =>
        val t0 = System.nanoTime()
        val r = f
        m(name) = m.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        r
      case None => f
    }
    try {
      // id-sidecar entry: recovery + THIS batch's own-marker sweep. The
      // LSH tree has no committed-batch meta (replays always recompute,
      // idempotent by per-batch-dir overwrite), so the sidecar's
      // exactness rests on the entry sweep alone — which is also why its
      // COMPACTION must run here, BEFORE this batch's fold, with
      // lastBatch = batchId - 1 (committed by stream serialization): a
      // post-fold compaction would merge this batch's marked ids into
      // unmarked files, a replay could no longer sweep them, and the gate
      // would re-deliver-drop the whole batch against its own first
      // attempt (admitted = ∅, corpus batch dir overwritten empty).
      graft.util.IdTree.enterBatch(spark, indexPath, batchId)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        phase("maintenance") {
          graft.util.IdTree.compact(spark, indexPath, batchId - 1)
          // LSH directory-count bound (the r14 Zipf-soak curve): merge
          // committed per-batch subdirs of bands/grams/sizes into one
          // segment, so the gate's recursive listings stop growing one
          // directory per batch forever. Entry-time like the IdTree
          // compaction and for the same reason: batchId - 1 is committed
          // by stream serialization, and this batch's own dir (a crashed
          // attempt's overwrite target) is never merged. A crashed
          // cadence batch replays into the same call, whose entry
          // recovery finishes the interrupted consolidation BEFORE the
          // gate probes the tree.
          Dedup.consolidateLshSegments(spark, indexPath, batchId - 1)
        }
      // duplicate doc_id rows collapse deterministically (whole-row min over
      // the non-key columns) BEFORE any gate — the EmbIngest producer-retry
      // rule extended to the text daemon: the within-batch LSH gate pairs
      // only a_id < b_id, so a duplicated line's copies never gated each
      // other and BOTH rows flowed into the corpus and the BM25/LSH folds
      // (double-counted tf; masked by served==rebuild checks because both
      // sides read the same duplicated corpus — surfaced by the r13
      // MediaSoak equivalent of this bug)
      val nonKey = batch.columns.filterNot(_ == "doc_id")
      val b = phase("collapse")(cut(batch.groupBy(col("doc_id"))
        .agg(min(struct(nonKey.map(col): _*)).as("_row"))
        .select(col("doc_id") +: nonKey.map(c => col(s"_row.`$c`").as(c)): _*)))
      val noIds = none(b.select("doc_id"))
      val (withinPairs, withinDrops) = phase("gate_text") {
        val p = cut(Dedup
          .minhashLshPairs(b, n, numHashes, bands, threshold, gramHashes, bandBucket)
          .select(col("a_id"), col("b_id")))
        (p, cut(p.select(col("b_id").as("doc_id")).distinct()))
      }
      // existence through the path's own filesystem — a java.io.File check
      // would silently disable the gate on hdfs:// / s3:// deployments —
      // and by DATA files, not the bare dir: a crashed batch-0 append
      // leaves bands/batch-0 holding only _temporary debris, and a bare
      // read would throw on every retry
      val bandsPath = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
      val indexExists = graft.util.Lsm.hasBucketData(
        bandsPath.getFileSystem(spark.sessionState.newHadoopConf()), bandsPath)
      // Re-delivery gate (class scaladoc): a doc_id already admitted by an
      // EARLIER batch is dropped before the near-dup probe even runs — the
      // probe's self-id filter must never re-admit it. The current batch's
      // own subdirectory is excluded via the file-path metadata column so a
      // replayed batch doesn't anti-join its first attempt away.
      // Bloom-sidecar fast path: bloom-negative ids are definitely novel
      // (the sidecar folds before every index append), so the stored
      // `sizes/` id scan runs only when a positive exists — an all-novel
      // batch never touches it. The sidecar may contain a replayed batch's
      // own first-attempt ids; the exact scan's own-batch-dir exclusion
      // still decides those correctly.
      def storedDocIds = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$indexPath/sizes")
        .select(col("doc_id"), col("_metadata.file_path").as("fp"))
        .filter(!col("fp").contains(s"/batch-$batchId/"))
        .select("doc_id").distinct()
      // Positive verification rides the bucketed id sidecar when present:
      // the scan is partition-pruned to the positives' hash buckets (and
      // the entry sweep above removed this batch's own first-attempt ids,
      // so no own-batch-dir exclusion is needed on this path). Legacy
      // trees keep the sizes/ scan with its file-path exclusion.
      val redelivered = phase("gate_redelivery") {
        if (!indexExists) noIds
        else graft.util.BloomSidecar.read(spark, indexPath) match {
          case Some(bits) =>
            val filter = graft.util.BloomSidecar.broadcast(spark, bits)
            bloom = Some(filter)
            val positives = b
              .filter(graft.util.BloomSidecar.probe(filter, col("doc_id")))
              .select("doc_id").distinct()
            if (positives.isEmpty) noIds
            else if (graft.util.IdTree.exists(spark, indexPath))
              cut(graft.util.IdTree.verify(spark, indexPath, positives, "doc_id"))
            else cut(positives.join(storedDocIds, Seq("doc_id"), "left_semi"))
          case None => cut(b.join(storedDocIds, Seq("doc_id"), "left_semi")
            .select("doc_id").distinct())
        }
      }
      val (indexPairs, indexDrops) = phase("gate_text") {
        if (!indexExists) (none(withinPairs), noIds)
        else {
          val p = cut(Dedup.minhashLshAgainstIndex(spark, indexPath, b,
              threshold, n, numHashes, bands, gramHashes, bandBucket)
            .select(col("a_id"), col("b_id")))
          (p, cut(p.select(col("a_id").as("doc_id")).distinct()))
        }
      }
      // Vector gate (embIndexPath set and the drop carries embeddings):
      // the [[EmbIngest]] gate run on the same batch under the same batch
      // id — cell-local cosine near-dups within the batch and against the
      // at-rest IVF tree drop alongside the text near-dups, so ONE daemon
      // admission decision sees both modalities. Null-embedding docs pass
      // this gate (text rules still apply). Crash order matches EmbIngest:
      // the tree's own marker sweeps BEFORE the probes, so a retried
      // batch's gate recomputation is a function of the batch and the
      // pre-batch tree only.
      // duplicate doc_id rows collapse deterministically BEFORE any vector
      // work (the embGateVerdicts rule): a producer-retried duplicate line
      // would otherwise fold the same vec_id twice into the tree
      val embFrame = phase("gate_vector")(embIndexPath.flatMap { p =>
        if (!b.columns.contains("embedding")) None
        else {
          val vecs = cut(b.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding"))
            .groupBy("vec_id").agg(min(col("embedding")).as("embedding")))
          // an all-null-embedding batch must not train (and swap-commit) an
          // EMPTY centroid table on cold start — skip the vector side; text
          // rules still apply and a later non-empty batch trains normally
          if (vecs.count() == 0L) None else Some((p, vecs))
        }
      })
      val (embWithinPairs, embIndexPairs) = phase("gate_vector")(embFrame match {
        case Some((p, vecs)) =>
          val fs = graft.util.Lsm.fs(spark, p)
          // retrain-aware entry recovery (raw recoverSwap("centroids")
          // would sweep a crashed post-marker retrain's staged twin),
          // then the shared entry: a committed retry keeps its marked
          // files, an uncommitted one sweeps its own partial move before
          // the gate probes the tree
          graft.operators.Similarity.recoverIvfTree(spark, p)
          val entry = graft.util.Lsm.enterBatch(spark, fs, p, batchId)
          // versioned-root resolution for the whole gate; an uncommitted
          // retry sweeps its own partial move at the RESOLVED root
          val vroot = graft.operators.Similarity.ivfRoot(spark, p)
          if (!entry.alreadyCommitted)
            graft.util.Lsm.sweepMarked(fs,
              new org.apache.hadoop.fs.Path(s"$vroot/vectors"), s"b$batchId-")
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$vroot/centroids"))) {
            graft.operators.Similarity.ivfCentroids(vecs, embNlist, embDim)
              .write.mode("overwrite")
              .parquet(graft.util.Lsm.stagedPath(p, "centroids", batchId))
            graft.util.Lsm.commitSwap(fs, p, "centroids", batchId)
          }
          val cents = spark.read.parquet(s"$vroot/centroids")
          val probes = cut(
            graft.operators.Similarity.ivfProbes(vecs, cents, embNprobe))
          val w = cut(graft.operators.Similarity
            .embNearDupWithin(probes, embThreshold)
            .select(col("a_id"), col("b_id")))
          // DATA-file probe, not dir existence (the crashed-first-fold
          // sweep leaves empty cid= dirs that would wedge a bare read)
          val i =
            if (graft.util.Lsm.hasBucketData(fs,
                new org.apache.hadoop.fs.Path(s"$vroot/vectors")))
              cut(graft.operators.Similarity
                .embNearDupAgainstIndex(spark, p, probes, embThreshold)
                .select(col("a_id"), col("b_id")))
            else none(w)
          (w, i)
        case None => (none(withinPairs), none(withinPairs))
      })
      // without a vector gate the text drops are the whole answer
      val (withinAllDrops, indexAllDrops) =
        if (embFrame.isEmpty) (withinDrops, indexDrops)
        else phase("gate_vector")((
          cut(withinDrops.union(embWithinPairs.select(col("b_id").as("doc_id")))
            .distinct()),
          cut(indexDrops.union(embIndexPairs.select(col("a_id").as("doc_id")))
            .distinct())))
      // Eval-set decontamination gate (evalPath): a batch doc sharing any
      // distinct decontamN-gram with the (tiny, broadcast) at-rest eval set
      // never enters the corpus OR any index — the q54 operator run per
      // batch, so the daemon guards benchmark contamination continuously
      // instead of requiring a corpus-scale backfill sweep. Deterministic
      // function of the batch and the static eval parquet, so replays
      // reconverge like every other gate.
      val contamDrops = phase("gate_contam")(evalPath match {
        case Some(ep) => cut(Dedup.contaminatedBy(b,
            spark.read.parquet(ep), decontamN).select("doc_id").distinct())
        case None => noIds
      })
      val (admitted, nAdmitted) = phase("admit") {
        val a = cut(b.join(withinAllDrops.union(indexAllDrops).union(redelivered)
            .union(contamDrops).distinct(),
          Seq("doc_id"), "left_anti"))
        (a, a.count())
      }
      phase("corpus_write")(
        admitted.write.mode("overwrite").parquet(s"$corpusDir/batch-$batchId"))
      // sidecar folds BEFORE the index append (the BloomSidecar ordering
      // contract: a crash after this leaves a harmless superset)
      phase("sidecar_fold")(graft.util.BloomSidecar.fold(spark, indexPath,
        admitted.select("doc_id"), "doc_id", batchId,
        storedIds = if (indexExists) storedDocIds else noIds))
      // id sidecar folds under the same pre-commit rule (here the commit
      // point is the stream checkpoint; the entry sweep restores
      // exactness on replay) — a legacy tree adopts it from the sizes/
      // scan, the one-time bootstrap pass
      phase("sidecar_fold")(graft.util.IdTree.fold(spark, indexPath,
        admitted.select("doc_id"), "doc_id", batchId,
        storedIds = if (indexExists) storedDocIds else noIds))
      phase("fold_lsh")(Dedup.appendToLshIndex(admitted, indexPath,
        s"batch-$batchId", n, numHashes, bands, gramHashes, bandBucket))
      // saturation repair for the LSH tree's sidecar at compaction cadence
      // (the EmbIngest pattern — without it the filter silently saturates
      // past its fixed capacity and the gate degrades to scan-always).
      // Rebuilt AFTER the append so the fresh filter covers this batch;
      // the full sizes/ scan is the price of fresh headroom, paid at
      // compaction cadence only once the filter is past half fill.
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        phase("maintenance")(graft.util.BloomSidecar.rebuild(spark, indexPath,
          if (graft.util.IdTree.exists(spark, indexPath))
            graft.util.IdTree.readAll(spark, indexPath, "doc_id")
          else spark.read.option("recursiveFileLookup", "true")
            .parquet(s"$indexPath/sizes").select("doc_id"),
          "doc_id", batchId))
      // Served-retrieval maintenance (the q199 shape as the ACTUAL daemon
      // path): fold the admitted docs into the at-rest BM25 index. The
      // fold is the staged two-phase commit keyed by this batch id, so the
      // streaming engine's retry of a crashed batch either no-ops (fold
      // committed) or sweeps the partial move and redoes it — and the
      // admitted set itself reconverges on replay per the class scaladoc,
      // so the redone fold indexes the same documents. Cold start
      // bootstraps an empty index so batch 0 rides the same protocol.
      invIndexPath.foreach { p =>
        val statsPath = new org.apache.hadoop.fs.Path(s"$p/stats")
        val fs = statsPath.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(statsPath)) {
          // Cold start ONLY when the postings tree is absent too (and no
          // mid-swap twins exist — those invIndexInsert repairs itself).
          // A missing stats dir OVER live postings is damage, and
          // bootstrapping zeroed n_docs/sum_dl onto it would permanently
          // serve wrong idf/avgdl with no error — fail loudly instead so
          // stats can be repaired from the postings.
          val postings = new org.apache.hadoop.fs.Path(s"$p/postings")
          val swapTwins = fs.exists(new org.apache.hadoop.fs.Path(p)) &&
            fs.listStatus(new org.apache.hadoop.fs.Path(p))
              .exists(s => s.getPath.getName.startsWith("stats_staged_b") ||
                s.getPath.getName.startsWith("stats_old_b"))
          require(!fs.exists(postings) || swapTwins,
            s"inverted index at $p has postings but no stats row and no " +
              "recoverable stats twin: refusing to bootstrap an empty " +
              "index over live postings — rebuild stats from the postings " +
              "(n_docs/sum_dl are derivable) before restarting the daemon")
          if (!fs.exists(postings) && !swapTwins)
            graft.operators.Retrieval.initInvertedIndex(spark, p)
        }
        phase("fold_bm25")(graft.operators.Retrieval.invIndexInsert(spark, p,
          admitted.select(col("doc_id"), col("text")), batchId))
        // periodic LSM maintenance: every `compactEvery` batches, merge
        // each bucket's accumulated fragments back to one file. Runs
        // inside the single-writer batch slot (never racing a fold) and
        // is content-preserving, so a retried batch redoing it is a
        // no-op on the served results.
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          phase("maintenance")(graft.operators.Retrieval.invIndexCompact(spark, p))
      }
      // Graph-state maintenance, the same per-batch idempotent protocol:
      // the dedup gate's pair evidence (within-batch + vs-index near-dup
      // pairs) folds into at-rest label-propagation communities — the
      // duplicate-cluster map over EVERY doc ever seen, dropped ones
      // included (each dropped doc pairs with the admitted doc that
      // displaced it, so clusters stay connected through their reps).
      // The daemon now maintains text state (BM25 index) AND graph state
      // (cluster labels) under one batch-id-keyed crash/retry contract.
      // Vector-index maintenance: admitted docs' embeddings fold into the
      // IVF tree under the same batch id (idempotence per ivfInsert) —
      // the daemon then serves fresh ANN over exactly the admitted corpus.
      embFrame.foreach { case (p, vecs) =>
        // fold from the COLLAPSED vector frame (one row per vec_id), not
        // the admitted rows — ivfInsert's unique-id contract
        phase("fold_ivf")(graft.operators.Similarity.ivfInsert(spark, p,
          vecs.join(admitted.select(col("doc_id").as("vec_id")).distinct(),
            Seq("vec_id"), "left_semi"), batchId))
        // the vector tree needs the same periodic LSM maintenance as the
        // postings tree — without it per-cell fragments grow one file per
        // batch forever (the r12 soak caught exactly this)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          phase("maintenance")(graft.operators.Similarity.ivfCompact(spark, p))
      }
      lpStatePath.foreach { sp =>
        phase("fold_lp")(graft.operators.Graph.lpCommitBatch(spark, sp,
          withinPairs.union(indexPairs)
            .union(embWithinPairs).union(embIndexPairs)
            .select(col("a_id").as("src"), col("b_id").as("dst")),
          batchId))
      }
      val r = BatchResult(nAdmitted, withinAllDrops.count(),
        indexAllDrops.count(), redelivered.count(), contamDrops.count())
      System.err.println(s"[docingest] batch $batchId: admitted=${r.admitted} " +
        s"dropped_within=${r.droppedWithinBatch} " +
        s"dropped_vs_index=${r.droppedVsIndex} " +
        s"dropped_redelivered=${r.droppedRedelivered} " +
        s"dropped_contaminated=${r.droppedContaminated}")
      r
    } finally {
      // also on a mid-batch failure: the streaming engine retries the
      // batch, and leaked blocks would accumulate in the block manager
      // for the daemon's lifetime
      barriers.foreach(DatasetBridge.releaseBarrier)
      bloom.foreach(_.destroy())
    }
  }

  /** Read the admitted corpus back (all batch directories). */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(corpusDir)

  /** Start the streaming ingest: JSONL file-drop -> dedup gate -> per-batch
    * parquet + index admission. File-source offsets checkpoint the stream;
    * batch writes are idempotent per the class scaladoc. */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
      corpusDir: String, indexPath: String,
      threshold: Double = 0.35,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      invIndexPath: Option[String] = None,
      lpStatePath: Option[String] = None,
      compactEvery: Int = 0,
      embIndexPath: Option[String] = None,
      embThreshold: Double = 0.95, embNprobe: Int = 2,
      embNlist: Int = 16, embDim: Int = 64,
      evalPath: Option[String] = None, decontamN: Int = 5): StreamingQuery = {
    val schema = if (embIndexPath.isDefined) docEmbSchema else docSchema
    val stream = spark.readStream.schema(schema).json(inputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitDocBatch(spark, batch, batchId, corpusDir, indexPath, threshold,
          invIndexPath = invIndexPath, lpStatePath = lpStatePath,
          compactEvery = compactEvery, embIndexPath = embIndexPath,
          embThreshold = embThreshold, embNprobe = embNprobe,
          embNlist = embNlist, embDim = embDim,
          evalPath = evalPath, decontamN = decontamN)
        ()
      }
      .start()
  }
}
