package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import scala.util.Random

class IvfSpec extends SparkSpec {
  import spark.implicits._

  // 4 planted clusters x 12 vectors, 16-dim: cluster direction + small noise
  private val rnd = new Random(11)
  private val dirs = Array.tabulate(4, 16)((c, d) => math.sin(c * 2.3 + d * 0.7))
  private val vecs: Seq[(Long, Array[Float])] = (0 until 48).map { i =>
    val c = i % 4
    (i.toLong, Array.tabulate(16)(d => (dirs(c)(d) + rnd.nextGaussian() * 0.05).toFloat))
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding").cache()

  test("ivf with nprobe == nlist equals exact brute force") {
    val q = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    val ivf = Similarity.ivfTopK(q, emb, 5, nlist = 6, nprobe = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    assert(ivf == exact)
  }

  test("ivf with narrow probe keeps high recall on clustered data") {
    val q = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(q, emb, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, 5, nlist = 4, nprobe = 1, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
    // neighbors found under nprobe=1 are overwhelmingly same-cluster
    val sameCluster = ivf.count { case (a, b) => a % 4 == b % 4 }
    assert(sameCluster.toDouble / ivf.size >= 0.9)
  }

  test("at-rest cid-partitioned index: pruned probe reads match in-memory ivf") {
    val path = java.nio.file.Files.createTempDirectory("ivf-index").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, nlist = 6, dim = 16)
    val q = emb.filter(col("vec_id") < 4)
    val fromIndex = Similarity.ivfTopKIndexed(spark, path, q, 5, nprobe = 2)
    val inMemory = Similarity.ivfTopK(q, emb, 5, nlist = 6, nprobe = 2, dim = 16)
    val a = fromIndex.collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    val b = inMemory.collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    assert(a == b, "indexed probe must return exactly the in-memory ivf results")
    // the probe scan must prune at the DIRECTORY level: PartitionFilters on
    // cid, not a post-scan filter over all cells
    val plan = fromIndex.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      s"probed cells must reach PartitionFilters:\n$plan")
  }

  test("centroid assignment is total and deterministic") {
    val centroids = Similarity.ivfCentroids(emb, 4, 16)
    val a1 = Similarity.assignToCentroids(emb, centroids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = Similarity.assignToCentroids(emb, centroids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a1 == a2 && a1.size == 48)
  }

  // --- incremental index (the vector daemon path) --------------------------

  private def treeAssign(path: String): Seq[(Long, Long)] =
    spark.read.parquet(s"${Similarity.ivfRoot(spark, path)}/vectors")
      .select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  private def servedRows(path: String, q: org.apache.spark.sql.DataFrame,
      k: Int, nprobe: Int): Seq[(Long, Long, Long)] =
    Similarity.ivfTopKIndexed(spark, path, q, k, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
      .sorted.toSeq

  test("ivfInsert: folded tree == full re-assignment; served == rebuild; retry no-ops") {
    val path = java.nio.file.Files.createTempDirectory("ivf-inc").toString + "/idx"
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    Similarity.writeIvfIndex(base, path, nlist = 6, dim = 16)
    Similarity.ivfInsert(spark, path, batch, 1L)
    // the folded tree holds every vector exactly once, in the cell a full
    // re-assignment against the FROZEN stored centroids would choose
    val cents = spark.read.parquet(s"$path/centroids")
    val expected = Similarity.assignToCentroids(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(treeAssign(path) == expected)
    // serving: the folded index answers exactly like a from-scratch tree
    // rebuilt from the same centroids over the full corpus
    val ref = path + "_ref"
    cents.write.parquet(s"$ref/centroids")
    Similarity.assignToCentroids(emb, cents).join(emb, "vec_id")
      .repartition(col("cid"))
      .write.partitionBy("cid").parquet(s"$ref/vectors")
    val q = emb.filter(col("vec_id") < 4)
    assert(servedRows(path, q, 5, 2) == servedRows(ref, q, 5, 2))
    // a retried committed batch must not double-append
    Similarity.ivfInsert(spark, path, batch, 1L)
    assert(treeAssign(path) == expected, "retry of a committed fold must no-op")
  }

  test("ivfInsert: a crashed attempt's partial move is swept before the refold") {
    val path = java.nio.file.Files.createTempDirectory("ivf-crash").toString + "/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 10 =!= 0), path,
      nlist = 6, dim = 16)
    // simulate batch 2 crashing mid-phase-1: a batch-marked file sits in a
    // cell dir (here: a copy of an existing cell file — duplicate rows if
    // it survived) with NO meta marker for the batch
    val fs = graft.util.Lsm.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val cell = fs.listStatus(root).filter(_.isDirectory).head.getPath
    val victim = fs.listStatus(cell).filter(_.isFile).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs,
      new org.apache.hadoop.fs.Path(cell, "b2-crashed.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    // the retry folds the REAL batch 2; the planted partial move must go
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 10 === 0), 2L)
    val cents = spark.read.parquet(s"$path/centroids")
    assert(treeAssign(path) == Similarity.assignToCentroids(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "the crashed attempt's files must be swept, not double-counted")
  }

  test("ivfCompact: fragments merge, served results identical, later folds work") {
    val path = java.nio.file.Files.createTempDirectory("ivf-cpt").toString + "/idx"
    val base = emb.filter(col("vec_id") % 3 === 0)
    Similarity.writeIvfIndex(base, path, nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 1), 1L)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 2), 2L)
    val q = emb.filter(col("vec_id") < 4)
    val before = servedRows(path, q, 5, 2)
    val fs = graft.util.Lsm.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(s"$path/vectors")
    def maxFiles: Int = fs.listStatus(root).filter(_.isDirectory).map { d =>
      fs.listStatus(d.getPath).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
    }.max
    assert(maxFiles > 1, "fixture must actually be fragmented")
    Similarity.ivfCompact(spark, path)
    assert(maxFiles == 1, "every cell must compact to one file")
    assert(servedRows(path, q, 5, 2) == before,
      "compaction must be content-preserving")
    assert(treeAssign(path) == treeAssign(path).distinct, "no duplicates")
    // the compacted tree keeps accepting folds
    val extra = (100 until 104).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ivfInsert(spark, path, extra, 3L)
    assert(treeAssign(path).map(_._1).toSet ==
      (base.collect().map(_.getLong(0)).toSet ++
        emb.filter(col("vec_id") % 3 =!= 0).collect().map(_.getLong(0)) ++
        (100L until 104L)))
  }

  test("commitEmbBatch gate: re-deliveries, index near-dups and within-batch near-dups drop") {
    import graft.streaming.EmbIngest
    val path = java.nio.file.Files.createTempDirectory("emb-gate").toString + "/idx"
    // batch 0: first 36 vectors — same-cluster cosines (~0.995) sit BELOW
    // the 0.9999 gate, so nothing drops and the fixture stays non-collapsed
    val b0 = vecs.take(36).toDF("vec_id", "embedding")
    val r0 = EmbIngest.commitEmbBatch(spark, path, b0, 0L, nlist = 6,
      dim = 16, dedupThreshold = Some(0.9999))
    assert(r0 == graft.streaming.DocIngest.BatchResult(36, 0, 0, 0))
    // batch 1: 12 novel + one verbatim re-delivery (id 5) + an exact copy
    // of stored id 0 under a new id (index near-dup) + two exact copies of
    // batch-member id 40 under new ids (within-batch near-dups; the
    // drop-the-higher rule removes both copies, keeps 40)
    val byId = vecs.toMap
    val b1 = (vecs.drop(36) ++ Seq(5L -> byId(5L), 1000L -> byId(0L),
        1001L -> byId(40L), 1002L -> byId(40L)))
      .toDF("vec_id", "embedding")
    val r1 = EmbIngest.commitEmbBatch(spark, path, b1, 1L, nlist = 6,
      dim = 16, dedupThreshold = Some(0.9999))
    assert(r1 == graft.streaming.DocIngest.BatchResult(12, 2, 1, 1),
      s"unexpected gate tallies: $r1")
    assert(treeAssign(path).map(_._1) == (0L until 48L),
      "the tree must hold exactly the 48 distinct fixture vectors")
    // the pure-verdict operator agrees with what the commit admitted
    val v = Similarity.embGateVerdicts(spark, path, b1, 0.9999, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(5L) == "redelivered" && v(1001L) == "neardup_within" &&
      v(1002L) == "neardup_within" && v(1000L) == "neardup_index")
    // verdicts run AFTER the commit, so batch-1 members are now stored:
    // their own copies are self-id-filtered, hence still 'admitted'
    assert(vecs.drop(36).forall { case (id, _) => v(id) == "redelivered" },
      "post-commit verdicts see batch 1's own admissions as re-deliveries")
    // retry of the committed batch is a marker no-op
    val r1b = EmbIngest.commitEmbBatch(spark, path, b1, 1L, nlist = 6,
      dim = 16, dedupThreshold = Some(0.9999))
    assert(r1b == graft.streaming.DocIngest.BatchResult(0, 0, 0, 0))
    assert(treeAssign(path).map(_._1) == (0L until 48L))
    // plan shape: the vs-index probe's stored scan must prune at the
    // directory level (PartitionFilters on cid), the ivfTopKIndexed rule
    val probes = Similarity.ivfProbes(b1, spark.read.parquet(s"$path/centroids"), 2)
    val plan = Similarity.embNearDupAgainstIndex(spark, path, probes, 0.9999)
      .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined,
      s"gate probe must reach PartitionFilters:\n$plan")
  }

  test("EmbIngest: a batch frees every block it materialized, also when it fails midway") {
    import graft.streaming.{DocIngest, EmbIngest}
    val root = java.nio.file.Files.createTempDirectory("emb-free").toString
    val (path, pq) = (s"$root/idx", s"$root/pq")
    def commit(b: org.apache.spark.sql.DataFrame, id: Long, pqM: Int = 4) =
      EmbIngest.commitEmbBatch(spark, path, b, id, nlist = 6, dim = 16,
        dedupThreshold = Some(0.9999), pqIndexPath = Some(pq), pqM = pqM,
        pqKsub = 8)
    commit(vecs.take(36).toDF("vec_id", "embedding"), 0L)
    // every gate live: bloom-positive re-delivery (5), vs-index near-dup
    // (1000 copies 0), within-batch near-dups (1001, 1002 copy 40)
    val byId = vecs.toMap
    val leaked = leakedBlocks {
      val r1 = commit((vecs.drop(36) ++ Seq(5L -> byId(5L), 1000L -> byId(0L),
        1001L -> byId(40L), 1002L -> byId(40L))).toDF("vec_id", "embedding"), 1L)
      assert(r1 == DocIngest.BatchResult(12, 2, 1, 1), s"r1=$r1")
    }
    assert(leaked.isEmpty, s"leaked $leaked")
    // fails at the PQ fold, after the gates and the sidecar folds: the
    // batch asks for another PQ encode family than the twin was built with
    val novel = Array.tabulate(16)(d => math.cos(d * 1.7).toFloat)
    val leakedOnFailure = leakedBlocks(intercept[IllegalArgumentException] {
      commit(Seq(2000L -> novel, 7L -> byId(7L)).toDF("vec_id", "embedding"),
        2L, pqM = 2)
    })
    assert(graft.util.IdTree.readAll(spark, path, "vec_id")
      .filter(col("vec_id") === 2000L).count() == 1L,
      "the failure must come after the gates")
    assert(leakedOnFailure.isEmpty, s"leaked $leakedOnFailure")
  }

  test("ivfRetrain: tree re-assigned against retrained centroids; marker carries last_batch") {
    val path = java.nio.file.Files.createTempDirectory("ivf-rt").toString + "/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 3 === 0), path,
      nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 1), 1L)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 2), 2L)
    Similarity.ivfRetrain(spark, path, nlist = 6, dim = 16)
    val root = Similarity.ivfRoot(spark, path)
    assert(root == s"$path/v1", "a retrain publishes a new version root")
    val cents = spark.read.parquet(s"$root/centroids")
    assert(cents.count() == 6, "retrain must honor the new nlist")
    assert(treeAssign(path) == Similarity.assignToCentroids(emb, cents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "every vector re-assigned against the RETRAINED stored centroids")
    // last_batch carried forward: a streaming retry of committed batch 2
    // must still no-op after the retrain
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(treeAssign(path).map(_._1) == (0L until 48L),
      "retried committed batch must not double-fold into the retrained tree")
  }

  test("ivfRetrain MVCC: the marker file is the commit; uncommitted versions sweep; a reader's resolved root survives one retrain") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val path = java.nio.file.Files.createTempDirectory("ivf-rtc").toString + "/idx"
    Similarity.writeIvfIndex(emb, path, nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.limit(0), 7L) // stamp last_batch=7
    val fs = graft.util.Lsm.fs(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    // (1) crash BEFORE the _committed marker: the half-built version dir
    // is debris — swept at the next writer entry, root unchanged
    for (t <- Seq("centroids", "vectors"))
      FileUtil.copy(fs, new Path(s"$path/$t"), fs,
        new Path(s"$path/v1/$t"), false, conf)
    Similarity.ivfInsert(spark, path, emb.limit(0), 7L) // entry recovery only
    assert(!fs.exists(new Path(s"$path/v1")),
      "an uncommitted version dir must sweep as debris")
    assert(Similarity.ivfRoot(spark, path) == path)
    // (2) a committed retrain moves the root atomically (one marker-file
    // create); the reader that resolved the PREVIOUS root keeps a
    // complete, mutually-consistent pair for a full retrain cycle
    val readerRoot = Similarity.ivfRoot(spark, path) // resolved pre-retrain
    Similarity.ivfRetrain(spark, path, nlist = 6, dim = 16)
    assert(Similarity.ivfRoot(spark, path) == s"$path/v1")
    val oldCents = spark.read.parquet(s"$readerRoot/centroids")
    assert(oldCents.count() == 4, "the snapshot still serves the OLD pair")
    val oldPair = spark.read.parquet(s"$readerRoot/vectors")
      .select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(oldPair == Similarity.assignToCentroids(emb, oldCents)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "old vectors agree with old centroids — never a split pair")
    // (3) the NEXT retrain retires the superseded legacy root, keeps v1
    // for ITS in-flight readers, and serves v2
    Similarity.ivfRetrain(spark, path, nlist = 6, dim = 16)
    assert(Similarity.ivfRoot(spark, path) == s"$path/v2")
    assert(!fs.exists(new Path(s"$path/centroids")) &&
      !fs.exists(new Path(s"$path/vectors")),
      "the twice-superseded legacy root is retired")
    assert(fs.exists(new Path(s"$path/v1/_committed")),
      "the once-superseded version keeps serving its readers")
    // (4) last_batch carried: a retry of committed batch 7 still no-ops,
    // and a NEW fold lands in the current version
    Similarity.ivfInsert(spark, path, emb.limit(0), 7L)
    val extra = (200 until 204).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ivfInsert(spark, path, extra, 8L)
    assert(treeAssign(path).map(_._1).toSet ==
      ((0L until 48L) ++ (200L until 204L)).toSet,
      "folds target the current version root")
  }

  test("ivfCompact retires a retrain-superseded version: storage bounded, served results unchanged, folds keep landing") {
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("ivf-retire").toString + "/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 3 === 0), path,
      nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 1), 1L)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 2), 2L)
    Similarity.ivfRetrain(spark, path, nlist = 6, dim = 16)
    val fs = graft.util.Lsm.fs(spark, path)
    // grace at retrain time: the superseded legacy root is still on disk
    assert(fs.exists(new Path(s"$path/vectors")) &&
      fs.exists(new Path(s"$path/centroids")),
      "the just-superseded root keeps its grace window at retrain time")
    val q = emb.filter(col("vec_id") < 4)
    val before = servedRows(path, q, 5, 2)
    // the next maintenance slot retires it — 1x storage without waiting
    // for another retrain
    Similarity.ivfCompact(spark, path)
    assert(!fs.exists(new Path(s"$path/vectors")) &&
      !fs.exists(new Path(s"$path/centroids")),
      "compaction must retire the superseded root (MVCC storage bound)")
    assert(Similarity.ivfRoot(spark, path) == s"$path/v1")
    assert(servedRows(path, q, 5, 2) == before,
      "retirement must not change served results")
    // the tree keeps accepting folds and a committed retry still no-ops
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 3 === 2), 2L)
    val extra = (300 until 304).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ivfInsert(spark, path, extra, 3L)
    assert(treeAssign(path).map(_._1).toSet ==
      ((0L until 48L) ++ (300L until 304L)).toSet)
  }

  test("legacy shim: a pre-r12 tree crashed after its retrain_ready marker rolls forward — no stored vector stranded") {
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("ivf-legacy").toString
    val path = s"$root/idx"
    // the pre-crash serving tree: 24 vectors
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 24), path,
      nlist = 4, dim = 16)
    // the old in-place protocol's post-marker crash state: BOTH successor
    // tables (the full 48-vector retrained set) complete in staged twins
    // at the tree top, retrain_ready present, live tables still the old
    // pair — the crash hit before either commitSwap ran
    val staged = s"$root/stagedbuild"
    Similarity.writeIvfIndex(emb, staged, nlist = 4, dim = 16)
    val fs = graft.util.Lsm.fs(spark, path)
    fs.rename(new Path(s"$staged/centroids"),
      new Path(s"$path/centroids_staged_b9"))
    fs.rename(new Path(s"$staged/vectors"),
      new Path(s"$path/vectors_staged_b9"))
    fs.create(new Path(s"$path/retrain_ready")).close()
    // any writer entry must finish the old pair swap, not strand it
    Similarity.recoverIvfTree(spark, path)
    assert(!fs.exists(new Path(s"$path/retrain_ready")))
    assert(treeAssign(path).map(_._1).sorted == (0L until 48L),
      "the completed retrain's full vector set must be the served tree")
    assert(fs.listStatus(new Path(path)).map(_.getPath.getName).forall(n =>
      !n.contains("_staged_b") && !n.contains("_old_b")),
      "no twin dirs may survive the roll-forward")
    // the rolled-forward tree folds normally under the new protocol
    val extra = (400 until 404).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.ivfInsert(spark, path, extra, 1L)
    assert(treeAssign(path).map(_._1).toSet ==
      ((0L until 48L) ++ (400L until 404L)).toSet)
  }

  test("commitEmbBatch: an empty cold drop must not commit an empty centroid table") {
    import graft.streaming.EmbIngest
    val path = java.nio.file.Files.createTempDirectory("emb-empty").toString + "/idx"
    val empty = emb.limit(0)
    val r0 = EmbIngest.commitEmbBatch(spark, path, empty, 0L, nlist = 6, dim = 16)
    assert(r0 == graft.streaming.DocIngest.BatchResult(0, 0, 0, 0))
    val fs = graft.util.Lsm.fs(spark, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/centroids")),
      "no centroid table may exist after an empty cold drop")
    // the next non-empty drop trains normally and folds everything
    val r1 = EmbIngest.commitEmbBatch(spark, path, emb, 1L, nlist = 6, dim = 16)
    assert(r1.admitted == 48 && treeAssign(path).size == 48)
  }

  test("a crashed uncommitted fold's orphans are swept before a retrain absorbs them") {
    val path = java.nio.file.Files.createTempDirectory("ivf-orph").toString + "/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0), path,
      nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.limit(0), 1L) // last_batch = 1
    // simulate batch 2 crashing mid-move: one b2- marked file in a cell,
    // meta still at 1
    val fs = graft.util.Lsm.fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val cell = fs.listStatus(root).filter(_.isDirectory).head.getPath
    val victim = fs.listStatus(cell).filter(_.isFile).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, victim, fs,
      new org.apache.hadoop.fs.Path(cell, "b2-crashed.parquet"), false,
      spark.sparkContext.hadoopConfiguration)
    // the maintenance retrain must sweep the orphan FIRST — absorbed into
    // unmarked base files it would double-append when batch 2 retries
    Similarity.ivfRetrain(spark, path, nlist = 4, dim = 16)
    Similarity.ivfInsert(spark, path, emb.filter(col("vec_id") % 2 =!= 0), 2L)
    assert(treeAssign(path).map(_._1).sorted == (0L until 48L),
      "every vector exactly once: the orphan must not survive the retrain")
  }

  test("EmbIngest entry keeps a committed retrain version, sweeps an uncommitted one, folds into the current root") {
    import graft.streaming.EmbIngest
    import org.apache.hadoop.fs.{FileUtil, Path}
    val path = java.nio.file.Files.createTempDirectory("emb-rtfwd").toString + "/idx"
    EmbIngest.commitEmbBatch(spark, path, emb, 0L, nlist = 6, dim = 16)
    val fs = graft.util.Lsm.fs(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    // a crashed retrain's UNCOMMITTED version dir sweeps at daemon entry
    for (t <- Seq("centroids", "vectors"))
      FileUtil.copy(fs, new Path(s"$path/$t"), fs,
        new Path(s"$path/v1/$t"), false, conf)
    EmbIngest.commitEmbBatch(spark, path, emb, 0L, nlist = 6, dim = 16)
    assert(!fs.exists(new Path(s"$path/v1")),
      "uncommitted version dir must sweep at daemon entry")
    // a COMMITTED retrain moves the daemon's root: the next batch gates
    // against and folds into v1, and re-deliveries still drop there
    Similarity.ivfRetrain(spark, path, nlist = 6, dim = 16)
    val late = (100 until 104).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    val r1 = EmbIngest.commitEmbBatch(spark, path,
      late.union(emb.filter(col("vec_id") < 4)), 1L, nlist = 6, dim = 16)
    assert(r1.admitted == 4 && r1.droppedRedelivered == 4,
      "the gate must see the retrained version's stored ids")
    assert(Similarity.ivfRoot(spark, path) == s"$path/v1")
    assert(treeAssign(path).map(_._1).toSet ==
      ((0L until 48L) ++ (100L until 104L)).toSet,
      "the fold lands in the committed version root")
  }

  test("cold-start crash mid-centroid-staging: the partial twin sweeps, the retry retrains") {
    import graft.streaming.EmbIngest
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("emb-coldcrash").toString + "/idx"
    val fs = graft.util.Lsm.fs(spark, path)
    // simulate batch 0 crashing MID-staged-centroid-write: a partial
    // (unreadable) staged dir, no live centroids, no old twin. Rolling it
    // forward would suppress cold-start training forever and wedge every
    // later batch on an unreadable table.
    fs.mkdirs(new Path(s"$path/centroids_staged_b0"))
    fs.create(new Path(s"$path/centroids_staged_b0/part-0.parquet")).close()
    val r = EmbIngest.commitEmbBatch(spark, path, emb, 0L, nlist = 6, dim = 16)
    assert(r.admitted == 48, "the retry must retrain from the batch")
    assert(spark.read.parquet(s"$path/centroids").count() > 0,
      "the served centroid table must be the retry's complete one")
    assert(treeAssign(path).size == 48)
  }

  test("first-fold crash between move and meta commit: the retry reconverges, never wedges") {
    import graft.streaming.EmbIngest
    import org.apache.hadoop.fs.Path
    val path = java.nio.file.Files.createTempDirectory("emb-foldcrash").toString + "/idx"
    // run a real cold batch 0, then rewind it to the crash point between
    // Lsm.moveMarked and the meta commitSwap: no meta, and the b0- files
    // swept by the retry leave EMPTY cid= dirs on disk — a dir-existence
    // indexExists would then read a zero-data-file tree and throw
    // "unable to infer schema" on every retry, wedging the daemon
    EmbIngest.commitEmbBatch(spark, path, emb, 0L, nlist = 6, dim = 16)
    val fs = graft.util.Lsm.fs(spark, path)
    fs.delete(new Path(s"$path/meta"), true)
    graft.util.Lsm.sweepMarked(fs, new Path(s"$path/vectors"), "b0-")
    assert(fs.exists(new Path(s"$path/vectors")),
      "fixture: the empty partition skeleton must be on disk")
    val r = EmbIngest.commitEmbBatch(spark, path, emb, 0L, nlist = 6,
      dim = 16, dedupThreshold = Some(0.999999))
    assert(r.admitted == 48 && r.droppedRedelivered == 0,
      "the retry is a fresh fold against the pre-batch (empty) tree")
    assert(treeAssign(path).size == 48)
  }

  test("EmbIngest dual-tree: PQ twin folds per batch; codes == single-shot encode; crash between folds reconverges") {
    import graft.operators.Pq
    import graft.streaming.EmbIngest
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = java.nio.file.Files.createTempDirectory("emb-dual").toString
    val (idx, pq) = (s"$root/idx", s"$root/pq")
    val conf = spark.sparkContext.hadoopConfiguration
    val drops = Seq(
      emb.filter(col("vec_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 === 1),
      emb.filter(col("vec_id") % 3 === 2))
    def pqRows(path: String): Seq[String] =
      spark.read.parquet(s"$path/codes").select("vec_id", "cid", "sub", "code")
        .collect().map(_.mkString(",")).sorted.toSeq
    def vnRows(path: String): Seq[String] =
      spark.read.parquet(s"$path/vnorms").select("vec_id", "rnorm2")
        .collect().map(_.mkString(",")).sorted.toSeq
    var folded = drops.head.limit(0)
    for ((drop, i) <- drops.zipWithIndex) {
      EmbIngest.commitEmbBatch(spark, idx, drop, i.toLong, nlist = 4,
        dim = 16, pqIndexPath = Some(pq), pqM = 4, pqKsub = 8)
      folded = folded.union(drop)
      // single-shot re-encode of everything admitted so far against the
      // FOLD tree's own frozen quantizer: codes and vnorms bit-identical
      val ref = s"$root/ref$i"
      val fs = graft.util.Lsm.fs(spark, ref)
      for (t <- Seq("centroids", "codebooks", "meta"))
        FileUtil.copy(fs, new Path(s"$pq/$t"), fs, new Path(s"$ref/$t"),
          false, conf)
      Pq.ivfPqInsert(spark, ref, folded, 100L + i)
      assert(pqRows(pq) == pqRows(ref),
        s"after drop $i the folded PQ tree must equal a single-shot encode")
      assert(vnRows(pq) == vnRows(ref), s"vnorms bit-identical after drop $i")
      // ADC serving agrees end-to-end, not just at-rest content
      val q = emb.filter(col("vec_id") < 3)
      def adc(p: String) = Pq.ivfPqTopK(spark, p, q, 5, nprobe = 4,
          m = 4, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
        .sorted.toSeq
      assert(adc(pq) == adc(ref), s"served ADC top-k after drop $i")
    }
    // both trees carry every admitted id under the same batch protocol
    assert(treeAssign(idx).map(_._1).sorted == (0L until 48L))
    assert(spark.read.parquet(s"$pq/codes").select("vec_id").distinct()
      .count() == 48L)
    // crash between the two folds: the PQ twin committed batch 3, the IVF
    // fold did not run. The daemon retry must no-op the PQ fold (its own
    // marker) and redo the IVF fold — both trees converge.
    val late = (100 until 104).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Pq.ivfPqCommitBatch(spark, pq, late, 3L, nlist = 4, m = 4, ksub = 8,
      dim = 16, trainOn = Some(late))
    val r = EmbIngest.commitEmbBatch(spark, idx, late, 3L, nlist = 4,
      dim = 16, pqIndexPath = Some(pq), pqM = 4, pqKsub = 8)
    assert(r.admitted == 4)
    assert(treeAssign(idx).map(_._1).toSet ==
      ((0L until 48L) ++ (100L until 104L)).toSet)
    assert(spark.read.parquet(s"$pq/codes")
      .filter(col("vec_id") >= 100).select("vec_id").distinct().count() == 4L,
      "the PQ twin holds batch 3 exactly once after the replay")
    // a fully-committed retry no-ops on both trees
    val before = (treeAssign(idx), pqRows(pq))
    val r2 = EmbIngest.commitEmbBatch(spark, idx, late, 3L, nlist = 4,
      dim = 16, pqIndexPath = Some(pq), pqM = 4, pqKsub = 8)
    assert(r2.admitted == 0 && (treeAssign(idx), pqRows(pq)) == before)
  }

  test("ivfPqRetrain: MVCC re-encode == single-shot against the published tables; folds land in the version; retry no-ops; compaction retires") {
    import graft.operators.Pq
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = java.nio.file.Files.createTempDirectory("pq-rt").toString
    val pq = s"$root/pq"
    val conf = spark.sparkContext.hadoopConfiguration
    def pqRows(p: String): Seq[String] = {
      val r = Pq.ivfPqRoot(spark, p)
      spark.read.parquet(s"$r/codes").select("vec_id", "cid", "sub", "code")
        .collect().map(_.mkString(",")).sorted.toSeq
    }
    def vnRows(p: String): Seq[String] = {
      val r = Pq.ivfPqRoot(spark, p)
      spark.read.parquet(s"$r/vnorms").select("vec_id", "rnorm2")
        .collect().map(_.mkString(",")).sorted.toSeq
    }
    for ((drop, i) <- Seq(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 1),
        emb.filter(col("vec_id") % 3 === 2)).zipWithIndex)
      Pq.ivfPqCommitBatch(spark, pq, drop, i.toLong, nlist = 4, m = 4,
        ksub = 8, dim = 16, trainOn = Some(drop))
    // drift repair: quantizer + codebooks retrained, everything re-encoded
    Pq.ivfPqRetrain(spark, pq, emb)
    assert(Pq.ivfPqRoot(spark, pq) == s"$pq/v1",
      "the retrain publishes a committed version dir")
    // post-retrain tree == a single-shot encode against the PUBLISHED v1
    // tables (the fold-vs-rebuild equivalence, through the retrain)
    val ref = s"$root/ref"
    val fs = graft.util.Lsm.fs(spark, pq)
    for (t <- Seq("centroids", "codebooks"))
      FileUtil.copy(fs, new Path(s"$pq/v1/$t"), fs, new Path(s"$ref/$t"),
        false, conf)
    FileUtil.copy(fs, new Path(s"$pq/meta"), fs, new Path(s"$ref/meta"),
      false, conf)
    Pq.ivfPqInsert(spark, ref, emb, 100L)
    assert(pqRows(pq) == pqRows(ref),
      "retrained codes must equal a single-shot encode on the v1 tables")
    assert(vnRows(pq) == vnRows(ref), "vnorms bit-identical through retrain")
    // ADC serving agrees end-to-end off the versioned root
    val q = emb.filter(col("vec_id") < 3)
    def adc(p: String) = Pq.ivfPqTopK(spark, p, q, 5, nprobe = 4,
        m = 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
      .sorted.toSeq
    assert(adc(pq) == adc(ref))
    // meta (last_batch) carried: a retry of committed batch 2 no-ops
    val before = pqRows(pq)
    Pq.ivfPqInsert(spark, pq, emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(pqRows(pq) == before, "committed retry must no-op post-retrain")
    // a NEW fold lands inside the version root
    val extra = (500 until 504).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    Pq.ivfPqInsert(spark, pq, extra, 3L)
    assert(spark.read.parquet(s"$pq/v1/codes").select("vec_id").distinct()
      .count() == 52L, "the fold must land in the committed version")
    // compaction retires the superseded legacy tables (storage bound)
    Pq.ivfPqCompact(spark, pq)
    assert(!fs.exists(new Path(s"$pq/codes")) &&
      !fs.exists(new Path(s"$pq/centroids")) &&
      !fs.exists(new Path(s"$pq/codebooks")) &&
      !fs.exists(new Path(s"$pq/vnorms")),
      "the superseded legacy root retires at the next maintenance slot")
    assert(adc(pq).nonEmpty, "the tree keeps serving after retirement")
    // an uncommitted (crashed) retrain dir sweeps at the next writer entry
    fs.mkdirs(new Path(s"$pq/v2/codes"))
    Pq.ivfPqInsert(spark, pq, emb.limit(0), 3L) // entry recovery (no-op fold)
    assert(!fs.exists(new Path(s"$pq/v2")),
      "an uncommitted version dir is a crashed retrain's debris")
  }

  test("EmbIngest dual retrain slot: both trees repair drift; ADC == rebuild; gate and folds keep working") {
    import graft.operators.Pq
    import graft.streaming.EmbIngest
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = java.nio.file.Files.createTempDirectory("emb-dualrt").toString
    val (idx, pq) = (s"$root/idx", s"$root/pq")
    val conf = spark.sparkContext.hadoopConfiguration
    for ((drop, i) <- Seq(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 1),
        emb.filter(col("vec_id") % 3 === 2)).zipWithIndex)
      EmbIngest.commitEmbBatch(spark, idx, drop, i.toLong, nlist = 4,
        dim = 16, retrainEvery = 2, pqIndexPath = Some(pq), pqM = 4,
        pqKsub = 8)
    // batch 2 triggered the dual retrain: both trees carry version roots
    assert(Similarity.ivfRoot(spark, idx) == s"$idx/v1")
    assert(Pq.ivfPqRoot(spark, pq) == s"$pq/v1")
    // the re-encoded twin serves exactly what a single-shot encode of the
    // serving tree's vectors against the published v1 tables serves
    val fs = graft.util.Lsm.fs(spark, pq)
    val ref = s"$root/ref"
    for (t <- Seq("centroids", "codebooks"))
      FileUtil.copy(fs, new Path(s"$pq/v1/$t"), fs, new Path(s"$ref/$t"),
        false, conf)
    FileUtil.copy(fs, new Path(s"$pq/meta"), fs, new Path(s"$ref/meta"),
      false, conf)
    Pq.ivfPqInsert(spark, ref,
      spark.read.parquet(s"$idx/v1/vectors").select("vec_id", "embedding"),
      100L)
    val q = emb.filter(col("vec_id") < 3)
    def adc(p: String) = Pq.ivfPqTopK(spark, p, q, 5, nprobe = 4,
        m = 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
      .sorted.toSeq
    assert(adc(pq) == adc(ref),
      "post-retrain ADC must equal the single-shot rebuild")
    // the next daemon batch gates and folds normally into BOTH v1 roots
    val late = (600 until 604).map(i =>
      (i.toLong, Array.tabulate(16)(d => (dirs(i % 4)(d) + 0.01 * i).toFloat)))
      .toDF("vec_id", "embedding")
    val r3 = EmbIngest.commitEmbBatch(spark, idx,
      late.union(emb.filter(col("vec_id") < 4)), 3L, nlist = 4, dim = 16,
      retrainEvery = 2, pqIndexPath = Some(pq), pqM = 4, pqKsub = 8)
    assert(r3.admitted == 4 && r3.droppedRedelivered == 4,
      s"gate must see the retrained tree's ids, got $r3")
    assert(treeAssign(idx).map(_._1).toSet ==
      ((0L until 48L) ++ (600L until 604L)).toSet)
    assert(spark.read.parquet(s"$pq/v1/codes")
      .filter(col("vec_id") >= 600).select("vec_id").distinct().count() == 4L,
      "the twin's fold lands in its committed version")
  }

  test("adaptive nlist: retrain on a grown corpus picks a larger quantizer on BOTH trees; served results correct") {
    import graft.operators.Pq
    import graft.streaming.EmbIngest
    // the √n rule itself: floored at the configured value, capped
    assert(Similarity.adaptiveNlist(0L, 4, 64) == 4, "empty: floor")
    assert(Similarity.adaptiveNlist(9L, 4, 64) == 4, "sqrt below floor: floor")
    assert(Similarity.adaptiveNlist(49L, 2, 64) == 7, "sqrt(49) = 7")
    assert(Similarity.adaptiveNlist(1000000L, 4, 64) == 64, "capped")
    val root = java.nio.file.Files.createTempDirectory("emb-anl").toString
    val (idx, pq) = (s"$root/idx", s"$root/pq")
    // cold tree trains at the configured floor (nlist = 2 on 16 vectors);
    // by the batch-2 retrain the corpus has grown 3x and the slot must
    // resize to sqrt(48) ≈ 7 cells — on the serving tree AND the PQ twin
    for ((drop, i) <- Seq(
        emb.filter(col("vec_id") % 3 === 0),
        emb.filter(col("vec_id") % 3 === 1),
        emb.filter(col("vec_id") % 3 === 2)).zipWithIndex)
      EmbIngest.commitEmbBatch(spark, idx, drop, i.toLong, nlist = 2,
        dim = 16, retrainEvery = 2, pqIndexPath = Some(pq), pqM = 4,
        pqKsub = 8, maxNlist = 64)
    val expected = Similarity.adaptiveNlist(48L, 2, 64)
    assert(expected == 7)
    val servedCents = spark.read
      .parquet(s"${Similarity.ivfRoot(spark, idx)}/centroids").count()
    assert(servedCents == expected,
      s"serving tree must retrain at sqrt(n), got $servedCents")
    assert(spark.read.parquet(s"${Pq.ivfPqRoot(spark, pq)}/centroids")
      .count() == expected, "PQ twin must resize with the serving tree")
    assert(spark.read.parquet(s"$pq/meta").collect()(0)
      .getAs[Long]("nlist") == expected.toLong,
      "twin meta records the live nlist")
    // served results stay correct through the resize: each query's
    // nearest OTHER vector (self-matches are excluded by contract) comes
    // from its own planted cluster, and the next fold (configured floor
    // nlist, resized tree) still gates and lands
    val q = emb.filter(col("vec_id") < 4)
    val top1 = Similarity.ivfTopKIndexed(spark, idx, q, 1, nprobe = expected)
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L until 4L).forall(i => top1(i) % 4 == i % 4),
      s"post-resize top-1 must come from the query's planted cluster: $top1")
    val r3 = EmbIngest.commitEmbBatch(spark, idx,
      (100L until 104L).map(i => (i, Array.tabulate(16)(d =>
        (dirs((i % 4).toInt)(d) + 0.02 * i).toFloat))).toDF("vec_id", "embedding")
        .union(q), 3L, nlist = 2, dim = 16, retrainEvery = 2,
      pqIndexPath = Some(pq), pqM = 4, pqKsub = 8, maxNlist = 64)
    assert(r3.admitted == 4 && r3.droppedRedelivered == 4,
      s"fold against the resized tree must gate and land, got $r3")
  }

  test("EmbIngest daemon: cold batch trains, warm drops fold, retry no-ops") {
    import java.nio.file.{Files, Path => JPath}
    val in = Files.createTempDirectory("emb-in").toString
    val ckpt = Files.createTempDirectory("emb-ckpt").toString
    val idx = Files.createTempDirectory("emb-idx").toString + "/idx"
    def jsonl(rows: Seq[(Long, Array[Float])]): String =
      rows.map { case (id, e) =>
        s"""{"vec_id": $id, "embedding": [${e.mkString(", ")}]}"""
      }.mkString("\n")
    val first = vecs.filter(_._1 % 10 != 0)
    val late = vecs.filter(_._1 % 10 == 0)
    Files.writeString(JPath.of(in, "w1.jsonl"), jsonl(first))
    graft.streaming.EmbIngest.start(spark, in, ckpt, idx, nlist = 6, dim = 16,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val cents = spark.read.parquet(s"$idx/centroids")
    assert(treeAssign(idx) ==
      Similarity.assignToCentroids(first.toDF("vec_id", "embedding"), cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "cold batch must train on itself and fold through the same protocol")
    Files.writeString(JPath.of(in, "w2.jsonl"), jsonl(late))
    // retrainEvery=1: batch 1's slot also retrains the quantizer in place,
    // so the daemon path exercises fold THEN drift repair end-to-end
    graft.streaming.EmbIngest.start(spark, in, ckpt, idx, nlist = 6, dim = 16,
      retrainEvery = 1,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    // the retrain published a version root (and may have resized nlist to
    // sqrt(48) = 7 under the adaptive rule): the RETRAINED centroids live
    // at the resolved root, not the legacy tree top
    val centsAfter = spark.read
      .parquet(s"${Similarity.ivfRoot(spark, idx)}/centroids")
    val after2 = treeAssign(idx)
    assert(after2 == Similarity.assignToCentroids(emb, centsAfter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "after the in-slot retrain the tree must be consistent with the " +
        "RETRAINED stored centroids over the full folded corpus")
    // retry of committed batch 1 must not double-append
    Similarity.ivfCommitBatch(spark, idx, late.toDF("vec_id", "embedding"), 1L,
      nlist = 6, dim = 16)
    assert(treeAssign(idx) == after2)
  }
}
