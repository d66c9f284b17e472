package graft

import graft.streaming.DocIngest
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Path}

class DocIngestSpec extends SparkSpec {
  import spark.implicits._

  // Texts with CERTAIN LSH outcomes: identical copies always collide,
  // the distinct texts share no 3-grams at all.
  private val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val tB = "one two three four five six seven eight nine ten"
  private val tC = "red orange yellow green blue indigo violet purple pink white"
  private val tD = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
  private val tE = "spark catalyst tungsten shuffle partition broadcast join agg scan sort"

  private def docsDf(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def corpusIds(corpusDir: String): Set[Long] =
    DocIngest.readCorpus(spark, corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  test("commitDocBatch: within-batch and vs-index gating, idempotent replay") {
    val corpus = Files.createTempDirectory("doc-corpus").toString
    val index = Files.createTempDirectory("doc-index").toString

    // batch 0 (cold start, no index yet): 1 is an exact copy of 0 -> dropped
    val b0 = docsDf(0L -> tA, 1L -> tA, 3L -> tB, 5L -> tC)
    val r0 = DocIngest.commitDocBatch(spark, b0, 0L, corpus, index)
    assert(r0 == DocIngest.BatchResult(3, 1, 0), s"r0=$r0")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L))

    // batch 1: 2 copies indexed 0, 8 copies indexed 3 -> dropped vs index;
    // 10 copies in-batch 7 -> dropped within; 6, 7 novel -> admitted
    val b1 = docsDf(2L -> tA, 6L -> tE, 7L -> tD, 8L -> tB, 10L -> tD)
    val r1 = DocIngest.commitDocBatch(spark, b1, 1L, corpus, index)
    assert(r1 == DocIngest.BatchResult(2, 1, 2), s"r1=$r1")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 7L))

    // crash replay of batch 1: the index already holds its first attempt;
    // the admitted set and every stored table must reconverge unchanged
    val sizesBefore = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$index/sizes").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    val r1b = DocIngest.commitDocBatch(spark, b1, 1L, corpus, index)
    assert(r1b.admitted == r1.admitted, s"replay diverged: $r1b vs $r1")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 7L))
    val sizesAfter = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$index/sizes").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(sizesAfter == sizesBefore, "index must not grow on replay")

    // batch 2 still dedups against batches 0 AND 1
    val b2 = docsDf(11L -> tE, 12L -> tC)
    val r2 = DocIngest.commitDocBatch(spark, b2, 2L, corpus, index)
    assert(r2 == DocIngest.BatchResult(0, 0, 2), s"r2=$r2")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 7L))

    // batch 3 RE-DELIVERS already-admitted doc_ids (0 verbatim, 6 with
    // different text). The probe's self-id filter must not let either back
    // in: both drop via the redelivered gate, the novel doc is admitted.
    val tF = "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"
    val b3 = docsDf(0L -> tA, 6L -> tB, 20L -> tF)
    val r3 = DocIngest.commitDocBatch(spark, b3, 3L, corpus, index)
    assert(r3.admitted == 1 && r3.droppedRedelivered == 2, s"r3=$r3")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 7L, 20L))
    // ...and doc_id 0 appears in the corpus exactly once (batch 0's copy)
    assert(DocIngest.readCorpus(spark, corpus)
      .filter($"doc_id" === 0L).count() == 1L)
  }

  test("commitDocBatch multimodal gate: text AND vector near-dups drop, both indexes fold") {
    import org.apache.spark.sql.functions._
    val corpus = Files.createTempDirectory("dm-corpus").toString
    val index = Files.createTempDirectory("dm-index").toString
    val embIdx = Files.createTempDirectory("dm-emb").toString + "/idx"
    val tF = "quark lepton boson hadron meson baryon photon gluon neutrino muon"
    val tG = "sonata prelude fugue etude nocturne rondo scherzo minuet aria toccata"
    val tH = "granite basalt marble slate quartzite gneiss schist shale obsidian pumice"
    def v(i: Int): Array[Float] =
      Array.tabulate(16)(d => math.sin(i * 17 + d * 3).toFloat)
    def df(rows: (Long, String, Array[Float])*) =
      rows.map { case (id, t, e) =>
        (id, t, "en", s"src${id % 3}", t.length.toLong, e)
      }.toDF("doc_id", "text", "lang", "source", "n_chars", "embedding")
    def commit(b: org.apache.spark.sql.DataFrame, id: Long) =
      DocIngest.commitDocBatch(spark, b, id, corpus, index,
        embIndexPath = Some(embIdx), embThreshold = 0.9999,
        embNlist = 3, embDim = 16)
    val r0 = commit(df((0L, tA, v(0)), (3L, tB, v(1)), (5L, tC, v(2))), 0L)
    assert(r0 == DocIngest.BatchResult(3, 0, 0, 0), s"r0=$r0")
    // batch 1: 6 fully novel; 8 = TEXT copy of indexed tB (new vector);
    // 9 = VECTOR copy of indexed v(2) (novel text); 10/11 = novel distinct
    // texts sharing one new vector -> within-batch vector pair, 11 drops
    val b1 = df((6L, tE, v(3)), (8L, tB, v(4)), (9L, tD, v(2)),
      (10L, tF, v(5)), (11L, tG, v(5)))
    val r1 = commit(b1, 1L)
    assert(r1 == DocIngest.BatchResult(2, 1, 2, 0), s"r1=$r1")
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 10L))
    // the IVF tree serves exactly the admitted corpus's embeddings,
    // assigned against the stored centroids (incremental == rebuild)
    val cents = spark.read.parquet(s"$embIdx/centroids")
    def treeIds = spark.read.parquet(s"$embIdx/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(treeIds == Set(0L, 3L, 5L, 6L, 10L))
    val assigned = graft.operators.Similarity.assignToCentroids(
        DocIngest.readCorpus(spark, corpus)
          .select(col("doc_id").as("vec_id"), col("embedding")), cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tree = spark.read.parquet(s"$embIdx/vectors")
      .select(col("vec_id"), col("cid").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tree == assigned, "folded cells must equal a re-assignment")
    // crash replay of batch 1 reconverges: same corpus, no double-fold
    val r1b = commit(b1, 1L)
    assert(r1b.admitted == 2 && corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 10L))
    assert(treeIds == Set(0L, 3L, 5L, 6L, 10L), "ivf fold must be a no-op on replay")
    // a text-only batch (no embedding column upstream defaulting to null)
    // still passes the vector gate untouched
    val b2 = df((12L, tH, null))
    val r2 = commit(b2, 2L)
    assert(r2 == DocIngest.BatchResult(1, 0, 0, 0), s"r2=$r2")
    assert(treeIds == Set(0L, 3L, 5L, 6L, 10L), "null-embedding doc folds nowhere")
    // a producer-retried duplicate line (same doc_id twice in one drop)
    // folds its vec_id into the tree exactly ONCE
    val tI = "alpha2 beta2 gamma2 delta2 epsilon2 zeta2 eta2 theta2 iota2 kappa2"
    val b3 = df((13L, tI, v(6)), (13L, tI, v(6)))
    commit(b3, 3L)
    assert(spark.read.parquet(s"$embIdx/vectors")
      .filter(col("vec_id") === 13L).count() == 1L,
      "duplicate drop lines must not double-fold a vec_id")
  }

  test("a producer-retried duplicate line collapses: corpus and index hold the doc ONCE") {
    val corpus = Files.createTempDirectory("doc-dup-corpus").toString
    val index = Files.createTempDirectory("doc-dup-index").toString
    val inv = Files.createTempDirectory("doc-dup-inv").toString + "/inv"
    // doc 1 delivered twice in one batch (identical line, the producer-
    // retry case); the within-batch LSH gate pairs only a_id < b_id, so
    // without the entry collapse BOTH rows flow into corpus + BM25 fold
    val b0 = docsDf(0L -> tA, 1L -> tB, 1L -> tB, 5L -> tC)
    val r0 = DocIngest.commitDocBatch(spark, b0, 0L, corpus, index,
      invIndexPath = Some(inv))
    assert(r0.admitted == 3, s"duplicate line must collapse, got $r0")
    val rows = DocIngest.readCorpus(spark, corpus)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L).count()
    assert(rows == 1L, "the corpus must hold the duplicated doc ONCE")
    // the BM25 fold indexed it once: its tf/stats match a corpus rebuild
    val servedStats = spark.read.parquet(s"$inv/stats").collect()(0)
    assert(servedStats.getAs[Long]("n_docs") == 3L,
      "n_docs must count the duplicated doc once")
  }

  test("commitDocBatch phase telemetry: same admissions, every live phase timed") {
    val corpus = Files.createTempDirectory("doc-ph-corpus").toString
    val index = Files.createTempDirectory("doc-ph-index").toString
    val evalDir = Files.createTempDirectory("doc-ph-eval").toString + "/eval"
    Seq((900L, tE)).toDF("doc_id", "text").write.parquet(evalDir)
    val b0 = docsDf(0L -> tA, 3L -> tB, 5L -> tC)
    DocIngest.commitDocBatch(spark, b0, 0L, corpus, index)
    // instrumented batch vs the same batch uninstrumented on a twin tree:
    // identical BatchResult (the telemetry only reads the clock)
    val corpus2 = Files.createTempDirectory("doc-ph-corpus2").toString
    val index2 = Files.createTempDirectory("doc-ph-index2").toString
    DocIngest.commitDocBatch(spark, b0, 0L, corpus2, index2)
    val b1 = docsDf(2L -> tA, 6L -> tE, 7L -> tD, 10L -> tD)
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rInst = DocIngest.commitDocBatch(spark, b1, 1L, corpus, index,
      evalPath = Some(evalDir), phaseWalls = Some(phases))
    val rPlain = DocIngest.commitDocBatch(spark, b1, 1L, corpus2, index2,
      evalPath = Some(evalDir))
    assert(rInst == rPlain, s"telemetry must not change admissions: $rInst vs $rPlain")
    assert(corpusIds(corpus) == corpusIds(corpus2))
    val expected = Set("gate_text", "gate_redelivery", "gate_contam",
      "admit", "corpus_write", "sidecar_fold", "fold_lsh")
    assert(expected.subsetOf(phases.keySet),
      s"every live phase must be timed, got ${phases.keySet}")
    assert(phases.values.forall(_ >= 0.0))
  }

  test("a batch frees every block it materialized, also when it fails midway") {
    val corpus = Files.createTempDirectory("doc-free-corpus").toString
    val index = Files.createTempDirectory("doc-free-index").toString
    val inv = Files.createTempDirectory("doc-free-inv").toString + "/bm25"
    val evalDir = Files.createTempDirectory("doc-free-eval").toString + "/eval"
    Seq((900L, tE)).toDF("doc_id", "text").write.parquet(evalDir)
    DocIngest.commitDocBatch(spark, docsDf(0L -> tA, 3L -> tB), 0L,
      corpus, index, invIndexPath = Some(inv))
    // every gate live: bloom-positive re-delivery, vs-index near-dup,
    // within-batch near-dup, contamination
    val leaked = leakedBlocks {
      val r1 = DocIngest.commitDocBatch(spark,
        docsDf(0L -> tC, 2L -> tB, 6L -> tD, 7L -> tD, 8L -> tE), 1L,
        corpus, index, invIndexPath = Some(inv), evalPath = Some(evalDir))
      assert(r1 == DocIngest.BatchResult(1, 1, 1, 1, 1), s"r1=$r1")
    }
    assert(leaked.isEmpty, s"leaked $leaked")
    // fails after the gates, the admit and the corpus write: the stats
    // row is gone over live postings
    val fs = new org.apache.hadoop.fs.Path(inv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$inv/stats"), true)
    val leakedOnFailure = leakedBlocks(intercept[IllegalArgumentException] {
      DocIngest.commitDocBatch(spark, docsDf(3L -> tD, 9L -> tC), 2L,
        corpus, index, invIndexPath = Some(inv), evalPath = Some(evalDir))
    })
    assert(corpusIds(corpus).contains(9L), "the failure must come after the gates")
    assert(leakedOnFailure.isEmpty, s"leaked $leakedOnFailure")
  }

  test("plan size: no plan carries the Bloom filter, the corpus write reads the batch once") {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.graftbridge.PlanProbe
    val corpus = Files.createTempDirectory("doc-plan-corpus").toString
    val index = Files.createTempDirectory("doc-plan-index").toString
    DocIngest.commitDocBatch(spark, docsDf(0L -> tA, 3L -> tB, 5L -> tC), 0L,
      corpus, index)
    assert(graft.util.BloomSidecar.read(spark, index).exists(_.length > 1024),
      "the fixture's filter must be larger than the literal bound")
    // 3 re-delivered (bloom-positive, verified), 6 near-dups 0, 7 novel
    val (r1, named) = PlanProbe.capture(spark)(DocIngest.commitDocBatch(spark,
      docsDf(3L -> tD, 6L -> tA, 7L -> tE), 1L, corpus, index))
    val qes = named.map(_._2)
    assert(r1 == DocIngest.BatchResult(1, 0, 1, 1), s"r1=$r1")
    assert(qes.nonEmpty)
    val bulky = qes.map(PlanProbe.maxBinaryLiteral).filter(_ > 1024)
    assert(bulky.isEmpty, s"binary literals of ${bulky.mkString(", ")} bytes in plans")
    val corpusWrites = qes.filter(_.optimizedPlan.exists {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString.contains(corpus)
      case _ => false
    })
    assert(corpusWrites.size == 1)
    val scans = PlanProbe.leafScans(corpusWrites.head)
    assert(scans == 1, s"the corpus write reads $scans leaves")
  }

  test("commitDocBatch decontamination gate: eval-overlapping docs never enter corpus or index") {
    val corpus = Files.createTempDirectory("dc-corpus").toString
    val index = Files.createTempDirectory("dc-index").toString
    val evalDir = Files.createTempDirectory("dc-eval").toString + "/eval"
    // eval doc shares its full 5-gram window with tA's prefix; tB/tC clean
    docsDf(9000L -> tA).select("doc_id", "text")
      .write.parquet(evalDir)
    val b0 = docsDf(0L -> tA, 3L -> tB, 5L -> tC)
    val r0 = DocIngest.commitDocBatch(spark, b0, 0L, corpus, index,
      evalPath = Some(evalDir))
    assert(r0 == DocIngest.BatchResult(2, 0, 0, 0, 1), s"r0=$r0")
    assert(corpusIds(corpus) == Set(3L, 5L),
      "the contaminated doc must never reach the corpus")
    // ...nor the LSH index: a later near-dup of the contaminated doc is
    // NOVEL as far as the index knows (it was never admitted)
    val r1 = DocIngest.commitDocBatch(spark, docsDf(7L -> tD), 1L, corpus,
      index, evalPath = Some(evalDir))
    assert(r1 == DocIngest.BatchResult(1, 0, 0, 0, 0), s"r1=$r1")
    // replay of batch 0 reconverges (gate is deterministic vs the static
    // eval parquet)
    val r0b = DocIngest.commitDocBatch(spark, b0, 0L, corpus, index,
      evalPath = Some(evalDir))
    assert(r0b.admitted == 2 && r0b.droppedContaminated == 1)
    assert(corpusIds(corpus) == Set(3L, 5L, 7L))
  }

  test("streaming JSONL file-drop end-to-end with the dedup gate") {
    val in = Files.createTempDirectory("doc-in").toString
    val ckpt = Files.createTempDirectory("doc-ckpt").toString
    val corpus = Files.createTempDirectory("doc-corpus2").toString + "/sink"
    val index = Files.createTempDirectory("doc-index2").toString + "/idx"

    def jsonl(rows: (Long, String)*): String = rows.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t", "lang": "en", "source": "s", "n_chars": ${t.length}}"""
    }.mkString("\n")

    Files.writeString(Path.of(in, "w1.jsonl"), jsonl(0L -> tA, 1L -> tA, 3L -> tB))
    val q1 = DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    assert(corpusIds(corpus) == Set(0L, 3L))

    // second drop: a dup of an admitted doc and a novel one; the restarted
    // stream must not reprocess w1 (checkpointed offsets)
    Files.writeString(Path.of(in, "w2.jsonl"), jsonl(2L -> tA, 4L -> tC))
    val q2 = DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    assert(corpusIds(corpus) == Set(0L, 3L, 4L))
  }

  test("daemon maintains the served BM25 index: incremental == full rebuild after each drop") {
    import graft.operators.Retrieval
    val in = Files.createTempDirectory("doc-in3").toString
    val ckpt = Files.createTempDirectory("doc-ckpt3").toString
    val corpus = Files.createTempDirectory("doc-corpus3").toString + "/sink"
    val index = Files.createTempDirectory("doc-index3").toString + "/idx"
    val inv = Files.createTempDirectory("doc-inv3").toString + "/bm25"

    def jsonl(rows: (Long, String)*): String = rows.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t", "lang": "en", "source": "s", "n_chars": ${t.length}}"""
    }.mkString("\n")
    val terms = Seq("alpha", "three", "blue", "ipsum", "catalyst")
    def served() = Retrieval.bm25TopKIndexed(spark, inv, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    def rebuilt(): Seq[(Long, Double)] = {
      val p = Files.createTempDirectory("doc-rebuild").toString + "/idx"
      Retrieval.writeInvertedIndex(
        DocIngest.readCorpus(spark, corpus).select("doc_id", "text"), p)
      Retrieval.bm25TopKIndexed(spark, p, terms, 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    }

    // drop 1: a dup (1 copies 0) is gated BEFORE indexing, so the served
    // index only ever holds admitted docs
    Files.writeString(Path.of(in, "w1.jsonl"),
      jsonl(0L -> tA, 1L -> tA, 3L -> tB, 5L -> tC))
    DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow(), invIndexPath = Some(inv))
      .awaitTermination()
    assert(served().nonEmpty && served() == rebuilt(),
      "served index after drop 1 must equal a full rebuild of the corpus")

    // drop 2: novel docs fold in as an LSM batch append (base untouched)
    Files.writeString(Path.of(in, "w2.jsonl"), jsonl(6L -> tD, 7L -> tE))
    DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow(), invIndexPath = Some(inv))
      .awaitTermination()
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 6L, 7L))
    assert(served() == rebuilt(),
      "served index after drop 2 must equal a full rebuild of the corpus")
    // and the fold really was incremental: the stats row carries the last
    // committed batch id, not the -1 bootstrap marker
    assert(spark.read.parquet(s"$inv/stats").collect()(0)
      .getAs[Long]("last_batch") >= 1L)
  }

  test("daemon maintains at-rest LP communities: warm == cold rebuild after each drop") {
    import graft.operators.Graph
    val in = Files.createTempDirectory("doc-in5").toString
    val ckpt = Files.createTempDirectory("doc-ckpt5").toString
    val corpus = Files.createTempDirectory("doc-corpus5").toString + "/sink"
    val index = Files.createTempDirectory("doc-index5").toString + "/idx"
    val lp = Files.createTempDirectory("doc-lp5").toString + "/communities"
    def jsonl(rows: (Long, String)*): String = rows.map { case (id, t) =>
      s"""{"doc_id": $id, "text": "$t", "lang": "en", "source": "s", "n_chars": ${t.length}}"""
    }.mkString("\n")
    def served(): Map[Long, Long] = Graph.lpServedLabels(spark, lp)
      .as[(Long, Long)].collect().toMap
    def coldRebuild(): Map[Long, Long] = Graph.labelPropagation(
      Graph.symmetrize(spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$lp/edges")), 5).as[(Long, Long)].collect().toMap
    // dup groups of size >= 3: a 2-clique oscillates under synchronous LP
    // (no self-vote), so pair evidence must triangulate — which LSH dup
    // groups naturally do (every copy pairs with every other copy)
    Files.writeString(Path.of(in, "w1.jsonl"),
      jsonl(0L -> tA, 1L -> tA, 2L -> tA, 3L -> tB, 5L -> tC))
    DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow(), lpStatePath = Some(lp))
      .awaitTermination()
    assert(served() == coldRebuild(),
      "labels after drop 1 must equal a cold LP rebuild over the edge tree")
    assert(served() == Map(0L -> 0L, 1L -> 0L, 2L -> 0L),
      "the drop-1 dup triple must settle on its min id")
    // drop 2: 8 attaches to the {0,1,2} cluster via the index (pendant on
    // a settled community); 9/10 copy the admitted 3 (within pair + two
    // index pairs = a new triangle); 6 is novel (edge-free, label-free)
    Files.writeString(Path.of(in, "w2.jsonl"),
      jsonl(8L -> tA, 9L -> tB, 10L -> tB, 6L -> tD))
    DocIngest.start(spark, in, ckpt, corpus, index,
      trigger = Trigger.AvailableNow(), lpStatePath = Some(lp))
      .awaitTermination()
    val got = served()
    assert(got == coldRebuild(),
      "labels after drop 2 must equal a cold LP rebuild over the edge tree")
    assert(Seq(0L, 1L, 2L, 8L).map(got).toSet.size == 1,
      "8 must join the settled dup cluster through its admitted rep")
    assert(Seq(3L, 9L, 10L).map(got).toSet == Set(3L))
    assert(!got.contains(6L), "an edge-free novel doc carries no label")
    // idempotent retry of the LAST batch: a re-delivered fold no-ops
    val before = got
    DocIngest.commitDocBatch(spark,
      docsDf(8L -> tA, 9L -> tB, 10L -> tB, 6L -> tD), 1L,
      corpus, index, lpStatePath = Some(lp))
    assert(served() == before, "retry of a committed batch must not move labels")
  }

  test("missing stats over live postings refuses to bootstrap (no silent zeroed idf)") {
    import graft.operators.Retrieval
    val corpus = Files.createTempDirectory("doc-corpus4").toString
    val index = Files.createTempDirectory("doc-index4").toString
    val inv = Files.createTempDirectory("doc-inv4").toString + "/bm25"
    DocIngest.commitDocBatch(spark, docsDf(0L -> tA, 3L -> tB), 0L,
      corpus, index, invIndexPath = Some(inv))
    // damage: stats vanishes (no recoverable swap twin) over live postings.
    // A cold-start bootstrap here would permanently serve BM25 with
    // n_docs=0 — the daemon must fail loudly instead.
    val fs = new org.apache.hadoop.fs.Path(inv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$inv/stats"), true)
    val e = intercept[IllegalArgumentException] {
      DocIngest.commitDocBatch(spark, docsDf(6L -> tD), 1L,
        corpus, index, invIndexPath = Some(inv))
    }
    assert(e.getMessage.contains("refusing to bootstrap"))
    // but a mid-swap crash twin IS recoverable: restore via the staged
    // path and the daemon proceeds
    Retrieval.initInvertedIndex(spark, inv)
    fs.rename(new org.apache.hadoop.fs.Path(s"$inv/stats"),
      new org.apache.hadoop.fs.Path(s"$inv/stats_old_b0"))
    // stats absent + old twin present -> invIndexInsert rolls back, then
    // the fold of batch 1 proceeds (bootstrap row had n_docs=0; this is
    // only exercising the twin-recovery path through the daemon guard)
    DocIngest.commitDocBatch(spark, docsDf(7L -> tE), 1L,
      corpus, index, invIndexPath = Some(inv))
    assert(spark.read.parquet(s"$inv/stats").collect()(0)
      .getAs[Long]("last_batch") === 1L)
  }

  test("re-delivery verify prunes to the positives' id buckets (poison-file proof) and the id sidecar tracks the admitted set") {
    import org.apache.spark.sql.functions.col
    val corpus = Files.createTempDirectory("idt-corpus").toString
    val index = Files.createTempDirectory("idt-index").toString
    val r0 = DocIngest.commitDocBatch(spark,
      docsDf(0L -> tA, 3L -> tB, 5L -> tC, 7L -> tD, 9L -> tE), 0L,
      corpus, index)
    assert(r0.admitted == 5)
    // the id sidecar mirrors the admitted set exactly
    assert(graft.util.IdTree.readAll(spark, index, "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 3L, 5L, 7L, 9L))
    // batch 1 re-delivers 0 and 3 (different text, so only the id gate can
    // drop them). Poison every ids/tb= bucket the batch's bloom-positives
    // do NOT hash to: the gate deciding correctly proves the verify read
    // only the positives' buckets.
    val tG = "oxide cobalt nickel copper zinc gallium arsenic selenium bromine krypton"
    val tH = "sonnet ballad haiku limerick ode elegy epic villanelle sestina rondeau"
    val b1 = docsDf(0L -> tG, 3L -> tH,
      30L -> "ampere volt ohm farad henry tesla weber siemens lumen candela")
    val fs = graft.util.Lsm.fs(spark, index)
    val bits = graft.util.BloomSidecar.read(spark, index).get
    val positives = b1.select("doc_id")
      .filter(graft.util.BloomSidecar.probe(
        graft.util.BloomSidecar.broadcast(spark, bits), col("doc_id")))
    val nBuckets = spark.read.parquet(s"$index/ids_meta")
      .collect()(0).getAs[Long]("n_buckets").toInt
    val probed = positives
      .select(graft.util.IdTree.bucketOf(col("doc_id"), nBuckets))
      .collect().map(_.getLong(0)).toSet
    val idBuckets = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$index/ids")).filter(_.isDirectory)
    val poisoned = idBuckets.filterNot(d =>
      probed(d.getPath.getName.stripPrefix("tb=").toLong))
    assert(poisoned.nonEmpty, "fixture must leave un-probed buckets to poison")
    poisoned.foreach { d =>
      val out = fs.create(new org.apache.hadoop.fs.Path(d.getPath, "poison.parquet"))
      out.write("not a parquet file".getBytes); out.close()
    }
    val r1 = DocIngest.commitDocBatch(spark, b1, 1L, corpus, index)
    assert(r1.droppedRedelivered == 2 && r1.admitted == 1, s"r1=$r1")
    poisoned.foreach(d => fs.delete(
      new org.apache.hadoop.fs.Path(d.getPath, "poison.parquet"), false))
    assert(corpusIds(corpus) == Set(0L, 3L, 5L, 7L, 9L, 30L))
    // replay of batch 1: the entry sweep removes its own first-attempt ids
    // so the gate reconverges instead of anti-joining the batch away
    val r1b = DocIngest.commitDocBatch(spark, b1, 1L, corpus, index)
    assert(r1b.admitted == 1 && r1b.droppedRedelivered == 2, s"replay=$r1b")
    assert(graft.util.IdTree.readAll(spark, index, "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 3L, 5L, 7L, 9L, 30L), "one sidecar row per admitted id")
  }

  test("maintenance slot consolidates the LSH tree's per-batch dirs; gates and replay unchanged") {
    val corpus = Files.createTempDirectory("doc-seg-c").toString
    val index = Files.createTempDirectory("doc-seg-i").toString
    val texts = Seq(tA, tB, tC, tD, tE)
    for (b <- 0 to 4)
      DocIngest.commitDocBatch(spark, docsDf(b.toLong -> texts(b)), b.toLong,
        corpus, index, compactEvery = 2)
    val fs = new org.apache.hadoop.fs.Path(index)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dirs(sub: String) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$index/$sub"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    // the batch-4 cadence slot merged batches 0..3 (and the batch-2
    // slot's seg-1) into seg-3; batch-4's own dir rides until the next slot
    assert(dirs("bands") == Set("seg-3", "batch-4"), s"got ${dirs("bands")}")
    assert(dirs("grams") == Set("seg-3", "batch-4"))
    assert(dirs("sizes") == Set("seg-3", "batch-4"))
    // the gates still see the WHOLE consolidated corpus: an exact copy of
    // a seg-merged doc near-dups, a re-delivered seg-merged id drops
    val r5 = DocIngest.commitDocBatch(spark,
      docsDf(0L -> tA, 50L -> tB, 51L -> ("wholly novel words appearing " +
        "nowhere else in any stored document at all")),
      5L, corpus, index, compactEvery = 2)
    assert(r5.droppedRedelivered == 1, s"seg-merged id must still drop: $r5")
    assert(r5.droppedVsIndex == 1, s"seg-merged text must still near-dup: $r5")
    assert(r5.admitted == 1, s"r5=$r5")
    // replay of the cadence batch reconverges to its original admission
    // (entry recovery + no-op consolidation + own-attempt exclusion +
    // own-dir overwrite): batch-4's own dir was never merged, so the
    // own-batch exclusion still works and doc 4 re-admits identically
    val r4b = DocIngest.commitDocBatch(spark, docsDf(4L -> texts(4)), 4L,
      corpus, index, compactEvery = 2)
    assert(r4b.admitted == 1 && r4b.droppedRedelivered == 0,
      s"cadence-batch replay must reconverge: $r4b")
    assert(corpusIds(corpus) == Set(0L, 1L, 2L, 3L, 4L, 51L))
  }
}
