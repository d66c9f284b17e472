package graft

import graft.operators.Audit
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-hygiene guards: the physical-plan properties the scale design relies
  * on, asserted so a refactor can't silently regress them. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = {
    df.collect() // finalize the adaptive plan so codegen stages are visible
    // AQE prints "== Final Plan ==" followed by "== Initial Plan ==" — keep
    // only the final section or every node is counted twice
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q01: filter pushed to parquet, columns pruned, partial aggregation") {
    val p = plan(SparkEntry.queries("q01_pricing")(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("partial_sum"), "map-side combine must precede the exchange")
    assert(!p.contains("l_orderkey"), "untouched columns must not be read")
  }

  test("q20: dimension joins broadcast, no shuffle join") {
    val p = plan(SparkEntry.queries("q20_join_agg")(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q13 enrichment: narrow plan — only scan fan-out and the final sort exchange") {
    val p = plan(SparkEntry.queries("q13_enrich")(spark, dir))
    // one round-robin exchange (the single-split fixture scan fanned across
    // cores), one range exchange (the final sort) — and never a hash shuffle:
    // the enrichment itself is narrow.
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1
      && "(?i)Exchange roundrobinpartitioning".r.findAllIn(p).size == 1
      && !p.contains("Exchange hashpartitioning"), s"enrichment must not shuffle:\n$p")
    assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined,
      "geo math must stay inside a codegen stage")
  }

  test("spot trigger: the enrichment computes each geodesic intermediate once") {
    val drop = java.nio.file.Files.createTempDirectory("enrich-plan")
    java.nio.file.Files.writeString(drop.resolve("drop.json"),
      graft.tools.PlanDump.spotJson(20))
    val df = graft.streaming.Ingest.processBatch(
      graft.sources.SpotSource.fromJson(spark, drop.toString), 0L)
    val nodes = graft.tools.PlanDump.expressionNodes(df.queryExecution.optimizedPlan)
    // 8,353 while every use re-inlined its vertex, arc and longitude subtrees
    assert(nodes <= 1500, s"$nodes expression nodes in the trigger's optimized plan")
    assert(df.count() == 20)
  }

  test("gap audit: intra window is bucket-partitioned, not global") {
    val ids = spark.read.parquet(s"$dir/events.parquet").select("event_id")
    val p = plan(Audit.gapDetails(ids, "event_id", 1024))
    // two Window nodes: one partitioned by bucket, one over bucket aggregates
    assert("Window ".r.findAllIn(p).size == 2)
    assert(p.contains("hashpartitioning(bkt"),
      "intra-bucket lag must partition by bucket (parallel), not sort globally")
  }

  test("gap audit: 3-level recursion keeps every lag window but the residual partitioned") {
    val ids = spark.read.parquet(s"$dir/events.parquet").select("event_id")
    val p = plan(Audit.gapDetails(ids, "event_id", 64, levels = 3))
    assert("Window ".r.findAllIn(p).size == 3)
    assert("hashpartitioning\\(bkt".r.findAllIn(p).size >= 2,
      "both non-residual lag windows must partition by their level's bucket")
  }

  test("q61 chunking: narrow codegen — no hash shuffle anywhere") {
    val p = plan(SparkEntry.queries("q61_chunk")(spark, dir))
    // only the scan fan-out (round-robin) and the final sort (range) may
    // exchange; the chunker itself must stay shuffle-free
    assert(!p.contains("hashpartitioning"),
      "chunking must not introduce a hash shuffle")
    assert(p.contains("Generate posexplode"), "posexplode drives the fan-out")
  }

  test("incremental LSH probe: batch side broadcast, stored index never shuffled") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val path = java.nio.file.Files.createTempDirectory("plan-lsh").toString
    graft.operators.Dedup.writeLshIndex(docs.filter(col("doc_id") % 10 =!= 0), path)
    val probe = graft.operators.Dedup.minhashLshAgainstIndex(
      spark, path, docs.filter(col("doc_id") % 10 === 0))
    val p = plan(probe)
    // every join against a stored table must take the batch side as the
    // broadcast build: a sort-merge/shuffled-hash join there would shuffle
    // the whole index (corpus-sized at scale) once per ingest batch
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "stored index tables must never be shuffled by the probe")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3)
  }

  test("q35 similarity: query side broadcast against the corpus") {
    val p = plan(SparkEntry.queries("q35_sim_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("q03 cursor filter: scalar cursor broadcast, corpus scan stays streamed") {
    val p = plan(SparkEntry.queries("q03_cursor_filter")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), "1-row cursor side must broadcast")
  }

  test("at-rest partitioned layout: date predicate prunes PARTITIONS, id range row groups") {
    val sink = java.nio.file.Files.createTempDirectory("atrest").toString + "/spots"
    val enriched = graft.operators.Enrich.formatted(
      graft.sources.SpotSynth.fromDir(spark, dir))
    graft.sinks.Sinks.writeSpotsPartitioned(enriched, sink)
    val q = spark.read.parquet(sink)
      .filter(col("wd_date") === to_date(lit("2024-01-01")) && col("Spotnum") > 100)
    val p = plan(q)
    assert("PartitionFilters: \\[[^\\]]*wd_date".r.findFirstIn(p).isDefined,
      s"the date filter must reach PartitionFilters (directory pruning), not just data filters:\n$p")
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(Spotnum,100\\)".r.findFirstIn(p).isDefined,
      s"the id-range filter must push to the scan for row-group min/max pruning:\n$p")
  }

  test("q34 embed dedup: one vec_dot per pair, norms precomputed per side") {
    val p = plan(SparkEntry.queries("q34_dedup_embed")(spark, dir))
    val joinLine = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail(s"expected a BroadcastNestedLoopJoin in:\n$p"))
    assert("dotproduct".r.findAllIn(joinLine).size <= 1,
      s"pair condition must evaluate at most one dot product:\n$joinLine")
    assert(!joinLine.toLowerCase.contains("sqrt"),
      s"norms must be precomputed per side, not per pair:\n$joinLine")
    assert(joinLine.indexOf("dotproduct") > joinLine.indexOf(" < "),
      s"cheap id conjunct must precede the dot product so it short-circuits:\n$joinLine")
  }

  test("q89 composed pipeline: stages chain without a composition shuffle tax") {
    val p = plan(SparkEntry.queries("q89_pipeline")(spark, dir))
    // Every corpus-sized join the composition ADDS (keep-rule semis/antis,
    // the chunk->source re-join) must ride the stages' existing hash
    // partitioning or a broadcast — never a nested-loop or cartesian pair
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"composition must stay equi-joined:\n$p")
    // The gate and dedup stages run once behind the two stage-boundary
    // checkpoints (their shapes are pinned by their own operators' tests);
    // the final plan is the budget-bounded tail — mixture top-k, the
    // sampled semi join, the chunk->source re-join, packing's groups
    // (measured: 4 hash exchanges). Pinned so a refactor that re-shuffles
    // the corpus in the tail fails here instead of at 100 TB.
    val hash = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hash <= 6, s"composition added hash shuffles ($hash):\n$p")
  }

  test("q92 two-stage: refine stage is broadcast lookups, never a corpus shuffle") {
    val p = plan(SparkEntry.queries("q92_two_stage_search")(spark, dir))
    // candidate list and query set broadcast into the raw-vector fetch; the
    // corpus side must never sort-merge or hash-shuffle for the refine join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"candidates and queries must broadcast into the refine joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the raw-vector fetch must be a broadcast lookup:\n$p")
  }

  test("q93 quantile gate: bounds broadcast into a narrow filter") {
    val p = plan(SparkEntry.queries("q93_quantile_gate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source (lo, hi) bounds must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the gate must not shuffle the corpus for its 4-row bounds side:\n$p")
  }

  test("q46 vectorize-then-self-join: upstream evaluated once via exchange reuse") {
    val p = plan(SparkEntry.queries("q46_text_hash_neardup")(spark, dir))
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      s"both join sides must reuse one vectorizer evaluation, not recompute it:\n$p")
  }

  test("q51 vocab: bounded top-k aggregation, no global window sort") {
    val p = plan(SparkEntry.queries("q51_vocab")(spark, dir))
    assert(!p.contains("Window"),
      s"vocab ranking must not sort all distinct tokens on one partition:\n$p")
    assert(p.contains("partial_"), "top-k must combine map-side before the exchange")
  }

  test("q64 bm25: term filter precedes the aggregate, global top-k is bounded") {
    val p = plan(SparkEntry.queries("q64_bm25")(spark, dir))
    // non-matching tokens die before any shuffle — the tf/df aggregates
    // only ever see query-term rows
    assert("Filter token#\\d+ IN \\(spark,vector,stream\\)".r.findFirstIn(p).isDefined,
      s"term IN-filter must sit directly on the exploded tokens:\n$p")
    assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"),
      "global top-k must be the heap exec pair (map-side <= k prune), " +
        "never a full sort")
    assert(p.contains("partial_sum(cast(round("),
      "decimal score sum must combine map-side")
    assert(p.contains("ReusedExchange"), "the documents scan feeds tf, df and dl once")
  }

  test("q67 cms: sketch side broadcast, grid collapses map-side") {
    val p = plan(SparkEntry.queries("q67_cms_topk")(spark, dir))
    // the depth x width grid is sketch-sized by construction — it must be
    // the broadcast build side, and its aggregate must combine BEFORE the
    // exchange (the sketch property: the shuffle carries <= depth*width
    // rows per partition, not the token stream)
    assert(p.contains("BroadcastHashJoin"), s"sketch join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
    assert(p.contains("partial_count"), "grid must combine map-side")
    assert(p.contains("TakeOrderedAndProject(limit=20"))
  }

  test("q66 semdedup: cell-partitioned scan, pair join keyed on cid") {
    val p = plan(SparkEntry.queries("q66_semdedup")(spark, dir))
    assert(p.contains("PartitionFilters: [isnotnull(cid"),
      s"the stored layout must be read as cid partitions:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "pairing must be keyed on cid, never a cross product")
  }

  test("q73 bloom: grid broadcast, probe never shuffles on the grid key") {
    val p = plan(SparkEntry.queries("q73_bloom_filter")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"grid must broadcast:\n$p")
    // exactly ONE exchange on the grid key: the (sketch-sized) bit_or grid
    // collapse itself — the corpus-sized probe side joins the broadcast
    // grid and must never shuffle on `word`
    assert("Exchange hashpartitioning\\(word".r.findAllIn(p).size == 1,
      s"only the grid build may exchange on word:\n$p")
    assert(p.contains("partial_bit_or") || p.contains("bit_or"),
      "grid build must collapse map-side")
  }

  test("q74 pq: ADC partials broadcast, codes side carries the aggregate") {
    val p = plan(SparkEntry.queries("q74_sim_topk_pq")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"partial table must broadcast:\n$p")
    // the only nested loops are the BOUNDED queries x codebook cross joins
    // (partial-table build: queries x m·ksub rows); the corpus-sized codes
    // join must be keyed, and nothing may be an unkeyed cartesian
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      s"only the bounded query x codebook cross joins may nested-loop:\n$p")
    assert(p.contains("partial_sum"), "code lookups must partial-aggregate map-side")
  }

  test("bucketed tables co-locate their join: zero exchanges") {
    // the upgrade path SCALING.md names for the big fact-fact joins: both
    // sides bucketed+sorted on the key at rest -> the join needs no
    // shuffle AND no sort at read time
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket-test")
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
    try {
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val l = spark.read.parquet(s"$dir/lineitem.parquet")
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/bt_orders").saveAsTable("bt_orders")
      l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/bt_lineitem").saveAsTable("bt_lineitem")
      val joined = spark.table("bt_orders")
        .join(spark.table("bt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").count()
      // disable broadcast so the co-location (not a broadcast) is what
      // avoids the shuffle
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val p = plan(joined)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
        assert(!p.contains("Exchange hashpartitioning(o_orderkey")
          && !p.contains("Exchange hashpartitioning(l_orderkey"),
          s"bucketed join must not shuffle its keys:\n$p")
        assert(p.contains("Bucketed: true"), s"scan must be bucketed:\n$p")
        assert(joined.count() > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bt_orders")
      spark.sql("DROP TABLE IF EXISTS bt_lineitem")
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete(); ()
      }
      rm(wh.toFile)
    }
  }

  test("q69 pagerank: rounds reuse the src-partitioned edge checkpoint") {
    val df = SparkEntry.queries("q69_pagerank")(spark, dir)
    val p = plan(df)
    // the edge side of every round's join is the checkpointed RDD scan; a
    // parquet re-scan would mean the lineage barrier was lost
    assert(!p.contains("Scan parquet"), s"rounds must read the checkpoint, not parquet:\n$p")
    // 5 rounds x (edges join + deg join) — none may degrade to a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q96 incremental pagerank: warm rounds read checkpoints, not parquet") {
    val df = SparkEntry.queries("q96_pagerank_incremental")(spark, dir)
    val p = plan(df)
    // rankInsert re-checkpoints the merged edge list and the warm rank
    // vector, so the final plan (rankResult over 2 warm rounds) must hang
    // entirely off checkpoint scans: a parquet leaf would mean a stage
    // re-reads the fixture instead of the compacted state
    assert(!p.contains("Scan parquet"), s"warm rounds must read checkpoints:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q122 spatial join: cell equi-join, never a nested-loop pair scan") {
    val p = plan(SparkEntry.queries("q122_geo_pairs")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"spatial candidates must come from the cell equi-join:\n$p")
  }

  test("q127 skyline: prefix-min rewrite never falls back to the quadratic join") {
    val p = plan(SparkEntry.queries("q127_skyline")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the one corpus-sized aggregation (distinct-x collapse) partial-combines
    assert(p.contains("partial_min"), s"distinct-x collapse must combine map-side:\n$p")
  }

  test("q129 tfidf cosine join: candidates from the term equi-join only") {
    val p = plan(SparkEntry.queries("q129_tfidf_cosine_join")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"prefix filtering must keep the join equi-keyed:\n$p")
  }

  test("q125 negative sampling: bucket equi-join, argmin partial-combines") {
    val p = plan(SparkEntry.queries("q125_negative_samples")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("partial_min"), s"per-draw argmin must combine map-side:\n$p")
  }

  test("q123 kmv: sketch aggregate partial-combines before its exchange") {
    val p = plan(SparkEntry.queries("q123_kmv_setops")(spark, dir))
    // the bounded bottom-k Aggregator must run as partial + merge (the
    // non-equi pair join over #sources² SKETCH rows is the intended tiny
    // nested-loop; the corpus must never reach it unaggregated)
    assert(p.contains("ObjectHashAggregate") || p.contains("partial_"),
      s"bottom-k must partial-aggregate:\n$p")
  }

  test("q149 trending: bounded top-k heap, never a rank window") {
    val p = plan(SparkEntry.queries("q149_trending")(spark, dir))
    assert(!p.contains("Window"), s"per-group top-k must use the bounded " +
      s"aggregator, not a rank window:\n$p")
    assert(p.contains("partial_"), "decayed weights must combine map-side")
  }

  test("q144 pca: per-dimension image aggregate partial-combines") {
    val p = plan(SparkEntry.queries("q144_pca")(spark, dir))
    // the posexplode → groupBy(i) image sum is the ONLY corpus-sized stage
    // per iteration; its partials must collapse to ≤ dim rows map-side
    assert(p.contains("partial_sum"), s"dim-image sums must partial-combine:\n$p")
    assert(!p.contains("CartesianProduct"),
      "the tiny norm/tv joins must stay broadcast, never cartesian over rows")
  }

  test("q155 attribution: per-unit pairing stays an equi-join") {
    val p = plan(SparkEntry.queries("q155_attribution")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"touch pairing must join on the unit key with the time bound as a " +
        s"post-filter, never a nested loop:\n$p")
  }

  test("q160 srm / q147 chi2: one corpus aggregate, map-side combined") {
    for (q <- Seq("q160_srm", "q147_chi2")) {
      val p = plan(SparkEntry.queries(q)(spark, dir))
      assert(p.contains("partial_"), s"$q: counts must combine map-side:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: margin/expected joins are tiny and must broadcast:\n$p")
    }
  }

  test("link prediction: wedge and degree joins are equi, never nested loop") {
    // synthetic edges (the sf0.001 near-dup graph predicts no links, so
    // AQE collapses the fixture plan to EmptyRelation — no shape to check)
    import spark.implicits._
    val e = (0 until 300).map(i => (i.toLong % 29, (i.toLong * 11 + 3) % 29))
      .toDF("src", "dst")
    val p = plan(graft.operators.Graph.linkPrediction(e))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"wedges must form on the apex equi-key with the nb ordering as a " +
        s"post-condition:\n$p")
    assert(p.contains("partial_"), "per-pair scores must combine map-side")
  }

  test("q176/q185 readability + fertility: narrow codegen, no unexpected shuffle") {
    val p = plan(SparkEntry.queries("q176_readability")(spark, dir))
    assert("Exchange".r.findAllIn(p).size <= 2, // tp() fan-out + final sort
      s"readability is per-row column math — only the harness repartition " +
        s"and the output sort may exchange:\n$p")
    val f = plan(SparkEntry.queries("q185_fertility")(spark, dir))
    assert(f.contains("partial_"), "per-lang sums must combine map-side")
  }

  test("q181 quantile normalization: bucket CDF broadcast back, never shuffled") {
    val p = plan(SparkEntry.queries("q181_quantile_norm")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the range condition against the tiny bucket table must be a " +
        s"BROADCAST nested loop (buckets are O(100)), not a shuffle:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the corpus side must never materialize a cartesian:\n$p")
  }

  test("q179 bradley-terry: MM rounds run on checkpointed matchup tables") {
    val df = SparkEntry.queries("q179_bradley_terry")(spark, dir)
    val p = plan(df)
    // the lineage barrier makes each round read LogicalRDDs, so the
    // corpus-sized match aggregate appears ZERO times in the final plan
    assert(!p.contains("parquet"),
      s"rounds must fold over the checkpointed matchup/item tables, not " +
        s"re-embed the events scan 2^iters times:\n$p")
  }

  test("q196/q197 grouped quantiles: every window carries a partition spec") {
    for (q <- Seq("q196_group_quantiles", "q197_mad")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      // analyzed-plan window specs: an unpartitioned window renders an
      // EMPTY partition list between the frame and ordering clauses
      val specs = "windowspecdefinition\\([^)]*\\)".r
        .findAllIn(df.queryExecution.analyzed.toString).toSeq
      assert(specs.nonEmpty, s"$q: expected window specs")
      val p = plan(df)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must not run a single-partition sort:\n$p")
    }
  }

  test("q191 rfm: every rank window is bucket-partitioned, no global sort") {
    val p = plan(SparkEntry.queries("q191_rfm")(spark, dir))
    assert(!p.contains("ntile"),
      s"quintiles must derive from bucketed ranks, not a global ntile:\n$p")
    // the only SinglePartition exchange a correct plan may carry is none:
    // the final orderBy is rangepartitioned and every row_number window
    // partitions by its refinement bucket
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition sort may survive in the rfm plan:\n$p")
    assert("hashpartitioning\\(b#".r.findAllIn(p).nonEmpty,
      s"rank windows must partition by the refinement bucket:\n$p")
  }

  test("q21 top-k: plans through the bounded-heap execs, never a window sort") {
    // the direct TopK.perKey adoption — the node is IN the logical plan, so
    // every re-plan (including Verify's write-time fresh QueryExecution)
    // keeps the heap pair; no conf, no rewrite-matching fragility
    val p = plan(SparkEntry.queries("q21_window_topk")(spark, dir))
    assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"),
      s"q21 must plan through the heap exec pair:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction"),
      s"no window machinery may survive in the q21 plan:\n$p")
    // partial prune must sit BELOW the key exchange (map-side ≤ k per key)
    val partialIdx = p.indexOf("TopKPerKeyPartial")
    val exchangeIdx = p.lastIndexOf("Exchange hashpartitioning(o_custkey")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"partial prune must run below the o_custkey exchange:\n$p")
  }

  test("rank tails plan through the heap execs: bm25, rrf, ndcg ideal, paths") {
    // the r11 adoption wave: every remaining row_number/limit rank tail on
    // a served path runs TopKPerKeyFinalExec — global tails via the
    // constant-key form (map-side <= k prune, one k-sized reducer heap),
    // ndcg's ideal ranking via the per-qid form
    val sites: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "q64_bm25" -> SparkEntry.queries("q64_bm25")(spark, dir),
      "q131_hybrid_rrf" -> SparkEntry.queries("q131_hybrid_rrf")(spark, dir),
      "q188_ndcg" -> SparkEntry.queries("q188_ndcg")(spark, dir),
      "q163_user_paths" -> SparkEntry.queries("q163_user_paths")(spark, dir))
    for ((name, df) <- sites) {
      val p = plan(df)
      assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"),
        s"$name must plan through the heap exec pair:\n$p")
    }
    // the pure rank tails must carry NO window machinery at all (q188/q163
    // keep their per-user lead windows — those are sequence builders, not
    // top-k sorts)
    assert(!plan(sites.head._2).contains("WindowExec"),
      "q64's rank tail must not fall back to a window sort")
  }

  test("knnGraph: per-node neighbor cut is the heap exec, not a rank window") {
    import spark.implicits._
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(16)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val p = plan(graft.operators.Similarity.knnGraph(emb, k = 5, bands = 2,
      planesPerBand = 4, dim = 16))
    assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"),
      s"knnGraph's neighbor cut must plan through the heap pair:\n$p")
    assert(!p.contains("Window"),
      s"a hub node's candidates must never be partition-sorted:\n$p")
  }
}
