package graft.operators

import graft.util.Checkpoints.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Statistical language-model quality scoring: train an add-one-smoothed
  * bigram model ON the corpus, then score every document by its average
  * negative log-likelihood under that model. The classic cheap perplexity
  * filter for pretraining data (a KenLM stand-in that needs no external
  * artifacts): natural text scores low, token soup and boilerplate score
  * high, and the score is comparable across documents of different lengths.
  *
  * p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)
  *   with c(w1 w2) = corpus bigram count, c(w1) = corpus unigram count,
  *   V = distinct-token count (the add-one mass).
  * nll(d) = -(1/|bigrams(d)|) * sum over positions ln p(w2 | w1)
  *
  * Scale shape: two linear aggregates over the exploded corpus (bigram
  * counts, unigram counts) joined back to the per-position bigram rows on
  * their natural keys — the same shuffle family as a word-count; V is one
  * scalar. Per-position ln p rounds to 6 decimals and sums as
  * DECIMAL(38,6), so the per-doc sum is order-independent (bit-reproducible
  * under any partitioning, and by the DuckDB oracle). No driver-side state:
  * the "model" never materializes — it IS the joined aggregates.
  */
object LangModel {

  /** Per-position bigram rows "(w1, w2)" of a space-tokenized text column;
    * docs with fewer than 2 tokens contribute no rows. */
  private def bigramRows(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= 2) // sequence(1, 0) would run DOWNWARD
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(toks) - 1), " +
          "i -> named_struct('w1', element_at(toks, i), " +
          "'w2', element_at(toks, i + 1)))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Train-and-score in one plan. Output: (doc_id, n_bigrams, nll), docs
    * with >= 2 tokens only, nll rounded to 6 decimals. */
  def bigramNll(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // the bigram pool feeds the count aggregate AND the scoring join, and
    // the unigram table feeds its join AND the vocab scalar — materialize
    // each once (the q101 gram-pool lesson: fully-lazy composition re-runs
    // the corpus explode per consumer)
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val bg = bigramRows(docs, textCol).barrier(StorageLevel.DISK_ONLY)
    val cBigram = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cUnigram = docs.select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
      .barrier()
    // V = distinct tokens = the unigram table's row count (same value as
    // count_distinct over the exploded corpus, minus one full re-explode)
    val vocab = cUnigram.count()
    // ln p per position: exact-integer inputs -> one IEEE division -> ln,
    // identical in any engine; rounded so the decimal sum is portable
    val lnP = round(log((col("c12").cast("double") + lit(1.0)) /
      (col("c1").cast("double") + lit(vocab.toDouble))), 6)
    bg.join(cBigram, Seq("w1", "w2")).join(cUnigram, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lnP.cast("decimal(38,6)")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("s").cast("double")) / col("n_bigrams").cast("double"), 6)
          .as("nll"))
  }

  /** Top-k collocations by pointwise mutual information — the corpus-level
    * phrase detector (Church & Hanks, CL 1990): bigrams whose joint count
    * beats what their parts predict. Over BIGRAM POSITIONS (N of them):
    *   pmi(a b) = ln c_ab + ln N - ln c_a· - ln c_·b
    * where c_a· / c_·b are the bigram's left/right marginal counts — all
    * four terms are ln of exact integers, so the score is bit-portable;
    * fixed left-to-right association, rounded to 6 decimals, bigram
    * tie-break.
    *
    * `minCount` drops hapax pairs (PMI's classic failure mode: one typo
    * pairing two rare tokens outranks every real phrase).
    *
    * Scale shape: three word-count-family aggregates off one exploded pass
    * (pairs + both marginals — map-side partials), natural-key joins of
    * count tables (skew = stopword pairs, AQE's standard case), global
    * top-k as TakeOrderedAndProject. Output: (w1, w2, c12, pmi, rank). */
  def collocationsTopK(docs: DataFrame, k: Int = 20, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    // four consumers of the bigram pool (three marginal aggregates + the
    // position count) — one materialization, not four corpus explodes
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val bg = bigramRows(docs, textCol).barrier(StorageLevel.DISK_ONLY)
    val cBigram = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val cLeft = bg.groupBy("w1").agg(count(lit(1)).as("cl"))
    val cRight = bg.groupBy("w2").agg(count(lit(1)).as("cr"))
    val n = bg.count()
    val pmi = round(((log(col("c12").cast("double")) + log(lit(n.toDouble)))
      - log(col("cl").cast("double"))) - log(col("cr").cast("double")), 6)
    val scored = cBigram.filter(col("c12") >= minCount)
      .join(cLeft, Seq("w1")).join(cRight, Seq("w2"))
      .select(col("w1"), col("w2"), col("c12"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney ICASSP'95; Chen
    * & Goodman '98 §2.7) — the smoothing real perplexity filters (KenLM)
    * actually use, next to [[bigramNll]]'s add-one baseline. The KN idea:
    * back off not to how FREQUENT a word is but to how PROMISCUOUS it is —
    * p_cont(w) ∝ #distinct left-contexts of w — so "Francisco" (frequent
    * but only ever after "San") stops stealing probability from genuinely
    * free-floating words.
    *
    *   p(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · (N1+(·w2)/N1+(··))
    *
    * with c1 = bigram-position count of w1 (Σ_w2 c12), N1+(w1·)/N1+(·w2)
    * the distinct-successor/-predecessor counts, N1+(··) the distinct
    * bigram-type count (one scalar), D the fixed discount. Every input is
    * an exact integer aggregate — the "model" is four word-count tables
    * joined on their natural keys; scoring the corpus on itself means
    * every scored bigram is observed (the unseen-backoff path never
    * evaluates). Per-position ln p rounds to 6 and sums as DECIMAL(38,6)
    * (the [[bigramNll]] portability contract). Output: (doc_id,
    * n_bigrams, nll_kn), round-6. */
  def kneserNeyNll(docs: DataFrame, discount: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    require(discount > 0 && discount < 1, "discount in (0,1)")
    // bg feeds three consumers (c12, c1, the scoring join) and cBigram
    // four (nf, np, the join, the nTypes scalar): without barriers the
    // corpus explode runs 3x and the bigram-count aggregate 4x — the q101
    // gram-pool fan-out
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val bg = bigramRows(docs, textCol).barrier(StorageLevel.DISK_ONLY)
    val cBigram = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")).barrier()
    val cLeft = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val nFollow = cBigram.groupBy("w1").agg(count(lit(1)).as("nf"))
    val nPrecede = cBigram.groupBy("w2").agg(count(lit(1)).as("np"))
    val nTypes = cBigram.count() // 1 scalar: distinct bigram types
    val pd = greatest(col("c12").cast("double") - lit(discount), lit(0.0)) /
      col("c1").cast("double") +
      (lit(discount) * col("nf").cast("double") / col("c1").cast("double")) *
        (col("np").cast("double") / lit(nTypes.toDouble))
    val lnP = round(log(pd), 6)
    bg.join(cBigram, Seq("w1", "w2")).join(cLeft, Seq("w1"))
      .join(nFollow, Seq("w1")).join(nPrecede, Seq("w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(lnP.cast("decimal(38,6)")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-(col("s").cast("double")) / col("n_bigrams").cast("double"), 6)
          .as("nll_kn"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al., LREC 2020 — the
    * head/middle/tail quality tiers CCNet cuts Common Crawl into, later
    * the LLaMA-1 data recipe's web-quality split): score every document
    * with [[kneserNeyNll]], then label the most-fluent third `head`, the
    * next `middle`, the rest `tail`. CCNet cuts at per-language
    * perplexity TERTILES, not fixed values — mirrored here with EXACT
    * order statistics: threshold_i = the ceil(i·n/3)-th smallest nll
    * ([[Stats.exactQuantiles]]' bucket-refinement machinery — two bounded
    * passes, no global sort; the same ceil-rank convention as
    * q196/q202). A doc AT a threshold goes to the better tier (`<=`).
    *
    * Scale shape: the KN scoring joins (word-count tables, corpus
    * streams through), one exactQuantiles probe (bounded collect of
    * bucket counts), then a narrow label projection — the thresholds are
    * two scalar literals in the plan. Output: (doc_id, n_bigrams,
    * nll_kn, bucket). */
  def perplexityBuckets(docs: DataFrame, discount: Double = 0.75,
      textCol: String = "text"): DataFrame = {
    // scored feeds the quantile probe (itself multi-pass bucket refinement)
    // AND the final projection — without a barrier the whole KN train+score
    // pipeline re-runs once per pass; scored is doc-sized, the cheapest
    // possible materialization
    graft.util.Checkpoints.ensureDir(docs.sparkSession)
    val scored = kneserNeyNll(docs, discount, textCol).barrier()
    val qs = Stats.exactQuantiles(scored, "nll_kn", Seq(1.0 / 3, 2.0 / 3))
      .select("p", "value").collect().sortBy(_.getDouble(0))
    require(qs.length == 2, "perplexityBuckets: empty corpus")
    val (t1, t2) = (qs(0).getDouble(1), qs(1).getDouble(1))
    scored.select(col("doc_id"), col("n_bigrams"), col("nll_kn"),
      when(col("nll_kn") <= t1, "head")
        .when(col("nll_kn") <= t2, "middle")
        .otherwise("tail").as("bucket"))
  }
}
