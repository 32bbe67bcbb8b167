package graft.queries

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-pipeline rows over the `documents` and `embeddings`
 * tables: quality filtering, bigram fluency, curriculum binning,
 * winnowed fingerprints, media dedup, embedding norms, language
 * resampling, hash-based splits, source mixing and DSIR importance
 * weights, corpus statistics (Gini, character entropy, Zipf slope,
 * sentence and token budgets), tokenizer comparison, BM25 top-k
 * retrieval, Bloom decontamination, and BPE training and encoding.
 *
 * Every float that reaches the oracle hash goes through the shared
 * floor-rounding pattern, and BM25 folds its per-term contributions
 * in ascending term order on both engines.
 */
object CorpusQueries {

  import RelationalQueries.{t, rnd, docs, rndSql}
  import SessionMemo.memoize

  /** Composite C4/Gopher-style quality filter: word count bounds,
   * mean word length bounds, distinct-word ratio — the keep/drop
   * decision plus per-source keep rates (all ratios are exact-int
   * divisions, identical doubles on both engines). */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val w = graft.ops.TextOps.words(col("text"))
    val perDoc = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), w.as("w"))
      .select(col("doc_id"), col("source"),
        size(col("w")).as("n_words"),
        (aggregate(transform(col("w"), x => length(x)), lit(0L), (a, x) => a + x)
          / size(col("w"))).as("mean_wlen"),
        (size(array_distinct(col("w"))).cast("double") / size(col("w")))
          .as("uniq_ratio"))
      .withColumn("keep",
        col("n_words").between(20, 5000) &&
          col("mean_wlen").between(3.0, 10.0) && col("uniq_ratio") >= 0.2)
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        rnd(sum(when(col("keep"), 1L).otherwise(0L)) / count(lit(1)), 4)
          .as("keep_rate"),
        rnd(sum(col("mean_wlen")), 4).as("sum_mean_wlen"))
      .orderBy("source")
  }

  /** Curriculum difficulty binning: deterministic ntile deciles over
   * (length, doc_id) with per-bin stats — the standard curriculum /
   * stratification pass before training-data packing. */
  def curriculumBins(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("n_chars"), col("doc_id"))))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
        rnd(sum(col("n_chars")) / count(lit(1)), 4).as("avg_chars"))
      .orderBy("bin")

  /** Winnowed (MOSS) fingerprint summary per doc — the windowed-min
   * selection with the shared-substring guarantee (vs the mod-p
   * fingerprints of `p_fingerprints`). */
  def winnowing(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TextOps.winnowedFingerprints(docs(spark, sfDir))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
      .orderBy("doc_id")

  /** Per-label embedding L2-norm² stats through the native codegen'd
   * DotProduct expression (the ANN hot-loop primitive) — bit-equal to
   * DuckDB's list_dot_product fold on the same DOUBLE[] vectors. */
  def embedNorms(spark: SparkSession, sfDir: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val n2 = org.apache.spark.sql.graft.GraftExpressions.dotProduct(v, v)
    t(spark, sfDir, "embeddings")
      .select(col("label"), n2.as("norm2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("norm2")), 4).as("sum_norm2"),
        rnd(min(col("norm2")), 6).as("min_norm2"),
        rnd(max(col("norm2")), 6).as("max_norm2"))
      .orderBy("label")
  }

  /** Deterministic per-language upsampling to rebalance the training
   * mix: every language is repeated ceil(max_count / count) times
   * (sequence-explode — a REAL row multiplication, then re-counted),
   * the standard data-mixing pass before corpus packing. Map-side
   * explode only; the one shuffle is the final per-language count. */
  def langResample(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir).groupBy("lang")
      .agg(count(lit(1)).as("n_before"))
    val factor = counts
      .withColumn("factor",
        ceil(max(col("n_before")).over(Window.partitionBy()) / col("n_before"))
          .cast("long"))
    docs(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(broadcast(factor), "lang")
      .withColumn("copy", explode(sequence(lit(1L), col("factor"))))
      .groupBy("lang")
      .agg(first(col("n_before")).as("n_before"),
        first(col("factor")).as("factor"),
        count(lit(1)).as("n_after"))
      .orderBy("lang")
  }

  /** Gini coefficient of token mass across sources (training-mix
   * inequality diagnostic): the sorted-rank formulation
   * G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over exact integer token
   * sums, so only the final division is floating point. */
  def sourceGini(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = docs(spark, sfDir)
      .select(col("source"), size(graft.ops.TextOps.words(col("text"))).as("tok"))
      .groupBy("source").agg(sum(col("tok")).as("x"))
    val ranked = perSource.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("source"))))
    ranked.agg(
      count(lit(1)).as("n_sources"),
      sum(col("x")).as("total_tokens"),
      rnd(lit(2.0) * sum(col("i") * col("x")) / (count(lit(1)) * sum(col("x")))
        - (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
  }

  /** Binary-content dedup over the media table (the multimodal
   * equivalent of exact text dedup): md5 over the raw payload BYTES
   * groups identical assets regardless of metadata — first id wins,
   * duplicate bytes counted. */
  def mediaDedup(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Multimodal.asMedia(docs(spark, sfDir))
      .select(col("media_id"), md5(col("payload")).as("h"),
        octet_length(col("payload")).as("n_bytes"))
      .groupBy("h")
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min("n_bytes").cast("long").as("n_bytes"))
      .orderBy("keep_id")

  /** Corpus-LM fluency signal without libm: every document is scored
   * by the MEAN smoothed bigram probability of its word pairs,
   * P(b|a) = (c(ab)+1)/(c(a)+V), with counts and V from the corpus
   * itself — arithmetic-mean instead of log-space perplexity keeps
   * every operation rational, so the oracle is bit-comparable under
   * the shared rounding. Two shuffles total: the bigram-count build
   * and the per-doc mean; the count tables join back by key (no
   * cross join). Per-language mean of doc scores is the output. */
  def bigramFluency(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.ops.TextOps.words(lower(col("text"))).as("w"))
    val pairs = d.select(col("doc_id"), col("lang"),
      posexplode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x as a, element_at(w, i + 2) as b))"))
        .as(Seq("i", "p")))
      .select(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
    val uniCnt = pairs.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val biCnt = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val v = pairs.select(col("b")).union(pairs.select(col("a"))).distinct().count()
    val scored = pairs
      .join(biCnt, Seq("a", "b"))
      .join(uniCnt, Seq("a"))
      .select(col("doc_id"), col("lang"),
        ((col("cab") + lit(1.0)) / (col("ca") + lit(v.toDouble))).as("p"))
    scored.groupBy("doc_id", "lang")
      .agg((sum(col("p")) / count(lit(1))).as("doc_score"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        rnd(sum(col("doc_score")) / count(lit(1)) * 1e3, 6).as("mean_score_k"))
      .orderBy("lang")
  }

  /** Mean per-document character entropy (a-z only) per language —
   * the classic gibberish / encoding-noise detector. Spark computes
   * -Σ p·log2 p from a per-(doc, char) histogram; DuckDB's entropy()
   * aggregate is the same base-2 Shannon formula. */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val chars = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "")).as("ch"))
      .where(col("ch").rlike("^[a-z]$"))
    val hist = chars.groupBy(col("doc_id"), col("lang"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val ent = hist.join(tot, "doc_id")
      .groupBy(col("doc_id"), col("lang"))
      .agg((-sum((col("c") / col("n")) * log(2.0, col("c") / col("n"))))
        .as("h"))
    ent.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), rnd(avg(col("h")), 4).as("mean_entropy"))
      .orderBy("lang")
  }

  /** Zipf fit: OLS slope of log(frequency) on log(rank) over the
   * top-500 corpus terms (natural text ≈ -1). Top-k by
   * (count desc, term asc) via orderBy+limit — a per-partition
   * top-k then a 500-row driver-side-free merge, NOT a global
   * window sort over the whole vocabulary. */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val top = counts.orderBy(col("c").desc, col("tok").asc).limit(500)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("tok").asc)))
    top.agg(count(lit(1)).as("n_terms"),
      rnd(expr("regr_slope(ln(c), ln(rk))"), 6).as("slope"),
      rnd(expr("regr_r2(ln(c), ln(rk))"), 6).as("r2"))
  }

  /** Sentence segmentation ([.!?]+ split) statistics per language:
   * sentence count, mean words and mean characters per sentence. */
  def sentenceStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"),
        explode(split(col("text"), "[.!?]+")).as("s0"))
      .select(col("lang"), trim(col("s0")).as("s"))
      .where(length(col("s")) > 0)
      .select(col("lang"), length(col("s")).as("n_chars"),
        size(split(col("s"), "\\s+")).as("n_words"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sentences"),
        rnd(avg(col("n_words")), 4).as("mean_words"),
        rnd(avg(col("n_chars")), 4).as("mean_chars"))
      .orderBy("lang")

  /** Data-mixing rebalance weights: per-language token mass, actual
   * corpus fraction, and the per-document sampling weight that would
   * equalize the mix (target 1/K per observed language). The window
   * totals run over the K-row aggregate, not the corpus. */
  def mixWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val per = docs(spark, sfDir)
      .select(col("lang"),
        size(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).cast("long").as("tokens"))
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("total", sum(col("tokens")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .select(col("lang"), col("n_docs"), col("tokens"),
        rnd(col("tokens") / col("total"), 6).as("actual_frac"),
        rnd((col("total") / col("k")) / col("tokens"), 6).as("weight"))
      .orderBy("lang")
  }

  /** Token-budget corpus selection: per source, greedily take the
   * longest documents (ties by doc_id) until a 20k-token budget is
   * exhausted — the running-total window pattern every
   * fixed-compute-budget data selection uses. */
  def tokenBudget(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = docs(spark, sfDir)
      .select(col("source"), col("doc_id"),
        size(split(trim(lower(col("text"))), "\\s+")).as("tok"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("tok").desc, col("doc_id").asc)
    scored
      .withColumn("cum", sum(col("tok")).over(w))
      .where(col("cum") <= 20000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"),
        sum(col("tok")).cast("long").as("tokens_used"),
        max(col("cum")).cast("long").as("final_cum"))
      .orderBy("source")
  }

  /** Deterministic train/val/test split by content-independent hash
   * (first md5 hex digit of the doc id: 12/2/2 of 16) — the
   * reproducible-split primitive every training pipeline needs;
   * md5 makes the split engine-portable, unlike xxhash64. */
  def hashSplit(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("h"))
      .withColumn("split",
        when(col("h").isin("c", "d"), "val")
          .when(col("h").isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("split")

  /** Tokenizer comparison: whitespace splitting vs a word-regex
   * tokenizer vs raw bytes, per source — the fertility / coverage
   * diagnostic run before committing to a tokenizer. */
  def tokenizerCompare(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("source"),
        size(split(trim(lower(col("text"))), "\\s+")).as("ws_tok"),
        size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("re_tok"),
        length(col("text")).as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tok")).cast("long").as("ws_tokens"),
        sum(col("re_tok")).cast("long").as("re_tokens"),
        rnd(sum(col("n_chars")) / sum(col("re_tok")), 4).as("chars_per_tok"),
        rnd(sum(col("re_tok")).cast("double") / sum(col("ws_tok")), 6).as("fertility"))
      .orderBy("source")

  /** DSIR-style importance-resampling weights (Xie et al. 2023,
   * log-free rational form): per document the mean over tokens of
   * the add-one-smoothed probability ratio between a target domain
   * (src0) and the whole corpus, rolled up per source — the score a
   * data-selection pass resamples by to shift the corpus toward the
   * target distribution. One token-frequency shuffle for each of
   * the two unigram models, one broadcast of the 1-row totals, one
   * token-level join keyed on the token — no per-document state. */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsOf(docs(spark, sfDir), "src0")

  /** DataFrame-first form (the Graft facade entry): `docs` needs
   * (doc_id, source, text). */
  def dsirWeightsOf(documents: DataFrame, targetSource: String): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    val target = toks.where(col("source") === targetSource)
      .groupBy("tok").agg(count(lit(1)).as("ct"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
    val totals = corpus.agg(sum(col("cr")).as("tr"),
      count(lit(1)).as("v"))
      .crossJoin(target.agg(sum(col("ct")).as("tt")))
    val scored = toks
      .join(corpus, "tok")
      .join(target, Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"),
        (((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("tt") + col("v"))) /
          ((col("cr") + 1).cast("double") / (col("tr") + col("v")))).as("ratio"))
      .groupBy(col("doc_id"), col("source"))
      .agg(rnd(avg(col("ratio")), 6).as("w"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        rnd(avg(col("w")), 6).as("mean_w"),
        rnd(max(col("w")), 6).as("max_w"))
      .orderBy("source")
  }

  /** BM25 top-k retrieval (k1 = 1.2, b = 0.75, k = 5 docs/query).
   *
   * The query workload is data-derived and deterministic on both
   * engines: the 6 highest-df terms (ties by term asc) form 3
   * two-term queries, query i = terms ranked i+1 and i+4. Per
   * (query, doc) the matched terms' contributions
   * idf * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl)) are folded in
   * ascending term order; idf is the BM25 ratio without the log (see
   * object doc). avgdl is ONE division of exact integers
   * (total tokens / total docs) — bit-identical across engines.
   *
   * Scale: tf/df/dl are partial-aggregated shuffles on (doc, term) /
   * term / doc; the 6-term query list is a broadcast join against tf
   * (never a doc x query cross join); the top-k per query pushes
   * below the final shuffle via WindowGroupLimit. The same plan at
   * 100 TB shuffles the vocabulary once and streams the postings —
   * the classic impact-ordered retrieval shape. */
  def bm25TopK(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val d = docs(spark, sfDir)
    val n = d.count()
    val toks = d
      .select(col("doc_id"), explode(TextOps.words(lower(col("text")))).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val totalTokens = dl.agg(sum(col("dl"))).head().getLong(0)
    val avgdl = totalTokens.toDouble / n // one exact-int division

    // 3 two-term queries from the 6 highest-df terms (rank by
    // df desc, term asc): qid = (rank - 1) % 3 pairs rank r with
    // rank r + 3 — deterministic, broadcastable. The top-6 runs as
    // a distributed TakeOrderedAndProject (per-partition top-6 +
    // driver merge), never a single-partition global window; the
    // O(6) collect is bounded by construction.
    val top6 = dfT.orderBy(col("df").desc, col("term")).limit(6)
      .select("term").collect().map(_.getString(0))
    val queryTerms = spark.createDataFrame(
      top6.zipWithIndex.map { case (t, i) => (i.toLong % 3, t) }.toSeq)
      .toDF("qid", "term")

    val contrib = tf
      .join(broadcast(queryTerms), "term")
      .join(dl, "doc_id")
      .join(dfT, "term")
      .withColumn("c",
        ((lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dl") / lit(avgdl))))))

    val perDoc = contrib
      .groupBy("qid", "doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        aggregate(
          transform(array_sort(collect_list(struct(col("term"), col("c")))),
            x => x.getField("c")),
          lit(0.0), (acc, x) => acc + x).as("raw"))
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("raw").desc, col("doc_id"))
    perDoc
      .withColumn("rank", row_number().over(wk).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_terms"),
        TextOps.rnd(col("raw"), 9).as("score"))
      .orderBy("qid", "rank")
  }

  /** Bloom-filter decontamination probe: the membership shape for
   * "is this evaluation chunk in the training corpus?" when the
   * training chunk set is far too large to broadcast or join
   * directly. Chunks are the 32-token / stride-16 windows of
   * p_chunk_dedup; train = doc_id % 10 != 0, eval = doc_id % 10 = 0.
   * A Bloom filter over the train chunk hashes
   * (DataFrameStatFunctions.bloomFilter — executor-side aggregation,
   * driver merge, broadcast back) answers every eval probe with zero
   * shuffle of the train side at probe time.
   *
   * Self-certifying contract (the sketch bits cannot be replayed in
   * SQL): the EXACT values (train/eval distinct chunk counts, the
   * exact-hit count via a real join) are recomputed by the oracle;
   * the Bloom booleans are Spark-certified — contains_all_ok is the
   * structure's no-false-negative guarantee re-verified over every
   * exact hit, fp_bounded_ok bounds observed false positives by 10x
   * the requested 1% fpp (a destroyed filter — wrong hashing, merged
   * wrong — fails one or both and flips the hash). */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    // cached before the train/eval split: both sides read it, and the
    // tokenize+window+md5 pipeline is the query's heaviest stage
    val chunks = docs(spark, sfDir)
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
      .withColumn("n", size(col("w"))).where(col("n") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n") - 1, lit(16))).as("start"), col("w"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(col("w"), col("start") + 1, lit(32))))
          .as("chunk_hash"))
      .cache()
    val train = chunks.where(col("doc_id") % 10 =!= 0)
      .select("chunk_hash").distinct().cache()
    val eval_ = chunks.where(col("doc_id") % 10 === 0)
      .select("chunk_hash").distinct().cache()
    val nTrain = train.count()
    val nEval = eval_.count()
    val bf = train.stat.bloomFilter("chunk_hash", math.max(nTrain, 1L), 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    import spark.implicits._
    val probed = eval_.as[String]
      .mapPartitions { it =>
        val f = bfB.value
        it.map(h => (h, f.mightContainString(h)))
      }.toDF("chunk_hash", "bloom_hit").cache()
    val nBloomHits = probed.where(col("bloom_hit")).count()
    val exactHits = eval_.join(train, Seq("chunk_hash"), "left_semi").cache()
    val nExact = exactHits.count()
    // no-false-negative: every exact hit must be bloom-positive
    val missed = exactHits
      .join(probed.where(!col("bloom_hit")), Seq("chunk_hash"), "left_semi")
      .count()
    val fpBound = nExact + math.ceil(0.01 * 10 * nEval).toLong
    bfB.destroy()
    chunks.unpersist(blocking = false)
    train.unpersist(blocking = false)
    eval_.unpersist(blocking = false)
    probed.unpersist(blocking = false)
    exactHits.unpersist(blocking = false)
    spark.createDataFrame(Seq((
      nTrain, nEval, nExact, missed == 0L, nBloomHits <= fpBound)))
      .toDF("n_train_chunks", "n_eval_chunks", "n_exact_hits",
        "contains_all_ok", "fp_bounded_ok")
  }

  /** BPE tokenizer training: learn the corpus's first 5 byte-pair
   * merges — the real iterative algorithm (count adjacent symbol
   * pairs over the weighted word vocabulary, merge the argmax pair
   * leftmost-non-overlapping, recount), not a one-shot bigram top-k.
   *
   * Distributed shape: the loop state is the (word, count,
   * segmentation) vocabulary table — the same word-count table
   * fastBPE/HF trainers operate on. Each round is one pair-keyed
   * aggregation shuffle plus an O(1) argmax collect; at 100 TB the
   * vocabulary is millions of rows, not the corpus, so the loop
   * cost is vocabulary-sized after the initial word count.
   *
   * Cross-engine parity is purely structural, no floats anywhere:
   * segmentations are sentinel-wrapped strings ("|a||b||c|" — '|'
   * does not occur in the corpus charset, and words containing it
   * are filtered on both sides as a documented contract), the merge
   * application is plain substring replace ('|a||b|' -> '|ab|',
   * left-to-right non-overlapping on both engines — exactly BPE's
   * leftmost application, and the double-sentinel pattern cannot
   * match inside a longer symbol), pair counts are exact integer
   * sums, and the argmax tie-breaks on (count desc, left, right).
   * Emits (round, merge_left, merge_right, pair_count,
   * symbols_after) — symbols_after is the weighted corpus symbol
   * count after applying that round's merge, monotonically
   * decreasing by construction. */
  /** The trainer state shared by p_bpe_merges and p_bpe_vocab: the
   * learned merge ledger plus the post-merge segmented vocabulary
   * (cached; both queries of one Verify/Bench session ride one
   * training run). */
  private def bpeState(spark: SparkSession, sfDir: String, rounds: Int = 5)
    : (Seq[(Long, String, String, Long, Long)], DataFrame) =
    memoize(spark, s"bpe:$rounds:$sfDir") {
      val vocab0 = docs(spark, sfDir)
        .select(explode(TextOps.words(lower(col("text")))).as("w"))
        .where(col("w") =!= "" && !col("w").contains("|"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .withColumn("seg", regexp_replace(col("w"), "(.)", "|$1|"))
        .cache()
      vocab0.count()

      var vocab = vocab0
      val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
      (1 to rounds).foreach { round =>
        val syms = vocab.withColumn("a",
          split(expr("btrim(seg, '|')"), "\\|\\|"))
        val pairs = syms
          .where(size(col("a")) >= 2) // before explode: sequence(0, -1) descends
          .select(col("cnt"), col("a"),
            explode(sequence(lit(0), size(col("a")) - 2)).as("i"))
          .select(col("cnt"),
            element_at(col("a"), col("i") + 1).as("l"),
            element_at(col("a"), col("i") + 2).as("r"))
          .groupBy("l", "r").agg(sum(col("cnt")).as("c"))
        val bestRows = pairs.orderBy(col("c").desc, col("l"), col("r")).limit(1).collect()
        require(bestRows.nonEmpty, s"BPE round $round: no pairs left to merge")
        val best = bestRows.head
        val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
        val prev = vocab
        vocab = prev.withColumn("seg",
          replace(col("seg"), lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|")))
          .cache()
        val symbolsAfter = vocab
          .select((col("cnt") *
            size(split(expr("btrim(seg, '|')"), "\\|\\|"))).as("s"))
          .agg(sum(col("s"))).head().getLong(0)
        if (prev ne vocab0) prev.unpersist(blocking = false)
        merges += ((round.toLong, l, r, c, symbolsAfter))
      }
      vocab0.unpersist(blocking = false)
      vocab.count()
      (merges.result(), vocab)
    }

  def bpeMerges(spark: SparkSession, sfDir: String, rounds: Int = 5): DataFrame =
    spark.createDataFrame(bpeState(spark, sfDir, rounds)._1)
      .toDF("round", "merge_left", "merge_right", "pair_count", "symbols_after")
      .orderBy("round")

  /** Top-20 tokens of the learned 5-merge tokenizer by weighted
   * corpus frequency — the vocabulary report a tokenizer-training
   * pipeline emits next to its merge ledger. Fully deterministic:
   * exact integer counts, rank by (count desc, token asc) — ties
   * inside AND at the boundary resolve identically on both engines
   * (unlike the sketch row, nothing here is selection-arbitrary).
   * The top-20 runs as a distributed TakeOrderedAndProject; the
   * O(20) collect is bounded by construction. */
  def bpeVocab(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val (_, vocab) = bpeState(spark, sfDir)
    val top = vocab
      .select(col("cnt"),
        explode(split(expr("btrim(seg, '|')"), "\\|\\|")).as("token"))
      .groupBy("token").agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .collect()
    spark.createDataFrame(
      top.zipWithIndex.map { case (r, i) =>
        (r.getString(0), r.getLong(1), (i + 1).toLong) }.toSeq)
      .toDF("token", "n", "rank")
      .orderBy("rank")
  }

  /** Corpus-wide application of the learned tokenizer — the encode
   * pass a tokenizer exists for: per document, how many words/tokens
   * the 5-merge BPE produces and how many words the merges already
   * collapse to a single token. Distributed shape: token-per-word is
   * a VOCABULARY-sized projection of the trainer's segmented state
   * (millions of rows at 100 TB, not the corpus), so the encode is
   * one corpus-side explode joined against that small table — at
   * scale a broadcast join, never a per-document re-segmentation.
   * Every word of the filtered corpus is in the vocabulary by
   * construction (same corpus, same filter), so the inner join is
   * lossless. Purely integer outputs — exact parity by counting. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, vocab) = bpeState(spark, sfDir)
    val tokPerWord = vocab.select(col("w"),
      size(split(expr("btrim(seg, '|')"), "\\|\\|")).cast("long").as("toks"))
    docs(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.words(lower(col("text")))).as("w"))
      .where(col("w") =!= "" && !col("w").contains("|"))
      .join(tokPerWord, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("toks") === 1, 1L).otherwise(0L)).as("n_single_token_words"))
      .orderBy("doc_id")
  }

  /** The 5 unrolled BPE training rounds as shared CTEs (v0..v5 +
   * per-round pair counts, argmax, and weighted symbol counts) —
   * one definition for both tokenizer oracles. */
  private lazy val bpeReplayCtes: String = {
    val rounds = (1 to 5).map { k =>
      s"""p$k AS (
         |  SELECT q.a[i] AS l, q.a[i + 1] AS r, CAST(sum(q.cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, string_split(trim(seg, '|'), '||') AS a
         |        FROM v${k - 1}) q,
         |       unnest(generate_series(1, len(q.a) - 1)) t(i)
         |  GROUP BY 1, 2),
         |b$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT w, cnt,
         |    replace(seg, '|' || b.l || '||' || b.r || '|',
         |      '|' || b.l || b.r || '|') AS seg
         |  FROM v${k - 1}, b$k b),
         |s$k AS (SELECT CAST(sum(cnt *
         |    len(string_split(trim(seg, '|'), '||'))) AS BIGINT) AS n
         |  FROM v$k)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT w, cnt, regexp_replace(w, '(.)', '|\\1|', 'g') AS seg FROM (
       |    SELECT t AS w, count(*) AS cnt FROM (
       |      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
       |      FROM documents)
       |    WHERE t <> '' AND t NOT LIKE '%|%' GROUP BY t)),
       |$rounds""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("p_bigram_fluency", bigramFluency,
      """WITH w AS (SELECT doc_id, lang,
        |    string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |p AS (SELECT doc_id, lang, w[i] AS a, w[i+1] AS b
        |  FROM w, unnest(generate_series(1, len(w) - 1)) t(i)),
        |ca AS (SELECT a, count(*) AS ca FROM p GROUP BY a),
        |cab AS (SELECT a, b, count(*) AS cab FROM p GROUP BY a, b),
        |v AS (SELECT count(*) AS v FROM (
        |  SELECT b AS x FROM p UNION SELECT a FROM p)),
        |sc AS (SELECT p.doc_id, p.lang,
        |    (cab.cab + CAST(1.0 AS DOUBLE)) / (ca.ca + v.v) AS pr
        |  FROM p JOIN cab ON cab.a = p.a AND cab.b = p.b
        |  JOIN ca ON ca.a = p.a, v),
        |ds AS (SELECT doc_id, lang, sum(pr) / count(*) AS s
        |  FROM sc GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  floor(sum(s) / count(*) * 1e3 * 1e6 + 0.5) / 1e6 AS mean_score_k
        |FROM ds GROUP BY lang""".stripMargin),
    QuerySpec("p_media_dedup", mediaDedup,
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies,
        |  CAST(min(octet_length(encode(text))) AS BIGINT) AS n_bytes
        |FROM documents GROUP BY md5(text)""".stripMargin),
    QuerySpec("p_source_gini", sourceGini,
      """WITH t AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS x
        |  FROM documents GROUP BY source),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM t)
        |SELECT count(*) AS n_sources, CAST(sum(x) AS BIGINT) AS total_tokens,
        |  floor((2.0 * CAST(sum(i * x) AS DOUBLE) / (count(*) * sum(x))
        |    - (count(*) + 1.0) / count(*)) * 1e6 + 0.5) / 1e6 AS gini
        |FROM r""".stripMargin),
    QuerySpec("p_lang_resample", langResample,
      """WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
        |f AS (SELECT lang, n_before,
        |    CAST(ceil(CAST((SELECT max(n_before) FROM c) AS DOUBLE) / n_before) AS BIGINT)
        |      AS factor FROM c),
        |r AS (SELECT d.lang, f.n_before, f.factor
        |  FROM documents d JOIN f ON f.lang = d.lang,
        |  unnest(generate_series(1, f.factor)) t(i))
        |SELECT lang, CAST(min(n_before) AS BIGINT) AS n_before,
        |  CAST(min(factor) AS BIGINT) AS factor, count(*) AS n_after
        |FROM r GROUP BY lang""".stripMargin),
    QuerySpec("p_embed_norm", embedNorms,
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT label, list_dot_product(v, v) AS norm2 FROM e)
        |SELECT label, count(*) AS n,
        |  floor(sum(norm2) * 1e4 + 0.5) / 1e4 AS sum_norm2,
        |  floor(min(norm2) * 1e6 + 0.5) / 1e6 AS min_norm2,
        |  floor(max(norm2) * 1e6 + 0.5) / 1e6 AS max_norm2
        |FROM n GROUP BY label""".stripMargin),
    QuerySpec("p_quality_filter", qualityFilter,
      """WITH w AS (SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS w FROM documents),
        |d AS (SELECT doc_id, source, len(w) AS n_words,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') * 1.0 / len(w) AS mean_wlen,
        |    len(list_distinct(w)) * 1.0 / len(w) AS uniq_ratio
        |  FROM w),
        |k AS (SELECT *, (n_words BETWEEN 20 AND 5000)
        |    AND (mean_wlen BETWEEN 3.0 AND 10.0) AND uniq_ratio >= 0.2 AS keep
        |  FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  floor(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*) * 1e4 + 0.5) / 1e4 AS keep_rate,
        |  floor(sum(mean_wlen) * 1e4 + 0.5) / 1e4 AS sum_mean_wlen
        |FROM k GROUP BY source""".stripMargin),
    QuerySpec("p_curriculum_bins", curriculumBins,
      """WITH b AS (SELECT doc_id, n_chars,
        |    ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin FROM documents)
        |SELECT bin, count(*) AS n, min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars,
        |  floor(sum(n_chars) * 1.0 / count(*) * 1e4 + 0.5) / 1e4 AS avg_chars
        |FROM b GROUP BY bin""".stripMargin),
    QuerySpec("p_winnowing", winnowing,
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, i - 1 AS i,
        |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS h
        |  FROM w, unnest(generate_series(1, len(w) - 3)) t(i)),
        |mn AS (SELECT doc_id, i,
        |    count(*) OVER (PARTITION BY doc_id) AS n,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
        |  FROM sh),
        |fp AS (SELECT DISTINCT doc_id, fp FROM mn WHERE i <= n - 5)
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
        |FROM fp GROUP BY doc_id""".stripMargin),
    QuerySpec("p_mix_weights", mixWeights,
      s"""WITH per AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
         |      AS tokens
         |  FROM documents GROUP BY lang),
         |tot AS (SELECT sum(tokens)::DOUBLE AS total, count(*) AS k FROM per)
         |SELECT lang, n_docs, tokens,
         |  ${rndSql("tokens / total", 6)} AS actual_frac,
         |  ${rndSql("(total / k) / tokens", 6)} AS weight
         |FROM per, tot""".stripMargin),
    QuerySpec("p_token_budget", tokenBudget,
      """WITH scored AS (
        |  SELECT source, doc_id,
        |    len(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok,
        |    sum(tok) OVER (PARTITION BY source
        |      ORDER BY tok DESC, doc_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM scored)
        |SELECT source, count(*) AS n_selected,
        |  CAST(sum(tok) AS BIGINT) AS tokens_used,
        |  CAST(max(cum) AS BIGINT) AS final_cum
        |FROM c WHERE cum <= 20000 GROUP BY source""".stripMargin),
    QuerySpec("p_hash_split", hashSplit,
      """WITH h AS (SELECT lang, n_chars,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h FROM documents),
        |s AS (SELECT lang, n_chars,
        |    CASE WHEN h IN ('c','d') THEN 'val'
        |         WHEN h IN ('e','f') THEN 'test'
        |         ELSE 'train' END AS split FROM h)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  count(DISTINCT lang) AS n_langs
        |FROM s GROUP BY split""".stripMargin),
    QuerySpec("p_char_entropy", charEntropy,
      s"""WITH ch AS (
         |  SELECT doc_id, lang, substring(lower(text), i, 1) AS ch
         |  FROM documents, unnest(generate_series(1, length(text))) t(i)),
         |f AS (SELECT * FROM ch WHERE regexp_matches(ch, '^[a-z]$$')),
         |e AS (SELECT doc_id, lang, entropy(ch) AS h FROM f GROUP BY doc_id, lang)
         |SELECT lang, count(*) AS n_docs, ${rndSql("avg(h)", 4)} AS mean_entropy
         |FROM e GROUP BY lang""".stripMargin),
    QuerySpec("p_zipf_slope", zipfSlope,
      s"""WITH w AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
         |    FROM documents),
         |tok AS (SELECT unnest(w) AS tok FROM w),
         |c AS (SELECT tok, count(*) AS c FROM tok WHERE len(tok) > 0 GROUP BY tok),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
         |  FROM c QUALIFY rk <= 500)
         |SELECT count(*) AS n_terms,
         |  ${rndSql("regr_slope(ln(c), ln(rk))", 6)} AS slope,
         |  ${rndSql("regr_r2(ln(c), ln(rk))", 6)} AS r2
         |FROM r""".stripMargin),
    QuerySpec("p_sentence_stats", sentenceStats,
      s"""WITH s0 AS (SELECT lang, unnest(string_split_regex(text, '[.!?]+')) AS s0
         |    FROM documents),
         |s AS (SELECT lang, trim(s0) AS s FROM s0 WHERE len(trim(s0)) > 0),
         |m AS (SELECT lang, len(s) AS n_chars,
         |    len(string_split_regex(s, '\\s+')) AS n_words FROM s)
         |SELECT lang, count(*) AS n_sentences,
         |  ${rndSql("avg(n_words)", 4)} AS mean_words,
         |  ${rndSql("avg(n_chars)", 4)} AS mean_chars
         |FROM m GROUP BY lang""".stripMargin),
    QuerySpec("p_dsir_weights", dsirWeights,
      s"""WITH toks AS (
         |  SELECT doc_id, source,
         |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
         |  FROM documents),
         |t AS (SELECT * FROM toks WHERE len(tok) > 0),
         |tgt AS (SELECT tok, count(*) AS ct FROM t WHERE source = 'src0' GROUP BY tok),
         |corp AS (SELECT tok, count(*) AS cr FROM t GROUP BY tok),
         |tot AS (SELECT (SELECT sum(cr) FROM corp) AS tr,
         |               (SELECT count(*) FROM corp) AS v,
         |               (SELECT sum(ct) FROM tgt) AS tt),
         |scored AS (
         |  SELECT t.doc_id, t.source,
         |    ${rndSql("avg(((coalesce(tgt.ct, 0) + 1)::DOUBLE / (tot.tt + tot.v)) / ((corp.cr + 1)::DOUBLE / (tot.tr + tot.v)))", 6)} AS w
         |  FROM t JOIN corp ON corp.tok = t.tok
         |  LEFT JOIN tgt ON tgt.tok = t.tok
         |  CROSS JOIN tot
         |  GROUP BY t.doc_id, t.source)
         |SELECT source, count(*) AS n_docs,
         |  ${rndSql("avg(w)", 6)} AS mean_w,
         |  ${rndSql("max(w)", 6)} AS max_w
         |FROM scored GROUP BY source""".stripMargin),
    QuerySpec("p_tokenizer_compare", tokenizerCompare,
      s"""WITH m AS (SELECT source,
         |    len(string_split_regex(trim(lower(text)), '\\s+')) AS ws_tok,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS re_tok,
         |    length(text) AS n_chars
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ws_tok) AS BIGINT) AS ws_tokens,
         |  CAST(sum(re_tok) AS BIGINT) AS re_tokens,
         |  ${rndSql("sum(n_chars)::DOUBLE / sum(re_tok)", 4)} AS chars_per_tok,
         |  ${rndSql("sum(re_tok)::DOUBLE / sum(ws_tok)", 6)} AS fertility
         |FROM m GROUP BY source""".stripMargin),
    // identical logical plan in DuckDB: same tokenization, same
    // ratio-idf, same ascending-term left fold, same rounding
    QuerySpec("p_bm25_topk", (s, d) => bm25TopK(s, d),
      """WITH w AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
        |tok AS (SELECT doc_id, t AS term FROM w, unnest(w) u(t) WHERE t <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT CAST((SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS DOUBLE)
        |         / (SELECT n FROM nn) AS avgdl),
        |qt AS (SELECT CAST((rn - 1) % 3 AS BIGINT) AS qid, term FROM (
        |  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rn
        |  FROM dft) WHERE rn <= 6),
        |contrib AS (
        |  SELECT q.qid, t.doc_id, t.term,
        |    (((SELECT n FROM nn) - f.df + CAST(0.5 AS DOUBLE))
        |      / (f.df + CAST(0.5 AS DOUBLE))) *
        |    ((t.tf * CAST(2.2 AS DOUBLE)) /
        |      (t.tf + CAST(1.2 AS DOUBLE) *
        |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
        |          (d.dl / (SELECT avgdl FROM ad))))) AS c
        |  FROM tf t JOIN qt q ON q.term = t.term
        |  JOIN dl d ON d.doc_id = t.doc_id
        |  JOIN dft f ON f.term = t.term),
        |perdoc AS (
        |  SELECT qid, doc_id, count(*) AS n_terms,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
        |      (a, x) -> a + x) AS raw
        |  FROM contrib GROUP BY qid, doc_id)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id, n_terms,
        |  floor(raw * 1e9 + 0.5) / 1e9 AS score FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY qid ORDER BY raw DESC, doc_id) AS rank FROM perdoc)
        |WHERE rank <= 5""".stripMargin),
    // exact values recomputed (train/eval distinct chunk counts,
    // exact-hit join count); Bloom booleans Spark-certified — the
    // sketch bits live only in Spark (see bloomDecontaminate doc)
    QuerySpec("p_bloom_decontaminate", bloomDecontaminate,
      """WITH w AS (SELECT doc_id,
        |  string_split_regex(trim(text), '\s+') AS w FROM documents),
        |c AS (SELECT doc_id,
        |  md5(array_to_string(w[i + 1 : i + 32], ' ')) AS chunk_hash
        |  FROM w, unnest(generate_series(0, len(w) - 1, 16)) t(i)
        |  WHERE len(w) > 0),
        |train AS (SELECT DISTINCT chunk_hash FROM c WHERE doc_id % 10 <> 0),
        |ev AS (SELECT DISTINCT chunk_hash FROM c WHERE doc_id % 10 = 0)
        |SELECT (SELECT count(*) FROM train) AS n_train_chunks,
        |  (SELECT count(*) FROM ev) AS n_eval_chunks,
        |  (SELECT count(*) FROM ev JOIN train USING (chunk_hash)) AS n_exact_hits,
        |  TRUE AS contains_all_ok, TRUE AS fp_bounded_ok""".stripMargin),
    // the identical 5 unrolled BPE rounds: same sentinel-wrapped
    // segmentations, same substring-replace merge application, same
    // integer pair counts and (c desc, l, r) argmax — pure
    // structural/integer parity, nothing floating point
    QuerySpec("p_bpe_merges", (s, d) => bpeMerges(s, d), {
      val out = (1 to 5).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS round, l AS merge_left,
           |  r AS merge_right, c AS pair_count,
           |  (SELECT n FROM s$k) AS symbols_after FROM b$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeReplayCtes
         |$out""".stripMargin
    }),
    // the learned tokenizer's weighted top-20 vocabulary off the same
    // replay: exact integer counts, rank by (n desc, token) — fully
    // deterministic on ties, boundary included
    QuerySpec("p_bpe_vocab", (s, d) => bpeVocab(s, d),
      s"""WITH $bpeReplayCtes,
         |tokc AS (
         |  SELECT tok AS token, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(string_split(trim(seg, '|'), '||')) AS tok
         |    FROM v5)
         |  GROUP BY tok)
         |SELECT token, n, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
         |  FROM tokc) WHERE rank <= 20""".stripMargin),
    // the encode pass off the same replay: token-per-word is a
    // projection of v5's segmentations, the corpus explode repeats
    // v0's tokenization+filter, and every output is an exact integer
    QuerySpec("p_bpe_encode", bpeEncode,
      s"""WITH $bpeReplayCtes,
         |tw AS (SELECT w, CAST(len(string_split(trim(seg, '|'), '||')) AS BIGINT)
         |    AS toks FROM v5),
         |dt AS (SELECT doc_id, t AS w FROM (
         |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
         |  FROM documents) WHERE t <> '' AND t NOT LIKE '%|%')
         |SELECT doc_id, count(*) AS n_words, CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN toks = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_single_token_words
         |FROM dt JOIN tw USING (w) GROUP BY doc_id""".stripMargin))
}
