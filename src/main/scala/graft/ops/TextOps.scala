package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, all
  * expressed as codegen'd Column functions (`org.apache.spark.sql.functions`)
  * — no UDFs in the hot path, so whole-stage codegen and column pruning
  * survive. One Scala UDF exists in this file (simhash bit-vote), used only
  * where a 64-lane bit accumulator has no reasonable Column encoding.
  */
object TextOps {

  /** Whitespace tokens; empty/blank text → empty array (split would give [""]). */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish regex tokenizer (GPT-2-shaped alternation: contractions,
    * letter runs, digit runs, punct runs, each optionally space-prefixed).
    * Deliberately RE2-compatible — no lookarounds — so the SAME pattern
    * runs under Java regex here and RE2 in the DuckDB oracle (q32).
    */
  val BpeTokenRe = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+"

  /** Count of BPE-ish tokens (whitespace-run matches excluded). */
  def bpeTokenCount(c: Column): Column =
    size(filter(regexp_extract_all(c, lit(BpeTokenRe), lit(0)), t => !t.rlike("^\\s+$")))

  /** ASCII punctuation as an explicit range class — identical semantics in
    * Java regex and RE2 (`\p{Punct}` and `[[:punct:]]` diverge subtly).
    */
  val AsciiPunctRe = "[!-/:-@\\[-`{-~]"

  /** Character k-shingles (distinct). Text shorter than k → empty array. */
  def shingles(c: Column, k: Int): Column =
    when(length(c) < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(0), length(c) - k), i => c.substr(i + 1, lit(k)))))

  /** Lowercased whitespace word array (empty tokens dropped). */
  def lowerWords(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Distinct word n-grams from an ALREADY-MATERIALIZED words column.
    * Callers must project [[lowerWords]] into its own column first: a
    * computed array captured inside `transform`'s lambda is re-evaluated
    * PER ELEMENT (the text re-splits once per gram — O(words²) per row,
    * measured 10×+ on the decontamination sweep), while an attribute
    * reference is a cheap per-element read.
    */
  def wordNgramsOf(w: Column, n: Int): Column =
    when(w.isNull || size(w) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(sequence(lit(1), size(w) - n + 1), i => concat_ws(" ", slice(w, i, lit(n))))))

  /** Convenience form over raw text — ONLY for single-expression contexts
    * (tests, small frames); hot paths project [[lowerWords]] first.
    */
  def wordNgrams(c: Column, n: Int): Column = wordNgramsOf(lowerWords(c), n)

  /** Train/eval decontamination: corpus documents sharing ANY word n-gram
    * with the benchmark set, with the shared-gram count as evidence — the
    * "remove eval overlap from training data" operator (GPT-3 appendix C /
    * common 13-gram decontamination). Returns (idCol, n_shared_grams).
    *
    * Scale shape: both sides explode to DISTINCT per-doc n-grams and
    * equi-join; with `hashedCarrier` the join key is xxhash64(gram) — an
    * 8-byte carrier instead of ~80-byte strings through the shuffle (the
    * result id set is hash-collision-exact at 2^-64). Benchmark gram sets
    * (eval suites) are small enough that AQE broadcasts them; the corpus
    * side stays a streaming explode, never materialized whole.
    */
  def contaminatedDocs(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int = 13,
      hashedCarrier: Boolean = true
  ): DataFrame = {
    def gramSide(df: DataFrame, text: String, extra: Seq[Column]): DataFrame = {
      val g0 = explode(wordNgramsOf(col("_w"), n)).as("g0")
      val g = (if (hashedCarrier) xxhash64(col("g0")) else col("g0")).as("g")
      df.select(extra :+ lowerWords(col(text)).as("_w"): _*) // words materialized ONCE per row
        .select(extra :+ g0: _*)
        .select(extra :+ g: _*)
    }
    gramSide(corpus, textCol, Seq(col(idCol)))
      .join(gramSide(benchmark, benchTextCol, Seq.empty).distinct(), Seq("g"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared_grams")) // per-doc grams already distinct
  }

  /** Word-level repetition signals per document — the Gopher/MassiveText
    * repetition-filter family (Rae et al. 2021 §A1.1: duplicate-n-gram
    * fractions) in integer-exact form (counts, not ratios, so the DuckDB
    * oracle hash-matches bit-for-bit; callers derive the paper's fractions
    * as n_dup_2gram_occurrences / n_2grams etc.). Two combiner-friendly
    * aggregations on (doc, gram) then (doc) — scales as a word-count job.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = col("_w") // materialized once per row (see wordNgramsOf)
    val grams = when(size(w) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(w) - 1), i => concat_ws(" ", slice(w, i, lit(2)))))
    // counts are computed in their OWN projection before the explode:
    // non-generator expressions sharing a select with explode land in the
    // Project ABOVE Generate and re-evaluate per exploded row (the same
    // per-element trap wordNgramsOf documents, via the plan instead of a
    // lambda)
    df.select(col(idCol), lowerWords(col(textCol)).as("_w"))
      .select(col(idCol), w, size(w).cast("bigint").as("n_words"),
        size(array_distinct(w)).cast("bigint").as("n_distinct_words"))
      .select(col(idCol), col("n_words"), col("n_distinct_words"), explode(grams).as("g"))
      .groupBy(col(idCol), col("g"))
      .agg(count(lit(1)).as("c"), first(col("n_words")).as("n_words"),
        first(col("n_distinct_words")).as("n_distinct_words"))
      .groupBy(col(idCol))
      .agg(
        first(col("n_words")).as("n_words"),
        first(col("n_distinct_words")).as("n_distinct_words"),
        sum(col("c")).as("n_2grams"),
        max(col("c")).as("max_2gram_count"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0))).as("n_dup_2gram_occurrences")
      )
  }

  /** PII patterns chosen for identical semantics in Java regex (Spark) and
    * RE2 (DuckDB): ASCII classes only, no lookaround, hyphens last in
    * classes. Deliberately recall-oriented simple — production scrubbing
    * layers more patterns; the operator shape (count + replace in one
    * codegen'd projection) is the point.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scrub: redact emails then IPv4s, counting each pattern on the
    * text it is actually applied to (IPs are counted AFTER email removal,
    * so the counts always agree with the [IP]/[EMAIL] tokens in `redacted`
    * even when patterns overlap — e.g. an IP-shaped local part inside an
    * email is one email, zero IPs). The pipeline-side privacy pass every
    * published web corpus applies before training.
    * Returns (idCol, n_emails, n_ips, redacted).
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    df.select(col(idCol), c,
        regexp_replace(c, EmailRe, "[EMAIL]").as("_deEmailed"))
      .select(
        col(idCol),
        size(regexp_extract_all(c, lit(EmailRe), lit(0))).cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("_deEmailed"), lit(Ipv4Re), lit(0))).cast("bigint").as("n_ips"),
        regexp_replace(col("_deEmailed"), Ipv4Re, "[IP]").as("redacted")
      )
  }

  /** 64-bit-hashed k-shingles (distinct) — the LSH-path representation.
    * Set-isomorphic to [[shingles]] under xxhash64 (collisions ~2^-64), so
    * jaccard values are preserved, while intersect/union/minhash run on
    * primitive longs and candidate-pair shuffles carry 8 bytes per shingle
    * instead of a string: measured 7x faster verify at equal results.
    */
  def hashedShingles(c: Column, k: Int): Column =
    when(length(c) < k, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(sequence(lit(0), length(c) - k), i => xxhash64(c.substr(i + 1, lit(k))))))

  /** Exact Jaccard similarity of two shingle sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** Exact Jaccard of two SORTED distinct long arrays: |∩| by linear merge
    * (codegen'd [[graft.functions.SortedIntersectCount]]) and |∪| by
    * arithmetic (|a|+|b|−|∩|) — measured 3.5x faster than the
    * array_intersect/array_union form on the LSH verify path (no per-pair
    * hash-set or array materialization).
    */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.MinHash.sortedIntersectCount(a, b).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  /** MinHash signature: numHashes independent min-hashes over the shingle
    * set; hash family = xxhash64 seeded by the lane index. Deliberately an
    * array of per-lane subtrees, NOT one nested transform-over-sequence
    * lambda: the nested-lambda form was measured ~2x slower end-to-end
    * (fully interpreted higher-order evaluation with per-element variable
    * binding), while per-lane subtrees evaluate against the shingle array
    * directly.
    */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shinglesCol, s => xxhash64(lit(j), s)))
    }: _*)

  /** 64-bit SimHash over whitespace tokens (bit-vote across xxhash64 token
    * hashes). UDF by design: 64 per-bit counters don't map to Columns sanely.
    */
  val simhash64 = udf { toks: Seq[String] =>
    if (toks == null || toks.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
          .hashUnsafeBytes(t.getBytes("UTF-8"), org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, t.length, 42)
        // widen 32-bit murmur to 64 via splitmix-style remix
        var x = h.toLong * 0x9e3779b97f4a7c15L
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = x ^ (x >>> 31)
        var i = 0
        while (i < 64) { if (((x >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1; i += 1 }
      }
      var sig = 0L; var i = 0
      while (i < 64) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }
  }

  /** Hamming distance between two 64-bit signatures (codegen'd bit_count). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Document fingerprint: min-shingle-hash (robust to small edits) — the
    * "rolling hash" fingerprint of the training-pipeline spec.
    */
  def fingerprint(c: Column, k: Int = 9): Column =
    coalesce(array_min(hashedShingles(c, k)), xxhash64(c)) // == min over xxhash64 of string shingles (distinct commutes with min)

  // ------------------------------------------------------------ quality ----

  /** Quality metrics (length / punctuation / stopword ratios + mean word
    * length) — the standard cheap text-quality gates.
    */
  def qualityStruct(c: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = tokens(lower(c))
    val nTok = size(toks).cast("double")
    val punct = regexp_count(c, lit("[\\p{Punct}]")).cast("double")
    val alpha = regexp_count(c, lit("[A-Za-z]")).cast("double")
    val stopHits = size(filter(toks, t => t.isin(stopwords: _*))).cast("double")
    struct(
      length(c).cast("long").as("n_chars"),
      nTok.cast("long").as("n_tokens"),
      when(nTok > 0, length(c) / nTok).otherwise(lit(0.0)).as("mean_word_len"),
      when(length(c) > 0, punct / length(c)).otherwise(lit(0.0)).as("punct_ratio"),
      when(length(c) > 0, alpha / length(c)).otherwise(lit(0.0)).as("alpha_ratio"),
      when(nTok > 0, stopHits / nTok).otherwise(lit(0.0)).as("stopword_ratio")
    )
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  // ------------------------------------------------------------ lang id ----

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic. */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "sich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "dans", "pour", "pas"),
    "es" -> Seq("el", "la", "los", "que", "es", "una", "por", "para", "como", "más")
  )

  /** Heuristic language ID: CJK codepoint share decides "zh"; otherwise the
    * language whose stopword list overlaps the token set most; ties/no hits
    * → "und" (undetermined). Stopword-ratio heuristics are the classic
    * cheap langid for corpus triage.
    */
  def langId(c: Column): Column = {
    val cjk = regexp_count(c, lit("[\\x{4e00}-\\x{9fff}]")).cast("double")
    val toks = tokens(lower(c))
    val scored = LangStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(size(filter(toks, t => t.isin(sw: _*))).as("score"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(length(c) > 0 && cjk / length(c) > 0.2, lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** [[langId]] decomposed into projection STAGES (adds `outCol` to `df`):
    * identical result, different plan. As one Column, `toks` is inlined
    * into each language's `filter` lambda and `best` into both of its
    * consumers — the text is lowercased+split up to 8× per row, and
    * higher-order-function lambdas are excluded from codegen subexpression
    * elimination, so nothing dedupes it (measured: the q23 grouping
    * expression carried 8 `split(trim(lower(text)))` subtrees). Staging
    * materializes the token array and the best-language struct once per
    * row; Catalyst keeps the stages because the aliases are non-cheap and
    * multiply referenced (CollapseProject's own rule).
    */
  def langIdStaged(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val c = col(textCol)
    val scored = LangStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(size(filter(col("_lang_toks"), t => t.isin(sw: _*))).as("score"), lit(lang).as("lang"))
    }
    val cjk = regexp_count(c, lit("[\\x{4e00}-\\x{9fff}]")).cast("double")
    df.withColumn("_lang_toks", tokens(lower(c)))
      .withColumn("_lang_best", array_max(array(scored: _*)))
      .withColumn(outCol,
        when(length(c) > 0 && cjk / length(c) > 0.2, lit("zh"))
          .when(col("_lang_best").getField("score") > 0, col("_lang_best").getField("lang"))
          .otherwise(lit("und")))
      .drop("_lang_toks", "_lang_best")
  }

  /** Bigram language-model quality scoring — the CCNet-style perplexity
    * filter (Wenzek et al. 2020 score web text against a reference-corpus
    * LM and keep the low-perplexity head; this is the same shape with an
    * exactly-reproducible add-α bigram model instead of a trained KenLM).
    * The model is `reference` itself: context counts c(w1) (occurrences as
    * a bigram left side), bigram counts c(w1,w2), vocabulary size V
    * (distinct reference words), and
    * `P(w2|w1) = (c(w1,w2) + α) / (c(w1) + α·V)` — unseen contexts reduce
    * to the uniform 1/V. Per scored document: mean negative log-likelihood
    * over its consecutive-word bigrams, rounded to `dp` decimals (libm /
    * sum-order slack is sub-ulp-scale, far below that).
    *
    * Scale shape: both count frames are map-side-combining aggregates
    * (bounded by observed-bigram cardinality, not corpus rows); scoring is
    * two equi-joins of the exploded bigrams against those aggregated
    * frames (hot function words are one aggregated row on the build side —
    * AQE handles the probe-side skew) and one per-doc aggregation. Nothing
    * scans `reference` more than twice, and nothing is collected.
    *
    * Returns (id, n_bigrams, nll) for scored docs with ≥ 2 words: nll
    * ascending = most reference-like first, the curation sort order.
    */
  def bigramNll(
      reference: DataFrame,
      score: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 1.0,
      dp: Int = 6
  ): DataFrame = {
    def bigrams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), lowerWords(col(textCol)).as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(col("id"), explode(transform(sequence(lit(1), size(col("_w")) - 1),
        i => struct(element_at(col("_w"), i).as("w1"), element_at(col("_w"), i + 1).as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams(reference).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // context counts roll up from the bigram aggregate — no second pass
    // over the exploded reference
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val v = reference
      .select(explode(lowerWords(col(textCol))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    val p = coalesce(col("c12"), lit(0L)) + lit(alpha)
    val q = coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v")
    bigrams(score)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("id"), (-log(p / q)).as("_nll"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("_nll")), dp).as("nll"))
  }

  /** Corpus-IDF rarity scoring — the bag-of-words importance feature of
    * data-selection pipelines (DSIR-style importance weights and classic
    * TF-IDF corpus triage both reduce to it): per word, the smoothed
    * inverse document frequency `ln((N + 1) / (df + 1))` over the corpus;
    * per document, the mean IDF of its DISTINCT words — high = the
    * document uses rare vocabulary, low = boilerplate function-word soup.
    *
    * Scale shape: the distinct-(doc, word) explode feeds both the
    * document-frequency aggregate (map-side-combining, rows bounded by
    * vocabulary) and the join probe — two passes over the tokenize+explode
    * (persist `docs` upstream if tokenization dominates); the join keeps
    * the aggregated side as build (AQE absorbs hot-word probe skew — a
    * per-word WINDOW count would avoid the second pass but serialize every
    * "the" into one task, the wrong trade at corpus scale). The corpus row
    * count `N` rides a broadcast single-row frame: no collect, no driver
    * loop.
    *
    * Returns (id, n_distinct_words, mean_idf) for docs with ≥ 1 word,
    * rounded to `dp` decimals.
    */
  def idfScores(docs: DataFrame, idCol: String, textCol: String, dp: Int = 6): DataFrame = {
    val docWords = docs
      .select(col(idCol).as("id"), explode(array_distinct(lowerWords(col(textCol)))).as("w"))
    val n = docs.select(col(idCol)).agg(count(lit(1)).as("n"))
    val df = docWords.groupBy("w").agg(count(lit(1)).as("df"))
    docWords
      .join(df, Seq("w"))
      .crossJoin(broadcast(n))
      .select(col("id"), log((col("n") + 1).cast("double") / (col("df") + 1)).as("_idf"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_distinct_words"), round(avg(col("_idf")), dp).as("mean_idf"))
  }

  /** Fixed-window document chunking: split each document into token windows
    * of `window` tokens advancing by `stride` — the "long document → model
    * context pieces" preprocessing step (BERT/RAG-style sliding chunks;
    * stride < window gives overlap). Emits one row per chunk:
    * (id, chunk_idx, n_chunk_tokens, chunk_text). Chunk starts stop at
    * the last one needed for full coverage (start ≤ len − window + stride):
    * every token lands in some chunk, but no chunk is wholly contained in
    * its predecessor — the degenerate tails a naive start sequence emits
    * (e.g. 5 tokens, window 3, stride 2 → a third 1-token chunk entirely
    * inside chunk 2) would feed duplicate text downstream. The final chunk
    * may still be shorter than `window` when it starts fresh material
    * (callers wanting only full windows filter n_chunk_tokens === window).
    *
    * Scale shape: one generator per row (posexplode over the start
    * sequence) — no shuffle, no state, chunk count per row bounded by
    * n_tokens/stride. The words array is materialized once per row before
    * the lambda (the [[wordNgramsOf]] per-element trap).
    */
  def docChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int
  ): DataFrame = {
    require(window > 0 && stride > 0, s"window/stride must be positive: $window/$stride")
    docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_w"))
      .select(col("id"), col("_w"),
        posexplode(sequence(lit(1),
          least(size(col("_w")), greatest(lit(1), size(col("_w")) - window + stride)),
          lit(stride))).as(Seq("chunk_idx", "_st")))
      .select(
        col("id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(window), size(col("_w")) - col("_st") + 1).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_w"), col("_st"), lit(window))).as("chunk_text"))
  }

  /** BPE merge-candidate scoring — the tokenizer-training inner loop:
    * count every adjacent character pair, weighted by word frequency
    * (Sennrich et al. 2016; the pair with the highest count is the next
    * merge). This op produces the full candidate table for ONE merge
    * round; the sequential merge loop itself is a driver-side iteration
    * over re-invocations (each round re-scores over the updated symbol
    * sequences) and is deliberately not baked in.
    *
    * Scale shape — the detail that makes BPE training feasible on a
    * 10^12-token corpus: pair extraction runs over the VOCABULARY weighted
    * by word counts, never over the corpus. The corpus is touched exactly
    * once (the word-count hash agg, map-side combining); the generator +
    * second agg operate on |vocab| rows. Both aggs partial-aggregate;
    * everything is codegen'd Column ops.
    *
    * Output: (pair, pair_count, n_words) — total weighted occurrences and
    * the number of distinct words contributing.
    */
  def bpeMergePairs(docs: DataFrame, textCol: String): DataFrame = {
    val wc = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(lowerWords(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
    wc
      .select(col("word"), col("cnt"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(col("word").substr(col("i"), lit(2)).as("pair"), col("word"), col("cnt"))
      .groupBy("pair")
      .agg(sum(col("cnt")).as("pair_count"),
        count_distinct(col("word")).as("n_words"))
  }

  /** Vocabulary extraction with corpus-coverage accounting: word counts
    * over the whole corpus (min frequency `minCount`) plus each word's
    * INCLUSIVE cumulative count in (count desc, word asc) order — the
    * running total a tokenizer-training / vocab-cutoff step thresholds on
    * ("keep the smallest vocab covering 95% of token mass").
    *
    * The cumulative count is a global running sum over a potentially huge
    * vocabulary (cnt=1 tail), so it goes through [[PrefixScan.runningTotal]]
    * — bucketed two-level scan, never a single-partition window. The
    * (cnt desc, word asc) order is unique, as PrefixScan requires.
    *
    * Output: (word, cnt, cum_cnt).
    */
  def vocabCoverage(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 1L,
      buckets: Int = 64
  ): DataFrame = {
    val counts = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(lowerWords(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    PrefixScan.runningTotal(counts, Seq("cnt" -> false, "word" -> true), "cnt",
      resultCol = "cum_cnt", buckets = buckets)
  }
}
