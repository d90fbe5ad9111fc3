package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextOps}

/** The Window-cap plus join LSH kernels that `Dedup`'s bucket-aggregate
  * kernels replaced, kept as their differential reference: a Window count
  * over the bucket key, observed drops, then a join of the member rows on
  * the bucket key — a self-join with `a.id < b.id` for the self-pair and
  * span kernels, a corpus × incoming join for the cross-side kernels.
  */
object DedupReference {

  def capBuckets(keys: DataFrame, bucketCols: Seq[String], maxBucket: Int, obsName: String = "lsh_buckets"): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    keys
      .withColumn("_bn", count(lit(1)).over(w))
      .observe(obsName, sum(when(col("_bn") > maxBucket, 1L).otherwise(0L)).as("lsh_dropped_rows"))
      .filter(col("_bn") <= maxBucket)
      .drop("_bn")
  }

  def signaturePairs(sigs: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val keys = capBuckets(
      sigs.select(
        col("id"),
        col("sig"),
        posexplode(array((0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
          .as(Seq("band_idx", "band_key"))),
      Seq("band_idx", "band_key"), maxBucket)
    keys.as("a")
      .join(keys.as("b"), col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", TextOps.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  def phashPairs(df: DataFrame, idCol: String, phashCol: String, maxHamming: Int = 3, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    signaturePairs(df.select(col(idCol).as("id"), col(phashCol).as("sig")), maxHamming, maxBucket)

  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    signaturePairs(df.select(col(idCol).as("id"), TextOps.simhash64(TextOps.tokens(col(textCol))).as("sig")), maxHamming, maxBucket)

  def minhashPairs(df: DataFrame, idCol: String, textCol: String, shingleK: Int = 5, numHashes: Int = 64,
      numBands: Int = 16, threshold: Double = 0.7, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val sigs = Dedup.minhashSignatures(df, idCol, textCol, shingleK, numHashes, numBands)
    val keys = capBuckets(
      sigs.select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_key"))),
      Seq("band_idx", "band_key"), maxBucket)
    val cand = keys.as("a")
      .join(keys.as("b"), col("a.band_idx") === col("b.band_idx") && col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val shOnly = sigs.select(col("id"), col("sh"))
    cand
      .join(shOnly.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(shOnly.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", TextOps.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int, threshold: Double = 0.95,
      nbits: Int = 12, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val sigs = capBuckets(Dedup.embeddingSignatures(df, idCol, vecCol, dim, nbits), Seq("bucket"), maxBucket)
    sigs.as("a")
      .join(sigs.as("b"), col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  def minhashPairsAgainst(corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String, shingleK: Int = 5,
      numHashes: Int = 64, numBands: Int = 16, threshold: Double = 0.7, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    minhashPairsAgainstSignatures(
      Dedup.minhashSignatures(corpus, idCol, textCol, shingleK, numHashes, numBands),
      Dedup.minhashSignatures(incoming, idCol, textCol, shingleK, numHashes, numBands),
      threshold, maxBucket)

  /** The band-key prune filters the corpus keys to the capped incoming
    * side's band keys; it raises no session conf, which moves no result.
    */
  def minhashPairsAgainstSignatures(corpusSigs: DataFrame, incomingSigs: DataFrame, threshold: Double = 0.7,
      maxBucket: Int = Dedup.DefaultMaxBucket, corpusKeys: Option[DataFrame] = None, pruneBandKeysLimit: Int = 0): DataFrame = {
    val incomingKeys = capBuckets(Dedup.explodedBandKeys(incomingSigs), Seq("band_idx", "band_key"), maxBucket, "lsh_buckets_incoming")
    val corpusKeyRows = corpusKeys.getOrElse(Dedup.explodedBandKeys(corpusSigs))
    val corpusPruned =
      if (pruneBandKeysLimit <= 0) corpusKeyRows
      else {
        val ks = incomingKeys.select("band_key").distinct()
          .limit(pruneBandKeysLimit + 1).collect().map(_.getLong(0))
        if (ks.length > pruneBandKeysLimit) corpusKeyRows
        else corpusKeyRows.filter(col("band_key").isin(ks.toSeq: _*))
      }
    val cand = capBuckets(corpusPruned, Seq("band_idx", "band_key"), maxBucket, "lsh_buckets")
      .select(col("id").as("corpus_id"), col("band_idx"), col("band_key"))
      .join(incomingKeys.select(col("id").as("incoming_id"), col("band_idx"), col("band_key")), Seq("band_idx", "band_key"))
      .select("corpus_id", "incoming_id")
      .distinct()
    cand
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sh").as("sh_c")), Seq("corpus_id"))
      .join(incomingSigs.select(col("id").as("incoming_id"), col("sh").as("sh_i")), Seq("incoming_id"))
      .withColumn("jaccard", TextOps.jaccardSorted(col("sh_c"), col("sh_i")))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "incoming_id", "jaccard")
  }

  def embeddingPairsAgainst(corpus: DataFrame, incoming: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, nbits: Int = 12, maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    def side(s: DataFrame, name: String, obsName: String) = capBuckets(
      Dedup.embeddingSignatures(s, idCol, vecCol, dim, nbits)
        .select(col("id").as(s"${name}_id"), col("v").as(s"_v_$name"), col("bucket")),
      Seq("bucket"), maxBucket, obsName)
    side(corpus, "corpus", "lsh_buckets")
      .join(side(incoming, "incoming", "lsh_buckets_incoming"), Seq("bucket"))
      .select(col("corpus_id"), col("incoming_id"), Similarity.cosine(col("_v_corpus"), col("_v_incoming")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  def substringSpanPairs(docs: DataFrame, idCol: String, textCol: String, k: Int = 50,
      maxBucket: Int = Dedup.DefaultMaxBucket, hashedCarrier: Boolean = true): DataFrame = {
    val spans = docs
      .select(col(idCol).as("id"), TextOps.lowerWords(col(textCol)).as("_w"))
      .select(col("id"), explode(TextOps.wordNgramsOf(col("_w"), k)).as("span"))
    val keyed = spans.withColumn("g", if (hashedCarrier) xxhash64(col("span")) else col("span"))
    // one capped frame self-joined: the observe node is the same subtree on
    // both sides, so the metric name stays unique in the plan
    val capped = capBuckets(keyed, Seq("g"), maxBucket, "span_buckets")
    capped.select(col("g"), col("id").as("id_a"), col("span"))
      .join(capped.select(col("g"), col("id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_spans"), min("span").as("sample_span"))
  }
}
