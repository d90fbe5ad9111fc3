package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextOps}

/** The Window-cap plus self-join LSH kernels that `Dedup`'s bucket-
  * aggregate kernels replaced, kept as their differential reference: a
  * Window count over the bucket key, observed drops, then a band-key
  * self-join with `a.id < b.id`.
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
}
