package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BucketMembersAgg
import graft.ops.Dedup

/** The bucket-aggregate LSH kernels against the Window-cap plus join
  * reference ([[DedupReference]]): same pairs, same observed drops, and
  * drops equal to a plain-Scala sum of over-cap bucket sizes.
  */
class LshBucketSpec extends SparkSpec {

  import spark.implicits._

  /** Observed `lsh_dropped_rows` of the named cap after an action on `df`. */
  private def drops(df: DataFrame, name: String): Long = {
    val m = df.queryExecution.observedMetrics(name)
    if (m.isNullAt(0)) 0L else m.getLong(0)
  }

  /** Sorted rows and the named caps' observed drops of one action. */
  private def runCaps(df: DataFrame, names: String*): (Seq[String], Seq[Long]) = {
    val rows = df.collect().map(_.toString).toSeq.sorted
    (rows, names.map(drops(df, _)))
  }

  /** Rows and the observed `lsh_buckets` drops of one action. */
  private def run(df: DataFrame): (Seq[String], Seq[Long]) = runCaps(df, "lsh_buckets")

  /** Σ sizes of the buckets over the cap, counted in plain Scala; a null key
    * component counts like any key (it never pairs, but it is dropped).
    */
  private def localDrops(bucketKeys: Seq[Seq[Any]], cap: Int): Long =
    bucketKeys.groupBy(identity).values.map(_.size.toLong).filter(_ > cap).sum

  private def assertSameCaps(name: String, got: (Seq[String], Seq[Long]), want: (Seq[String], Seq[Long]),
      sums: Seq[Long]): Unit = {
    assert(got._1 == want._1, s"$name pairs differ:\n${got._1.diff(want._1).take(10)}\nvs\n${want._1.diff(got._1).take(10)}")
    assert(got._2 == want._2, s"$name: observed drops ${got._2}, reference ${want._2}")
    assert(got._2 == sums, s"$name: observed drops ${got._2}, plain-Scala sums $sums")
  }

  private def assertSame(name: String, got: (Seq[String], Seq[Long]), want: (Seq[String], Seq[Long]), drops: Long): Unit =
    assertSameCaps(name, got, want, Seq(drops))

  private val rnd = new scala.util.Random(29)

  test("BucketMembersAgg: serialize round trip; n = cap kept, cap + 1 dropped across partial merges") {
    val st = StructType(Seq(StructField("id", LongType), StructField("tag", org.apache.spark.sql.types.StringType)))
    val cap = 5
    val agg = BucketMembersAgg(BoundReference(0, st, nullable = false), cap)
    def in(i: Long) = InternalRow(InternalRow(i, UTF8String.fromString(s"m$i")))
    def members(b: BucketMembersAgg.Buffer) = Option(b.members).map(_.map(r => (r.getLong(0), r.getUTF8String(1).toString)).toSet)
    def partial(ids: Seq[Long]) = ids.foldLeft(agg.createAggregationBuffer())((b, i) => agg.update(b, in(i)))
    val rt = agg.deserialize(agg.serialize(partial(Seq(1L, 2L, 3L))))
    assert(rt.n == 3 && members(rt).contains(Set((1L, "m1"), (2L, "m2"), (3L, "m3"))))
    val over = agg.deserialize(agg.serialize(partial(1L to 6L)))
    assert(over.n == 6 && over.members == null)
    // n = cap from three partials (each shipped through serialize) is kept
    val kept = Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)).map(p => agg.deserialize(agg.serialize(partial(p))))
      .reduce(agg.merge)
    assert(kept.n == cap && members(kept).map(_.map(_._1)).contains((1L to 5L).toSet))
    val ev = agg.eval(kept).asInstanceOf[InternalRow]
    assert(ev.getLong(0) == cap && ev.getArray(1).numElements() == cap)
    // cap + 1: no partial is over the cap on its own, the merge drops it
    val dropped = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)).map(partial).reduce(agg.merge)
    assert(dropped.n == cap + 1 && dropped.members == null)
    assert(agg.eval(dropped).asInstanceOf[InternalRow].isNullAt(1))
    // over-cap on the merged-in side alone also drops
    assert(agg.merge(partial(Seq(1L)), over).members == null)

    // The same through Spark: one bucket spread over 4 partitions
    for (n <- Seq(cap, cap + 1)) {
      val df = (1L to n).map(i => (7L, i)).toDF("k", "id").repartition(4, col("id"))
      val r = df.groupBy("k").agg(BucketMembersAgg.members(struct(col("id")), cap).as("b")).select("b.n", "b.members").head()
      assert(r.getLong(0) == n)
      if (n <= cap) assert(r.getSeq[Row](1).map(_.getLong(0)).toSet == (1L to n).toSet)
      else assert(r.isNullAt(1))
    }
  }

  test("phash/simhash pairs ≡ Window-cap self-join reference, incl. null keys, null and duplicated ids") {
    val base = (0L until 300L).map(i => (Option(i), Option(rnd.nextLong())))
    val near = (0L until 40L).map(i => (Option(1000L + i), base(i.toInt)._2.map(_ ^ (1L << rnd.nextInt(64)) ^ (1L << rnd.nextInt(64)))))
    val hot60 = (0L until 60L).map(i => (Option(2000L + i), Option(0x1111111111111111L ^ (if (i % 3 == 0) 1L << 40 else 0L))))
    val hot30 = (0L until 30L).map(i => (Option(3000L + i), Option(0x2222222222222222L)))
    val nullSig = (0L until 25L).map(i => (Option(4000L + i), Option.empty[Long]))
    val nullId = (0L until 5L).map(_ => (Option.empty[Long], Option(0x2222222222222222L)))
    val dupId = Seq((Option(5L), Option(0x1111111111111111L)), (Option(2001L), Option(0x2222222222222223L)))
    val rows = base ++ near ++ hot60 ++ hot30 ++ nullSig ++ nullId ++ dupId
    val df = rows.toDF("image_id", "phash").repartition(3)
    val keys = rows.flatMap { case (_, s) => (0 until 4).map(b => Seq[Any](b, s.map(v => (v >> (16 * b)) & 0xffffL).orNull)) }
    for (cap <- Seq(20, 30, 45, 100)) {
      assertSame(s"phash cap=$cap",
        run(Dedup.phashPairs(df, "image_id", "phash", maxBucket = cap)),
        run(DedupReference.phashPairs(df, "image_id", "phash", maxBucket = cap)),
        localDrops(keys, cap))
    }

    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text() = Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" ")
    val docs0 = (0L until 200L).map(i => (Option(i), Option(text())))
    val docs = docs0 ++ docs0.take(30).map { case (i, t) => (i.map(_ + 1000L), t.map(_ + " nu")) } ++
      (0L until 50L).map(i => (Option(2000L + i), Option("the same hot caption"))) ++
      Seq((Option.empty[Long], Option("the same hot caption")), (Option(3000L), Option.empty[String]))
    val tdf = docs.toDF("doc_id", "text").repartition(3)
    val sigs = tdf.select(graft.ops.TextOps.simhash64(graft.ops.TextOps.tokens(col("text")))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val skeys = sigs.toSeq.flatMap(s => (0 until 4).map(b => Seq[Any](b, s.map(v => (v >> (16 * b)) & 0xffffL).orNull)))
    for (cap <- Seq(10, 49, 51)) {
      assertSame(s"simhash cap=$cap",
        run(Dedup.simhashPairs(tdf, "doc_id", "text", maxBucket = cap)),
        run(DedupReference.simhashPairs(tdf, "doc_id", "text", maxBucket = cap)),
        localDrops(skeys, cap))
    }
  }

  test("minhash pairs ≡ Window-cap self-join reference, incl. null text, null and duplicated ids") {
    val words = Vector("river", "stone", "cloud", "ember", "frost", "grove", "harbor", "island", "jade", "kite",
      "lantern", "meadow", "north", "orchid", "pepper", "quartz")
    def text() = Seq.fill(10 + rnd.nextInt(10))(words(rnd.nextInt(words.length))).mkString(" ")
    val docs0 = (0L until 200L).map(i => (Option(i), Option(text())))
    val docs = docs0 ++ docs0.take(40).map { case (i, t) => (i.map(_ + 1000L), t.map(_ + " x")) } ++
      (0L until 60L).map(i => (Option(2000L + i), Option("a short hot text repeated"))) ++
      (0L until 25L).map(i => (Option(3000L + i), Option("abc"))) ++ // fewer than k chars: empty shingle set
      Seq((Option.empty[Long], Option("a short hot text repeated")), (Option(4000L), Option.empty[String]),
        (Option(7L), docs0(8)._2), (Option(1003L), Option("a short hot text repeated")))
    val df = docs.toDF("doc_id", "text").repartition(3)
    val bands = Dedup.minhashSignatures(df, "doc_id", "text", 5, 32, 16).select("bands").collect()
      .flatMap(r => if (r.isNullAt(0)) Nil else r.getSeq[Long](0).zipWithIndex.map { case (k, b) => Seq[Any](b, k) })
    for (cap <- Seq(20, 26, 61, 500)) {
      assertSame(s"minhash cap=$cap",
        run(Dedup.minhashPairs(df, "doc_id", "text", numHashes = 32, numBands = 16, threshold = 0.5, maxBucket = cap)),
        run(DedupReference.minhashPairs(df, "doc_id", "text", numHashes = 32, numBands = 16, threshold = 0.5, maxBucket = cap)),
        localDrops(bands.toSeq, cap))
    }
  }

  test("embedding pairs ≡ Window-cap self-join reference, incl. null vectors and null ids") {
    val dim = 16
    def vec() = Seq.fill(dim)(rnd.nextFloat() - 0.5f)
    val base = (0L until 200L).map(i => (Option(i), Option(vec())))
    val near = base.take(30).map { case (i, v) => (i.map(_ + 1000L), v.map(_.map(_ * 1.001f))) }
    val hot = (0L until 40L).map(i => (Option(2000L + i), Option(Seq.fill(dim)(0.25f))))
    val nulls = Seq((Option.empty[Long], Option(Seq.fill(dim)(0.25f))), (Option(3000L), Option.empty[Seq[Float]]))
    val df = (base ++ near ++ hot ++ nulls).toDF("vec_id", "embedding").repartition(3)
    val buckets = Dedup.embeddingSignatures(df, "vec_id", "embedding", dim, 4).select("bucket").collect()
      .map(r => Seq[Any](if (r.isNullAt(0)) null else r.get(0))).toSeq
    for (cap <- Seq(10, 41, 1000)) {
      assertSame(s"embedding cap=$cap",
        run(Dedup.embeddingPairs(df, "vec_id", "embedding", dim, threshold = 0.9, nbits = 4, maxBucket = cap)),
        run(DedupReference.embeddingPairs(df, "vec_id", "embedding", dim, threshold = 0.9, nbits = 4, maxBucket = cap)),
        localDrops(buckets, cap))
    }
  }

  test("cross-side and span caps: observed drops equal a plain-Scala sum of over-cap bucket sizes") {
    val words = Vector("amber", "birch", "cedar", "dune", "elm", "fern", "gale", "heath", "ivy", "juniper", "kelp", "larch")
    def text() = Seq.fill(10 + rnd.nextInt(10))(words(rnd.nextInt(words.length))).mkString(" ")
    val corpus0 = (0L until 150L).map(i => (Option(i), Option(text())))
    val corpus = (corpus0 ++ (0L until 40L).map(i => (Option(500L + i), Option("one hot corpus caption"))) :+
      ((Option.empty[Long], Option("one hot corpus caption")))).toDF("doc_id", "text").repartition(3)
    val incoming = (corpus0.take(30).map { case (i, t) => (i.map(_ + 1000L), t.map(_ + " oak")) } ++
      (0L until 25L).map(i => (Option(2000L + i), Option("one hot corpus caption"))) ++
      (0L until 30L).map(i => (Option(3000L + i), Option(text())))).toDF("doc_id", "text").repartition(2)
    def bandKeys(df: DataFrame) = Dedup.minhashSignatures(df, "doc_id", "text", 5, 32, 16).select("bands").collect()
      .toSeq.flatMap(r => if (r.isNullAt(0)) Nil else r.getSeq[Long](0).zipWithIndex.map { case (k, b) => Seq[Any](b, k) })
    val lsh = Seq("lsh_buckets", "lsh_buckets_incoming")
    val (csigs, isigs) = (Dedup.minhashSignatures(corpus, "doc_id", "text", 5, 32, 16),
      Dedup.minhashSignatures(incoming, "doc_id", "text", 5, 32, 16))
    val thresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prevThreshold = spark.conf.getOption(thresholdKey)
    try for (cap <- Seq(20, 30, 45)) {
      val got = runCaps(Dedup.minhashPairsAgainst(corpus, incoming, "doc_id", "text", numHashes = 32, numBands = 16,
        threshold = 0.5, maxBucket = cap), lsh: _*)
      assert(got._1.nonEmpty)
      assertSameCaps(s"minhash cap=$cap", got,
        runCaps(DedupReference.minhashPairsAgainst(corpus, incoming, "doc_id", "text", numHashes = 32, numBands = 16,
          threshold = 0.5, maxBucket = cap), lsh: _*),
        Seq(localDrops(bandKeys(corpus), cap), localDrops(bandKeys(incoming), cap)))
      // pruned probe: the corpus cap sees only the buckets the batch's band
      // keys select, so its drops are checked against the reference alone
      val pruned = runCaps(Dedup.minhashPairsAgainstSignatures(csigs, isigs, 0.5, cap,
        Some(Dedup.explodedBandKeys(csigs)), pruneBandKeysLimit = 100000), lsh: _*)
      val prunedRef = runCaps(DedupReference.minhashPairsAgainstSignatures(csigs, isigs, 0.5, cap,
        Some(Dedup.explodedBandKeys(csigs)), pruneBandKeysLimit = 100000), lsh: _*)
      assertSameCaps(s"pruned minhash cap=$cap", pruned, prunedRef, prunedRef._2)
      assert(pruned._1 == got._1 && pruned._2(1) == got._2(1), s"pruned and unpruned probes differ at cap=$cap")
    } finally prevThreshold.fold(spark.conf.unset(thresholdKey))(spark.conf.set(thresholdKey, _))

    val dim = 16
    def vec() = Seq.fill(dim)(rnd.nextFloat() - 0.5f)
    val ecorpus = ((0L until 150L).map(i => (Option(i), Option(vec()))) ++
      (0L until 35L).map(i => (Option(500L + i), Option(Seq.fill(dim)(0.25f)))) :+
      ((Option(900L), Option.empty[Seq[Float]]))).toDF("vec_id", "embedding").repartition(3)
    val eincoming = ((0L until 20L).map(i => (Option(2000L + i), Option(Seq.fill(dim)(0.25f)))) ++
      (0L until 60L).map(i => (Option(3000L + i), Option(vec())))).toDF("vec_id", "embedding").repartition(2)
    def buckets(df: DataFrame) = Dedup.embeddingSignatures(df, "vec_id", "embedding", dim, 4).select("bucket").collect()
      .toSeq.map(r => Seq[Any](if (r.isNullAt(0)) null else r.get(0)))
    for (cap <- Seq(8, 19, 36)) {
      assertSameCaps(s"embedding cap=$cap",
        runCaps(Dedup.embeddingPairsAgainst(ecorpus, eincoming, "vec_id", "embedding", dim, threshold = 0.9,
          nbits = 4, maxBucket = cap), lsh: _*),
        runCaps(DedupReference.embeddingPairsAgainst(ecorpus, eincoming, "vec_id", "embedding", dim, threshold = 0.9,
          nbits = 4, maxBucket = cap), lsh: _*),
        Seq(localDrops(buckets(ecorpus), cap), localDrops(buckets(eincoming), cap)))
    }

    val boiler = "all rights reserved by the owners of this fine image collection"
    val sdocs = ((0L until 60L).map(i => (Option(i), Option(s"${text()} $boiler ${text()}"))) ++
      (0L until 40L).map(i => (Option(100L + i), Option(text())))).toDF("doc_id", "text").repartition(3)
    val spanRows = sdocs.select(col("doc_id"),
      explode(graft.ops.TextOps.wordNgrams(col("text"), 4)).as("span"))
      .collect().toSeq.map(r => Seq[Any](r.getString(1)))
    for (cap <- Seq(10, 59, 61); hashed <- Seq(true, false)) {
      val got = runCaps(Dedup.substringSpanPairs(sdocs, "doc_id", "text", k = 4, maxBucket = cap, hashedCarrier = hashed),
        "span_buckets")
      assert(got._1.nonEmpty)
      assertSameCaps(s"span cap=$cap hashed=$hashed", got,
        runCaps(DedupReference.substringSpanPairs(sdocs, "doc_id", "text", k = 4, maxBucket = cap, hashedCarrier = hashed),
          "span_buckets"),
        Seq(localDrops(spanRows, cap)))
    }
  }

  test("semanticPairs registers each spill directory for deletion at JVM exit") {
    val spill = java.nio.file.Files.createTempDirectory("graft_spill_exit")
    val key = "spark.graft.spill.dir"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, spill.toString)
    val fs = new org.apache.hadoop.fs.Path(spill.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // two coarse cells of ~100 rows over maxBucket = 40: round 1 and a
      // re-split round each spill once
      val embs = (0L until 200L).map(i => (i, Seq.fill(8)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
      Dedup.semanticPairs(embs, "vec_id", "embedding", targetClusterSize = 16, maxBucket = 40, coarseSeeds = 2).count()
      val dirs = spill.toFile.list().toSeq.sorted
      assert(dirs.size >= 2 && dirs.forall(_.startsWith("lsh-semdedup-")), s"spill directories: $dirs")
      dirs.foreach { d =>
        assert(fs.cancelDeleteOnExit(new org.apache.hadoop.fs.Path(spill.toString, d)), s"$d is not deleted at exit")
      }
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      fs.delete(new org.apache.hadoop.fs.Path(spill.toString), true)
    }
  }

  test("LSH kernels leave no cache entry and no spill directory behind") {
    def cached = org.apache.spark.sql.GraftTestAccess.cachedEntries(spark)
    val spill = java.nio.file.Files.createTempDirectory("graft_spill_hygiene")
    val key = "spark.graft.spill.dir"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, spill.toString)
    try {
      val before = cached
      val imgs = (0L until 200L).map(i => (i, rnd.nextLong() & ~0xfL | (i % 3))).toDF("image_id", "phash")
      Dedup.phashPairs(imgs, "image_id", "phash").count()
      val docs = (0L until 100L).map(i => (i, s"caption number ${i % 40} of the hygiene corpus")).toDF("doc_id", "text")
      Dedup.minhashPairs(docs, "doc_id", "text").count()
      val embs = (0L until 100L).map(i => (i, Seq.fill(8)((i % 7).toFloat + 0.5f))).toDF("vec_id", "embedding")
      Dedup.embeddingPairs(embs, "vec_id", "embedding", dim = 8).count()
      Dedup.minhashPairsAgainst(docs, docs.limit(10), "doc_id", "text").count()
      Dedup.embeddingPairsAgainst(embs, embs.limit(10), "vec_id", "embedding", dim = 8).count()
      Dedup.substringSpanPairs(docs, "doc_id", "text", k = 3).count()
      assert(cached == before, s"cache entries $cached, before $before")
      val left = spill.toFile.list().toSeq
      assert(left.isEmpty, s"spill directories left behind: $left")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
