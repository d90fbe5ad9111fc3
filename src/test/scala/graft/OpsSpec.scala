package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextOps}

class OpsSpec extends SparkSpec {

  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("tokens and tokenCount handle empties and runs of whitespace") {
    val df = Seq("", "  ", "one", " a  b\tc ").toDF("t")
    val got = df.select(TextOps.tokenCount(col("t"))).as[Int].collect()
    assert(got.toSeq == Seq(0, 0, 1, 3))
  }

  test("shingles match a reference implementation") {
    val got = Seq("abcdef").toDF("t").select(TextOps.shingles(col("t"), 3)).as[Seq[String]].collect()(0)
    assert(got.toSet == Set("abc", "bcd", "cde", "def"))
    val short = Seq("ab").toDF("t").select(TextOps.shingles(col("t"), 3)).as[Seq[String]].collect()(0)
    assert(short.isEmpty)
  }

  test("jaccard matches exact set computation") {
    val df = Seq(("abcd", "bcde")).toDF("x", "y")
    val got = df.select(TextOps.jaccard(TextOps.shingles(col("x"), 2), TextOps.shingles(col("y"), 2))).as[Double].collect()(0)
    // shingles(abcd,2)={ab,bc,cd}, shingles(bcde,2)={bc,cd,de}: inter 2, union 4
    assert(math.abs(got - 0.5) < 1e-9)
  }

  test("bandKeys hoisted-prime decomposition ≡ XXH64.hashLong reference, incl. nulls/empties") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(17)
    val cases: Seq[Array[java.lang.Long]] =
      Seq(Array.empty[java.lang.Long], Array[java.lang.Long](0L), Array[java.lang.Long](null, 5L, null)) ++
        (0 until 200).map(_ => Array.tabulate[java.lang.Long](rnd.nextInt(80)) { _ =>
          if (rnd.nextInt(20) == 0) null else java.lang.Long.valueOf(rnd.nextLong())
        })
    for (arr <- cases; (nh, nb) <- Seq((64, 16), (64, 32), (32, 16), (8, 8))) {
      val in = new GenericArrayData(arr.asInstanceOf[Array[Any]])
      val fast = graft.functions.MinHashUtil.bandKeys(in, graft.functions.MinHashUtil.laneBases(nh), nb).toLongArray()
      val ref = MinHashReference.bandKeysReference(in, nh, nb).toLongArray()
      assert(fast.sameElements(ref), s"nh=$nh nb=$nb n=${arr.length}")
    }
  }

  test("HashedShinglesSorted ≡ array_sort(hashedShingles) incl. multibyte text") {
    import org.apache.spark.sql.functions.array_sort
    val rnd = new scala.util.Random(11)
    val alphabet = "abc def ghi ñü中文 🎈xyz "
    val cases = Seq("", "ab", "abcde", null, "中文中文中文", "a b c d e f") ++
      (0 until 300).map(_ => (0 until rnd.nextInt(60)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = cases.toDF("t")
    for (k <- Seq(3, 5)) {
      val got = df.select(
        graft.functions.TextHash.hashedShinglesSorted(col("t"), k).as("fast"),
        array_sort(TextOps.hashedShingles(col("t"), k)).as("ref")
      ).collect()
      got.zip(cases).foreach { case (r, src) =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch k=$k on '$src'")
        if (!r.isNullAt(0))
          assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k mismatch on '$src'")
      }
    }
  }

  test("minhash signature estimates jaccard") {
    val texts = docs.limit(20).select(col("doc_id"), col("text"))
    val withSig = texts
      .withColumn("sh", TextOps.shingles(col("text"), 5))
      .withColumn("sig", TextOps.minhashSignature(col("sh"), 128))
    val pairs = withSig.as("a").crossJoin(withSig.as("b")).filter(col("a.doc_id") < col("b.doc_id"))
    val est = pairs.select(
      TextOps.jaccard(col("a.sh"), col("b.sh")).as("exact"),
      (size(zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)).cast("array<int>"))
        .cast("double") * 0 + aggregate(zip_with(col("a.sig"), col("b.sig"), (x, y) => when(x === y, 1).otherwise(0)), lit(0), (a, b) => a + b).cast("double") / 128).as("est")
    ).collect()
    est.foreach { r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.15, s"exact=${r.getDouble(0)} est=${r.getDouble(1)}") }
  }

  test("exact dedup keeps lowest id per duplicate text") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"), (4L, "same text")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("n") == 3)
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = docs.select(col("doc_id"), col("text"))
    // plant: copy of doc with a tiny suffix edit → very high jaccard
    val nearDups = base
      .filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit(" x")).as("text"))
    val corpus = base.unionByName(nearDups)
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", shingleK = 5, numHashes = 64, numBands = 16, threshold = 0.7)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 5L).foreach { i => assert(found.contains((i, i + 100000)), s"missing planted pair $i") }
    // ground truth: brute-force all-pairs exact jaccard (the corpus's tiny
    // vocab makes some distinct docs genuinely similar — they SHOULD pair)
    val sh = corpus.select(col("doc_id"), TextOps.shingles(col("text"), 5).as("sh"))
    val truth = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"), TextOps.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.7).select("ia", "ib").as[(Long, Long)].collect().toSet
    // soundness: every reported pair is in the exact-jaccard truth set
    assert(found.subsetOf(truth), s"unsound pairs: ${found.diff(truth)}")
    // recall at j>=0.8 is ~1 for (64,16)-banding
    val high = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"), TextOps.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.8).select("ia", "ib").as[(Long, Long)].collect().toSet
    val recall = if (high.isEmpty) 1.0 else high.intersect(found).size.toDouble / high.size
    assert(recall >= 0.95, s"recall@0.8=$recall missing=${high.diff(found)}")
  }

  test("degenerate LSH bucket is capped: pair count bounded, healthy pairs kept") {
    // 400 identical docs shingle to ONE signature → one band bucket of 400
    // members → 79,800 candidate pairs uncapped. The cap drops the bucket.
    val degenerate = (0 until 400).map(i => (i.toLong, "aaaa bbbb cccc dddd eeee"))
    val healthy = Seq(
      (500L, "the quick brown fox jumps over the lazy dog"),
      (501L, "the quick brown fox jumps over the lazy dog x")
    )
    val corpus = (degenerate ++ healthy).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashPairs(corpus, "doc_id", "text", shingleK = 5, numHashes = 32, numBands = 16, threshold = 0.7, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((500L, 501L)), "healthy planted pair lost to the cap")
    assert(pairs.size <= 100, s"degenerate bucket not capped: ${pairs.size} pairs")
    // and the same corpus with a generous cap does explode — the cap is load-bearing
    val uncapped = Dedup
      .minhashPairs(corpus, "doc_id", "text", shingleK = 5, numHashes = 32, numBands = 16, threshold = 0.7, maxBucket = 1000)
      .count()
    assert(uncapped > 50000L, s"expected quadratic blowup without cap, got $uncapped")
  }

  test("simhash: identical → distance 0; planted near-dups found") {
    val base = docs.select(col("doc_id"), col("text"))
    val nearDups = base
      .filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"), concat(col("text"), lit(" zz")).as("text"))
    val pairs = Dedup.simhashPairs(base.unionByName(nearDups), "doc_id", "text", maxHamming = 3)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 5L).foreach { i => assert(found.contains((i, i + 100000)), s"missing planted pair $i in $found") }
  }

  test("phash near-dup pairs: planted 1-bit neighbors found, far hashes skipped, hot buckets capped") {
    val base = Seq(
      (1L, 0x0123456789abcdefL),
      (2L, 0x0123456789abcdeeL), // 1 bit from id 1
      (3L, 0x0123456789abcdefL ^ 0x7L), // 3 bits from id 1
      (4L, 0xfedcba9876543210L) // far
    )
    val hot = (100L until 700L).map(i => (i, 0x1111111111111111L)) // one hot phash bucket
    val df = (base ++ hot).toDF("image_id", "phash")
    val pairs = Dedup.phashPairs(df, "image_id", "phash", maxHamming = 3, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 >= 100L), s"hot bucket not capped: ${pairs.size} pairs")
  }

  test("cosine matches a scala reference") {
    val df = Seq((Seq(1.0f, 0f, 0f), Seq(0.6f, 0.8f, 0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()(0)
    assert(math.abs(got - 0.6) < 1e-6)
  }

  test("brute-force topk ranks by cosine with deterministic ties") {
    val data = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)), (4L, Seq(-1f, 0f))
    ).toDF("vec_id", "embedding")
    val q = Seq((100L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(data, q, "vec_id", "vec_id", "embedding", 2)
      .orderBy("rank").select("data_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("IVF ANN recall@10 >= 0.7 vs brute force on real embeddings") {
    val queries = embs.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(embs, queries, "vec_id", "vec_id", "embedding", 10)
      .select("query_id", "data_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.IvfIndex.fit(embs, "vec_id", "embedding", numCentroids = 8)
    val approx = ivf.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3)
      .select("query_id", "data_id").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.map { case (q, ids) => approx.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall $mean")
  }

  test("IVF index: save/load round-trip serves identical top-k; big query sets probe without broadcast") {
    val queries = embs.filter(col("vec_id") < 8)
    val ivf = Similarity.IvfIndex.fit(embs, "vec_id", "embedding", numCentroids = 8)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "data_id", "rank").as[(Long, Long, Int)].collect().toSet
    val direct = collect(ivf.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3))
    // fit once → store as snapshot-log tables → reload → identical top-k
    val log = new graft.table.SnapshotLog(
      java.nio.file.Files.createTempDirectory("graft_ivf").toString,
      spark.sparkContext.hadoopConfiguration)
    Similarity.IvfIndex.save(spark, log, ivf)
    val reloaded = Similarity.IvfIndex.load(spark, log)
    assert(collect(reloaded.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3)) == direct,
      "reloaded index diverged from the fitted one")
    // forced-shuffle probe: same results, no broadcast of the query side
    val shuffled = reloaded.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3,
      broadcastQueries = Some(false))
    assert(collect(shuffled) == direct)
    assert(!shuffled.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "forced-shuffle probe still broadcast")
    // forced-broadcast ≡ forced-shuffle (the two extreme join strategies
    // must agree row-for-row — the Bench ivfpanel measurement's invariant)
    val bcast = reloaded.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3,
      broadcastQueries = Some(true))
    assert(collect(bcast) == direct, "forced-broadcast probe diverged")
    // a re-save (weekly refit) REPLACES the stored index atomically: new
    // sequence-stamped dirs (old snapshots keep their files), tablesReplaced
    // stops the chain walk (no unioned duplicate assignments)
    Similarity.IvfIndex.save(spark, log, ivf)
    val resaved = Similarity.IvfIndex.load(spark, log)
    assert(resaved.assigned.count() == reloaded.assigned.count(), "re-save doubled the assignments")
    assert(collect(resaved.topK(queries, "vec_id", "embedding", k = 10, nprobe = 3)) == direct)
    // a 10^5-query panel completes through the shuffle path (the shape that
    // would exceed the broadcast limit at production query counts)
    val wide = (0 until 100000).map(_.toLong).toDF("qid")
      .join(embs.limit(50).select(col("vec_id"), col("embedding")), col("qid") % 50 === col("vec_id"))
      .select(col("qid").as("vec_id"), col("embedding"))
    val bigProbe = reloaded.topK(wide, "vec_id", "embedding", k = 3, nprobe = 2,
      broadcastQueries = Some(false))
    assert(bigProbe.count() == 100000L * 3)
  }

  test("PII redaction: emails and IPs counted and replaced, clean text untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+x@corp.example.org or 192.168.1.12 today"),
      (2L, "no pii here, just 1.2 version numbers and an @ sign"),
      (3L, "two mails a@b.io c@d.net one ip 10.0.0.1"),
      (4L, "mail 1.2.3.4@host.example.com end") // IP-shaped local part: ONE email, zero IPs
    ).toDF("doc_id", "text")
    val got = TextOps.redactPii(df, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1L, 1L, "write to [EMAIL] or [IP] today")))
    assert(got(1)._2 == 0L && got(1)._3 == 0L && got(1)._4.contains("@ sign"))
    assert(got(2) == ((3L, 2L, 1L, "two mails [EMAIL] [EMAIL] one ip [IP]")))
    assert(got(3) == ((4L, 1L, 0L, "mail [EMAIL] end")), "counts must match what was redacted")
  }

  test("repetition signals: hand-computed Gopher counts") {
    import spark.implicits._
    // "a b a b a": words=5 distinct=2; 2-grams = [a b, b a, a b, b a] →
    // 4 total, max count 2, all 4 occurrences are of duplicated grams
    val df = Seq((1L, "a b a b a"), (2L, "x y z"), (3L, "solo")).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 2L, 4L, 2L, 4L),
      (2L, 3L, 3L, 2L, 1L, 0L) // "solo" has no 2-grams → excluded
    ), s"got $got")
  }

  test("decontamination: 13-gram overlap flags the leaked doc, clean docs survive") {
    import spark.implicits._
    val leaked = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike extra words here"
    val benchmark = Seq(
      (900L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"),
      (901L, "one two three four five six seven eight nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, leaked), // contains benchmark 900's full 13-gram
      (2L, "totally unrelated text with none of those words in it at all whatsoever agreed"),
      (3L, "one two three four five six seven DIFFERENT eight nine ten eleven twelve thirteen") // broken 13-gram
    ).toDF("doc_id", "text")
    val hits = TextOps.contaminatedDocs(corpus, "doc_id", "text", benchmark, "text", n = 13)
      .as[(Long, Long)].collect().toMap
    assert(hits.keySet == Set(1L), s"expected only the leaked doc, got $hits")
    assert(hits(1L) == 1L) // exactly one shared 13-gram
    // string and hashed carriers agree
    val str = TextOps.contaminatedDocs(corpus, "doc_id", "text", benchmark, "text", n = 13, hashedCarrier = false)
      .as[(Long, Long)].collect().toMap
    assert(str == hits)
  }

  test("semantic dedup: exact and perturbed planted dups found via k-means clusters") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dup = embs.filter(col("vec_id") === 0).select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    // tiny deterministic perturbation: cosine ≈ 0.999+, same nearest centroid
    val base = embs.filter(col("vec_id") === 1).select("embedding").collect()(0).getSeq[Float](0).toArray
    val near = base.zipWithIndex.map { case (v, i) => v + (if (i % 2 == 0) 1e-3f else -1e-3f) }
    val nearRow = spark.createDataFrame(
      java.util.Collections.singletonList(Row(200000L, near.toSeq)),
      StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
    val pairs = Dedup.semanticPairs(
      embs.unionByName(dup).unionByName(nearRow, allowMissingColumns = true),
      "vec_id", "embedding", threshold = 0.99, targetClusterSize = 256)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 100000L)), s"planted exact dup not found: $found")
    assert(found.contains((1L, 200000L)), s"perturbed near-dup not found: $found")
    // nothing else in this synthetic space is that close
    assert(found.size == 2, s"false positives: $found")
  }

  test("pruneListByScore: highest score kept per group, ties to min id, unscored never beats scored") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    // group {1,2,3}: 2 has top score; group {10,11}: tie -> min id 10;
    // group {20,21}: 21 unscored -> 20 kept despite lower id order reversal
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (10L, 4.0), (11L, 4.0), (20L, 1.0)).toDF("doc_id", "score")
    val prune = Dedup.pruneListByScore(pairs, scores, "doc_id", "score")
    val got = prune.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 2L, 11L -> 10L, 21L -> 20L), got.toString)
    // the one-call finish: corpus minus the drop side, keepers + singletons survive
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 99L).toDF("doc_id")
    val clean = Dedup.applyPrune(corpus, "doc_id", prune).as[Long].collect().toSet
    assert(clean == Set(2L, 10L, 20L, 99L), clean.toString)
  }

  test("incremental near-dup: cross-side pairs only; corpus self-dups never reported") {
    // corpus contains an INTERNAL dup pair (0 ≅ 90000) that must NOT
    // surface; incoming contains one exact copy of corpus row 1 and one
    // far-away random row.
    val corpusDup = embs.filter(col("vec_id") === 0)
      .select((col("vec_id") + 90000).as("vec_id"), col("embedding"))
    val corpus = embs.select("vec_id", "embedding").unionByName(corpusDup)
    val rnd = new scala.util.Random(31)
    val randomRow = Seq((600000L, Seq.fill(64)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    val incoming = embs.filter(col("vec_id") === 1)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
      .unionByName(randomRow)
    val pairs = Dedup.embeddingPairsAgainst(corpus, incoming, "vec_id", "embedding", dim = 64, threshold = 0.999)
      .select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 500001L)), s"expected exactly the planted cross pair: $pairs")
  }

  test("incremental text dedup: cross-side pairs only; corpus self-dups never reported") {
    val corpus = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
      .unionByName( // internal corpus dup (doc 0 copied) — must NOT surface
        docs.filter(col("doc_id") === 0).select((col("doc_id") + 70000).as("doc_id"), col("text")))
    val incoming = docs.filter(col("doc_id") === 3)
      .select((col("doc_id") + 80000).as("doc_id"), concat(col("text"), lit(" qz")).as("text"))
      .unionByName(Seq((90000L, "zzz completely unrelated text qqq xxx yyy www vvv uuu ttt sss")).toDF("doc_id", "text"))
    val pairs = Dedup.minhashPairsAgainst(corpus, incoming, "doc_id", "text", threshold = 0.8)
      .select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 80003L)), s"planted cross pair not found: $pairs")
    assert(!pairs.exists(_._2 == 90000L), s"unrelated incoming doc matched: $pairs")
    assert(pairs.forall(_._2 >= 80000L), s"non-incoming ids on the incoming side: $pairs")
  }

  test("incremental dedup: a STORED corpus signature table serves successive batches identically") {
    // The write-once/reuse-forever contract: corpus signatures built once,
    // round-tripped through parquet, then fed to two different batches —
    // results must equal the one-shot convenience API's.
    val corpus = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val stored = java.nio.file.Files.createTempDirectory("graft_sigs").toString
    Dedup.minhashSignatures(corpus, "doc_id", "text").write.mode("overwrite").parquet(stored)
    val corpusSigs = spark.read.parquet(stored)
    def batch(ids: Seq[Long], suffix: String) = docs.filter(col("doc_id").isin(ids: _*))
      .select((col("doc_id") + 80000).as("doc_id"), concat(col("text"), lit(suffix)).as("text"))
    for ((ids, sfx) <- Seq((Seq(3L, 6L), " qz"), (Seq(9L), " zz"))) {
      val viaStored = Dedup.minhashPairsAgainstSignatures(
        corpusSigs, Dedup.minhashSignatures(batch(ids, sfx), "doc_id", "text"))
        .select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
      val direct = Dedup.minhashPairsAgainst(corpus, batch(ids, sfx), "doc_id", "text")
        .select("corpus_id", "incoming_id").as[(Long, Long)].collect().toSet
      assert(viaStored == direct, s"stored-signature path diverged for batch $ids")
      ids.foreach(i => assert(viaStored.contains((i, i + 80000)), s"planted pair $i missing: $viaStored"))
    }
  }

  test("adaptiveBuckets: oversized coarse cells split recursively to ≤ maxBucket; identical vectors co-bucket") {
    val rnd = new scala.util.Random(17)
    val data = (0 until 2000).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f)))
    val dups = data.take(5).map { case (i, v) => (i + 10000L, v) }
    val df = (data ++ dups).toDF("id", "v")
    // coarseSeeds=2 forces round 1 to produce two ~1000-row cells (> maxBucket),
    // so the recursive rounds MUST fire to get every cell under the cap.
    val bucketed = Dedup.adaptiveBuckets(df, targetClusterSize = 128, maxBucket = 500, coarseSeeds = 2).cache()
    assert(bucketed.count() == 2005) // the quantizer itself never drops rows
    val sizes = bucketed.groupBy("bucket").count().as[(Long, Long)].collect()
    assert(sizes.length > 2, s"recursive split did not fire: ${sizes.length} cells")
    assert(sizes.forall(_._2 <= 500), s"oversized cells survived: ${sizes.filter(_._2 > 500).toSeq}")
    val byId = bucketed.select("id", "bucket").as[(Long, Long)].collect().toMap
    (0 until 5).foreach(i => assert(byId(i.toLong) == byId(i + 10000L), s"dup $i split across buckets"))
  }

  test("adaptiveBuckets assignment is independent of input partitioning") {
    // the quantizer's determinism claim: bucket ids are pure functions of
    // content (hash-sampled seeds, argmax assignment) — reshuffling the
    // input must not move a single row
    val rnd = new scala.util.Random(19)
    val data = (0 until 1500).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() - 0.5f))).toDF("id", "v")
    def buckets(df: org.apache.spark.sql.DataFrame) =
      Dedup.adaptiveBuckets(df, targetClusterSize = 64, maxBucket = 300, coarseSeeds = 4)
        .select("id", "bucket").as[(Long, Long)].collect().toMap
    assert(buckets(data) == buckets(data.repartition(7)), "bucketing changed under repartition")
  }

  test("adaptiveBuckets: rows matching no seed go to cell 0 together (round-1 nullity guard)") {
    // 700 identical dim-16 rows dominate the seed sample; dim-8 rows can
    // match no dim-16 seed (length-mismatched seeds are skipped) — the
    // guard must send them to cell 0 TOGETHER, not hash them apart
    // (round-4 advisory: the old coalesce-around-xxhash64 fallback was
    // dead code because xxhash64 skips null children)
    val big = (0 until 700).map(i => (i.toLong, Seq.fill(16)(0.5f)))
    val odd = (0 until 3).map(i => (1000L + i, Seq.fill(8)(0.25f * (i + 1))))
    val df = (big ++ odd).toDF("id", "v")
    val bucketed = Dedup.adaptiveBuckets(df, targetClusterSize = 64, maxBucket = 500, coarseSeeds = 8).cache()
    assert(bucketed.count() == 703)
    val oddBuckets = bucketed.filter(col("id") >= 1000).select("bucket").distinct().as[Long].collect().toSeq
    assert(oddBuckets == Seq(0L), s"dim-8 rows must co-bucket in cell 0: $oddBuckets")
  }

  test("adaptiveBuckets: a cell of >maxBucket EXACT duplicates is unsplittable and flows to the cap valve") {
    val mono = (0 until 600).map(i => (i.toLong, Seq.fill(16)(0.5f))).toDF("id", "v")
    val bucketed = Dedup.adaptiveBuckets(mono, targetClusterSize = 128, maxBucket = 500, coarseSeeds = 8).cache()
    assert(bucketed.count() == 600)
    // identical vectors always co-assign, so the cell can never split — it
    // must come back intact (the downstream bucket cap drops it OBSERVABLY)
    assert(bucketed.select("bucket").distinct().count() == 1)
  }

  test("embedding near-dup pairs: planted duplicate found via LSH buckets") {
    val dup = embs.filter(col("vec_id") === 0).select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val pairs = Dedup.embeddingPairs(embs.unionByName(dup), "vec_id", "embedding", dim = 64, threshold = 0.999, nbits = 12)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((0L, 100000L)), s"planted embedding dup not found: $found")
  }

  test("RpSignatureExpr ≡ the Column-form signature, bit for bit") {
    // Random vectors (incl. negatives, zeros, tiny/huge magnitudes) at the
    // production dim, plus real embeddings: signatures must be identical,
    // so banding statistics are unchanged by the codegen'd rewrite.
    val rnd = new scala.util.Random(7)
    val dim = 64
    val synth = (0 until 200).map { i =>
      (i.toLong, Seq.fill(dim)((rnd.nextFloat() - 0.5f) * (if (i % 7 == 0) 1e6f else 1f)))
    }
    val zeros = Seq((9001L, Seq.fill(dim)(0f)))
    val df = (synth ++ zeros).toDF("vec_id", "embedding").unionByName(embs.select("vec_id", "embedding").limit(200))
    for (nbits <- Seq(1, 12, 62)) {
      val mismatches = df.select(
        Similarity.rpSignature(col("embedding"), dim, nbits).as("fast"),
        SimilarityReference.rpSignatureColumns(col("embedding"), dim, nbits).as("ref")
      ).filter(col("fast") =!= col("ref")).count()
      assert(mismatches == 0, s"nbits=$nbits: $mismatches signature mismatches")
    }
  }

  test("CosineSimExpr ≡ the Column-form cosine, bit for bit (incl. null/zero/mismatch)") {
    val rnd = new scala.util.Random(11)
    val dim = 64
    val synth = (0 until 300).map { i =>
      val a = Seq.fill(dim)((rnd.nextFloat() - 0.5f) * (if (i % 5 == 0) 1e5f else 1f))
      val b =
        if (i % 11 == 0) Seq.fill(dim)(0f) // zero norm → 0.0
        else if (i % 13 == 0) a.take(dim - 1) // length mismatch → null
        else Seq.fill(dim)((rnd.nextFloat() - 0.5f))
      (i.toLong, a, b)
    }
    val df = synth.toDF("i", "a", "b")
    val mismatches = df.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      SimilarityReference.cosineColumns(col("a"), col("b")).as("ref")
    ).filter(!(col("fast") <=> col("ref"))).count()
    assert(mismatches == 0, s"$mismatches cosine mismatches vs Column form")
  }

  test("connected components over pairs ≡ driver-side union-find (incl. chains)") {
    // Chains (not cliques) force multiple propagation rounds: diameter of
    // the 0-1-2-...-9 path is 9.
    val chain = (0L until 9L).map(i => (i, i + 1))
    val rnd = new scala.util.Random(13)
    val randomPairs = (0 until 200).map(_ => (rnd.nextInt(100).toLong + 1000L, rnd.nextInt(100).toLong + 1000L))
      .filter { case (a, b) => a != b }
    val pairs = (chain ++ randomPairs).toDF("id_a", "id_b")
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap

    // reference union-find
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    (chain ++ randomPairs).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(k => k -> find(k)).toMap
    assert(got.keySet == want.keySet)
    // canonical label = min of component in both
    val wantMin = want.groupBy(_._2).flatMap { case (_, m) => val lbl = m.keys.min; m.keys.map(_ -> lbl) }
    assert(got == wantMin, s"component mismatch: ${got.toSeq.sorted.take(20)} vs ${wantMin.toSeq.sorted.take(20)}")
    assert(got(9L) == 0L) // the chain collapsed to its min across 9 hops

    // duplicated and reversed pairs (components has no edge dedup): same labels
    val noisy = chain ++ randomPairs ++ chain.map(_.swap) ++ randomPairs.take(60) ++ randomPairs.take(40).map(_.swap)
    assert(Dedup.components(rnd.shuffle(noisy).toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap == got)

    // non-convergence must FAIL LOUDLY, not return split components
    val e = intercept[IllegalArgumentException](Dedup.components(chain.toDF("id_a", "id_b"), maxIter = 3))
    assert(e.getMessage.contains("did not converge"))
  }

  test("asof backward: latest right ≤ left per key; equal-time matches; no-prior and null keys unmatch") {
    import graft.ops.AsofJoin
    val left = Seq(
      (1L, "u1", 10L), // after r@5 → 50
      (2L, "u1", 5L), // EXACTLY at r@5 → 50 (>= semantics)
      (3L, "u1", 4L), // before any right → null
      (4L, "u2", 100L), // u2 has two priors → latest (20 → 200)
      (5L, "u3", 10L), // no right rows for u3 → null
      (6L, null, 10L) // null key: never matches
    ).toDF("event_id", "k", "t")
    val right = Seq(
      ("u1", 5L, 50L),
      ("u2", 2L, 100L),
      ("u2", 20L, 200L),
      (null, 1L, 999L) // null-key right row must be dropped, not matched to event 6
    ).toDF("k", "rt", "payload")
    val got = AsofJoin.backward(left, right, Seq("k"), "t", "rt")
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(50L), 2L -> Some(50L), 3L -> None, 4L -> Some(200L), 5L -> None, 6L -> None))

    // a right payload FIELD that is legitimately null still matches (the
    // struct carrier, not raw ignoreNulls over the field)
    val rightNullPayload = Seq(("u1", 5L, Option.empty[Long])).toDF("k", "rt", "payload")
    val got2 = AsofJoin.backward(left.filter(col("event_id") === 1), rightNullPayload, Seq("k"), "t", "rt")
      .select("event_id", "rt").as[(Long, Option[Long])].collect().toMap
    assert(got2 == Map(1L -> Some(5L)), "null-field payload row must still match")

    // tolerance: a too-stale nearest match yields NULL, never an older row
    def withTol(tol: Long) = AsofJoin.backward(left, right, Seq("k"), "t", "rt", tolerance = Some(lit(tol)))
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(withTol(5L)(1L) == Some(50L)) // 10-5=5 ≤ 5 → keep
    assert(withTol(3L)(1L) == None) // 5 > 3 → stale, no fallback
    assert(withTol(3L)(2L) == Some(50L)) // exact-time match has staleness 0
    assert(withTol(200L)(4L) == Some(200L), "tolerance rejects by the MATCHED row's staleness (80), not the older one's")

    // forward: smallest right ≥ left; equal-time matches; tolerance bounds the wait
    val fwd = AsofJoin.forward(left, right, Seq("k"), "t", "rt")
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(fwd == Map(1L -> None, 2L -> Some(50L), 3L -> Some(50L), 4L -> None, 5L -> None, 6L -> None), fwd.toString)
    val fwdTol = AsofJoin.forward(left, right, Seq("k"), "t", "rt", tolerance = Some(lit(0L)))
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(fwdTol(2L) == Some(50L) && fwdTol(3L) == None, "forward tolerance 0 keeps only at-instant matches")

    // null LEFT time never matches in either direction: ascending sort is
    // NULLS FIRST, so an unguarded forward frame (currentRow..following)
    // from a null-time head row would swallow the key's EARLIEST right row
    // (round-4 advisory)
    val leftNullT = Seq((1L, "u1", Some(10L)), (7L, "u1", Option.empty[Long])).toDF("event_id", "k", "t")
    val fwdNull = AsofJoin.forward(leftNullT, right, Seq("k"), "t", "rt")
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(fwdNull == Map(1L -> None, 7L -> None), s"null left time must not match forward: $fwdNull")
    val bwdNull = AsofJoin.backward(leftNullT, right, Seq("k"), "t", "rt")
      .select("event_id", "payload").as[(Long, Option[Long])].collect().toMap
    assert(bwdNull == Map(1L -> Some(50L), 7L -> None), s"null left time must not match backward: $bwdNull")
  }

  test("asof backward ≡ driver-side reference over randomized data (incl. tolerance gating)") {
    import graft.ops.AsofJoin
    val rnd = new scala.util.Random(23)
    val keyPool = (0 until 6).map(i => s"k$i")
    val leftRows = (0 until 400).map(i => (i.toLong, keyPool(rnd.nextInt(keyPool.length)), rnd.nextInt(60).toLong))
    val rightRows = (0 until 300)
      .map(_ => (keyPool(rnd.nextInt(keyPool.length)), rnd.nextInt(60).toLong))
      .distinct // the operator's uniqueness-per-(key, time) contract
      .map { case (k, rt) => (k, rt, rnd.nextInt(100000).toLong) }
    val L = leftRows.toDF("id", "k", "t")
    val R = rightRows.toDF("k", "rt", "p")

    def reference(tol: Option[Long], fwd: Boolean): Map[Long, Option[Long]] = leftRows.map { case (id, k, t) =>
      val cand = rightRows.filter(r => r._1 == k && (if (fwd) r._2 >= t else r._2 <= t))
      val best = if (cand.isEmpty) None else Some(if (fwd) cand.minBy(_._2) else cand.maxBy(_._2))
      // tolerance gates the NEAREST match — it never falls to farther rows
      id -> best.filter(b => tol.forall(x => (if (fwd) b._2 - t else t - b._2) <= x)).map(_._3)
    }.toMap

    for (tol <- Seq(None, Some(5L), Some(0L)); fwd <- Seq(false, true)) {
      val join = if (fwd) AsofJoin.forward _ else AsofJoin.backward _
      val got = join(L, R, Seq("k"), "t", "rt", tol.map(lit(_)), false, 0.05, 32)
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(got == reference(tol, fwd), s"asof mismatch at tolerance $tol forward=$fwd")
      // the chunked hot path must agree with the same reference
      val gotSplit = join(L, R, Seq("k"), "t", "rt", tol.map(lit(_)), true, 0.01, 4)
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(gotSplit == reference(tol, fwd), s"asof chunked mismatch at tolerance $tol forward=$fwd")
    }
  }

  test("deterministic sampling ≡ md5 reference; splits disjoint-exhaustive; repartition-invariant") {
    import graft.ops.Sampling
    def md5hex8(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
    def refKeep(key: Long, rate: Double): Boolean =
      md5hex8(key.toString) < f"${(rate * 4294967296.0).toLong}%08x"
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, if (i % 3 == 0) "a" else "b")).toDF("id", "stratum")
    // plain Bernoulli vs the reference predicate, exact membership
    val got = Sampling.deterministicSample(df, "id", 0.25).select("id").as[Long].collect().toSet
    val want = (0 until n).map(_.toLong).filter(refKeep(_, 0.25)).toSet
    assert(got == want, s"sample membership diverged: ${got.diff(want).take(5)}/${want.diff(got).take(5)}")
    assert(math.abs(got.size.toDouble / n - 0.25) < 0.05, s"rate off: ${got.size}")
    // repartition-invariance (pure function of the key)
    val got2 = Sampling.deterministicSample(df.repartition(13), "id", 0.25)
      .select("id").as[Long].collect().toSet
    assert(got2 == got)
    // stratified: per-stratum thresholds, unlisted strata get the default
    val strat = Sampling.stratifiedSample(df, "id", "stratum", Map("a" -> 0.5), defaultRate = 0.05)
      .select("id", "stratum").as[(Long, String)].collect()
    strat.foreach { case (id, st) =>
      assert(refKeep(id, if (st == "a") 0.5 else 0.05), s"row $id/$st kept against its stratum rate")
    }
    val wantStrat = (0 until n).count(i => refKeep(i.toLong, if (i % 3 == 0) 0.5 else 0.05))
    assert(strat.length == wantStrat)
    // salt decouples samples
    val salted = Sampling.deterministicSample(df, "id", 0.25, salt = "s1")
      .select("id").as[Long].collect().toSet
    assert(salted != got, "salt must produce a different sample")
    // splits: every row exactly one label; fractions roughly honored
    val splits = df.select(col("id"),
      Sampling.splitAssign(col("id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("sp"))
      .as[(Long, String)].collect()
    assert(splits.length == n && splits.forall(_._2 != null), "split must be exhaustive")
    val byLabel = splits.groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(byLabel("train").toDouble / n - 0.8) < 0.05, byLabel.toString)
    assert(byLabel.keySet == Set("train", "val", "test"))
    // k-per-stratum: exactly the k smallest-hash keys of each stratum
    val k5 = Sampling.sampleKPerStratum(df, "id", "stratum", 5)
      .select("id", "stratum").as[(Long, String)].collect()
    assert(k5.groupBy(_._2).forall(_._2.length == 5))
    val wantA = (0 until n).filter(_ % 3 == 0).map(_.toLong)
      .sortBy(id => (md5hex8(id.toString), id)).take(5).toSet
    assert(k5.filter(_._2 == "a").map(_._1).toSet == wantA)
    // reservoir-style growth stability: new rows enter only by displacing
    // the largest-hash members — recompute over the grown corpus agrees
    // with the closed-form selection
    val grown = df.unionByName((n until n + 500).map(i => (i.toLong, "a")).toDF("id", "stratum"))
    val k5g = Sampling.sampleKPerStratum(grown, "id", "stratum", 5)
      .filter(col("stratum") === "a").select("id").as[Long].collect().toSet
    val wantGrown = ((0 until n).filter(_ % 3 == 0).map(_.toLong) ++ (n until n + 500).map(_.toLong))
      .sortBy(id => (md5hex8(id.toString), id)).take(5).toSet
    assert(k5g == wantGrown)
    // FP-hostile fractions that legitimately sum to 1 must not crash
    // (sequential double sum of these = 1.0000000000000002)
    val fp = df.select(Sampling.splitAssign(col("id"),
      Seq("a" -> 0.19, "b" -> 0.4, "c" -> 0.3, "d" -> 0.11)).as("sp"))
      .as[String].collect()
    assert(fp.length == n && fp.forall(_ != null))
    // reserved working column is rejected, not silently clobbered
    val e = intercept[IllegalArgumentException](
      Sampling.sampleKPerStratum(df.withColumn("_sample_rank", lit(1)), "id", "stratum", 3))
    assert(e.getMessage.contains("_sample_rank"))
  }

  test("asof nearest ≡ driver-side reference (ties to the past; tolerance gates both directions)") {
    import graft.ops.AsofJoin
    val rnd = new scala.util.Random(29)
    val keyPool = (0 until 6).map(i => s"k$i")
    val leftRows = (0 until 400).map(i => (i.toLong, keyPool(rnd.nextInt(keyPool.length)), rnd.nextInt(60).toLong))
    val rightRows = (0 until 300)
      .map(_ => (keyPool(rnd.nextInt(keyPool.length)), rnd.nextInt(60).toLong))
      .distinct
      .map { case (k, rt) => (k, rt, rnd.nextInt(100000).toLong) }
    val L = leftRows.toDF("id", "k", "t")
    val R = rightRows.toDF("k", "rt", "p")
    def reference(tol: Option[Long]): Map[Long, Option[Long]] = leftRows.map { case (id, k, t) =>
      val cand = rightRows.filter(_._1 == k)
      val best = if (cand.isEmpty) None
        else Some(cand.minBy(r => (math.abs(r._2 - t), if (r._2 <= t) 0 else 1)))
      id -> best.filter(b => tol.forall(x => math.abs(b._2 - t) <= x)).map(_._3)
    }.toMap
    for (tol <- Seq(None, Some(5L), Some(0L))) {
      val got = AsofJoin.nearest(L, R, Seq("k"), "t", "rt", tol.map(lit(_)))
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(got == reference(tol), s"nearest mismatch at tolerance $tol")
      // the chunked hot path (every key hot at minShare 0.01) must agree
      val gotSplit = AsofJoin.nearest(L, R, Seq("k"), "t", "rt", tol.map(lit(_)),
          splitHotKeys = true, hotKeyShare = 0.01, hotKeyChunks = 4)
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(gotSplit == reference(tol), s"nearest chunked mismatch at tolerance $tol")
    }
    // null left time: no distance is defined, never a match
    val leftNullT = Seq((1L, "k0", Some(10L)), (7L, "k0", Option.empty[Long])).toDF("id", "k", "t")
    val gotNull = AsofJoin.nearest(leftNullT, R, Seq("k"), "t", "rt")
      .select("id", "p").as[(Long, Option[Long])].collect().toMap
    assert(gotNull(7L).isEmpty, "null left time matched in nearest")
  }

  test("asof splitHotKeys: one dominating key spreads over chunks, results identical to plain path") {
    import graft.ops.AsofJoin
    val rnd = new scala.util.Random(41)
    // one key holds ~95% of all rows — the single-task stall shape
    val leftRows = (0 until 3000).map { i =>
      val k = if (i % 20 == 0) s"cold${i % 5}" else "hot"
      (i.toLong, k, rnd.nextInt(500).toLong)
    }
    val rightRows = (0 until 1200)
      .map(i => (if (i % 20 == 0) s"cold${i % 5}" else "hot", rnd.nextInt(500).toLong))
      .distinct
      .map { case (k, rt) => (k, rt, rnd.nextInt(100000).toLong) }
    val L = leftRows.toDF("id", "k", "t")
    val R = rightRows.toDF("k", "rt", "p")
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(25L))) {
      val join = if (fwd) AsofJoin.forward _ else AsofJoin.backward _
      val plain = join(L, R, Seq("k"), "t", "rt", tol.map(lit(_)), false, 0.05, 32)
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      val split = join(L, R, Seq("k"), "t", "rt", tol.map(lit(_)), true, 0.5, 8)
      val got = split.select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(got == plain, s"splitHotKeys diverged (forward=$fwd tol=$tol)")
      if (!fwd && tol.isEmpty) {
        // the hot key must actually take the chunked path: its carry window
        // is partitioned by (keys, _chunk), visible in the physical plan
        val plan = split.queryExecution.executedPlan.toString
        assert(plan.contains("_chunk"), "hot key did not route through the chunked carry")
      }
    }
    // a large NULL-key left population hashes to one constant and gets
    // detected "hot" — it must stay on the cold path and survive with null
    // payloads (the chunked path's inner bounds-join would drop it)
    val nullL = ((0 until 200).map(i => (i.toLong, Option.empty[String], 5L)) :+
      ((999L, Option("hot"), 5L))).toDF("id", "k", "t")
    for ((dir, join) <- Seq("backward" -> AsofJoin.backward _, "forward" -> AsofJoin.forward _,
        "nearest" -> AsofJoin.nearest _)) {
      val gotNullKeys = join(nullL, R, Seq("k"), "t", "rt", None, true, 0.05, 4)
        .select("id", "p").as[(Long, Option[Long])].collect().toMap
      assert(gotNullKeys.size == 201, s"$dir: null-key left rows dropped: ${gotNullKeys.size}")
      assert((0 until 200).forall(i => gotNullKeys(i.toLong).isEmpty), s"$dir: null key must never match")
    }
  }

  test("json intake: malformed rows surface as corrupt with raw payload, parsed rows extract fields") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType), StructField("kind", StringType)))
    val df = Seq(
      """{"id": 1, "kind": "a"}""",
      """x{"id": 2, "kind": "b"}""", // prepended garbage → parse error
      """{"id": 3}""", // missing field → parses, kind null (not corrupt)
      null // null body → 400 analog
    ).toDF("body")
    val out = graft.sources.JsonIntake.parse(df, "body", schema)
      .select("id", "kind", graft.sources.JsonIntake.CorruptCol)
      .as[(Option[Long], Option[String], Option[String])].collect().toSeq
    assert(out(0) == ((Some(1L), Some("a"), None)))
    assert(out(1)._1.isEmpty && out(1)._3.exists(_.startsWith("x{")), s"corrupt row: ${out(1)}")
    assert(out(2) == ((Some(3L), None, None)), "missing optional field is NOT a parse error")
    assert(out(3)._3.contains(""), "null body is a parse error with empty raw payload")
  }

  test("langId classifies synthetic multilingual text; CJK by codepoints") {
    val df = Seq(
      ("en", "the cat sat on the mat and it was happy"),
      ("de", "der hund und die katze sind nicht ein problem"),
      ("fr", "le chat est dans la maison et il est content"),
      ("es", "el perro es una mascota buena para la familia"),
      ("zh", "中文文本处理非常有趣"),
      ("und", "zzz qqq xxx")
    ).toDF("want", "text")
    val got = df.select(col("want"), TextOps.langId(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("langIdStaged ≡ langId on real documents (incl. null/empty text)") {
    val withEdge = docs.select(col("doc_id"), col("text"))
      .unionByName(Seq((-1L, null.asInstanceOf[String]), (-2L, ""), (-3L, "   "))
        .toDF("doc_id", "text"))
    val staged = TextOps.langIdStaged(withEdge, "text", "lang")
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val direct = withEdge.select(col("doc_id"), TextOps.langId(col("text")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(staged == direct, s"${staged.toSet diff direct.toSet}")
  }

  test("quality metrics sane on real documents") {
    val q = docs.select(TextOps.qualityStruct(col("text")).as("q")).select("q.*")
    val row = q.agg(
      min("n_tokens"), max("punct_ratio"), min("alpha_ratio"), max("stopword_ratio")
    ).collect()(0)
    assert(row.getLong(0) > 0)
    assert(row.getDouble(1) < 0.2)
    assert(row.getDouble(2) > 0.5)
    assert(row.getDouble(3) <= 1.0)
  }

  test("fingerprint is stable under duplicate text, distinct otherwise") {
    val df = Seq((1L, "hello world of spark"), (2L, "hello world of spark"), (3L, "completely different")).toDF("id", "t")
    val fps = df.select(TextOps.fingerprint(col("t"))).as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("substring-span dedup: planted k-word span pairs exactly; hashed ≡ string carrier; cap drops whole buckets") {
    val boiler = "the quick brown fox jumps over lazy dogs again" // 9 words → 5 distinct 5-grams
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"unrelated words here $boiler more tail words"),
      (3L, "completely different text with no shared span at all whatsoever"),
      (4L, "alpha beta gamma delta epsilon zeta") // shares <k consecutive words with 1
    ).toDF("doc_id", "text")
    // driver-side reference: shared distinct 5-gram sets
    def grams(t: String): Set[String] = {
      val w = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      w.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    }
    val texts = Map(1L -> s"alpha beta $boiler gamma delta",
      2L -> s"unrelated words here $boiler more tail words")
    val shared = grams(texts(1L)).intersect(grams(texts(2L)))
    val got = Dedup.substringSpanPairs(d, "doc_id", "text", k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"only the planted pair may appear: ${got.keySet}")
    assert(got((1L, 2L)) == ((shared.size.toLong, shared.min)),
      s"count+sample must match the reference intersection: want (${shared.size}, ${shared.min}), got ${got((1L, 2L))}")
    // hashed carrier ≡ string join
    val gotStr = Dedup.substringSpanPairs(d, "doc_id", "text", k = 5, hashedCarrier = false)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getString(3)))).toMap
    assert(gotStr == got)
    // a span present in more docs than maxBucket is dropped WHOLE-bucket
    val many = (1L to 5L).map(i => (i, s"prefix$i filler $boiler suffix$i end")).toDF("doc_id", "text")
    val capped = Dedup.substringSpanPairs(many, "doc_id", "text", k = 5, maxBucket = 4)
    assert(capped.count() == 0, "all 5 docs share the spans: buckets of 5 > cap 4 must drop")
    val uncapped = Dedup.substringSpanPairs(many, "doc_id", "text", k = 5, maxBucket = 5)
    assert(uncapped.count() == 10, "C(5,2) pairs when the cap admits the bucket")
  }

  test("span removal: non-first occurrences excised, global keeper intact, full clone emptied") {
    // k=3; "a b c" / "b c d" appear in all three docs, "c d e" in 1 and 3;
    // keepers are all in doc 1 (min (id, pos)), so doc 1 survives verbatim,
    // the embedded copy in doc 2 loses exactly words 3-6, and the exact
    // clone doc 3 is fully excised
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c d z"),
      (3L, "a b c d e")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((5L, 0L, "a b c d e")), s"keeper doc must survive verbatim: ${got(1L)}")
    assert(got(2L) == ((7L, 4L, "x y z")), s"embedded copy must lose its 4 covered words: ${got(2L)}")
    assert(got(3L) == ((5L, 5L, "")), s"exact clone must empty: ${got(3L)}")
    // hashed carrier ≡ string carrier
    val gotStr = Dedup.removeDuplicateSpans(d, "doc_id", "text", k = 3, hashedCarrier = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(gotStr == got)
  }

  test("bigramNll: add-1 bigram model matches hand-computed probabilities; <2-word docs dropped") {
    // reference "a b a c": c(a,b)=1 c(b,a)=1 c(a,c)=1, contexts a=2 b=1, V=3
    val ref = Seq((10L, "a b a c")).toDF("doc_id", "text")
    val sc = Seq((1L, "a b z"), (2L, "solo")).toDF("doc_id", "text")
    val got = TextOps.bigramNll(ref, sc, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // P(b|a) = (1+1)/(2+3), P(z|b) = (0+1)/(1+3); mean of the two NLLs
    val exp = BigDecimal((-math.log(2.0 / 5.0) - math.log(1.0 / 4.0)) / 2.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L), s"one-word docs must drop: ${got.keySet}")
    assert(got(1L) == ((2L, exp)), s"got ${got(1L)} expected (2, $exp)")
  }

  test("bpeMergePairs: frequency-weighted adjacent-pair counts match hand computation") {
    val docs = Seq((1L, "ab ab Ba"), (2L, "abc"), (3L, "x"), (4L, "  ")).toDF("doc_id", "text")
    val got = TextOps.bpeMergePairs(docs, "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // vocab: ab×2, ba×1, abc×1 ("x" dropped: single char; blank doc filtered)
    // pairs: ab ← ab(2) + abc(1) = 3 over 2 words; ba ← 1; bc ← 1
    assert(got == Map("ab" -> ((3L, 2L)), "ba" -> ((1L, 1L)), "bc" -> ((1L, 1L))), s"$got")
  }

  test("idfScores: smoothed mean IDF over distinct words matches hand computation") {
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "x x")).toDF("doc_id", "text")
    val got = TextOps.idfScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // N=3: idf(x)=ln(4/4)=0, idf(y)=idf(z)=ln(4/2)
    val ln2 = BigDecimal(math.log(2.0) / 2.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((2L, ln2)) && got(2L) == ((2L, ln2)), s"$got")
    assert(got(3L) == ((1L, 0.0)), s"repeated word counts once: ${got(3L)}")
  }

  test("hexThresholdCol: per-row thresholds clamp and format like the scalar path") {
    import graft.ops.Sampling
    val rates = Seq(Some(0.0), Some(0.25), Some(1.0), Some(1.5), Some(-0.5),
      None: Option[Double]).toDF("r")
    val got = rates.select(Sampling.hexThresholdCol(col("r")).as("t"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(Some("00000000"), Some("40000000"), Some("ffffffff"),
      Some("ffffffff"), Some("00000000"), None), s"$got")
    // weighted sample with rate 0 keeps nothing; rate 1 keeps all but the
    // ffffffff hash prefix (the documented scalar-path simplification)
    val df = (1L to 50L).map(i => (i, if (i <= 25) 0.0 else 1.0)).toDF("id", "rate")
    val kept = Sampling.weightedSample(df, "id", col("rate"), salt = "x")
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(kept.forall(_ > 25) && kept.size >= 24, s"$kept")
  }

  test("topKPerGroup: bounded-heap aggregate and salted tournament are bit-identical to the single window") {
    import org.apache.spark.sql.expressions.Window
    // 2 groups, heavy value ties (v has only 7 distinct values) — the
    // unique total order comes from the id tiebreak; nulls in v exercise the
    // aggregate's desc⇒nulls-last ordering parity with the window sort
    val df = (1L to 500L).map(i => (i, s"g${i % 2}", if (i % 97 == 0) None else Some(i * 31 % 7)))
      .toDF("id", "grp", "v")
    for (k <- Seq(1, 4, 10)) {
      val agg = graft.ops.TopK.topKPerGroup(df, Seq("grp"),
        Seq(col("v") -> false, col("id") -> true), k)
        .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
      val w = Window.partitionBy(col("grp")).orderBy(col("v").desc, col("id"))
      val plain = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
      assert(agg == plain, s"k=$k agg:\n${agg diff plain}\n${plain diff agg}")
      for (fanout <- Seq(2, 64)) {
        val salted = TopKReference.topKPerGroupSalted(df, Seq("grp"),
          Seq(col("v") -> false, col("id") -> true), k, fanout = fanout)
          .select("grp", "rank", "id").as[(String, Int, Long)].collect().toSet
        assert(salted == plain, s"k=$k fanout=$fanout:\n${salted diff plain}\n${plain diff salted}")
      }
    }
  }

  test("topKPerGroup plan: partial bounded-heap aggregation, no window over the input") {
    val df = (1L to 100L).map(i => (i, s"g${i % 2}", i * 31 % 7)).toDF("id", "grp", "v")
    val plan = graft.ops.TopK.topKPerGroup(df, Seq("grp"),
      Seq(col("v") -> false, col("id") -> true), 3)
      .queryExecution.executedPlan.toString
    // Partial mode present ⇒ each map task ships ≤ k rows per group — the
    // exchange is bounded by survivors, not input rows.
    assert(plan.contains("partial_bounded_top_k"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("sampleKPerStratum: prefiltered path is bit-identical to the plain window path") {
    import graft.ops.Sampling
    // strata well above and below the 8k pre-prune cutoff, plus nulls
    val rows = (1L to 400L).map(i => (i, if (i <= 300) "big" else "small")) ++
      (401L to 410L).map(i => (i, null.asInstanceOf[String]))
    val df = rows.toDF("doc_id", "source")
    for (k <- Seq(1, 3, 25)) {
      val fast = Sampling.sampleKPerStratum(df, "doc_id", "source", k, salt = "t")
        .as[(Long, Option[String])].collect().toSet
      val plain = Sampling.sampleKPerStratum(df, "doc_id", "source", k, salt = "t",
        prefilter = false).as[(Long, Option[String])].collect().toSet
      assert(fast == plain, s"k=$k: prefiltered selection diverged\n${fast diff plain}\n${plain diff fast}")
      assert(fast.count(_._2.isEmpty) == math.min(k, 10), s"k=$k: null stratum mishandled")
    }
  }

  test("splitAssign: the ffffffff hash prefix belongs to the final split when fractions sum to 1") {
    import graft.ops.Sampling
    val prefixes = Seq(Some("00000000"), Some("cccccccb"), Some("cccccccc"),
      Some("e6666665"), Some("fffffffe"), Some("ffffffff"), None).toDF("p")
    val full = prefixes.select(Sampling.splitAssignFromPrefix(col("p"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("sp")).as[Option[String]].collect()
    assert(full.toSeq == Seq(Some("train"), Some("train"), Some("val"),
      Some("val"), Some("test"), Some("test"), None),
      s"fractions summing to 1 must be exhaustive over non-null keys incl. the ffffffff prefix: ${full.toSeq}")
    // fractions summing to <1: the remainder (incl. ffffffff) is excluded
    val partial = prefixes.select(Sampling.splitAssignFromPrefix(col("p"),
      Seq("train" -> 0.5)).as("sp")).as[Option[String]].collect()
    assert(partial.toSeq == Seq(Some("train"), None, None, None, None, None, None))
    // sequential FP summation landing a hair BELOW 1.0 (ten 0.1s sum to
    // 0.9999999999999999) must still close the domain
    val ten = prefixes.select(Sampling.splitAssignFromPrefix(col("p"),
      (1 to 10).map(i => s"s$i" -> 0.1)).as("sp")).as[Option[String]].collect()
    assert(ten.last.isEmpty && ten(5) == Some("s10"),
      s"ffffffff must land in the final split under FP-short sums: ${ten.toSeq}")
  }

  test("pruned probe auto-raises the parquet In-pushdown threshold to cover the pushed key set") {
    val confKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prev = spark.conf.get(confKey)
    try {
      spark.conf.set(confKey, "10") // Spark's default — below any real key set
      val corpus = docs.limit(30).select(col("doc_id"), col("text"))
      val incoming = docs.limit(5)
        .select((col("doc_id") + 7000000).as("doc_id"), concat(col("text"), lit(" yq")).as("text"))
      val corpusSigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
      val incomingSigs = Dedup.minhashSignatures(incoming, "doc_id", "text")
      Dedup.minhashPairsAgainstSignatures(corpusSigs, incomingSigs, threshold = 0.8,
        corpusKeys = Some(Dedup.explodedBandKeys(corpusSigs)), pruneBandKeysLimit = 1000000)
      val raised = spark.conf.get(confKey).toInt
      assert(raised > 10, s"threshold must be raised above Spark's default to cover the In filter: $raised")
    } finally spark.conf.set(confKey, prev)
  }
}
