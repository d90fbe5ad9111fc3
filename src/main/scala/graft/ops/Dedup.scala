package graft.ops

import org.apache.spark.internal.Logging
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation, each designed around
  * its shuffle shape at 10^12-row scale:
  *
  *  - exact: shuffle a 128-bit content hash, never the text (a 64-bit key
  *    would collide ~10^4 times at 10^12 rows);
  *  - MinHash+LSH: shingle → signature → band keys, candidates pair inside
  *    each capped band bucket (one partial aggregate per bucket key, no
  *    self-join), exact Jaccard verifies candidates — no quadratic pass
  *    over the corpus anywhere;
  *  - SimHash: 64-bit signature, 4×16-bit band buckets, Hamming verify;
  *  - embedding near-dup: random-hyperplane LSH buckets, cosine verify.
  */
object Dedup extends Logging {

  /** Max members per LSH bucket before the bucket is dropped from candidate
    * generation. A degenerate band key (e.g. every sub-k-char doc shingles to
    * the empty set → identical signature) would otherwise make one bucket's
    * pair emission quadratic — the standard corpus-scale guard is to cap and log.
    * Dropping a bucket trades recall on that pathological key for bounded
    * work; pairs inside healthy buckets are unaffected.
    */
  val DefaultMaxBucket = 500

  /** The one LSH bucket cap: one row per bucket key with `_b` =
    * `struct(n, members)`, the [[graft.functions.BucketMembersAgg]] of
    * `struct(memberCols)` — a map task ships at most maxBucket members per
    * bucket, and a hot bucket over the cap costs one count record per map
    * task. The drops are observed (name `obsName`; operators that cap two
    * sides in one plan pass distinct names) as `lsh_dropped_rows` = Σ n
    * over buckets with n > maxBucket; null bucket keys are counted there
    * but never pair. Keeps the buckets with a non-null key and at least
    * `minMembers` members (a bucket over the cap has none).
    */
  private def cappedBuckets(keys: DataFrame, bucketCols: Seq[String], memberCols: Seq[String], maxBucket: Int,
      obsName: String, minMembers: Int): DataFrame = {
    val b = col("_b")
    keys
      .groupBy(bucketCols.map(col): _*)
      .agg(graft.functions.BucketMembersAgg.members(struct(memberCols.map(col): _*), maxBucket).as("_b"))
      .observe(obsName, sum(when(b.getField("n") > maxBucket, b.getField("n")).otherwise(0L)).as("lsh_dropped_rows"))
      .filter(bucketCols.map(col(_).isNotNull).reduce(_ && _) && size(b.getField("members")) >= minMembers)
  }

  /** Every unordered member pair of every LSH bucket of size ≤ maxBucket,
    * in one aggregate and no self-join — the candidate step of the
    * self-pair kernels ([[signaturePairs]], [[minhashPairs]], the
    * embedding kernels, [[substringSpanPairs]]).
    *
    * Steps: [[cappedBuckets]], then each kept bucket emits its pairs with
    * `posexplode` plus `slice` (member i with every later member).
    *
    * `memberCols.head` is the member id. Pairs with a null or equal id are
    * dropped and each pair is oriented so `a.id < b.id`. Returns struct
    * columns `a` and `b` of `memberCols`; a pair sharing several buckets
    * comes back once per bucket, so callers run `distinct`.
    */
  private def bucketPairs(keys: DataFrame, bucketCols: Seq[String], memberCols: Seq[String], maxBucket: Int,
      obsName: String = "lsh_buckets"): DataFrame = {
    val m = col("_m")
    val (ida, idb) = (col("a").getField(memberCols.head), col("b").getField(memberCols.head))
    cappedBuckets(keys, bucketCols, memberCols, maxBucket, obsName, minMembers = 2)
      .select(col("_b").getField("members").as("_m"))
      .select(m, posexplode(m).as(Seq("_i", "a")))
      .select(col("a"), explode(slice(m, col("_i") + 2, size(m) - col("_i") - 1)).as("b"))
      .filter(ida.isNotNull && idb.isNotNull && ida =!= idb)
      .select(when(ida < idb, col("a")).otherwise(col("b")).as("a"), when(ida < idb, col("b")).otherwise(col("a")).as("b"))
  }

  /** Every corpus × incoming member pair of every bucket kept on both
    * sides — the candidate step of the cross-side kernels. Each side comes
    * capped on its own by [[cappedBuckets]] (drops observed as
    * `lsh_buckets` and `lsh_buckets_incoming`); the two per-bucket rows
    * meet in a join on the bucket key (both aggregates are already
    * hash-partitioned on it), and each joined row emits its members' cross
    * product. Returns struct columns `c` (corpus) and `i` (incoming) of the
    * member columns, once per shared bucket.
    */
  private def crossBucketPairs(corpusBuckets: DataFrame, incomingBuckets: DataFrame, bucketCols: Seq[String]): DataFrame = {
    def members(side: DataFrame, as: String) = side.select(bucketCols.map(col) :+ col("_b").getField("members").as(as): _*)
    members(corpusBuckets, "_c").join(members(incomingBuckets, "_i"), bucketCols)
      .select(explode(col("_c")).as("c"), col("_i"))
      .select(col("c"), explode(col("_i")).as("i"))
  }

  /** Materialize an LSH signature table to storage and read it back — the
    * cluster-scale "write the signature table once" shape, used by each
    * round of [[adaptiveBuckets]]. The write both (a) truncates lineage so
    * the analyzer/codegen never re-process the upstream expression tree at
    * each downstream reference and (b) survives executor loss, unlike
    * localCheckpoint's executor-pinned blocks (round-1 advisory). Each call
    * costs a parquet write, a read-back and a schema-inference job.
    *
    * Spill location (round-2 advisory: a driver-local tmp path is
    * unreachable from executors on a real cluster): `spark.graft.spill.dir`
    * if set, else `<spark.sql.warehouse.dir>/graft-spill` — both resolved
    * through the Hadoop filesystem of the path, so any shared FS works.
    * Cleanup is left to Hadoop `deleteOnExit` on the session's (cached)
    * filesystem, which deletes the directory when that filesystem closes at
    * JVM exit: every call keeps one directory for the life of the JVM. The
    * path is registered after the write, because `deleteOnExit` ignores a
    * path that does not exist yet.
    */
  private def materializeSigs(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val root = spark.conf.getOption("spark.graft.spill.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir") + "/graft-spill")
    val path = new org.apache.hadoop.fs.Path(
      root, s"lsh-$tag-${java.util.UUID.randomUUID()}")
    df.write.options(graft.table.LocalFs.options(spark)).mode("overwrite").parquet(path.toString)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(path)
    spark.read.parquet(path.toString)
  }

  /** Exact dedup: keep the lowest-`idCol` row per distinct `textCol`.
    * Shuffles only (hash, id); survivors re-join the full rows by id.
    * Keeper election is `groupBy(hash).agg(min(id))` — a map-side-
    * combining hash agg, NOT a `row_number` window per fingerprint: a
    * single text duplicated 10^9 times would put its whole partition on
    * one window task, while partial min folds it executor-locally.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol).cast("binary")).as("_fp")
    df.select(col(idCol), h)
      .groupBy(col("_fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
      .join(df, Seq(idCol)) // id is unique ⇒ broadcast-able or shuffle-by-id
  }

  /** Exact duplicate groups (hash, n, member ids) with n > 1. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("fp"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("n") > 1)

  /** MinHash+LSH near-duplicate pairs: returns (id_a, id_b, jaccard) with
    * id_a < id_b and verified exact Jaccard ≥ threshold.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    // Shingles sorted once per doc so the verify can merge-count
    // intersections; band keys via the single codegen'd MinHashBandKeys
    // expression (minhash is order-invariant) — constant plan cost instead
    // of a numHashes-subtree Column plan (seconds of janino per query).
    // Members are ids only: a doc sits in numBands buckets, so members
    // carrying shingles would ship every shingle set numBands times
    // (measured 16x the shuffle bytes, no faster); distinct candidates
    // fetch their shingles by id instead.
    val sigs = minhashSignatures(df, idCol, textCol, shingleK, numHashes, numBands)
    val cand = bucketPairs(sigs.select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_key"))),
        Seq("band_idx", "band_key"), Seq("id"), maxBucket)
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

  /** INCREMENTAL text near-dup: pairs (corpus_id, incoming_id, jaccard)
    * where an arriving document near-duplicates an already-ingested corpus
    * document — [[embeddingPairsAgainst]]'s text twin. Each side is capped
    * per band bucket and the kept buckets meet in one join on the bucket
    * key (no corpus self-join), with separately observable drops. Minhash
    * band keys are stateless (xxhash64-seeded lanes), so the corpus
    * [[minhashSignatures]] table can be stored once and fed to
    * [[minhashPairsAgainstSignatures]] for every future batch.
    */
  def minhashPairsAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 5,
      numHashes: Int = 64,
      numBands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame =
    minhashPairsAgainstSignatures(
      minhashSignatures(corpus, idCol, textCol, shingleK, numHashes, numBands),
      minhashSignatures(incoming, idCol, textCol, shingleK, numHashes, numBands),
      threshold, maxBucket)

  /** The (id, sh, bands) signature frame of [[minhashPairsAgainst]] — pure
    * deterministic Columns, no fitted state: WRITE this once for the
    * corpus (e.g. as a snapshot table) and feed the stored frame to
    * [[minhashPairsAgainstSignatures]] on every arriving batch, so
    * per-batch dedup cost is signing the batch + one join — the corpus is
    * never re-scanned, let alone re-shingled.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, shingleK: Int = 5, numHashes: Int = 64, numBands: Int = 16): DataFrame = {
    require(numHashes % numBands == 0, "numHashes must divide into bands")
    df.select(col(idCol).as("id"), graft.functions.TextHash.hashedShinglesSorted(col(textCol), shingleK).as("sh"))
      .withColumn("bands", graft.functions.MinHash.bandKeys(col("sh"), numHashes, numBands))
  }

  /** The (id, band_idx, band_key) row form of a [[minhashSignatures]]
    * frame — what a STORED corpus keys table holds so the per-batch probe
    * join reads scan columns directly (a band_key filter can then reach the
    * parquet reader; keys packed in the `bands` array sit above a Generate
    * no filter crosses). Store it range-clustered by band_key — band_key
    * PRIMARY, via `Maintenance.compact(..., clusterBy = Seq("band_key"))`:
    * the pushed probe filter is on band_key alone, so a band_idx-first
    * sort leaves every file a full-range band_key span and min/max stats
    * skip nothing (measured — BASELINE.md §3.5).
    */
  def explodedBandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("id"), posexplode(col("bands")).as(Seq("band_idx", "band_key")))

  /** Cross-side pairing over prebuilt [[minhashSignatures]] frames (both
    * sides must share shingleK/numHashes/numBands).
    *
    * @param corpusKeys optional prebuilt/stored [[explodedBandKeys]] frame
    *   for the corpus (skips re-exploding `bands`, and being scan columns
    *   its band_key admits pushed filters).
    * @param pruneBandKeysLimit when > 0 and the incoming batch has at most
    *   this many distinct band keys, they are collected and pushed as an
    *   `isin` filter on the corpus keys scan — a strict superset of the
    *   join, so results are identical, but on a (band_idx, band_key)-
    *   clustered stored table parquet min/max stats skip nearly every
    *   row group (uniform hash keys: P(file hit) ≈ K/#files). Raise
    *   `spark.sql.parquet.pushdown.inFilterThreshold` above the limit or
    *   Spark degrades the pushed In to a useless full-range bound.
    */
  def minhashPairsAgainstSignatures(
      corpusSigs: DataFrame,
      incomingSigs: DataFrame,
      threshold: Double = 0.7,
      maxBucket: Int = DefaultMaxBucket,
      corpusKeys: Option[DataFrame] = None,
      pruneBandKeysLimit: Int = 0
  ): DataFrame = {
    val bucketCols = Seq("band_idx", "band_key")
    val incomingBuckets = cappedBuckets(explodedBandKeys(incomingSigs), bucketCols, Seq("id"), maxBucket,
      "lsh_buckets_incoming", minMembers = 1)
    val corpusKeyRows = corpusKeys.getOrElse(explodedBandKeys(corpusSigs))
    // Whole buckets are kept or dropped by the prune (it filters on the
    // bucket key itself), so the downstream cap sees identical bucket
    // sizes — pruned and unpruned paths return the same pairs.
    val corpusPruned =
      if (pruneBandKeysLimit <= 0) corpusKeyRows
      else {
        // one row per kept (band_idx, band_key); a band_key may recur
        // across band indexes, hence the distinct
        val ks = incomingBuckets.select("band_key").distinct()
          .limit(pruneBandKeysLimit + 1).collect().map(_.getLong(0))
        if (ks.length > pruneBandKeysLimit) corpusKeyRows
        else {
          // The prune's entire value is the PUSHED In(band_key) filter
          // skipping parquet row groups, but Spark degrades an In wider
          // than spark.sql.parquet.pushdown.inFilterThreshold (default 10)
          // to a full-range min/max bound — correct, yet skipping nothing.
          // Raise the session threshold to cover this key set (never
          // lower it): a scaladoc requirement alone left the feature
          // silently inert out of the box (round-5 advisory). Session-
          // scoped runtime conf; pushdown is decided at execution, so the
          // raised value is in force when the probe actually runs — and
          // for the same reason it CANNOT be restored here (the returned
          // frame is lazy). The raise persists for the session: unrelated
          // parquet scans may then push In filters up to this width
          // (cheap row-group stat checks), and an operator who pinned a
          // lower value should reset the key after the probe completes.
          val confKey = "spark.sql.parquet.pushdown.inFilterThreshold"
          val spark = corpusKeyRows.sparkSession
          val current = scala.util.Try(spark.conf.get(confKey).toInt).getOrElse(10)
          if (current < ks.length) {
            spark.conf.set(confKey, ks.length.toString)
            // Surfaced deliberately (round-6 advisory): the raise outlives
            // this probe — long-lived sessions that pinned a lower value
            // should reset the key after the probe executes.
            logWarning(
              s"raised session conf $confKey $current -> ${ks.length} " +
                "for band-key In pushdown; persists until reset")
          }
          corpusKeyRows.filter(col("band_key").isin(ks.toSeq: _*))
        }
      }
    val corpusBuckets = cappedBuckets(corpusPruned, bucketCols, Seq("id"), maxBucket, "lsh_buckets", minMembers = 1)
    val cand = crossBucketPairs(corpusBuckets, incomingBuckets, bucketCols)
      .select(col("c.id").as("corpus_id"), col("i.id").as("incoming_id"))
      .distinct()
    cand
      .join(corpusSigs.select(col("id").as("corpus_id"), col("sh").as("sh_c")), Seq("corpus_id"))
      .join(incomingSigs.select(col("id").as("incoming_id"), col("sh").as("sh_i")), Seq("incoming_id"))
      .withColumn("jaccard", TextOps.jaccardSorted(col("sh_c"), col("sh_i")))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "incoming_id", "jaccard")
  }

  /** Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": the repeated-k-token-span mode):
    * document pairs sharing at least one EXACT k-word span, with the
    * shared-span count and a deterministic sample span as evidence — the
    * span-level mode the doc-level family (exact / MinHash / SimHash /
    * semantic) cannot express: two documents embedding the same boilerplate
    * paragraph inside otherwise different text.
    *
    * Scale shape: each document explodes to its DISTINCT k-word spans
    * ([[TextOps.wordNgramsOf]] — words materialized once per row), and
    * the documents sharing a span key pair inside its bucket
    * ([[bucketPairs]], no self-join). With `hashedCarrier` the bucket key
    * is xxhash64(span) — an 8-byte grouping key instead of ~50-word
    * strings (pair set hash-collision-exact at 2^-64); the span STRING
    * rides in the members as payload for the sample. Ubiquitous spans
    * (boilerplate present in more docs than `maxBucket`) would pair
    * quadratically; whole buckets over the cap are dropped with an
    * observable metric (`span_buckets` observation) — the capped-bucket
    * discipline of [[minhashPairs]] applied to exact spans. Downstream:
    * feed the pairs to [[connectedComponents]] + [[applyPrune]] for keeper
    * selection, or use n_shared_spans as a span-mask-building signal.
    *
    * Returns (id_a, id_b, n_shared_spans, sample_span) with id_a < id_b;
    * sample_span = the lexicographically smallest shared span.
    */
  def substringSpanPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      maxBucket: Int = DefaultMaxBucket,
      hashedCarrier: Boolean = true
  ): DataFrame = {
    require(k >= 2, s"span length must be >= 2 words: $k")
    val spans = docs
      .select(col(idCol).as("id"), TextOps.lowerWords(col(textCol)).as("_w"))
      .select(col("id"), explode(TextOps.wordNgramsOf(col("_w"), k)).as("span"))
    val keyed = spans.withColumn("g", if (hashedCarrier) xxhash64(col("span")) else col("span"))
    bucketPairs(keyed, Seq("g"), Seq("id", "span"), maxBucket, "span_buckets")
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // per-doc spans are distinct, so pairs per doc pair = shared spans;
      // `a` is the lower id's member, whose span is the sample
      .agg(count(lit(1)).as("n_shared_spans"), min(col("a.span")).as("sample_span"))
  }

  /** Span REMOVAL — the second half of Lee et al. 2022's exact-substring
    * dedup ([[substringSpanPairs]] finds the pairs; this rewrites the
    * corpus): every occurrence of a k-word span that appears more than once
    * in the corpus is removed EXCEPT the globally first one (min (id, pos)),
    * and each document is reconstructed from its surviving words. A word is
    * removed iff any duplicated non-keeper span covers it, so overlapping
    * duplicated spans merge into one excised interval for free.
    *
    * Scale shape: positioned spans (one row per (doc, start), xxhash64
    * carrier) → keeper election as `groupBy(g).agg(min(struct(id,pos)),
    * count)` — a map-side-combining aggregate, so a boilerplate span
    * repeated millions of times never concentrates rows the way a
    * row_number window would (AQE handles the residual skew of the
    * mark-back join on g) → per-word removal flags via ONE sliding window
    * `max over (partition id, rows k-1 preceding)` on the dense word
    * positions → per-doc reassembly (sorted collect of surviving words).
    * The reassembly window/agg partitions by document: one pathologically
    * long document is one task — inherent to producing its cleaned text.
    * Hash collisions (2^-64) can only over-remove, mirroring
    * [[substringSpanPairs]]'s carrier trade; pass `hashedCarrier = false`
    * to shuffle full span strings instead.
    *
    * Returns one row per document with at least one word:
    * (id, n_words, n_removed, clean_text) — `clean_text` the surviving
    * words joined by single spaces (empty string when everything was a
    * duplicate span).
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      hashedCarrier: Boolean = true
  ): DataFrame = {
    require(k >= 2, s"span length must be >= 2 words: $k")
    val w = docs.select(col(idCol).as("id"), TextOps.lowerWords(col(textCol)).as("_w"))
    // positioned (not distinct) spans: start positions are 1-based so the
    // slice arithmetic matches the SQL-dialect oracle exactly
    val spans = w
      .filter(size(col("_w")) >= k)
      .select(
        col("id"),
        posexplode(transform(sequence(lit(1), size(col("_w")) - k + 1), i => {
          val s = concat_ws(" ", slice(col("_w"), i, lit(k)))
          if (hashedCarrier) xxhash64(s) else s
        })).as(Seq("p0", "g")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("g"))
    val keepers = spans
      .groupBy("g")
      .agg(min(struct(col("id"), col("pos"))).as("keep"), count(lit(1)).as("cnt"))
    val dupStarts = spans
      .join(keepers, Seq("g"))
      .filter(col("cnt") > 1 && !(col("id") === col("keep.id") && col("pos") === col("keep.pos")))
      .select(col("id"), col("pos"), lit(1).as("d"))
    val words = w
      .select(col("id"), posexplode(col("_w")).as(Seq("w0", "word")))
      .select(col("id"), (col("w0") + 1).as("wpos"), col("word"))
    val cover = Window.partitionBy("id").orderBy("wpos").rowsBetween(-(k - 1), 0)
    words
      .join(dupStarts.withColumnRenamed("pos", "wpos"), Seq("id", "wpos"), "left")
      .withColumn("rm", max(coalesce(col("d"), lit(0))).over(cover))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("rm")).cast("long").as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rm") === 0, struct(col("wpos"), col("word"))))),
            s => s.getField("word")),
          " ").as("clean_text"))
  }

  /** Near-duplicate pairs of any 64-bit similarity signature: 4×16-bit band
    * buckets (pigeonhole: hamming ≤ 3 guarantees one identical band),
    * verified by exact Hamming distance ≤ maxHamming. The shared kernel of
    * [[simhashPairs]] (text) and [[phashPairs]] (images).
    */
  def signaturePairs(sigs: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding only guarantees recall for hamming <= 3")
    val keys = sigs.select(
      col("id"),
      col("sig"),
      posexplode(array((0 until 4).map(b => shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_idx", "band_key")))
    bucketPairs(keys, Seq("band_idx", "band_key"), Seq("id", "sig"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .withColumn("hamming", TextOps.hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-duplicate pairs over text. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    signaturePairs(
      df.select(col(idCol).as("id"), TextOps.simhash64(TextOps.tokens(col(textCol))).as("sig")),
      maxHamming, maxBucket)

  /** Perceptual-hash near-duplicate IMAGE pairs: the same banding over a
    * precomputed 64-bit phash column — the image-payload dedup of the
    * training-pipeline spec. The generator plants hot phashes, so the
    * bucket cap is load-bearing here exactly as for degenerate text.
    */
  def phashPairs(df: DataFrame, idCol: String, phashCol: String, maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    signaturePairs(df.select(col(idCol).as("id"), col(phashCol).as("sig")), maxHamming, maxBucket)

  /** Connected components over a near-dup pair list — the step that turns
    * verified pairs into deletable duplicate GROUPS (keep one canonical id
    * per component). Iterative min-label propagation: label(v) starts as v,
    * each round takes the min over neighbors, stopping when no label moves.
    * Rounds needed = component diameter — near-dup components are tiny, so
    * this is a handful of shuffle joins on the (small) pair list, never on
    * the corpus; each round localCheckpoints to truncate lineage (the
    * iterative-plan growth trap). localCheckpoint (executor-pinned) is the
    * right durability trade HERE, unlike for signature tables: the pair
    * list is orders of magnitude smaller than the corpus and the loop is
    * deterministic — an executor loss costs re-running a few cheap rounds,
    * not a corpus-scale recompute. Returns (id, component) for every id
    * appearing in `pairs`, component = min id of its component.
    */
  def components(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b", maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // No edge dedup: every step is a min over neighbors, so a duplicated or
    // reversed pair gives the same labels and is never worth a shuffle.
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))).localCheckpoint()
    // Round 1 fused with label initialization: label(v) starts as v, so the
    // first propagation is simply min(v, min over neighbor IDS) — one
    // map-side-combining aggregate over the edge list, no init frame, no
    // edges⋈labels join, one checkpoint fewer. The moved-count rides the
    // checkpoint's materialization job as an Observation — ONE job per
    // round, never a second count scan (round-3 advisory).
    val obs1 = new org.apache.spark.sql.Observation()
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nc"))
      .select(col("id"), least(col("id"), col("nc")).as("component"),
        (col("nc") < col("id")).as("_moved"))
      .observe(obs1, sum(when(col("_moved"), 1L).otherwise(0L)).as("moved"))
      .localCheckpoint()
      .drop("_moved")
    var moved = Option(obs1.get.getOrElse("moved", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var iter = 1
    while (moved > 0 && iter < maxIter) {
      // candidate label per node: min over its own label and neighbors' labels
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("component", "nc"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nc")).as("nc"))
      val obs = new org.apache.spark.sql.Observation()
      val next = labels
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          (col("nc") < col("component")).as("_moved"))
        .observe(obs, sum(when(col("_moved"), 1L).otherwise(0L)).as("moved"))
        .localCheckpoint()
      moved = Option(obs.get.getOrElse("moved", null)).map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next.drop("_moved")
      iter += 1
    }
    // Silent non-convergence would return SPLIT components — multiple
    // "canonical" survivors for one true duplicate group, with no signal.
    require(
      moved == 0,
      s"components did not converge in $maxIter rounds ($moved labels still moving): " +
        "a component's diameter exceeds maxIter — raise maxIter"
    )
    labels
  }

  /** Turn verified near-dup pairs into the DROP decision — the step a
    * curation pipeline actually executes: per duplicate group (connected
    * component), keep the canonical member (min id) and list every other
    * member as (drop_id, keep_id). Pure pair-list work on top of
    * [[components]]; anti-joining drop_id against the corpus is the
    * caller's one-line finish.
    */
  def pruneList(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b", maxIter: Int = 20): DataFrame =
    components(pairs, idA, idB, maxIter)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("drop_id"), col("component").as("keep_id"))

  /** The one-call finish: `df` minus the drop side of a prune list — the
    * "give me the clean table" step (an anti-join on the id; broadcast-able
    * whenever the drop list is small relative to the corpus, which near-dup
    * drop lists are).
    */
  def applyPrune(df: DataFrame, idCol: String, prune: DataFrame): DataFrame =
    df.join(prune.select(col("drop_id").as(idCol)), Seq(idCol), "left_anti")

  /** [[pruneList]] with a QUALITY policy: keep the member with the highest
    * score per duplicate group (ties broken by min id — deterministic),
    * drop the rest — the SemDeDup/CCNet-style decision ("keep the sample
    * nearest the centroid / lowest perplexity") rather than min-id.
    * `scores` maps every paired id to a score (idCol, scoreCol); ids
    * missing a score rank below all scored members (never kept over a
    * scored sibling). One window over the (small) component list.
    */
  def pruneListByScore(
      pairs: DataFrame,
      scores: DataFrame,
      idCol: String,
      scoreCol: String,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20
  ): DataFrame = {
    val comp = components(pairs, idA, idB, maxIter)
      .join(scores.select(col(idCol).as("id"), col(scoreCol).as("_score")), Seq("id"), "left")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("_score").desc_nulls_last, col("id"))
    comp
      .withColumn("_keep", first(col("id")).over(w))
      .filter(col("id") =!= col("_keep"))
      .select(col("id").as("drop_id"), col("_keep").as("keep_id"))
  }

  /** The shared tail of every embedding-pair kernel: pair within capped
    * buckets, verify exact cosine ≥ threshold. Input: (id, v, bucket).
    * Returns distinct (id_a, id_b, cosine) with id_a < id_b.
    */
  private def cosineVerifiedPairs(withBucket: DataFrame, threshold: Double, maxBucket: Int): DataFrame =
    bucketPairs(withBucket, Seq("bucket"), Seq("id", "v"), maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()

  /** Embedding near-duplicate pairs: random-hyperplane LSH buckets, exact
    * cosine verification ≥ threshold.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int, threshold: Double = 0.95, nbits: Int = 12, maxBucket: Int = DefaultMaxBucket): DataFrame =
    cosineVerifiedPairs(embeddingSignatures(df, idCol, vecCol, dim, nbits), threshold, maxBucket)

  /** INCREMENTAL near-dup detection: pairs (corpus_id, incoming_id) where a
    * row of the arriving batch near-duplicates an already-ingested corpus
    * row — the production dedup shape at 10^12 rows: each batch is checked
    * against the corpus WITHOUT re-pairing the corpus against itself
    * (corpus self-pairs were found when those rows arrived).
    *
    * Scale shape: the two sides are bucketed separately and meet in a plain
    * bucket equi-join — cross-side by construction, no tag column, no
    * self-join. `rpSignature` carries no fitted state (hyperplanes derive
    * from xxhash64), so the corpus side's (id, bucket, vector) table can be
    * MATERIALIZED ONCE and reused verbatim for every future batch — the
    * per-batch cost is signing the batch plus one join against the stored
    * signatures, never a corpus re-scan. Both sides are capped (hot corpus
    * buckets bound the join's per-bucket fan-out; a degenerate incoming
    * batch — e.g. all-identical rows — is capped on its own side), with
    * drops observable under separate names (`lsh_buckets` /
    * `lsh_buckets_incoming`).
    */
  def embeddingPairsAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      nbits: Int = 12,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame =
    embeddingPairsAgainstSignatures(
      embeddingSignatures(corpus, idCol, vecCol, dim, nbits),
      embeddingSignatures(incoming, idCol, vecCol, dim, nbits),
      threshold, maxBucket)

  /** The (id, v, bucket) signature frame of [[embeddingPairsAgainst]] —
    * stateless-deterministic like [[minhashSignatures]]: store once for
    * the corpus, feed the stored frame per batch.
    */
  def embeddingSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int, nbits: Int = 12): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.rpSignature(col("v"), dim, nbits))

  /** Cross-side pairing over prebuilt [[embeddingSignatures]] frames (both
    * sides must share dim/nbits).
    */
  def embeddingPairsAgainstSignatures(
      corpusSigs: DataFrame,
      incomingSigs: DataFrame,
      threshold: Double = 0.95,
      maxBucket: Int = DefaultMaxBucket
  ): DataFrame = {
    def side(s: DataFrame, obsName: String) =
      cappedBuckets(s, Seq("bucket"), Seq("id", "v"), maxBucket, obsName, minMembers = 1)
    crossBucketPairs(side(corpusSigs, "lsh_buckets"), side(incomingSigs, "lsh_buckets_incoming"), Seq("bucket"))
      .select(col("c.id").as("corpus_id"), col("i.id").as("incoming_id"),
        Similarity.cosine(col("c.v"), col("i.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a data-adaptive
    * quantizer and verify exact cosine WITHIN each cluster only.
    * Data-adaptive candidacy vs [[embeddingPairs]]' random hyperplanes:
    * cluster seeds are sampled FROM the data, so dense regions get
    * proportionally fine candidacy while empty space costs nothing. The
    * trade (as in the paper): near-dup pairs straddling a cluster boundary
    * are missed — identical vectors never are (deterministic assignment:
    * identical inputs always resolve to the identical seed).
    *
    * Scale design (round-3 advisory): the previous single-level k-means fit
    * scaled its k as n/targetClusterSize — right for candidate mass, but
    * Lloyd assignment is O(n·k·d) per iteration = O(n²·d) at extreme n. The
    * [[adaptiveBuckets]] quantizer replaces it with a bounded-seed recursive
    * split: every round costs O(rows·seeds·d) with seeds ≤ coarseSeeds, so
    * total fit cost is LINEAR in n (× a handful of geometric rounds), while
    * cluster count still tracks n (each round splits only still-oversized
    * cells, one seed per ~targetClusterSize rows). No row count of the
    * input is needed at all — the n-driven k (and its extra full scan) is
    * gone. The cap + exact-cosine verify stage is unchanged.
    */
  def semanticPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      targetClusterSize: Int = 128,
      maxBucket: Int = DefaultMaxBucket,
      coarseSeeds: Int = 1024,
      maxRounds: Int = 6
  ): DataFrame = {
    require(targetClusterSize > 0 && targetClusterSize <= maxBucket,
      s"targetClusterSize must be in (0, maxBucket=$maxBucket]")
    cosineVerifiedPairs(
      adaptiveBuckets(df.select(col(idCol).as("id"), col(vecCol).as("v")),
        targetClusterSize, maxBucket, coarseSeeds, maxRounds),
      threshold, maxBucket)
  }

  /** Recursive density-adaptive Voronoi quantizer: assign every (id, v) row
    * a cluster `bucket` such that clusters track the data's density and
    * (almost all) end up ≤ maxBucket rows, at LINEAR cost in n.
    *
    * Round 1 (the coarse level): sample ~1/targetClusterSize of the rows as
    * seeds (uniform sampling of data points IS density-adaptive seeding —
    * dense regions contribute proportionally more seeds), cap at
    * `coarseSeeds` by smallest hash (deterministic), broadcast the one-row
    * seed array to every row, and assign each row to its max-cosine seed
    * via the codegen'd [[graft.functions.NearestSeedExpr]] — one pass,
    * O(n·coarseSeeds·d), no shuffle of the corpus.
    *
    * Rounds 2+: only cells still > maxBucket re-split. Per oversized cell,
    * re-sample ~1/targetClusterSize of ITS rows as sub-seeds (capped at
    * `maxSeedsPerCell`), aggregate them per cell (one hash-agg — sizes and
    * seeds in the same pass), join back on the cell key, re-assign. Cell
    * sizes shrink geometrically (≈ ×1/seeds per round), so a handful of
    * rounds suffices at any n; each round materializes only the still-
    * oversized remainder (shared-FS spill, same rationale as
    * [[materializeSigs]]). The sub-seed join is left unhinted: by round 2
    * bucket cardinality is ≥ the seed count, so AQE picks broadcast while
    * the seed table is small and a by-bucket shuffle join otherwise.
    *
    * Termination: cells a round cannot split (zero sampled seeds — retried
    * next round under a fresh salt — or >maxBucket EXACT duplicates of one
    * vector, which no geometric quantizer can separate) flow out after
    * maxRounds and hit the observable bucket cap downstream, same
    * as under the previous k-means fit (identical vectors share a centroid
    * there too).
    *
    * Determinism: seed choice is keyed on xxhash64(id, round), assignment is
    * a pure function of (v, sorted seed array), and new bucket ids are
    * xxhash64(parent bucket, chosen seed hash) — identical vectors co-bucket
    * at every level regardless of partitioning.
    */
  private[graft] def adaptiveBuckets(
      base: DataFrame, // (id, v)
      targetClusterSize: Int,
      maxBucket: Int,
      coarseSeeds: Int = 1024,
      maxRounds: Int = 6,
      maxSeedsPerCell: Int = 256
  ): DataFrame = {
    val t = lit(targetClusterSize.toLong)
    // Round 1: global seed sample, capped deterministically by smallest hash.
    val s1 = base.select(xxhash64(col("id"), lit(1L)).as("hk"), col("v").as("sv"))
      .filter(pmod(col("hk"), t) === 0)
      .orderBy("hk").limit(coarseSeeds)
    val arr1 = s1.agg(sort_array(collect_list(struct(col("hk"), col("sv")))).as("_seeds"))
    // Null-guard on the NEAREST-SEED expression, not on the final hash:
    // xxhash64 skips null children and never returns null, so a
    // coalesce(xxhash64(...), fallback) fallback would be dead code — a
    // null nearest seed would silently hash to xxhash64(salt) instead of
    // the documented "cell 0" / "keep the cell" behavior (and a row whose
    // vector length matches no seed would part ways with its cellmates).
    // WSCG subexpression elimination dedupes the doubled NearestSeedExpr.
    val nearest1 = graft.functions.NearestSeedExpr(col("v"), col("_seeds"))
    var current = materializeSigs(
      base.crossJoin(broadcast(arr1))
        .select(col("id"), col("v"),
          // empty seed sample (n ≲ targetClusterSize) → everything in cell 0
          when(nearest1.isNull, lit(0L)).otherwise(xxhash64(lit(1L), nearest1))
            .as("bucket")),
      "semdedup-1")
    val doneParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 2
    var exhausted = false
    while (!exhausted && round <= maxRounds) {
      val over = current.groupBy("bucket").agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > maxBucket).select("bucket")
      val overCount = over.count()
      if (overCount == 0) exhausted = true
      else {
        doneParts += current.join(broadcast(over), Seq("bucket"), "left_anti")
        val todo = current.join(broadcast(over), Seq("bucket"), "left_semi")
        // Cap the per-cell sample INSIDE the aggregate: a collect_list-then-
        // slice would gather ALL sampled seeds of a mega-cell into one
        // aggregation buffer (~n/coarseSeeds/targetClusterSize dim-d
        // structs — gigabytes at n=10^9) before truncating. The bounded
        // top-k keeps the smallest-(hk, sv) seeds sorted ascending (the
        // slice(sort_array) output), O(maxSeedsPerCell·dim) per map task.
        val cellSeeds = todo
          .select(col("bucket"), xxhash64(col("id"), lit(round.toLong)).as("hk"), col("v").as("sv"))
          .filter(pmod(col("hk"), t) === 0)
          .groupBy("bucket")
          .agg(graft.functions.BoundedTopKAgg.topK(struct(col("hk"), col("sv")), maxSeedsPerCell, Seq(true, true))
            .as("_seeds"))
        // Early rounds have FEW oversized cells, each potentially huge
        // (round 2: ≤ coarseSeeds cells of up to n/coarseSeeds rows); a
        // shuffle join on `bucket` would hash a whole mega-cell onto one
        // task WITH the join attached. Broadcast the seed table while its
        // row count is provably small (size ≈ cells × maxSeedsPerCell ×
        // dim × 4B — ~67 MB at 1024 cells × 256 seeds × 64 dims) so the
        // corpus streams through map tasks unshuffled; later rounds have
        // high bucket cardinality and small cells, where a plain join is
        // fine and a broadcast would no longer fit.
        val seedsSide = if (overCount <= 1024) broadcast(cellSeeds) else cellSeeds
        val nearestR = graft.functions.NearestSeedExpr(col("v"), col("_seeds"))
        current = materializeSigs(
          todo.join(seedsSide, Seq("bucket"), "left")
            .select(col("id"), col("v"),
              // no usable seeds this round → keep the cell, retry under the
              // next round's salt (or flow to the cap valve after maxRounds);
              // guard on the seed expr itself (see round-1 note) so a
              // no-seed ROW also stays with its cell rather than hashing
              // to a renamed one
              when(nearestR.isNull, col("bucket")).otherwise(xxhash64(col("bucket"), nearestR))
                .as("bucket")),
          s"semdedup-$round")
        round += 1
      }
    }
    doneParts.foldLeft(current)(_ unionByName _)
  }
}
