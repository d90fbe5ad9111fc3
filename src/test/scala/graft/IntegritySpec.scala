package graft

import org.apache.spark.sql.functions._

import graft.gen.SyntheticImages
import graft.gen.SyntheticImages.Plant
import graft.integrity.{Referential, SkewJoin}

class IntegritySpec extends SparkSpec {

  val N = 5000L
  lazy val imgs = SyntheticImages.images(spark, N, 4).toDF().drop("bytes").cache()
  lazy val caps = SyntheticImages.captions(spark, N, 4).cache()

  test("referential check finds exactly the planted orphans and dangling captions") {
    val rep = Referential.check(imgs, caps)
    assert(!rep.pass)
    assert(rep.danglingCaptions == (0L until N).count(Plant.danglingCaption))
    // planted orphans: kept images whose caption row was dropped; ids also
    // absent for null-id rows (excluded by the check itself)
    val expectedOrphans = (0L until N).count(i => Plant.orphanImage(i) && !Plant.nullId(i) && !Plant.dupId(i) && !Plant.badPatternId(i))
    // dup-id images share the id of i-1 which usually has a caption row;
    // bad-pattern ids have caption rows with the same malformed id — both join.
    assert(rep.orphanImages == expectedOrphans, s"got ${rep.orphanImages} want $expectedOrphans")
  }

  test("one-pass check equals the orphan/dangling row counts, incl. null and duplicated ids") {
    import spark.implicits._
    val i2 = Seq(Some("a"), Some("a"), Some("b"), None, None, Some("c"), Some("d"), Some("d")).toDF("image_id")
    val c2 = Seq(Some("a"), Some("c"), Some("c"), None, Some("x"), Some("x"), Some("y")).toDF("image_id")
    val none = Seq.empty[Option[String]].toDF("image_id")
    for ((i, c) <- Seq((i2, c2), (i2, none), (none, c2), (none, none), (imgs, caps))) {
      val rep = Referential.check(i, c)
      val (o, d) = (Referential.orphanImages(i, c).count(), Referential.danglingCaptions(i, c).count())
      assert(rep == Referential.RefReport(o, d, o == 0 && d == 0), s"check $rep, anti-joins $o/$d")
    }
    // b, d, d have no caption; x, x, y name no image
    assert(Referential.check(i2, c2) == Referential.RefReport(3, 3, pass = false))
  }

  test("referential violations carry the violation-row schema") {
    val v = Referential.violations(imgs, caps, "snapX")
    assert(v.columns.toSeq == Seq("snapshot_id", "partition_id", "image_id", "constraint_id", "field", "detail", "status"))
    assert(v.filter(col("constraint_id") === "referential(captions->images)").count() > 0)
  }

  test("hot-key detection finds the planted phash buckets") {
    val hot = SkewJoin.detectHotLongKeys(imgs, "phash", minShare = 0.01)
    assert(SyntheticImages.hotPhashes.toSet.subsetOf(hot.toSet), s"missing hot keys in $hot")
    assert(hot.size <= 16, s"too many hot keys: ${hot.size}")
  }

  test("salted inner join == plain inner join (result-invariance)") {
    val left = imgs.select("image_id", "phash")
    val right = imgs.select(col("phash"), col("w").as("rw")).distinct()
    val plain = left.join(right, Seq("phash"), "inner")
    val salted = SkewJoin.saltedJoin(left, right, "phash", "inner", saltFactor = 4, hotKeys = SyntheticImages.hotPhashes.toSeq)
    assert(plain.count() == salted.count())
    val a = plain.select("phash", "image_id", "rw").collect().map(_.toString).sorted
    val b = salted.select("phash", "image_id", "rw").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("salted left join == plain left join, including null keys") {
    import spark.implicits._
    val left = Seq((1L, "a"), (2L, "b"), (2L, "c"), (99L, "z")).toDF("k", "lv")
      .union(Seq((null.asInstanceOf[java.lang.Long], "n")).toDF("k", "lv"))
    val right = Seq((1L, "x"), (2L, "y")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"), "left").select("k", "lv", "rv").collect().map(_.toString).sorted
    val salted = SkewJoin.saltedJoin(left, right, "k", "left", saltFactor = 3, hotKeys = Seq(2L))
      .select("k", "lv", "rv").collect().map(_.toString).sorted
    assert(plain.sameElements(salted))
  }

  test("salted join salt never drags wide columns into the scan (bytes pruned)") {
    // The salt hashes only (key, monotonically_increasing_id); joining image
    // tables on phash with a narrow projection must leave `bytes` out of the
    // parquet ReadSchema — at 10^12 rows bytes is ~99% of table width.
    val dir = java.nio.file.Files.createTempDirectory("graft_saltprune").toString
    SyntheticImages.images(spark, 500, 2).toDF().write.mode("overwrite").parquet(dir)
    val full = spark.read.parquet(dir)
    val left = full.select("phash", "w")
    val right = full.select(col("phash"), col("fmt").as("fmt_r")).distinct()
    val j = SkewJoin.saltedJoin(left, right, "phash", "inner", saltFactor = 4, hotKeys = SyntheticImages.hotPhashes.toSeq)
    val p = j.queryExecution.executedPlan.toString
    val scanLines = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(scanLines.nonEmpty && !scanLines.contains("bytes"), s"bytes not pruned:\n$scanLines")
    // one join on (key, salt): each input is scanned once
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)".r
    assert(joins.findAllIn(p).length == 1, s"expected one join operator:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 2, s"expected one scan per input:\n$p")
  }

  test("salted join with auto-detection matches plain join on skewed data") {
    val left = imgs.select("image_id", "phash")
    val right = imgs.groupBy("phash").agg(count(lit(1)).as("cnt"))
    val plain = left.join(right, Seq("phash"), "inner").agg(sum("cnt")).collect()(0).getLong(0)
    val auto = SkewJoin.saltedJoinAuto(left, right, "phash", "inner", saltFactor = 4)
      .agg(sum("cnt")).collect()(0).getLong(0)
    assert(plain == auto)
  }
}
