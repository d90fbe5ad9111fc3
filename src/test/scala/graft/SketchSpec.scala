package graft

import org.apache.spark.sql.functions._

import graft.drift.Drift
import graft.gen.SyntheticImages
import graft.sketch.{ColumnProfiler, Sketches}

class SketchSpec extends SparkSpec {

  lazy val imgs = SyntheticImages.images(spark, 8000, 4).toDF().cache()

  test("HLL estimate within 3% of exact distinct; merge is order-insensitive") {
    import spark.implicits._
    val exact = imgs.select("image_id").filter(col("image_id").isNotNull).distinct().count()
    val est = Sketches.hllEstimate(
      imgs.agg(Sketches.hllString(col("image_id"))).as[Array[Byte]].collect()(0)
    )
    assert(math.abs(est - exact) / exact < 0.03, s"est=$est exact=$exact")
    // merge associativity/commutativity on split halves
    val Seq(a, b) = Seq(col("phash") % 2 === 0, col("phash") % 2 =!= 0).map { p =>
      imgs.filter(p).agg(Sketches.hllString(col("image_id"))).as[Array[Byte]].collect()(0)
    }
    val ab = Sketches.hllEstimate(Sketches.HllString().mergeBytes(a, b))
    val ba = Sketches.hllEstimate(Sketches.HllString().mergeBytes(b, a))
    assert(ab == ba)
    assert(math.abs(ab - exact) / exact < 0.03)
  }

  test("every kind's buffer round-trips through Java serialization byte for byte") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
    def roundTrip[IN, S](kind: Sketches.Kind[IN, S], values: Seq[IN]): Unit = {
      val buf = new Sketches.Buf(kind, kind.empty)
      values.foreach(kind.add(buf.sk, _))
      val before = kind.write(buf.sk)
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes); out.writeObject(buf); out.close()
      val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject()
      assert(kind.write(back.asInstanceOf[Sketches.Buf[S]].sk).sameElements(before), s"$kind changed in transit")
    }
    val ids = (0 until 5000).map(i => s"id-$i")
    val longs = (0 until 5000).map(i => java.lang.Long.valueOf(i.toLong % 700))
    roundTrip(Sketches.HllString(), ids)
    roundTrip(Sketches.HllLong(), longs)
    roundTrip(Sketches.TDigest(), (0 until 5000).map(i => java.lang.Double.valueOf(math.sqrt(i.toDouble))))
    roundTrip(Sketches.FreqLong(), longs)
    roundTrip(Sketches.FreqString(), ids.map(_.take(4)))
  }

  test("t-digest quantiles close to exact percentiles") {
    import spark.implicits._
    val td = imgs.agg(Sketches.tdigest(col("w"))).as[Array[Byte]].collect()(0)
    val exact = imgs
      .filter(col("w").between(1, 16384))
      .selectExpr("percentile(w, array(0.1, 0.5, 0.9))")
      .as[Seq[Double]]
      .collect()(0)
    // planted outliers (2^20, 0) shift tails slightly; t-digest of a
    // 5-point discrete distribution lands within one step of exact
    val got = Seq(0.1, 0.5, 0.9).map(Sketches.tdQuantile(td, _))
    got.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) <= 20, s"tdigest $g vs exact $e")
    }
  }

  test("frequent-items finds the planted hot phash buckets") {
    import spark.implicits._
    val fq = imgs.agg(Sketches.freqLong(col("phash"))).as[Array[Byte]].collect()(0)
    val top = Sketches.freqLongTopK(fq, 8).map(_._1).toSet
    assert(SyntheticImages.hotPhashes.toSet.subsetOf(top), s"hot buckets missing from $top")
  }

  test("sql profile and treeAggregate profile agree") {
    val p1 = ColumnProfiler.profile(imgs)
    val p2 = ProfilerReference.profileTree(imgs, depth = 2)
    assert(p1.nRows == p2.nRows)
    val Seq(id1, id2) = Seq(p1, p2).map(p => Sketches.hllEstimate(p.sketch("hll_image_id")))
    assert(math.abs(id1 - id2) / id1 < 0.01)
    Seq(0.25, 0.5, 0.75).foreach { q =>
      assert(math.abs(Sketches.tdQuantile(p1.sketch("td_w"), q) - Sketches.tdQuantile(p2.sketch("td_w"), q)) <= 8)
    }
  }

  test("uniqueness gate: image_id passes at 0.97, phash fails (20% hot rows)") {
    val p = ColumnProfiler.profile(imgs)
    val idRep = ColumnProfiler.uniqueness(p, "image_id", 0.97)
    assert(idRep.pass, idRep.toString)
    val phRep = ColumnProfiler.uniqueness(p, "phash", 0.9)
    assert(!phRep.pass, phRep.toString)
    assert(phRep.ratio < 0.85)
  }

  test("exactDrift: self-vs-self is exactly 0; shifted bins match hand-computed KS/PSI") {
    import spark.implicits._
    // self vs self: p == q in every bin (clamping is symmetric) → 0.0 exactly
    val a = Seq((10.0, "x"), (20.0, "x"), (60.0, "y")).toDF("v", "c")
    val self = Drift.exactDrift(a, a, "v", lo = 0.0, binWidth = 50.0, bins = 2, catCol = "c")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(self.values.forall(_ == 0.0), self.toString)

    // base: 4 rows in bin0; curr: 2 in bin0 + 2 in bin1 → cq(bin0)=0.5 so
    // ks = 0.5; psi from the clamped formula computed with the same math
    val base = Seq(10.0, 20.0, 30.0, 40.0).toDF("v").withColumn("c", lit("x"))
    val curr = Seq(10.0, 20.0, 60.0, 70.0).toDF("v").withColumn("c", lit("x"))
    val got = Drift.exactDrift(base, curr, "v", lo = 0.0, binWidth = 50.0, bins = 2, catCol = "c")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val eps = 1e-6
    val expPsi = BigDecimal((0.5 - 1.0) * math.log(0.5 / 1.0) + (0.5 - eps) * math.log(0.5 / eps))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("ks", "v")) == 0.5, got.toString)
    assert(got(("psi", "v")) == expPsi, s"got ${got(("psi", "v"))} expected $expPsi")
    assert(got(("psi", "c")) == 0.0, "identical category mix must score 0")
  }

  test("drift: same-vs-same ~ 0; baseline-vs-drift generator flags w/h and fmt") {
    val base = ColumnProfiler.profile(imgs)
    val same = ColumnProfiler.profile(imgs)
    val selfRep = Drift.report(base, same)
    assert(selfRep.pass, selfRep.scores.mkString("; "))

    val drifted = ColumnProfiler.profile(SyntheticImages.images(spark, 8000, 4, drift = true).toDF())
    val rep = Drift.report(base, drifted)
    assert(!rep.pass)
    val byKey = rep.scores.map(s => (s.metric, s.column) -> s.value).toMap
    assert(byKey(("ks", "w")) > 0.1, s"ks(w)=${byKey(("ks", "w"))}")
    assert(byKey(("psi", "fmt")) > 0.1, s"psi(fmt)=${byKey(("psi", "fmt"))}")
  }
}
