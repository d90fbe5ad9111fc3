package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

import graft.constraint.Compiler
import graft.engine.{EngineOptions, ImageConstraints, ValidationEngine}
import graft.model.ImageRow
import graft.sketch.Sketches

/** Driver-side sketch algebra properties (fast, 100 cases each). */
object SketchProps extends Properties("sketches") {

  private val longSets = Gen.listOfN(40, Gen.chooseNum(Long.MinValue, Long.MaxValue))

  private def hllOf(xs: Seq[Long]): Array[Byte] = {
    val sk = new org.apache.datasketches.hll.HllSketch(12)
    xs.foreach(sk.update)
    sk.toCompactByteArray
  }

  private val hllMerge = Sketches.HllLong().mergeBytes _

  property("hll merge is commutative") = Prop.forAll(longSets, longSets) { (a, b) =>
    Sketches.hllEstimate(hllMerge(hllOf(a), hllOf(b))) ==
      Sketches.hllEstimate(hllMerge(hllOf(b), hllOf(a)))
  }

  property("hll merge is associative") = Prop.forAll(longSets, longSets, longSets) { (a, b, c) =>
    val l = hllMerge(hllMerge(hllOf(a), hllOf(b)), hllOf(c))
    val r = hllMerge(hllOf(a), hllMerge(hllOf(b), hllOf(c)))
    Sketches.hllEstimate(l) == Sketches.hllEstimate(r)
  }

  property("hll estimate ≈ exact distinct on small sets") = Prop.forAll(longSets) { a =>
    val est = Sketches.hllEstimate(hllOf(a))
    val exact = a.distinct.size
    math.abs(est - exact) <= math.max(1.0, exact * 0.05)
  }

  property("tdigest merge preserves min/max bracket") = Prop.forAll(
    Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)), Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6))
  ) { (a, b) =>
    def tdOf(xs: Seq[Double]) = {
      val t = new org.apache.datasketches.tdigest.TDigestDouble(100.toShort)
      xs.foreach(t.update); t.compress(); t.toByteArray
    }
    val m = Sketches.TDigest().mergeBytes(tdOf(a), tdOf(b))
    val q50 = Sketches.tdQuantile(m, 0.5)
    val all = a ++ b
    q50 >= all.min - 1e-9 && q50 <= all.max + 1e-9
  }
}

/** Engine-level properties: a handful of Spark jobs each, so case counts
  * stay small (SURVEY §5's property plan: triage is a partition, default
  * fill is idempotent, validation of a valid row is a no-op besides fills).
  */
object EngineProps extends Properties("engine") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodId: Gen[String] =
    Gen.chooseNum(0L, 9999L).map(i => f"$i%08d-0000-4000-8000-000000000000")
  private val anyId: Gen[String] = Gen.frequency(
    6 -> goodId, 1 -> Gen.const(null), 1 -> Gen.const("not-a-uuid"),
    1 -> Gen.alphaNumStr.map(_.take(50))
  )
  private val rowGen: Gen[ImageRow] = for {
    id <- anyId
    w <- Gen.frequency(5 -> Gen.chooseNum(1, 4096), 1 -> Gen.const(0), 1 -> Gen.const(20000))
    h <- Gen.chooseNum(1, 4096)
    fmt <- Gen.oneOf("png", "jpeg", "bmp", null)
    cap <- Gen.frequency(5 -> Gen.alphaStr.map(_.take(30)), 1 -> Gen.const(""), 1 -> Gen.const(null))
    ph <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
  } yield ImageRow(id, Array.empty[Byte], w, h, fmt, cap, ph)
  private val batchGen: Gen[List[ImageRow]] = Gen.listOfN(30, rowGen)

  private def process(rows: List[ImageRow]) =
    new ValidationEngine(ImageConstraints.v1, EngineOptions(snapshotId = "prop"))
      .process(rows.toDF())

  property("triage partitions the batch: statuses sum to n, each row in exactly one group") =
    Prop.forAll(batchGen) { rows =>
      val res = process(rows)
      val counts = res.rollups
        .agg(sum("n_success"), sum("n_invalid"), sum("n_error")).collect()(0)
      val n = counts.getLong(0) + counts.getLong(1) + counts.getLong(2)
      val statuses = res.annotated.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      n == rows.size &&
      statuses.values.sum == rows.size &&
      res.valid.count() == counts.getLong(0)
    }

  /** bytes dropped before row-string compares: Array[Byte].toString is
    * reference-based and would never match.
    */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.drop("bytes").collect().map(_.toString).sorted.toSeq

  property("default fill is idempotent; valid rows ARE the filled originals (useDefaults mutation, nothing else)") =
    Prop.forAll(batchGen) { rows =>
      val df = rows.toDF()
      val once = Compiler.applyFills(df, ImageConstraints.v1)
      val twice = Compiler.applyFills(once, ImageConstraints.v1)
      val res = process(rows)
      val validSet = rowsOf(res.valid).toSet
      rowsOf(once) == rowsOf(twice) && validSet.subsetOf(rowsOf(once).toSet)
    }

  property("valid and violation ids are disjoint and together cover every non-null-id row") =
    Prop.forAll(batchGen) { rows =>
      val distinctRows = rows.zipWithIndex.map { case (r, i) =>
        r.copy(image_id = if (r.image_id == null) null else s"$i-${r.image_id}".take(36))
      } // unique ids so set arithmetic is exact
      val res = process(distinctRows)
      val validIds = res.valid.select("image_id").collect().map(_.getString(0)).toSet
      val vioIds = res.violations.select("image_id").collect().map(_.getString(0)).filter(_ != null).toSet
      val inputIds = distinctRows.flatMap(r => Option(r.image_id)).toSet
      validIds.intersect(vioIds).isEmpty && validIds.union(vioIds) == inputIds
    }

  // --- JSON intake: every body is either parsed or corrupt, never both ----

  private val bodyGen: Gen[(String, Option[(Long, String)])] = for {
    id <- Gen.chooseNum(0L, 1000000L)
    kind <- Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString) // escape-free payload
    shape <- Gen.frequency(
      5 -> Gen.const("ok"), 2 -> Gen.const("prefix"), 1 -> Gen.const("truncated"),
      1 -> Gen.const("garbage"), 1 -> Gen.const("null"))
  } yield {
    val json = s"""{"id":$id,"kind":"$kind"}"""
    shape match {
      case "ok"        => (json, Some((id, kind)))
      case "prefix"    => ("x" + json, None)
      case "truncated" => (json.dropRight(2), None)
      case "garbage"   => ("][not json at all", None)
      case _           => (null, None)
    }
  }

  property("json intake: parsed XOR corrupt; parsed rows round-trip their fields exactly") =
    Prop.forAll(Gen.listOfN(25, bodyGen)) { cases =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val schema = StructType(Seq(StructField("id", LongType), StructField("kind", StringType)))
      val out = graft.sources.JsonIntake
        .parse(cases.map(_._1).toDF("body"), "body", schema)
        .select("id", "kind", graft.sources.JsonIntake.CorruptCol)
        .as[(Option[Long], Option[String], Option[String])].collect().toSeq
      out.zip(cases).forall { case ((gotId, gotKind, corrupt), (body, expected)) =>
        expected match {
          case Some((id, kind)) => // valid body: exact round-trip, not corrupt
            gotId.contains(id) && gotKind.contains(kind) && corrupt.isEmpty
          case None => // malformed/null body: corrupt with the raw payload, fields null
            gotId.isEmpty && gotKind.isEmpty && corrupt.contains(Option(body).getOrElse(""))
        }
      }
    }
}
