package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.SyntheticImages

/** Input generation. Every row is a pure function of its index, and the
  * seed only moves the index window, so one seed always yields the same
  * tables. Tables are written to parquet during set-up; the library under
  * test only ever reads those files.
  */
object Inputs {

  /** Index offset for a seed: windows of different seeds never overlap. */
  def offset(seed: Long): Long = math.floorMod(seed, 1000000L) * 100000000L

  /** Full image rows, `bytes` included (encoded content comes from a pool of
    * `contentPool` images, so set-up cost does not grow with the row count).
    */
  def images(spark: SparkSession, from: Long, n: Long, parts: Int, contentPool: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long]
      .mapPartitions(_.map(i => SyntheticImages.rowOf(i, drift = false, contentPool)))
      .toDF()
  }

  /** Image rows without `bytes`, content drawn from a pool of `contentPool`. */
  def imagesMeta(spark: SparkSession, from: Long, n: Long, parts: Int, contentPool: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long]
      .mapPartitions(_.map(i => SyntheticImages.metaRowOf(i, drift = false, contentPool, withPhash = true)))
      .toDF()
  }

  // ------------------------------------------------------------ captions ----

  private val syllables = Array("ka", "lo", "mi", "tre", "sun", "ve", "dor", "pa", "qui", "ran", "sel", "to",
    "bu", "nix", "ge", "fal", "or", "zen", "wi", "hal", "mur", "pe", "sto", "cri")

  /** A 4096-word pseudo-vocabulary, fixed across seeds. */
  private val vocab: Array[String] = Array.tabulate(4096) { w =>
    val r = SyntheticImages.mix(0x5eedL + w)
    (0 until 2 + (r & 1).toInt + ((r >>> 1) & 1).toInt)
      .map(j => syllables(((r >>> (4 + 5 * j)) & 0xffff).toInt % syllables.length)).mkString
  }

  /** Every `NearDupEvery`-th caption repeats the previous caption plus one
    * word: a planted near-duplicate pair (Jaccard of 5-shingles ≈ 0.9).
    */
  val NearDupEvery = 40
  def plantedNearDup(i: Long): Boolean = math.floorMod(i, NearDupEvery.toLong) == 7

  private def freshText(i: Long): String = {
    val r = SyntheticImages.mix(0xca9L ^ i)
    val n = 10 + (r & 7).toInt
    (0 until n).map(j => vocab((SyntheticImages.mix(r + j) & 4095).toInt)).mkString(" ")
  }

  /** Varied caption text: random words over the vocabulary, not a template. */
  def captionText(i: Long): String =
    if (plantedNearDup(i)) freshText(i - 1) + " " + vocab((SyntheticImages.mix(i) & 4095).toInt)
    else freshText(i)

  final case class CaptionRow(image_id: String, cap_id: Long, caption: String)

  /** Caption side table for the image rows [from, from + n): the image id
    * mapping of the generator's planted anomalies, minus planted orphans,
    * plus planted dangling captions (ids that name no image).
    */
  def captionRows(from: Long, n: Long): Iterator[CaptionRow] = {
    import SyntheticImages.{Plant, idOf}
    (from until from + n).iterator.flatMap { i =>
      val keep =
        if (Plant.orphanImage(i) || Plant.nullId(i)) Nil
        else {
          val id = if (Plant.dupId(i)) idOf(i - 1) else if (Plant.badPatternId(i)) s"not-a-uuid-$i" else idOf(i)
          List(CaptionRow(id, i, captionText(i)))
        }
      val dangling =
        if (Plant.danglingCaption(i)) List(CaptionRow(s"dangling-$i", -i, captionText(i) + " orphaned")) else Nil
      keep ++ dangling
    }
  }

  def captions(spark: SparkSession, from: Long, n: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long]
      .mapPartitions(_.flatMap(i => captionRows(i, 1)))
      .toDF()
  }

  /** Rows of the cheap (no pixel checks) path that v1 triages `invalid`,
    * derived from the generator's planted anomalies alone. Where two plants
    * hit one row the generator applies the first in its own order: a
    * duplicated id replaces a malformed one, and a null fmt (filled with the
    * default) replaces a disallowed one.
    */
  def cheapInvalid(i: Long): Boolean = {
    import SyntheticImages.Plant._
    nullId(i) || (badPatternId(i) && !dupId(i)) || emptyCaption(i) || nullCaption(i) ||
      (badFmt(i) && !nullFmt(i)) || bigW(i) || zeroW(i) || negH(i)
  }

  def writeParquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  /** The `p`-th data file (by name) of a parquet directory written with one
    * file per generator partition; a job reading it sees one partition.
    */
  def partFile(dir: String, p: Int): String = {
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted
    s"$dir/${files(p)}"
  }

  /** Bytes under a local directory, all files included. */
  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Data files (parquet parts) under a local directory. */
  def dataFiles(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}
