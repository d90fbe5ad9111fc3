package graft.sketch

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch, LongsSketch}
import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.tdigest.TDigestDouble

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable, persistable sketch aggregates over Apache DataSketches —
  * the north_star's column statistics: HLL++ uniqueness on image_id/phash,
  * t-digest quantiles on w/h/byte-size, frequent-items on fmt/phash.
  *
  * Each sketch [[Kind]] says once how a sketch starts, takes a value,
  * merges, and writes and reads its bytes. One [[Buf]] and one
  * [[SketchAgg]] serve every kind, and the driver merges two committed
  * sketches with the same `merge` the executors use ([[Kind.mergeBytes]]).
  *
  * Implementation choice (SURVEY.md §7.3): public
  * `Aggregator[IN, BUF, OUT]` + `udaf()`. Spark wraps this in a
  * TypedImperativeAggregate (`ScalaAggregator`), so the buffer lives as a
  * mutable JVM object per partition and is (de)serialized ONLY at partial
  * aggregation boundaries — map-side combine + final merge is exactly the
  * executor-tree merge the reference-scale plan needs; no per-row ser/deser.
  *
  * OUT is always the serialized sketch (`Array[Byte]`) so results persist
  * in the snapshot manifest and merge ACROSS jobs (drift baselines).
  */
object Sketches {

  /** A sketch kind over non-null input values of type `IN`, held as an `S`. */
  sealed abstract class Kind[IN, S] extends Serializable {
    def empty: S
    def add(s: S, v: IN): Unit
    def merge(a: S, b: S): S
    def write(s: S): Array[Byte]
    def read(b: Array[Byte]): S
    protected def input: Encoder[IN]

    /** The serialized sketch of column `c`'s non-null values. */
    def aggregate(c: Column): Column = udaf(new SketchAgg(this), input).apply(c)

    /** Driver-side merge of two serialized sketches (the manifest chain). */
    final def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = write(merge(read(a), read(b)))
  }

  /** HLL++ distinct count; a union takes the larger of the two lgK. */
  sealed abstract class Hll[IN] extends Kind[IN, HllSketch] {
    def lgK: Int
    def empty = new HllSketch(lgK, TgtHllType.HLL_8)
    def merge(a: HllSketch, b: HllSketch): HllSketch = {
      val u = new Union(math.max(a.getLgConfigK, b.getLgConfigK))
      u.update(a); u.update(b); u.getResult(TgtHllType.HLL_8)
    }
    def write(s: HllSketch): Array[Byte] = s.toCompactByteArray
    def read(b: Array[Byte]): HllSketch = HllSketch.heapify(b)
  }

  /** HLL++ over a string key (e.g. image_id). */
  final case class HllString(lgK: Int = 12) extends Hll[String] {
    def add(s: HllSketch, v: String): Unit = s.update(v)
    protected def input: Encoder[String] = Encoders.STRING
  }

  /** HLL++ over a long key (e.g. phash). */
  final case class HllLong(lgK: Int = 12) extends Hll[java.lang.Long] {
    def add(s: HllSketch, v: java.lang.Long): Unit = s.update(v.longValue)
    protected def input: Encoder[java.lang.Long] = Encoders.LONG
  }

  /** t-digest quantiles over a numeric column (w, h, byte size); NaN is
    * skipped. `toByteArray` compresses the buffered values first. */
  final case class TDigest(k: Short = 200) extends Kind[java.lang.Double, TDigestDouble] {
    def empty = new TDigestDouble(k)
    def add(s: TDigestDouble, v: java.lang.Double): Unit = if (!v.isNaN) s.update(v.doubleValue)
    def merge(a: TDigestDouble, b: TDigestDouble): TDigestDouble = { a.merge(b); a }
    def write(s: TDigestDouble): Array[Byte] = s.toByteArray
    def read(b: Array[Byte]): TDigestDouble = TDigestDouble.heapify(Memory.wrap(b))
    protected def input: Encoder[java.lang.Double] = Encoders.DOUBLE
    override def aggregate(c: Column): Column = super.aggregate(c.cast("double"))
  }

  /** Frequent items (heavy hitters) over a long key. */
  final case class FreqLong(maxMapSize: Int = 1024) extends Kind[java.lang.Long, LongsSketch] {
    def empty = new LongsSketch(maxMapSize)
    def add(s: LongsSketch, v: java.lang.Long): Unit = s.update(v.longValue)
    def merge(a: LongsSketch, b: LongsSketch): LongsSketch = a.merge(b)
    def write(s: LongsSketch): Array[Byte] = s.toByteArray
    def read(b: Array[Byte]): LongsSketch = LongsSketch.getInstance(Memory.wrap(b))
    protected def input: Encoder[java.lang.Long] = Encoders.LONG
  }

  /** Frequent items over a string key (fmt frequencies). */
  final case class FreqString(maxMapSize: Int = 256) extends Kind[String, ItemsSketch[String]] {
    def empty = new ItemsSketch[String](maxMapSize)
    def add(s: ItemsSketch[String], v: String): Unit = s.update(v)
    def merge(a: ItemsSketch[String], b: ItemsSketch[String]): ItemsSketch[String] = a.merge(b)
    def write(s: ItemsSketch[String]): Array[Byte] = s.toByteArray(new ArrayOfStringsSerDe)
    def read(b: Array[Byte]): ItemsSketch[String] = ItemsSketch.getInstance(Memory.wrap(b), new ArrayOfStringsSerDe)
    protected def input: Encoder[String] = Encoders.STRING
  }

  /** Aggregation buffer of any kind. Java serialization (used by Spark only
    * at shuffle boundaries) writes the kind's parameters and the sketch's
    * own compact bytes. */
  final class Buf[S](kind: Kind[_, S], @transient var sk: S) extends Serializable {
    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      val b = kind.write(sk); out.writeInt(b.length); out.write(b)
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      val b = new Array[Byte](in.readInt()); in.readFully(b); sk = kind.read(b)
    }
  }

  /** The one sketch aggregator: `kind`'s sketch of the non-null inputs. */
  final class SketchAgg[IN, S](kind: Kind[IN, S]) extends Aggregator[IN, Buf[S], Array[Byte]] {
    def zero: Buf[S] = new Buf(kind, kind.empty)
    def reduce(b: Buf[S], a: IN): Buf[S] = { if (a != null) kind.add(b.sk, a); b }
    def merge(x: Buf[S], y: Buf[S]): Buf[S] = { x.sk = kind.merge(x.sk, y.sk); x }
    def finish(b: Buf[S]): Array[Byte] = kind.write(b.sk)
    def bufferEncoder: Encoder[Buf[S]] = Encoders.javaSerialization(classOf[Buf[S]])
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  // ------------------------------------------------- Column constructors ----

  def hllString(c: Column, lgK: Int = 12): Column = HllString(lgK).aggregate(c)
  def hllLong(c: Column, lgK: Int = 12): Column = HllLong(lgK).aggregate(c)
  def tdigest(c: Column, k: Short = 200): Column = TDigest(k).aggregate(c)
  def freqLong(c: Column, maxMapSize: Int = 1024): Column = FreqLong(maxMapSize).aggregate(c)
  def freqString(c: Column, maxMapSize: Int = 256): Column = FreqString(maxMapSize).aggregate(c)

  // ------------------------------------------------ driver-side reads ----

  def hllEstimate(bytes: Array[Byte]): Double = HllString().read(bytes).getEstimate

  def td(bytes: Array[Byte]): TDigestDouble = TDigest().read(bytes)
  def tdQuantile(bytes: Array[Byte], q: Double): Double = td(bytes).getQuantile(q)

  def freqLongTopK(bytes: Array[Byte], k: Int): Seq[(Long, Long)] =
    FreqLong()
      .read(bytes)
      .getFrequentItems(ErrorType.NO_FALSE_POSITIVES)
      .toSeq
      .sortBy(-_.getEstimate)
      .take(k)
      .map(r => (r.getItem, r.getEstimate))

  def freqStringItems(bytes: Array[Byte]): Seq[(String, Long)] =
    FreqString()
      .read(bytes)
      .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .toSeq
      .map(r => (r.getItem, r.getEstimate))
}
