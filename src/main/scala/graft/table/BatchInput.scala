package graft.table

import java.util.Locale

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The input relation of one commit batch: every batch partition's rows,
  * each tagged with its partition id in `_pid`, as ONE frame.
  *
  * Single-scan path: when every `inputFor(p)` analyzes to a bare file-source
  * relation — no filter or projection on top, no partition columns, no
  * bucket spec, the same format, data schema and options (bar the path),
  * and no file shared between partitions — the batch plans one relation
  * over all of its files. That relation's index lists each batch partition
  * as a partition directory whose value is `_pid`, so the scan emits the id
  * with every row the way it emits any partition column: no per-row lookup,
  * and no row can come from a file outside the batch. One relation lets the
  * file scan pack small partitions into shared read tasks, and keeps plan
  * size and planning time flat in the batch's fan-in.
  *
  * Union path: any other input (or a batch of one) is tagged with a literal
  * per partition and unioned by name, as before. The choice depends only on
  * what the analyzed plans show.
  *
  * VERSION PIN: the single-scan path reads Spark 4.1's file-source plan
  * nodes (`LogicalRelation`, `HadoopFsRelation`, `InMemoryFileIndex`) and
  * implements its `FileIndex`; on an upgrade where they change shape,
  * `fileRelation` stops matching and every batch takes the union path.
  */
object BatchInput {

  private val PidSchema = StructType(Seq(StructField("_pid", IntegerType, nullable = false)))

  /** Threads that resolve one batch's inputs at most. Resolving an input is
    * bound by latency (a listing, a one-task schema inference job and the
    * driver work between them), not by driver CPU, so this is not tied to
    * the core count; Spark's own parallel path globbing uses 40.
    */
  private val MaxInputThreads = 16

  /** Each batch partition's input, tagged with `_pid`, as one frame.
    * `inputFor` is called once per partition, concurrently within a batch,
    * with the caller's context ([[Overlap.all]]): a batch of file-backed
    * partitions waits about as long as one schema inference, not as long as
    * all of them in turn. The frames are used in batch order.
    */
  def of(spark: SparkSession, batch: Seq[Int], inputFor: Int => DataFrame): DataFrame = {
    val inputs = batch.zip(Overlap.all(spark, "graft-inputs", MaxInputThreads)(batch.map(p => () => inputFor(p))))
    singleScan(spark, inputs).getOrElse(
      inputs.map { case (p, df) => df.withColumn("_pid", lit(p)) }.reduce(_.unionByName(_)))
  }

  /** The bare file-source relation `df` analyzes to, if it is one. */
  private def fileRelation(df: DataFrame): Option[HadoopFsRelation] = df.queryExecution.analyzed match {
    case LogicalRelation(r: HadoopFsRelation, _, None, false, _)
        if r.location.isInstanceOf[InMemoryFileIndex] && r.partitionSchema.isEmpty && r.bucketSpec.isEmpty =>
      Some(r)
    case _ => None
  }

  private def options(r: HadoopFsRelation): Map[String, String] =
    r.options.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v } -- Seq("path", "paths")

  private def singleScan(spark: SparkSession, inputs: Seq[(Int, DataFrame)]): Option[DataFrame] = {
    val rels = inputs.map { case (p, df) => fileRelation(df).map(p -> _) }
    if (rels.size < 2 || rels.exists(_.isEmpty)) return None
    val parts = rels.flatten
    val first = parts.head._2
    val sameShape = parts.forall { case (_, r) =>
      r.fileFormat.getClass == first.fileFormat.getClass && r.dataSchema == first.dataSchema &&
        options(r) == options(first)
    }
    if (!sameShape || first.dataSchema.fieldNames.exists(_.equalsIgnoreCase("_pid"))) return None
    // The files each partition's own scan would read, under its `_pid`.
    val dirs = parts.map { case (p, r) =>
      PartitionDirectory(InternalRow(p), r.location.listFiles(Nil, Nil).flatMap(_.files))
    }
    val paths = dirs.flatMap(_.files.map(_.getPath))
    if (paths.distinct.size != paths.size) return None
    val rel = first.copy(location = new BatchFileIndex(dirs), partitionSchema = PidSchema, options = options(first))(spark)
    Some(spark.baseRelationToDataFrame(rel))
  }

  /** A listing-free index over the batch's files, one partition directory
    * per batch partition with `_pid` as its only partition value.
    */
  private final class BatchFileIndex(dirs: Seq[PartitionDirectory]) extends FileIndex {
    override def partitionSchema: StructType = PidSchema
    override def rootPaths: Seq[Path] = dirs.flatMap(_.files.map(_.getPath))
    override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray
    override def sizeInBytes: Long = dirs.flatMap(_.files).map(_.getLen).sum
    override def refresh(): Unit = ()

    /** The scan does not re-check partition filters, so they are applied here. */
    override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      partitionFilters.reduceOption(And) match {
        case None => dirs
        case Some(f) =>
          val keep = Predicate.createInterpreted(f.transform {
            case _: AttributeReference => BoundReference(0, IntegerType, nullable = false)
          })
          dirs.filter(d => keep.eval(d.values))
      }
  }
}
