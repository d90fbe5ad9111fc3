package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact top-k per group for FEW, HUGE groups.
  *
  * A bare `row_number().over(partitionBy(group))` sorts each whole group on
  * one task: top-3 orders per priority over 10^12 rows is five tasks.
  * [[topKPerGroup]] instead aggregates with a bounded-heap
  * [[graft.functions.BoundedTopKAgg]]: partial aggregation keeps at most k
  * rows per group per MAP task, so the single exchange carries ≤ k·maps
  * rows per group (shuffle volume bounded by survivors, not input) and no
  * full-table sort ever runs; ranks fall out of the final merged heap.
  * Result is bit-identical to the single-window plan (q07's oracle covers
  * it; OpsSpec compares it with a plain window and with the salted
  * two-phase tournament it replaced, kept in `src/test`).
  *
  * `order` must be a unique total order within each group (the usual
  * tie-break-on-id contract); directions use SQL default null ordering
  * (asc ⇒ nulls first, desc ⇒ nulls last), same as `Column.asc`/`.desc`.
  */
object TopK {

  def topKPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[(Column, Boolean)],
      k: Int,
      rankCol: String = "rank"
  ): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(order.nonEmpty, "order must be non-empty")
    require(k > 0, s"k must be positive: $k")
    require(!df.columns.contains(rankCol), s"TopK reserves column $rankCol")
    // Input struct: leading sort-key fields, then the whole row as payload
    // (group columns ride inside the payload, so the post-explode projection
    // needs nothing from the aggregation keys).
    val orderFields = order.zipWithIndex.map { case ((c, _), i) => c.as(s"_o$i") }
    val input = struct(orderFields :+ struct(df.columns.map(col): _*).as("_p"): _*)
    val topk = graft.functions.BoundedTopKAgg.topK(input, k, order.map(_._2))
    df.groupBy(groupCols.map(col): _*)
      .agg(topk.as("_topk"))
      .select(posexplode(col("_topk")).as(Seq("_pos", "_row")))
      .select(df.columns.toIndexedSeq.map(c => col(s"_row._p.`$c`").as(c)) :+
        (col("_pos") + 1).cast("int").as(rankCol): _*)
  }
}
