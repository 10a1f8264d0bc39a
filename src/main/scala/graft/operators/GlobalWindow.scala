package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.udf

/** Window specs whose one partition holds every row: for the deliberate
  * global windows over bounded input (a post-`limit` top n, one row per
  * round or per range partition, one row per class or language).
  *
  * `Window.orderBy` or `Window.partitionBy()` has no partition key, and
  * Spark's WindowExec logs "No Partition Defined for Window operation!"
  * each time it plans one. A literal key is no cure: the optimizer drops
  * foldable keys (EliminateWindowPartitions). The key here is a
  * deterministic zero-argument UDF — not foldable, 0 on every row — so
  * the rows form one window partition whatever the input's partitioning
  * (the same rows as the keyless window), and an input already in one
  * partition, such as the output of `limit`, needs no exchange. */
object GlobalWindow {
  private val OneGroup = udf(() => 0)

  /** One partition, no order: window aggregates over all rows. */
  def all: WindowSpec = Window.partitionBy(OneGroup())

  /** One partition ordered by `cols`: ranks and running sums. */
  def orderBy(cols: Column*): WindowSpec = all.orderBy(cols: _*)
}
