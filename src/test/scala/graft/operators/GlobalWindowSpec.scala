package graft.operators

import graft.{SparkTestBase, WarnLines}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

class GlobalWindowSpec extends SparkTestBase {

  private val NoPartition = "No Partition Defined for Window operation"

  /** Running sum, rank and total over a three-partition input, and ranks
    * of the top 7 left by `limit`, under the given specs. */
  private def windowed(all: WindowSpec, ordered: WindowSpec): (DataFrame, DataFrame) = {
    val df = spark.range(0, 40, 1, 3).select(col("id"), (col("id") % 7).as("k"))
    (df.select(col("id"),
        sum(col("k")).over(ordered.rowsBetween(Window.unboundedPreceding, 0)).as("run"),
        row_number().over(ordered).as("rank"),
        max(col("k")).over(all).as("top")),
      df.orderBy(col("k").desc, col("id")).limit(7)
        .withColumn("rank", row_number().over(ordered)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("the same rows as the keyless window, without Spark's No-Partition WARN") {
    val byKey = Seq(col("k").desc, col("id"))
    var keyless: Seq[Seq[String]] = Nil
    val keylessWarns = WarnLines.during {
      val (a, b) = windowed(Window.partitionBy(), Window.orderBy(byKey: _*))
      keyless = Seq(rows(a), rows(b))
    }
    assert(keylessWarns.exists(_.contains(NoPartition)))
    var global: Seq[Seq[String]] = Nil
    val globalWarns = WarnLines.during {
      val (a, b) = windowed(GlobalWindow.all, GlobalWindow.orderBy(byKey: _*))
      global = Seq(rows(a), rows(b))
      // limit's single partition already satisfies the one-group key
      assert(!b.queryExecution.executedPlan.toString.contains("Exchange"))
    }
    assert(!globalWarns.exists(_.contains(NoPartition)), globalWarns.mkString("\n"))
    assert(global == keyless)
    assert(keyless.head.size == 40 && keyless(1).size == 7)
  }
}
