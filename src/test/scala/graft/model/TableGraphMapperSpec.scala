package graft.model

import graft.SparkTestBase
import graft.operators.{NodeTableBuilder, RelTableBuilder}
import graft.schema.GraphCatalog
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

class TableGraphMapperSpec extends SparkTestBase {

  test("TPC-H graph with an empty catalog: rule 4 finds every primary key") {
    // no constraint and no '*id' property on any label, so each identifier
    // comes from IdentifierDetector's uniqueness scan — these are the
    // identifiers the export package is written with
    val g = new TableGraphMapper(TpchGraph.nodes, TpchGraph.edges, GraphCatalog.empty)
      .load(spark, "/root/testdata/sf0.001")
    val want = Map("Region" -> "r_regionkey", "Nation" -> "n_nationkey",
      "Customer" -> "c_custkey", "Supplier" -> "s_suppkey",
      "Part" -> "p_partkey", "Order" -> "o_orderkey")
    assert(want.keys.map(l => l -> g.schema.identifierOf(l).orNull).toMap == want)
  }

  test("TpchGraph.load runs no Spark job: declared keys, tables opened without a schema job") {
    val (g, jobs) = JobCount(spark.sparkContext)(TpchGraph.load(spark, "/root/testdata/sf0.001"))
    assert(jobs == 0)
    assert(g.nodes.size == 6 && g.rels.size == 6)
  }

  test("one shared read per table returns the rows of separate reads: endpoint checks, " +
    "row filters, a multi-label table") {
    // every edge table is also some label's table, so with endpoint checks
    // each semi-join meets its own node table's frame: a self-join
    // ambiguity would resolve its condition against the wrong side
    val dir = "/root/testdata/sf0.001"
    val nodes = TpchGraph.nodes.map(nm =>
      if (nm.label == "Supplier") nm.copy(extraLabels = Seq("Vendor")) else nm)
    val edges = TpchGraph.edges ++ Seq(
      EdgeMapping("SOLD", "lineitem", "Vendor", "l_suppkey", "Part", "l_partkey"),
      EdgeMapping("RETURNED", "lineitem", "Order", "l_orderkey", "Part", "l_partkey",
        props = Seq("l_linenumber"), rowFilter = Some("l_returnflag = 'R'")))
    val g = new TableGraphMapper(nodes, edges, TpchGraph.catalog.withUnique("Vendor", "s_suppkey"))
      .load(spark, dir, checkEndpoints = true)

    def read(table: String) = spark.read.parquet(s"$dir/$table.parquet")
    val want: Map[String, DataFrame] = nodes.flatMap(nm => nm.labels.map(l =>
      l -> NodeTableBuilder.build(read(nm.table), g.schema.identifierOf(l).get))).toMap
    def ids(label: String) = {
      val id = g.schema.identifierOf(label).get
      Some(want(label).select(col(id)))
    }
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

    assert(g.nodes.keySet == want.keySet)
    want.foreach { case (l, df) => assert(rows(g.nodes(l)) == rows(df), l) }
    edges.foreach { em =>
      val raw = em.rowFilter.fold(read(em.table))(f => read(em.table).where(expr(f)))
      val (df, _) = RelTableBuilder.build(em.pattern, raw, em.srcFk, em.dstFk,
        g.schema.identifierOf(em.srcLabel).get, g.schema.identifierOf(em.dstLabel).get,
        em.props, ids(em.srcLabel), ids(em.dstLabel))
      val got = rows(g.rels(em.pattern))
      assert(got.nonEmpty, em.pattern.key)
      assert(got == rows(df), em.pattern.key)
    }
  }
}
