package graft.model

import graft.SparkTestBase
import graft.schema.GraphCatalog

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
}
