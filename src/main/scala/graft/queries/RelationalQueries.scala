package graft.queries

import graft.Tables
import graft.cache.StageCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational analytics headliners (SURVEY §2.5) — full-scan aggregation,
  * star joins, window functions, semi/anti joins. These exercise the same
  * join/agg machinery the graph operators are built on, at bench scale.
  *
  * Oracle-parity rules (SURVEY §5): every computed numeric is decimal
  * (exact in both Spark and DuckDB — double summation order would not
  * be), and the FINAL output column is cast to double exactly once. The
  * exact decimal is identical in both engines, and decimal->double is the
  * same correctly-rounded IEEE conversion in both, so the float64 values
  * are bit-identical — unlike decimal(38,x) outputs, which pandas reads as
  * decimal.Decimal from Spark parquet but DuckDB hands over as float64
  * (round-1 driver hash failures). Temporal outputs are DATE.
  */
object RelationalQueries {

  // Exact decimal views of the double columns. Inputs are 2- or 4-decimal
  // money/ratio values, so these casts are value-preserving.
  private def dec2(c: String) = col(c).cast("decimal(12,2)")
  private def dec4(c: String) = col(c).cast("decimal(7,4)")

  // Staged artifacts (bucketed catalog tables, CSV round-trip dirs):
  // queries that must WRITE before they can read return lazy DataFrames,
  // so the scratch space cannot be deleted eagerly — instead repeated
  // invocations (bench trials) reuse one stage per session and input
  // fingerprint from StageCache, whose shutdown hook deletes the dirs.
  // The bucketed stage registers CATALOG tables, which live in one
  // session's sessionState; the cache key's session identity makes a
  // second session re-stage instead of resolving names it never saw.
  private def stageRoot: String = System.getProperty("java.io.tmpdir")

  def q1(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2("l_quantity")).cast("double").as("sum_qty"),
        sum(dec2("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec2("l_extendedprice") * (lit(1) - dec4("l_discount")))
          .cast("double").as("sum_disc_price"),
        sum((dec2("l_extendedprice") * (lit(1) - dec4("l_discount"))).cast("decimal(18,6)")
          * (lit(1) + dec4("l_tax"))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  def q3(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) < lit("1998-03-15"))
    val l = Tables(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) > lit("1998-03-15"))
    // No broadcast hint on `c`: a mktsegment filter keeps ~1/5 of customer,
    // which is fact-sized at scale — AQE broadcasts it when it actually
    // fits and shuffle-joins when it doesn't (round-1 verdict #3).
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(dec2("l_extendedprice") * (lit(1) - dec4("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  def q5(s: SparkSession, dir: String): DataFrame = {
    val r = Tables(s, dir, "region").where(col("r_name") === "ASIA")
    val n = Tables(s, dir, "nation")
    val cst = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))
    val l = Tables(s, dir, "lineitem")
    val sup = Tables(s, dir, "supplier")
    // Star join: dims broadcast, fact tables shuffle once on the join key.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey"))
      .join(cst, o("o_custkey") === cst("c_custkey") &&
        cst("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), cst("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec2("l_extendedprice") * (lit(1) - dec4("l_discount")))
        .cast("double").as("revenue"))
  }

  def q10(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1996-10-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))
    val l = Tables(s, dir, "lineitem").where(col("l_returnflag") === "R")
    val n = Tables(s, dir, "nation")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(dec2("l_extendedprice") * (lit(1) - dec4("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  def windowTopOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn").cast("long").as("rn"))
  }

  def antiNoOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders").select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  def semiPartsShipped(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir, "part")
    val l = Tables(s, dir, "lineitem").select(col("l_partkey"))
    p.join(l, p("p_partkey") === l("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_name"), col("p_brand"))
  }

  /** Rollup aggregation — subtotal/grand-total rows via GROUP BY ROLLUP
    * (nation × market segment revenue cube). */
  def rollupRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(sum(dec2("o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** CUBE twin of the rollup: all four grouping combinations of
    * (nation, market segment) in one pass — Spark plans rollup/cube as a
    * single Expand + aggregate, not N scans. */
  def cubeRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .cube(col("n_name"), col("c_mktsegment"))
      .agg(sum(dec2("o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Running balance per customer: cumulative order total in date order —
    * the lag/lead/cumsum window family over a ROWS frame. */
  def runningBalance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        sum(dec2("o_totalprice")).over(w).cast("double").as("running_total"),
        lag(col("o_orderkey"), 1).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey")))
          .as("prev_orderkey"))
  }

  /** Q6-style forecast revenue: pure filter + aggregate, the pushdown
    * showcase (every predicate reaches the parquet scan). */
  def q6(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .where(to_date(col("l_shipdate")) >= lit("1997-01-01") &&
        to_date(col("l_shipdate")) < lit("1998-01-01") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec2("l_extendedprice") * dec4("l_discount"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Skew-resistant join, driver-checked: lineitem (big, salted 8 ways) ⋈
    * part (replicated per salt) on partkey, revenue per part type. The
    * salt spreads any hot part key over 8 reducers; results are identical
    * to the plain join (SkewJoin scaladoc), which is exactly what the
    * oracle asserts. */
  def skewAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), dec2("l_extendedprice").as("price"))
    val p = Tables(s, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_type"))
    graft.operators.SkewJoin.saltedJoin(li, p, "partkey", saltFactor = 8)
      .groupBy(col("p_type"))
      .agg(sum(col("price")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Bucketed co-located join, driver-checked: orders and customer written
    * bucketed+sorted on custkey (external tables in a temp dir), then
    * joined with ZERO join-side exchanges (plan property spec-checked in
    * BucketedTablesSpec) and aggregated per market segment. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.BucketedTables
    val (orders, customer) = (Tables(s, dir, "orders"), Tables(s, dir, "customer"))
    val (to, tc) = StageCache.getOrCompute(s, "bucketedJoin", 8, orders, customer) {
      val base = StageCache.stageDir(s, stageRoot, "graft_buckets")
      val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val (ordersTbl, custTbl) = (s"g_bkt_orders_$suffix", s"g_bkt_customer_$suffix")
      BucketedTables.writeBucketed(
        orders.select(col("o_custkey").as("custkey"), dec2("o_totalprice").as("totalprice")),
        ordersTbl, "custkey", buckets = 8, path = Some(s"$base/orders"))
      BucketedTables.writeBucketed(
        customer.select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        custTbl, "custkey", buckets = 8, path = Some(s"$base/customer"))
      (ordersTbl, custTbl)
    }
    BucketedTables.coLocatedJoin(s, to, tc, "custkey")
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** Z-order (Morton) interleaving of (custkey, order-day) — the
    * multi-dimensional layout key ([[graft.sources.ZOrderLayout]]),
    * hash-checked as integer math: per z-bucket (top bits of the curve),
    * row counts and the bounding box of BOTH dimensions. Tight per-
    * bucket boxes on both dims at once is exactly the property that
    * makes the at-rest layout prune files for either predicate; the
    * layout itself (range-partitioned files) is spec-asserted in
    * ZOrderLayoutSpec. */
  def zorderKeys(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZOrderLayout
    val o = Tables(s, dir, "orders").select(
      col("o_custkey").cast("long").as("ck"),
      datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long").as("dy"))
    o.select(ZOrderLayout.zValue(col("ck"), col("dy")).as("z"), col("ck"), col("dy"))
      .groupBy(shiftright(col("z"), 30).as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("z")).as("z_min"), max(col("z")).as("z_max"),
        min(col("ck")).as("ck_min"), max(col("ck")).as("ck_max"),
        min(col("dy")).as("dy_min"), max(col("dy")).as("dy_max"))
  }

  /** Set operations (INTERSECT / EXCEPT / UNION-distinct) between two
    * customer cohorts — Catalyst plans these as aggregates/semi/anti
    * joins, and the query proves the dedup semantics (DISTINCT forms)
    * against the oracle. Cohort A = customers with a 1996 order; cohort
    * B = BUILDING-segment customers. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1996-01-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))
    val a = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"))
    val b = c.where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    def count1(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("set_op"), col("n"))
    count1("intersect", a.intersect(b))
      .unionAll(count1("except_a_b", a.except(b)))
      .unionAll(count1("except_b_a", b.except(a)))
      .unionAll(count1("union_distinct", a.union(b).distinct()))
  }

  /** Robust per-group outlier detection — median/MAD, the data-quality
    * screen that survives the heavy tails that wreck mean/stddev z-scores
    * (median and MAD have a 50% breakdown point; one corrupt feed can't
    * move the threshold). Two exact percentile passes (the same
    * q_quantiles machinery; approx_percentile at 100 TB) + one counting
    * pass against the 3·MAD fence. Everything after the percentiles is
    * single-IEEE-op arithmetic on engine-identical values, so even the
    * outlier COUNTS are oracle-exact. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val j = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
    val med = j.groupBy("c_mktsegment")
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"))
    val dev = j.join(broadcast(med), Seq("c_mktsegment"))
    val stats = dev.groupBy(col("c_mktsegment"), col("median_price"))
      .agg(round(expr("percentile(abs(o_totalprice - median_price), 0.5)"), 6).as("mad"),
        count(lit(1)).as("n_orders"))
    val out = dev.join(broadcast(stats.select(col("c_mktsegment"), col("mad"))),
        Seq("c_mktsegment"))
      .where(abs(col("o_totalprice") - col("median_price")) > lit(3.0) * col("mad"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_outliers"))
    stats.join(out, Seq("c_mktsegment"), "left_outer")
      .select(col("c_mktsegment"), col("n_orders"), col("median_price"), col("mad"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }

  /** GROUPING SETS beyond rollup/cube's fixed lattices: exactly the
    * per-nation, per-segment and grand-total aggregates in ONE pass
    * (a single Expand + aggregate — no double-scan unions). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupingSets(Seq(Seq(col("n_name")), Seq(col("c_mktsegment")), Seq()),
        col("n_name"), col("c_mktsegment"))
      .agg(sum(dec2("o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** PIVOT: revenue per nation spread across one column per market
    * segment. The value list is EXPLICIT — at scale the implicit form
    * costs a distinct-scan job and yields nondeterministic column order;
    * with literals the pivot is one pass, planned like any other agg. */
  def pivotRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val o = Tables(s, dir, "orders")
    val n = Tables(s, dir, "nation")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
      .agg(sum(dec2("o_totalprice")).cast("double"))
  }

  /** Exact distributed quantiles of the price distribution per return
    * flag: Spark's `percentile` (exact, linear interpolation — identical
    * definition to DuckDB's quantile_cont) over ~600k values/group at
    * sf0.1. Exact percentile buffers per-group value counts; at 100 TB
    * the same query swaps in `approx_percentile` (t-digest, bounded
    * memory) — kept exact here because exactness is what the cross-engine
    * oracle can check. */
  def quantiles(s: SparkSession, dir: String): DataFrame = {
    def p(q: Double, name: String) =
      round(expr(s"percentile(l_extendedprice, $q)"), 6).as(name)
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        p(0.25, "p25"), p(0.5, "p50"), p(0.75, "p75"), p(0.9, "p90"), p(0.99, "p99"))
  }

  /** Bounded-memory top-k per key (TopK.perKey): top-3 orders by value per
    * customer. The local heap prunes before the exact window pass — the
    * window's input is ≤ partitions·k rows per key, not every order. */
  def topkOrders(s: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perKey(
      Tables(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      keyCol = "o_custkey", ordCol = "o_totalprice", k = 3, tieBreak = Seq("o_orderkey"))

  /** Schemaless CSV ingestion round trip: orders written as a distributed
    * headerful CSV (NULL restval), read back with CsvSource's one-sample
    * type sniffing, aggregated. Exact agreement with the parquet original
    * proves the writer dialect, the sentinel handling, and the sniffed
    * numeric types (double round-trips text exactly via shortest-repr). */
  def csvTyped(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val tmp = StageCache.getOrCompute(s, "csvStage", "orders", orders) {
      val t = StageCache.stageDir(s, stageRoot, "graft_csv_typed")
      graft.export.CsvPackageWriter.write(orders, t, "orders", singleFile = false)
      t
    }
    graft.sources.CsvSource.readTyped(s, s"$tmp/orders.csv")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_totalprice"),
        count_distinct(col("o_orderstatus")).as("n_statuses"))
  }

  /** HyperLogLog distinct-count of three lineitem key columns (each a
    * different cardinality regime: suppkey ~10²·sf exercises the linear-
    * counting branch, partkey/orderkey the raw-estimate branch), next to
    * the exact COUNT(DISTINCT) so the error is visible. The sketch is
    * built on the portable md5 hash, so the DuckDB oracle replays
    * registers AND estimate bit for bit — an approximate algorithm inside
    * an exact correctness gate. At scale the win is the shuffle: ≤256
    * (bucket, register) rows per column vs every distinct value. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
      graft.operators.Sketches.hllDistinct(li, col(c))
        .crossJoin(li.agg(count_distinct(col(c)).as("exact_distinct")))
        .select(lit(c).as("column_name"), col("approx_distinct"), col("exact_distinct"))
    }.reduce(_.unionAll(_))
  }

  /** Per-GROUP HLL distinct counts: approximate distinct customers per
    * order priority next to the exact counts — the per-key cardinality
    * report (distinct users per domain/day) that exact per-group
    * COUNT(DISTINCT) pays a full (group, value) shuffle for; the sketch
    * shuffles ≤ groups·256 register rows. Grouped sketches also fold to
    * the global one (spec-checked). */
  def hllGroups(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val regs = graft.operators.Sketches.hllRegistersGrouped(o, "o_orderpriority", col("o_custkey"))
    val est = graft.operators.Sketches.hllEstimateGrouped(regs, "o_orderpriority")
    val exact = o.groupBy("o_orderpriority")
      .agg(count_distinct(col("o_custkey")).as("exact_distinct"))
    est.join(exact, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("approx_distinct"), col("exact_distinct"))
  }

  /** Retention-path HLL fold (SURVEY §2 row 45o, r13 verdict #7): build
    * a batch-dir LOG of per-slice HLL register tables — the streaming
    * maintenance layout, published through BatchIo's atomic rename —
    * then COMPACT it (StreamingDedup.compactLog: fold into
    * compact_<maxId>, delete superseded dirs), land one post-compaction
    * batch, and fold the authoritative read set (compact + later batch)
    * to the global estimate. Registers max-merge, so the compacted fold
    * must equal the one-shot sketch — the oracle replays the one-shot
    * estimate on the full table; n_generations = 2 pins that compaction
    * actually collapsed the four original dirs (a broken compact leaves
    * 5 and hash-mismatches). This puts the 45o retention surface under
    * the driver's oracle gate, not just specs. */
  def hllCompacted(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.BatchIo._
    val o = Tables(s, dir, "orders")
    val log = java.nio.file.Files.createTempDirectory("graft_hll_log").toString
    (0L to 3L).foreach { i =>
      graft.operators.Sketches.hllRegisters(
        o.where(pmod(col("o_orderkey"), lit(5)) === i), col("o_custkey"))
        .publishBatch(log, i)
    }
    graft.streaming.StreamingDedup.compactLog(s, log)
    // a post-compaction arrival: a larger id joins the read set as-is
    graft.operators.Sketches.hllRegisters(
      o.where(pmod(col("o_orderkey"), lit(5)) === 4), col("o_custkey"))
      .publishBatch(log, 4L)
    val nGen = graft.streaming.StreamingDedup.logGenerationCount(s, log)
    val folded = graft.streaming.StreamingDedup.readLog(s, log)
      .groupBy("bucket").agg(max(col("register")).cast("int").as("register"))
    // materialize the one-row result, then DELETE the log dir (r14
    // ADVICE): the estimate embeds nGen as a literal and no longer needs
    // the files, and without the cleanup every bench rep / verify run
    // left a fresh 6-generation temp dir behind
    val out = graft.operators.Sketches.hllEstimate(folded)
      .crossJoin(o.agg(count_distinct(col("o_custkey")).as("exact_distinct")))
      .select(lit(nGen.toLong).as("n_generations"),
        col("approx_distinct"), col("exact_distinct"))
      .localCheckpoint(true)
    graft.tools.Fs.deleteRecursively(log)
    out
  }

  /** Count-min frequency estimates for every distinct l_partkey (2000·sf
    * keys through 4×1024 counters — real collisions, so the one-sided
    * overestimate property is actually exercised), joined to the true
    * counts. All-integer → hash-exact in the oracle. The sketch is the
    * fixed-size object a 100 TB pipeline keeps per slice and SUM-merges;
    * estimates are a broadcast join against ≤4096 counter rows. */
  def cmsHeavy(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    // the truth table doubles as the item list AND as the sketch input:
    // building the CMS from (distinct key, true_count) weights is
    // bit-identical to hashing every lineitem row (cells are count sums)
    // but does 30× less hash work at sf1 — see cmsTableWeighted.
    val truth = li.groupBy("l_partkey").agg(count(lit(1)).as("true_count"))
      .localCheckpoint(true)
    val cms = graft.operators.Sketches.cmsTableWeighted(
      truth, col("l_partkey"), col("true_count"))
    graft.operators.Sketches.cmsLookup(cms, truth.select(col("l_partkey")), "l_partkey")
      .join(truth, Seq("l_partkey"))
      .select(col("l_partkey"), col("est_count"), col("true_count"))
  }

  /** Bounded-memory quantile SKETCH next to the exact quantiles: a
    * deterministic bottom-k sample (portable md5 keys — the selected rows
    * replay in the oracle) per return flag, exact interpolated percentile
    * over the sample, and the true percentile alongside so the rank error
    * is visible. This is q_quantiles' 100 TB path made concrete: the
    * shuffle carries ≤ partitions·k sampled triples per group instead of
    * every value, the sample MERGES across corpus slices, and — unlike
    * t-digest — the estimate is still inside the exact cross-engine gate
    * because the sample membership is content-determined. */
  def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val rowId = concat_ws(":", col("l_orderkey"), col("l_linenumber"))
    val samp = graft.operators.Sketches.quantileSample(
      li, "l_returnflag", rowId, col("l_extendedprice"), k = QsK)
    def p(src: String, q: Double, name: String) =
      round(expr(s"percentile($src, $q)"), 6).as(name)
    val sk = samp.groupBy("l_returnflag").agg(
      count(lit(1)).as("n_sample"),
      p("value", 0.5, "sketch_p50"), p("value", 0.9, "sketch_p90"))
    val exact = li.groupBy("l_returnflag").agg(
      p("l_extendedprice", 0.5, "exact_p50"), p("l_extendedprice", 0.9, "exact_p90"))
    sk.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_sample"),
        col("sketch_p50"), col("exact_p50"), col("sketch_p90"), col("exact_p90"))
  }

  private val QsK = 1000

  /** Multi-level compaction quantile sketch (Munro–Paterson class) next
    * to the exact answers: per return flag, lineitem prices collapse
    * through md5-derandomized halving rounds into ≤ 256 weighted rows,
    * and the weighted-rank estimates sit beside the true percentiles so
    * the (provably ≤ n/2k-rank) error is visible. This is the o(1/√k)
    * upgrade over q_quantile_sketch's bottom-k sample — same row budget,
    * ~√k/2 tighter — and the whole build (every round's survivors)
    * replays in the DuckDB oracle as identity-padded chained CTEs. */
  def mpQuantiles(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val rowId = concat_ws(":", col("l_orderkey"), col("l_linenumber"))
    val sk = graft.operators.Sketches.mpQuantileSketch(
      li, "l_returnflag", rowId, col("l_extendedprice"), k = MpK)
    val nRows = sk.groupBy("l_returnflag").agg(count(lit(1)).as("n_sketch"))
    val est = graft.operators.Sketches.mpQuantileEstimate(sk, "l_returnflag", MpQs)
    // one aggregation for all three exact percentiles (percentile over a
    // literal array) instead of one full lineitem scan per q — identical
    // doubles, it is the same Percentile aggregate evaluated once
    val exact = li.groupBy("l_returnflag").agg(
      expr(s"percentile(l_extendedprice, array(${MpQs.map(_ / 1000.0).mkString(",")}))")
        .as("__ps"))
      .select(col("l_returnflag"), explode(arrays_zip(
        array(MpQs.map(q => lit(q / 1000.0)): _*).as("__qs"), col("__ps"))).as("__z"))
      .select(col("l_returnflag"), col("__z.__qs").as("q"),
        round(col("__z.__ps"), 6).as("exact"))
    est.join(nRows, Seq("l_returnflag")).join(exact, Seq("l_returnflag", "q"))
      .select(col("l_returnflag"), col("q"), col("n_sketch"),
        col("est").cast("double").as("est"), col("exact"))
  }

  private val MpK = 256
  private val MpQs = Seq(500, 900, 990)

  /** Pairwise association-rule mining (market-basket) over order baskets:
    * for part pairs co-ordered at least twice, support count, confidence
    * P(cons|ant) and lift — the Agrawal-Srikant Apriori statistics at the
    * pair level, which is the level that matters for co-occurrence
    * recommendations and is fully join-expressible (no candidate-set
    * recursion). Scale levers: baskets are distinct (order, part) pairs
    * so multiplicities don't inflate counts; a basket-size cap bounds the
    * self-join at B² per basket (the g_triangles recipe — oversized
    * baskets are boilerplate, not signal); the final ordering is
    * all-integer (count desc, then the pair) so the top-200 cut is
    * deterministic and runs as TakeOrderedAndProject (per-partition
    * top-N + merge, no global sort). Confidence and lift are single
    * IEEE divisions of exact integers — bit-identical cross-engine. */
  def assocRules(s: SparkSession, dir: String): DataFrame = {
    // ONE staging exchange (the coOccurrenceEdges recipe): repartition
    // by basket FIRST — the (oid, item) dedup, the basket-size window
    // AND the pair self-join all ride hash(oid). The old chain paid
    // four basket-stream exchanges for the same rows: distinct on
    // (oid, item), the window's re-exchange by oid, then both sides of
    // the self-join again because checkpoint drops outputPartitioning
    // (persist keeps it).
    val basketSrc = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("oid"), col("l_partkey").cast("long").as("item"))
    // volume-sized below the cap, bare AQE-coalescible repartition past
    // it (GraphAnalytics.volumePartsOpt; the count is a column-free
    // row-count scan) — the coOccurrenceEdges recipe
    val basketRows = basketSrc.count()
    val sized = graft.operators.GraphAnalytics.persistPinned(
      graft.operators.GraphAnalytics.repartitionSized(basketSrc,
        graft.operators.GraphAnalytics.volumePartsOpt(s, basketRows), col("oid"))
      .dropDuplicates("oid", "item")
      .withColumn("bs", count(lit(1)).over(Window.partitionBy("oid")))
      .where(col("bs") <= AssocMaxBasket).select(col("oid"), col("item")),
      basketRows)
    val nBaskets = sized.agg(count_distinct(col("oid")).as("n_baskets"))
    // item-count-sized; checkpointed so its two broadcast projections
    // read the cache, broadcast under the vertex guard (it outgrows
    // auto-broadcast with the part count and would flip the rule join
    // to a two-sided shuffle at scale)
    val itemCntBase = sized.groupBy("item").agg(count(lit(1)).as("cnt")).localCheckpoint(true)
    val itemCnt = if (itemCntBase.count() <= graft.operators.GraphAnalytics.maxBroadcastVerticesDyn)
      broadcast(itemCntBase) else itemCntBase
    val pairs = sized.as("a").join(sized.as("b"),
        col("a.oid") === col("b.oid") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("ant"), col("b.item").as("cons"))
      .agg(count(lit(1)).as("pair_cnt"))
      .where(col("pair_cnt") >= AssocMinCount)
    val out = pairs
      .join(itemCnt.select(col("item").as("ant"), col("cnt").as("ant_cnt")), Seq("ant"))
      .join(itemCnt.select(col("item").as("cons"), col("cnt").as("cons_cnt")), Seq("cons"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ant"), col("cons"), col("pair_cnt"), col("ant_cnt"), col("cons_cnt"),
        (col("pair_cnt").cast("double") / col("ant_cnt").cast("double")).as("confidence"),
        ((col("pair_cnt") * col("n_baskets")).cast("double") /
          (col("ant_cnt") * col("cons_cnt")).cast("double")).as("lift"))
      .orderBy(col("pair_cnt").desc, col("ant"), col("cons"))
      .limit(200)
      .localCheckpoint(true)
    sized.unpersist(blocking = false)
    out
  }

  private val AssocMaxBasket = 10
  private val AssocMinCount = 2

  /** KMV (theta) sketch set operations, driver-checked INCLUDING the
    * estimates: the distinct customer cohorts of 1995-H1 and 1995-H2
    * orders are sketched as their k smallest portable hashes, and the
    * INTERSECTION cardinality — the operation HLL registers cannot
    * express — is estimated from the shared sample below the joint θ,
    * next to all three exact counts so the error is visible. The gate
    * SFs exercise both regimes: below k the sketch degrades to exact,
    * above it the θ estimator is live. */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    def cohort(from: String, until: String) =
      o.where(to_date(col("o_orderdate")) >= lit(from) &&
        to_date(col("o_orderdate")) < lit(until)).select(col("o_custkey"))
    val (a, b) = (cohort("1995-01-01", "1995-07-01"), cohort("1995-07-01", "1996-01-01"))
    val sa = graft.operators.Sketches.kmvSketch(a, col("o_custkey"), KmvQueryK).localCheckpoint(true)
    val sb = graft.operators.Sketches.kmvSketch(b, col("o_custkey"), KmvQueryK).localCheckpoint(true)
    val estA = graft.operators.Sketches.kmvEstimate(sa, KmvQueryK).withColumnRenamed("approx_distinct", "approx_a")
    val estB = graft.operators.Sketches.kmvEstimate(sb, KmvQueryK).withColumnRenamed("approx_distinct", "approx_b")
    val estI = graft.operators.Sketches.kmvIntersectEstimate(sa, sb, KmvQueryK)
    val exact = a.distinct().join(b.distinct(), Seq("o_custkey"), "inner")
      .agg(count(lit(1)).as("exact_intersection"))
      .crossJoin(a.agg(count_distinct(col("o_custkey")).as("exact_a")))
      .crossJoin(b.agg(count_distinct(col("o_custkey")).as("exact_b")))
    estA.crossJoin(estB).crossJoin(estI).crossJoin(exact)
      .select(col("approx_a"), col("approx_b"), col("approx_intersection"),
        col("exact_a"), col("exact_b"), col("exact_intersection"))
  }

  private val KmvQueryK = 1024

  /** TPC-H Q17 shape — correlated SCALAR-AGGREGATE subquery: revenue
    * impact of small-quantity lineitems, threshold 0.2× the PER-PART
    * average quantity. Written as literal correlated SQL so Catalyst's
    * decorrelation does the rewrite (subquery → aggregate + equi-join —
    * the plan is audited cartesian-free); quantities are integral
    * doubles so the per-part avg is an exact-sum division, and the
    * selected revenue sums in DECIMAL before the single /7 division. */
  def q17SmallQuantity(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    s.sql("""
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
             COUNT(*) AS n_small
      FROM lineitem_q17 l
      WHERE l_quantity < 0.2 * (SELECT AVG(l2.l_quantity) FROM lineitem_q17 l2
                                WHERE l2.l_partkey = l.l_partkey)""")
  }

  /** TPC-H Q18 shape — IN over a grouped HAVING subquery (decorrelates
    * to a semi join on the aggregate): large-volume orders, all-integer
    * deterministic top-100. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q18")
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q18")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_q18")
    s.sql(s"""
      SELECT c.c_name, o.o_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
             CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
             CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
      FROM customer_q18 c JOIN orders_q18 o ON c.c_custkey = o.o_custkey
        JOIN lineitem_q18 l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem_q18
                             GROUP BY l_orderkey HAVING SUM(l_quantity) > $Q18MinQty)
      GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
      ORDER BY total_qty DESC, o_orderkey
      LIMIT 100""")
  }

  private val Q18MinQty = 170

  /** TPC-H Q22 shape — scalar-subquery threshold + correlated NOT
    * EXISTS (decorrelates to a left-anti join): customers above the
    * positive-average balance who never placed an urgent order, rolled
    * up per nation with a DECIMAL-exact balance sum. */
  def q22IdleBalance(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q22")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_q22")
    s.sql("""
      SELECT c_nationkey, COUNT(*) AS n_cust,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM customer_q22 c
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer_q22 WHERE c_acctbal > 0)
        AND NOT EXISTS (SELECT 1 FROM orders_q22 o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey""")
  }

  /** TPC-H Q4 shape — correlated EXISTS with a NON-EQUALITY predicate
    * against the outer row (l_shipdate vs o_orderdate + 60): order-
    * priority counts for orders with a late shipment. Catalyst
    * decorrelates to a left-semi join on the order key with the date
    * comparison as a join-side filter. */
  def q4PriorityExists(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q4")
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q4")
    s.sql("""
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders_q4 o
      WHERE CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01'
        AND CAST(o.o_orderdate AS DATE) < DATE '1999-04-01'
        AND EXISTS (SELECT 1 FROM lineitem_q4 l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND CAST(l.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 60))
      GROUP BY o_orderpriority""")
  }

  /** TPC-H Q12 shape — two-branch conditional aggregation after an
    * order⋈lineitem join (return flag standing in for ship mode in the
    * slim schema): high- vs low-priority line counts per class. */
  def q12PriorityClass(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q12")
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q12")
    s.sql("""
      SELECT l.l_returnflag,
             CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders_q12 o JOIN lineitem_q12 l ON o.o_orderkey = l.l_orderkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
      GROUP BY l.l_returnflag""")
  }

  /** TPC-H Q13 shape — customer order-count DISTRIBUTION: a left outer
    * join whose BUILD side carries a non-key predicate (so the join must
    * stay outer), then aggregation OF an aggregation. */
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q13")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_q13")
    s.sql("""
      SELECT c_count, COUNT(*) AS custdist
      FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer_q13 c LEFT JOIN orders_q13 o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey)
      GROUP BY c_count""")
  }

  /** TPC-H Q14 shape — promotion revenue share: two exact-DECIMAL
    * conditional sums, then a fixed (100·a)/b double sequence — each a
    * single correctly-rounded IEEE op, so the ratio is engine-portable
    * without rounding tricks. */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q14")
    Tables(s, dir, "part").createOrReplaceTempView("part_q14")
    s.sql("""
      SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                       THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))
                       ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE))
             / CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6)))
                    AS DOUBLE) AS promo_revenue,
             CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END) AS BIGINT) AS n_promo_lines
      FROM lineitem_q14 l JOIN part_q14 p ON l.l_partkey = p.p_partkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-03-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1998-04-01'""")
  }

  /** TPC-H Q15 shape — top supplier by quarterly revenue: an aggregate
    * CTE consumed twice (join + scalar MAX subquery). The tie equality
    * runs on the EXACT decimal revenue, never the double projection. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q15")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q15")
    s.sql("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS total_revenue
        FROM lineitem_q15
        WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
        GROUP BY l_suppkey)
      SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
      FROM supplier_q15 s JOIN revenue r ON s.s_suppkey = r.supplier_no
      WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)""")
  }

  /** TPC-H Q19 shape — disjunction of conjunctive brand/size/quantity
    * bands across the lineitem⋈part join: the OR-of-ANDs predicate a
    * planner must keep as a join residual while still pushing the
    * per-table prefilters (brand IN (...), quantity/size hulls). */
  def q19Disjunctive(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q19")
    Tables(s, dir, "part").createOrReplaceTempView("part_q19")
    s.sql("""
      SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(7,4)))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_lines
      FROM lineitem_q19 l JOIN part_q19 p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 1 AND 15)
         OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
             AND l.l_quantity BETWEEN 10 AND 25)
         OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
             AND l.l_quantity BETWEEN 20 AND 35)""")
  }

  /** TPC-H Q21 shape — the sole-late-supplier query: one correlated
    * EXISTS (another supplier in the order) and one correlated NOT
    * EXISTS (no OTHER supplier late), both equality-correlated on the
    * order key exactly as in the reference query; "late" is a fixed
    * fiscal cutoff since the slim schema has no commit/receipt dates.
    * Decorrelates to a semi + anti join pair over the same edge. */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q21")
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q21")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q21")
    s.sql("""
      SELECT s.s_name, s.s_suppkey, COUNT(*) AS numwait
      FROM supplier_q21 s
      JOIN lineitem_q21 l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders_q21 o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND CAST(l1.l_shipdate AS DATE) >= DATE '2001-06-01'
        AND EXISTS (SELECT 1 FROM lineitem_q21 l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem_q21 l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND CAST(l3.l_shipdate AS DATE) >= DATE '2001-06-01')
      GROUP BY s.s_name, s.s_suppkey
      ORDER BY numwait DESC, s_suppkey
      LIMIT 100""")
  }

  /** TPC-H Q20 shape — the nested decorrelation: a grouped subquery
    * whose HAVING clause contains a scalar subquery correlated on a
    * GROUPING column (per (supplier, part): shipped more than half the
    * part's windowed total). Catalyst turns the correlated per-part
    * total into an aggregate join under the HAVING filter; the outer
    * count-per-supplier keeps the result values DISCRIMINATING (the raw
    * Q20 IN form is all-or-nothing on this data — every supplier
    * dominates some sole-supplied part in a narrow window, none
    * dominates anything over the full history). Quantities are integral
    * doubles, so every sum is exact and the 0.5 multiplier (a power of
    * two) is too. */
  def q20ExcessShipments(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q20")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q20")
    s.sql("""
      SELECT s.s_suppkey, s.s_name, d.n_dominant_parts
      FROM supplier_q20 s
      JOIN (SELECT l_suppkey, COUNT(*) AS n_dominant_parts
            FROM (SELECT l1.l_suppkey, l1.l_partkey
                  FROM lineitem_q20 l1
                  WHERE CAST(l1.l_shipdate AS DATE) >= DATE '1998-01-01'
                    AND CAST(l1.l_shipdate AS DATE) < DATE '1998-07-01'
                  GROUP BY l1.l_suppkey, l1.l_partkey
                  HAVING SUM(l1.l_quantity) > 0.5 *
                    (SELECT SUM(l2.l_quantity) FROM lineitem_q20 l2
                     WHERE l2.l_partkey = l1.l_partkey
                       AND CAST(l2.l_shipdate AS DATE) >= DATE '1998-01-01'
                       AND CAST(l2.l_shipdate AS DATE) < DATE '1998-07-01'))
            GROUP BY l_suppkey) d
        ON d.l_suppkey = s.s_suppkey
      ORDER BY s_suppkey""")
  }

  /** Skyline of parts under (size MAX, retail price MIN) — the
    * big-and-cheap Pareto front; grid-pruned before the exact dominance
    * anti-join (see operators.Skyline). The oracle states the
    * DEFINITION (NOT EXISTS a dominator): pruning is result-invariant,
    * so the gate checks semantics, not the optimization. */
  def skylineParts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skyline
    Skyline.skyline(Tables(s, dir, "part"), Seq(
      Skyline.Criterion("size", col("p_size"), maximize = true),
      Skyline.Criterion("price", col("p_retailprice"), maximize = false)))
  }

  /** Per-priority-class skyline of orders under (totalprice MAX,
    * orderdate MAX): the undominated price/recency front within each
    * class — the keyed variant whose dominance step is an equi-join on
    * the key with a theta residual. */
  def skylineOrders(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skyline
    Skyline.skylinePerKey(
      Tables(s, dir, "orders")
        .withColumn("o_orderdate_d", to_date(col("o_orderdate"))),
      keyCols = Seq("o_orderpriority"),
      criteria = Seq(
        Skyline.Criterion("price", col("o_totalprice"), maximize = true),
        Skyline.Criterion("recency", datediff(col("o_orderdate_d"),
          lit("1990-01-01").cast("date")), maximize = true)))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("o_orderdate_d").cast("date").as("o_orderdate"))
  }

  private val skylineOrdersOracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderpriority,
      |    CAST(o_totalprice AS DOUBLE) AS o_totalprice,
      |    CAST(o_orderdate AS DATE) AS od FROM orders)
      |SELECT o_orderkey, o_orderpriority, o_totalprice, od AS o_orderdate
      |FROM o p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM o q
      |  WHERE q.o_orderpriority = p.o_orderpriority
      |    AND q.o_totalprice >= p.o_totalprice AND q.od >= p.od
      |    AND (q.o_totalprice > p.o_totalprice OR q.od > p.od))""".stripMargin

  private val skylineOracle: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
      |    AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))""".stripMargin

  /** Leave-one-out target encoding (the CatBoost/Kaggle mean-encoding
    * primitive, LOO variant — excludes the row's own target so the
    * feature never leaks it): encode o_orderpriority by the mean
    * o_totalprice of the OTHER rows in the category,
    * (Σ_grp − own)/(n_grp − 1). Exact-DECIMAL group sums and one double
    * division per row keep it engine-exact. Scale shape: a
    * category-sized aggregate (5 rows) broadcast-joined back — NOT a
    * per-category window, whose 5-key partitioning would put the whole
    * fact table through 5 skewed reducers. */
  def looTargetEnc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val g = o.groupBy(col("o_orderpriority").as("pr"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("gs"),
        count(lit(1)).as("gn"))
    o.join(broadcast(g), o("o_orderpriority") === g("pr"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        when(col("gn") > 1,
          (col("gs") - col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / (col("gn") - 1).cast("double")).as("loo_enc"))
  }

  private val looOracle: String =
    """WITH g AS (SELECT o_orderpriority AS pr,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS gs, COUNT(*) AS gn
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o.o_orderkey, o.o_orderpriority,
      |  CASE WHEN g.gn > 1
      |       THEN CAST(g.gs - CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |            / CAST(g.gn - 1 AS DOUBLE) END AS loo_enc
      |FROM orders o JOIN g ON g.pr = o.o_orderpriority""".stripMargin

  /** TPC-H Q2 shape — minimum-cost supplier: a derived supplier⋈part
    * "cost" relation (the slim schema has no partsupp, so supply cost is
    * the MINIMUM observed unit price per (part, supplier) from lineitem
    * — a single IEEE division then MIN, both engine-exact) consumed
    * twice: once in the outer 5-way join, once under a correlated
    * scalar-MIN subquery restricted to the same region. Catalyst
    * decorrelates the MIN to a per-part aggregate join; the CTE is
    * referenced twice at ONE level, which both engines materialize or
    * inline safely (the exponential-CTE trap needs chained
    * self-references, SURVEY §7a). */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q2")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q2")
    Tables(s, dir, "part").createOrReplaceTempView("part_q2")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_q2")
    Tables(s, dir, "region").createOrReplaceTempView("region_q2")
    s.sql(sqlQ2("lineitem_q2", "supplier_q2", "part_q2", "nation_q2", "region_q2"))
  }

  private def sqlQ2(l: String, su: String, p: String, n: String, r: String): String =
    s"""WITH ps AS (
       |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |         MIN(l_extendedprice / l_quantity) AS ps_supplycost
       |  FROM $l GROUP BY l_partkey, l_suppkey)
       |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type, p.p_size,
       |       ps.ps_supplycost
       |FROM $p p
       |JOIN ps ON p.p_partkey = ps.ps_partkey
       |JOIN $su s ON s.s_suppkey = ps.ps_suppkey
       |JOIN $n n ON s.s_nationkey = n.n_nationkey
       |JOIN $r r ON n.n_regionkey = r.r_regionkey
       |WHERE p.p_size = 25 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
       |  AND ps.ps_supplycost =
       |    (SELECT MIN(ps2.ps_supplycost)
       |     FROM ps ps2
       |     JOIN $su s2 ON s2.s_suppkey = ps2.ps_suppkey
       |     JOIN $n n2 ON s2.s_nationkey = n2.n_nationkey
       |     JOIN $r r2 ON n2.n_regionkey = r2.r_regionkey
       |     WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q7 shape — volume shipping between two nations: the 6-way
    * join with TWO roles of the nation dimension (supplier side and
    * customer side) and the symmetric either-direction pair predicate
    * that must stay a join residual. Revenue is the exact-DECIMAL sum
    * cast to DOUBLE once; the year is extracted post-cast and emitted
    * BIGINT for cross-engine repr equality. */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q7")
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q7")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_q7")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q7")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_q7")
    s.sql(sqlQ7("lineitem_q7", "orders_q7", "customer_q7", "supplier_q7", "nation_q7"))
  }

  private def sqlQ7(l: String, o: String, c: String, su: String, n: String): String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS BIGINT) AS l_year,
       |       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |            * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
       |       COUNT(*) AS n_lines
       |FROM $su s
       |JOIN $l l ON s.s_suppkey = l.l_suppkey
       |JOIN $o o ON o.o_orderkey = l.l_orderkey
       |JOIN $c c ON c.c_custkey = o.o_custkey
       |JOIN $n n1 ON s.s_nationkey = n1.n_nationkey
       |JOIN $n n2 ON c.c_nationkey = n2.n_nationkey
       |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
       |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3'))
       |  AND CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
       |  AND CAST(l.l_shipdate AS DATE) < DATE '2000-01-01'
       |GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE))""".stripMargin

  /** TPC-H Q8 shape — national market share: a conditional share-of-
    * total per year. Both the NATION_3 slice and the denominator are
    * exact DECIMAL sums; the share is ONE double division of their
    * casts (a single correctly-rounded op, the q14 lesson), so no
    * rounding tricks are needed. Customers restricted to region EUROPE,
    * parts to type PROMO — the market definition. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q8")
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q8")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_q8")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q8")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_q8")
    Tables(s, dir, "region").createOrReplaceTempView("region_q8")
    Tables(s, dir, "part").createOrReplaceTempView("part_q8")
    s.sql(sqlQ8("lineitem_q8", "orders_q8", "customer_q8", "supplier_q8",
      "nation_q8", "region_q8", "part_q8"))
  }

  private def sqlQ8(l: String, o: String, c: String, su: String, n: String,
      r: String, p: String): String =
    s"""WITH all_sales AS (
       |  SELECT CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |           * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6)) AS volume,
       |         n1.n_name AS supp_nation
       |  FROM $p pt
       |  JOIN $l l ON pt.p_partkey = l.l_partkey
       |  JOIN $su s ON s.s_suppkey = l.l_suppkey
       |  JOIN $o o ON o.o_orderkey = l.l_orderkey
       |  JOIN $c c ON c.c_custkey = o.o_custkey
       |  JOIN $n n2 ON c.c_nationkey = n2.n_nationkey
       |  JOIN $r r ON n2.n_regionkey = r.r_regionkey
       |  JOIN $n n1 ON s.s_nationkey = n1.n_nationkey
       |  WHERE r.r_name = 'EUROPE' AND pt.p_type = 'PROMO')
       |SELECT o_year,
       |       CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
       |                     ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
       |         / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
       |       COUNT(*) AS n_lines
       |FROM all_sales
       |GROUP BY o_year""".stripMargin

  /** TPC-H Q9 shape — product-line profit by nation and year: the
    * part-name LIKE filter driving a 5-way join, grouped on a dimension
    * attribute plus a derived year. Profit is the discounted amount
    * (the slim schema has no supply cost to subtract); the sum is
    * exact DECIMAL cast to DOUBLE once. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q9")
    Tables(s, dir, "orders").createOrReplaceTempView("orders_q9")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q9")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_q9")
    Tables(s, dir, "part").createOrReplaceTempView("part_q9")
    s.sql(sqlQ9("lineitem_q9", "orders_q9", "supplier_q9", "nation_q9", "part_q9"))
  }

  private def sqlQ9(l: String, o: String, su: String, n: String, p: String): String =
    s"""SELECT n.n_name AS nation,
       |       CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS o_year,
       |       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |            * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS DOUBLE) AS sum_profit,
       |       COUNT(*) AS n_lines
       |FROM $p p
       |JOIN $l l ON p.p_partkey = l.l_partkey
       |JOIN $su s ON s.s_suppkey = l.l_suppkey
       |JOIN $o o ON o.o_orderkey = l.l_orderkey
       |JOIN $n n ON s.s_nationkey = n.n_nationkey
       |WHERE p.p_name LIKE '%bolt%'
       |GROUP BY n.n_name, EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE))""".stripMargin

  /** TPC-H Q11 shape — important parts in one nation's supply: grouped
    * part values gated by an UNCORRELATED scalar-aggregate threshold.
    * The original's fraction-of-total cutoff is not scale-stable on
    * near-uniform synthetic data (part count grows with sf, so a fixed
    * fraction empties out); the threshold here is half the MAX per-part
    * value — same plan shape (grouped agg + scalar subquery over a
    * second grouped agg), and 0.5·DECIMAL is exact in both engines so
    * the HAVING comparison never touches doubles. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q11")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q11")
    Tables(s, dir, "nation").createOrReplaceTempView("nation_q11")
    s.sql(sqlQ11("lineitem_q11", "supplier_q11", "nation_q11"))
  }

  private def sqlQ11(l: String, su: String, n: String): String =
    s"""SELECT l.l_partkey,
       |       CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |            * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS DOUBLE) AS part_value
       |FROM $l l
       |JOIN $su s ON l.l_suppkey = s.s_suppkey
       |JOIN $n n ON s.s_nationkey = n.n_nationkey
       |WHERE n.n_name = 'NATION_3'
       |GROUP BY l.l_partkey
       |HAVING SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |       * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) >
       |  0.5 * (SELECT MAX(pv) FROM
       |          (SELECT SUM(CAST(CAST(l2.l_extendedprice AS DECIMAL(18,2))
       |                 * (1 - CAST(l2.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS pv
       |           FROM $l l2
       |           JOIN $su s2 ON l2.l_suppkey = s2.s_suppkey
       |           JOIN $n n2 ON s2.s_nationkey = n2.n_nationkey
       |           WHERE n2.n_name = 'NATION_3'
       |           GROUP BY l2.l_partkey) t)
       |ORDER BY part_value DESC, l_partkey""".stripMargin

  /** TPC-H Q16 shape — supplier diversity per part class: COUNT
    * DISTINCT over a join, a NOT-LIKE/inequality prefilter pack, and a
    * NOT IN supplier subquery (negative-balance suppliers stand in for
    * the reference's complaint-comment scan; s_suppkey is non-null so
    * NOT IN is null-safe). The supplier-part relation derives from
    * lineitem — the slim schema's partsupp. */
  def q16SupplierCnt(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_q16")
    Tables(s, dir, "supplier").createOrReplaceTempView("supplier_q16")
    Tables(s, dir, "part").createOrReplaceTempView("part_q16")
    s.sql(sqlQ16("lineitem_q16", "supplier_q16", "part_q16"))
  }

  private def sqlQ16(l: String, su: String, p: String): String =
    s"""SELECT p.p_brand, p.p_type, p.p_size,
       |       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM $p p
       |JOIN $l l ON p.p_partkey = l.l_partkey
       |WHERE p.p_brand <> 'Brand#5'
       |  AND p.p_type <> 'MEDIUM'
       |  AND p.p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
       |  AND l.l_suppkey NOT IN
       |    (SELECT s_suppkey FROM $su WHERE s_acctbal < 0)
       |GROUP BY p.p_brand, p.p_type, p.p_size""".stripMargin

  private val q20Oracle: String =
    """SELECT s.s_suppkey, s.s_name, d.n_dominant_parts
      |FROM supplier s
      |JOIN (SELECT l_suppkey, COUNT(*) AS n_dominant_parts
      |      FROM (SELECT l1.l_suppkey, l1.l_partkey
      |            FROM lineitem l1
      |            WHERE CAST(l1.l_shipdate AS DATE) >= DATE '1998-01-01'
      |              AND CAST(l1.l_shipdate AS DATE) < DATE '1998-07-01'
      |            GROUP BY l1.l_suppkey, l1.l_partkey
      |            HAVING SUM(l1.l_quantity) > 0.5 *
      |              (SELECT SUM(l2.l_quantity) FROM lineitem l2
      |               WHERE l2.l_partkey = l1.l_partkey
      |                 AND CAST(l2.l_shipdate AS DATE) >= DATE '1998-01-01'
      |                 AND CAST(l2.l_shipdate AS DATE) < DATE '1998-07-01'))
      |      GROUP BY l_suppkey) d
      |  ON d.l_suppkey = s.s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** Declarative data-quality report over orders/lineitem/customer/part:
    * one conditional-agg scan per table + key-only anti-joins for the
    * two FK checks. Includes checks that FAIL on this data (lineitem
    * order keys repeat per line; quantities exceed 45) so the report
    * hash discriminates pass from fail. */
  def dqReport(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality._
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
    val c = Tables(s, dir, "customer")
    val p = Tables(s, dir, "part")
    report(o, Seq(
      NotNull("o_custkey"),
      Unique("o_orderkey"),
      InRange("o_totalprice", 0.0, 600000.0),
      Accepted("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
      .unionAll(report(l, Seq(
        Unique("l_orderkey"),
        InRange("l_quantity", 1.0, 45.0))))
      .unionAll(referential(o, "o_custkey", c, "c_custkey", "fk:orders.o_custkey"))
      .unionAll(referential(l, "l_partkey", p, "p_partkey", "fk:lineitem.l_partkey"))
  }

  private val dqOracle: String =
    """SELECT 'not_null:o_custkey' AS check_name,
      |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
      |  COUNT(*) AS total,
      |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) * 1000000 <= 0 * COUNT(*) AS passed
      |FROM orders
      |UNION ALL
      |SELECT 'in_range:o_totalprice',
      |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
      |    AND (o_totalprice < 0.0 OR o_totalprice > 600000.0) THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(*),
      |  SUM(CASE WHEN o_totalprice IS NOT NULL
      |    AND (o_totalprice < 0.0 OR o_totalprice > 600000.0) THEN 1 ELSE 0 END) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'accepted:o_orderpriority',
      |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN
      |    ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(*),
      |  SUM(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN
      |    ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 1 ELSE 0 END) = 0
      |FROM orders
      |UNION ALL
      |SELECT 'unique:o_orderkey',
      |  CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT),
      |  COUNT(o_orderkey),
      |  COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey)
      |FROM orders WHERE o_orderkey IS NOT NULL
      |UNION ALL
      |SELECT 'in_range:l_quantity',
      |  CAST(SUM(CASE WHEN l_quantity IS NOT NULL
      |    AND (l_quantity < 1.0 OR l_quantity > 45.0) THEN 1 ELSE 0 END) AS BIGINT),
      |  COUNT(*),
      |  SUM(CASE WHEN l_quantity IS NOT NULL
      |    AND (l_quantity < 1.0 OR l_quantity > 45.0) THEN 1 ELSE 0 END) = 0
      |FROM lineitem
      |UNION ALL
      |SELECT 'unique:l_orderkey',
      |  CAST(COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) AS BIGINT),
      |  COUNT(l_orderkey),
      |  COUNT(l_orderkey) = COUNT(DISTINCT l_orderkey)
      |FROM lineitem WHERE l_orderkey IS NOT NULL
      |UNION ALL
      |SELECT 'fk:orders.o_custkey',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |   WHERE o.o_custkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |  (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL),
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
      |UNION ALL
      |SELECT 'fk:lineitem.l_partkey',
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |   WHERE l.l_partkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
      |  (SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL),
      |  (SELECT COUNT(*) FROM lineitem l
      |   WHERE l.l_partkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) = 0""".stripMargin

  private val q17Oracle: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |       COUNT(*) AS n_small
      |FROM lineitem l
      |WHERE l_quantity < 0.2 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
      |                          WHERE l2.l_partkey = l.l_partkey)""".stripMargin

  private val q18Oracle: String =
    s"""SELECT c.c_name, o.o_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       |       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       |       CAST(SUM(l.l_quantity) AS BIGINT) AS total_qty
       |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
       |                       GROUP BY l_orderkey HAVING SUM(l_quantity) > $Q18MinQty)
       |GROUP BY c.c_name, o.o_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
       |ORDER BY total_qty DESC, o_orderkey
       |LIMIT 100""".stripMargin

  private val q22Oracle: String =
    """SELECT c_nationkey, COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM customer c
      |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey""".stripMargin

  private val q4Oracle: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01'
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1999-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60)
      |GROUP BY o_orderpriority""".stripMargin

  private val q12Oracle: String =
    """SELECT l.l_returnflag,
      |       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
      |  AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
      |GROUP BY l.l_returnflag""".stripMargin

  private val q13Oracle: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |      FROM customer c LEFT JOIN orders o
      |        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |      GROUP BY c.c_custkey)
      |GROUP BY c_count""".stripMargin

  private val q14Oracle: String =
    """SELECT (100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
      |                 THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                      * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))
      |                 ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE))
      |       / CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                  * (1 - CAST(l.l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6)))
      |              AS DOUBLE) AS promo_revenue,
      |       CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END) AS BIGINT) AS n_promo_lines
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-03-01'
      |  AND CAST(l.l_shipdate AS DATE) < DATE '1998-04-01'""".stripMargin

  private val q15Oracle: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (1 - CAST(l_discount AS DECIMAL(7,4))) AS DECIMAL(27,6))) AS total_revenue
      |  FROM lineitem
      |  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
      |    AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      |WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin

  private val q19Oracle: String =
    """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |            * (1 - CAST(l.l_discount AS DECIMAL(7,4)))) AS DOUBLE) AS revenue,
      |       COUNT(*) AS n_lines
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 15)
      |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
      |       AND l.l_quantity BETWEEN 10 AND 25)
      |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
      |       AND l.l_quantity BETWEEN 20 AND 35)""".stripMargin

  private val q21Oracle: String =
    """SELECT s.s_name, s.s_suppkey, COUNT(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND CAST(l1.l_shipdate AS DATE) >= DATE '2001-06-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND CAST(l3.l_shipdate AS DATE) >= DATE '2001-06-01')
      |GROUP BY s.s_name, s.s_suppkey
      |ORDER BY numwait DESC, s_suppkey
      |LIMIT 100""".stripMargin

  /** Ranking-family window breadth in one pass: row_number, dense_rank,
    * rank-based percent_rank, cume_dist and ntile(4) over a month's
    * orders per priority class — one window spec, one sort, five
    * functions. percent_rank/cume_dist are single divisions of the same
    * integers in both engines; dense_rank and cume_dist are
    * tie-deterministic by definition, row_number/ntile get a total
    * (price, key) ordering. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1995-03-01") &&
        to_date(col("o_orderdate")) < lit("1995-04-01"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_orderpriority"),
      col("o_totalprice").cast("double").as("price"),
      row_number().over(w).cast("long").as("rn"),
      dense_rank().over(w).cast("long").as("drank"),
      percent_rank().over(w).as("prank"),
      cume_dist().over(w).as("cdist"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  private val windowFuncsOracle: String =
    """WITH o AS (SELECT * FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-03-01'
      |    AND CAST(o_orderdate AS DATE) < DATE '1995-04-01')
      |SELECT o_orderkey, o_orderpriority,
      |  CAST(o_totalprice AS DOUBLE) AS price,
      |  CAST(row_number() OVER w AS BIGINT) AS rn,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
      |  percent_rank() OVER w AS prank,
      |  cume_dist() OVER w AS cdist,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
      |FROM o
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin

  private val kmvSetOpsOracle: String = {
    val k = KmvQueryK
    val numer = (k - 1).toDouble * math.pow(2, 60)
    val full = 1L << 60
    s"""WITH av AS (SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
       |    AND CAST(o_orderdate AS DATE) < DATE '1995-07-01'),
       |bv AS (SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |  FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1995-07-01'
       |    AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'),
       |ask AS (SELECT h FROM av ORDER BY h LIMIT $k),
       |bsk AS (SELECT h FROM bv ORDER BY h LIMIT $k),
       |ae AS (SELECT CASE WHEN COUNT(*) < $k THEN CAST(COUNT(*) AS DOUBLE)
       |    ELSE $numer / CAST(MAX(h) AS DOUBLE) END AS approx_a FROM ask),
       |be AS (SELECT CASE WHEN COUNT(*) < $k THEN CAST(COUNT(*) AS DOUBLE)
       |    ELSE $numer / CAST(MAX(h) AS DOUBLE) END AS approx_b FROM bsk),
       |ath AS (SELECT CASE WHEN COUNT(*) < $k THEN $full ELSE MAX(h) END AS th FROM ask),
       |bth AS (SELECT CASE WHEN COUNT(*) < $k THEN $full ELSE MAX(h) END AS th FROM bsk),
       |th AS (SELECT LEAST(a.th, b.th) AS theta FROM ath a, bth b),
       |d AS (SELECT COUNT(*) AS d FROM ask JOIN bsk USING (h), th WHERE h < theta),
       |ie AS (SELECT CAST(d AS DOUBLE) * ${math.pow(2, 60)} / CAST(theta AS DOUBLE) AS approx_intersection
       |  FROM d, th),
       |exa AS (SELECT COUNT(DISTINCT o_custkey) AS exact_a FROM orders
       |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01' AND CAST(o_orderdate AS DATE) < DATE '1995-07-01'),
       |exb AS (SELECT COUNT(DISTINCT o_custkey) AS exact_b FROM orders
       |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-07-01' AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'),
       |exi AS (SELECT COUNT(*) AS exact_intersection FROM
       |  (SELECT DISTINCT o_custkey FROM orders
       |    WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01' AND CAST(o_orderdate AS DATE) < DATE '1995-07-01')
       |  NATURAL JOIN
       |  (SELECT DISTINCT o_custkey FROM orders
       |    WHERE CAST(o_orderdate AS DATE) >= DATE '1995-07-01' AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'))
       |SELECT approx_a, approx_b, approx_intersection, exact_a, exact_b, exact_intersection
       |FROM ae, be, ie, exa, exb, exi""".stripMargin
  }

  private val assocRulesOracle: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS oid, CAST(l_partkey AS BIGINT) AS item FROM lineitem),
       |sized AS (SELECT oid, item FROM (
       |  SELECT oid, item, COUNT(*) OVER (PARTITION BY oid) AS bs FROM li)
       |  WHERE bs <= $AssocMaxBasket),
       |n AS (SELECT COUNT(DISTINCT oid) AS n_baskets FROM sized),
       |ic AS (SELECT item, COUNT(*) AS cnt FROM sized GROUP BY item),
       |pairs AS (SELECT a.item AS ant, b.item AS cons, COUNT(*) AS pair_cnt
       |  FROM sized a JOIN sized b ON a.oid = b.oid AND a.item <> b.item
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $AssocMinCount)
       |SELECT ant, cons, pair_cnt, ia.cnt AS ant_cnt, ib.cnt AS cons_cnt,
       |  CAST(pair_cnt AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
       |  CAST(pair_cnt * n_baskets AS DOUBLE) / CAST(ia.cnt * ib.cnt AS DOUBLE) AS lift
       |FROM pairs JOIN ic ia ON ia.item = pairs.ant
       |  JOIN ic ib ON ib.item = pairs.cons, n
       |ORDER BY pair_cnt DESC, ant, cons LIMIT 200""".stripMargin

  /** Bloom-filter membership, driver-checked bit for bit: a sketch of the
    * custkeys with Q4-1996 orders probed by every customer, next to the
    * true membership so false positives are VISIBLE (and deterministic —
    * the portable hash means DuckDB replays exactly which probes lie).
    * The scale story is [[graft.operators.Sketches.bloomPrunedSemiJoin]]:
    * ≤ m broadcast rows prune a fact-table shuffle to matches + εN. */
  def bloomFilter(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
      .where(to_date(col("o_orderdate")) >= lit("1996-10-01") &&
        to_date(col("o_orderdate")) < lit("1997-01-01"))
      .select(col("o_custkey"))
    // m = 8192 (not the 65536 default) is deliberately tight for the
    // gate corpora: ~0.4% fp at sf0.01 and ~50% at sf0.1, so BOTH probe
    // branches — false positives and true negatives — are data the
    // oracle actually checks at every gate scale factor.
    val bits = graft.operators.Sketches.bloomBits(o, col("o_custkey"), m = BloomQueryM)
    val c = Tables(s, dir, "customer")
    val might = graft.operators.Sketches.bloomMightContain(
      bits, c.select(col("c_custkey")), "c_custkey", m = BloomQueryM)
    val actual = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey").as("__ck"), lit(1L).as("__actual"))
    might.join(actual, might("c_custkey") === col("__ck"), "left_outer")
      .select(col("c_custkey"), col("might_contain"),
        coalesce(col("__actual"), lit(0L)).as("actual"))
  }

  private val BloomQueryM = 8192

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_zorder_keys" -> (zorderKeys _),
    "q_hll_groups" -> (hllGroups _),
    "q_hll_compacted" -> (hllCompacted _),
    "q_set_ops" -> (setOps _),
    "q_mad_outliers" -> (madOutliers _),
    "q_grouping_sets" -> (groupingSets _),
    "q_pivot_revenue" -> (pivotRevenue _),
    "q_bloom_filter" -> (bloomFilter _),
    "q_quantile_sketch" -> (quantileSketch _),
    "q_mp_quantiles" -> (mpQuantiles _),
    "q_assoc_rules" -> (assocRules _),
    "q_kmv_setops" -> (kmvSetOps _),
    "q_window_funcs" -> (windowFuncs _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q_loo_target_enc" -> (looTargetEnc _),
    "q_skyline_parts" -> (skylineParts _),
    "q_skyline_orders" -> (skylineOrders _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q16_supplier_cnt" -> (q16SupplierCnt _),
    "q4_priority_exists" -> (q4PriorityExists _),
    "q12_priority_class" -> (q12PriorityClass _),
    "q13_custdist" -> (q13CustDist _),
    "q14_promo_revenue" -> (q14PromoRevenue _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q19_disjunctive" -> (q19Disjunctive _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q20_excess_shipments" -> (q20ExcessShipments _),
    "q_dq_report" -> (dqReport _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q22_idle_balance" -> (q22IdleBalance _),
    "q_hll_distinct" -> (hllDistinct _),
    "q_cms_heavy" -> (cmsHeavy _),
    "g_csv_typed" -> (csvTyped _),
    "q_topk_orders" -> (topkOrders _),
    "q_skew_agg" -> (skewAgg _),
    "q_quantiles" -> (quantiles _),
    "g_bucketed_join" -> (bucketedJoin _),
    "q6_forecast_revenue" -> (q6 _),
    "q_running_balance" -> (runningBalance _),
    "q_rollup_revenue" -> (rollupRevenue _),
    "q_cube_revenue" -> (cubeRevenue _),
    "q1_pricing_summary" -> (q1 _),
    "q3_shipping_priority" -> (q3 _),
    "q5_supplier_volume" -> (q5 _),
    "q10_returned" -> (q10 _),
    "q_window_top_orders" -> (windowTopOrders _),
    "q_anti_no_orders" -> (antiNoOrders _),
    "q_semi_parts_shipped" -> (semiPartsShipped _))

  private val rev = """SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(7,4))))"""

  /** One HLL estimate branch per column: registers from the portable
    * md5 hash (bucket = low 8 bits, ρ via exact binary-string length —
    * floating log2 misrounds at powers of two), scaled harmonic sum in
    * HUGEINT (≡ Spark's DECIMAL(38,0) — exact, order-free), the α·m²·2^60
    * constant embedded as the identical double literal, and the same
    * small-range linear-counting branch; round(,6) absorbs the ln ulp. */
  private def hllColumnSql(c: String): String = {
    val numer = graft.operators.Sketches.hllNumer(8)
    s"""SELECT '$c' AS column_name,
       |  (SELECT round(CASE WHEN v > 0 AND $numer / CAST(s_total AS DOUBLE) <= 640.0
       |       THEN 256.0 * ln(256.0 / v)
       |       ELSE $numer / CAST(s_total AS DOUBLE) END, 6)
       |   FROM (SELECT COALESCE(SUM(1::BIGINT << (60 - register)), 0)
       |             + (256 - COUNT(*))::HUGEINT * (1::BIGINT << 60) AS s_total,
       |           256 - COUNT(*) AS v
       |     FROM (SELECT h % 256 AS bucket,
       |             MAX(CASE WHEN h >> 8 = 0 THEN 53
       |                 ELSE 53 - length(ltrim(bin(h >> 8), '0')) END) AS register
       |       FROM (SELECT ('0x' || substring(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT AS h
       |         FROM lineitem)
       |       GROUP BY bucket))) AS approx_distinct,
       |  (SELECT COUNT(DISTINCT $c) FROM lineitem) AS exact_distinct""".stripMargin
  }

  private val cmsHeavyOracle: String =
    """WITH h AS (
      |  SELECT l_partkey, r,
      |    ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 1024 AS cell
      |  FROM lineitem, (SELECT unnest([0,1,2,3]) AS r)),
      |cms AS MATERIALIZED (SELECT r, cell, COUNT(*) AS cnt FROM h GROUP BY r, cell),
      |items AS (SELECT DISTINCT l_partkey FROM lineitem),
      |ih AS (
      |  SELECT l_partkey, r,
      |    ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT % 1024 AS cell
      |  FROM items, (SELECT unnest([0,1,2,3]) AS r)),
      |est AS (SELECT l_partkey, MIN(cnt) AS est_count
      |  FROM ih JOIN cms USING (r, cell) GROUP BY l_partkey)
      |SELECT e.l_partkey, e.est_count, t.true_count
      |FROM est e JOIN (SELECT l_partkey, COUNT(*) AS true_count
      |  FROM lineitem GROUP BY l_partkey) t USING (l_partkey)""".stripMargin

  /** Replays the bottom-k selection (row_number over the portable hash
    * ≡ TopK.perKey's heap+window) and the interpolated percentiles;
    * round(,6) absorbs the interpolation ulp exactly as in q_quantiles. */
  private val quantileSketchOracle: String =
    s"""WITH keyed AS (
       |  SELECT l_returnflag, l_extendedprice AS value,
       |    ('0x' || substring(md5('qs:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h,
       |    CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS id
       |  FROM lineitem),
       |samp AS (SELECT l_returnflag, value FROM (
       |  SELECT l_returnflag, value,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h, id) AS rn
       |  FROM keyed) WHERE rn <= $QsK),
       |sk AS (SELECT l_returnflag, COUNT(*) AS n_sample,
       |    round(quantile_cont(value, 0.5), 6) AS sketch_p50,
       |    round(quantile_cont(value, 0.9), 6) AS sketch_p90
       |  FROM samp GROUP BY l_returnflag),
       |ex AS (SELECT l_returnflag,
       |    round(quantile_cont(l_extendedprice, 0.5), 6) AS exact_p50,
       |    round(quantile_cont(l_extendedprice, 0.9), 6) AS exact_p90
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT sk.l_returnflag, n_sample, sketch_p50, exact_p50, sketch_p90, exact_p90
       |FROM sk JOIN ex USING (l_returnflag)""".stripMargin

  /** Replays the FULL multi-level compaction: 16 chained CTE rounds (a
    * group needing fewer passes through the rest untouched — the cnt ≤ k
    * guard makes extra rounds the identity, so one generous fixed count
    * covers every gate SF; 16 supports groups to 256·2^16 ≈ 16.7M rows),
    * then the weighted-rank estimates — all integers, so the ESTIMATES
    * are hash-compared, not just the sketch rows. */
  private val mpQuantilesOracle: String = {
    val rounds = (1 to 16).map { r =>
      s"""lvl$r AS (SELECT g, value, rid,
         |    CASE WHEN over_k AND at_min THEN lvl + 1 ELSE lvl END AS lvl
         |  FROM (SELECT g, value, rid, lvl,
         |      COUNT(*) OVER (PARTITION BY g) > $MpK AS over_k,
         |      lvl = MIN(lvl) OVER (PARTITION BY g) AS at_min,
         |      row_number() OVER (PARTITION BY g, lvl ORDER BY value, rid) AS rn,
         |      ('0x' || substring(md5('mp:' || CAST(g AS VARCHAR) || ':' || CAST(lvl AS VARCHAR)), 1, 15))::BIGINT % 2 AS par
         |    FROM lvl${r - 1})
         |  WHERE NOT over_k OR NOT at_min OR rn % 2 = par)""".stripMargin
    }.mkString(",\n")
    val exacts = MpQs.map { qpm =>
      s"""SELECT l_returnflag AS g, $qpm AS qpm,
         |    round(quantile_cont(l_extendedprice, ${qpm / 1000.0}), 6) AS exact
         |  FROM lineitem GROUP BY 1""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH lvl0 AS (
       |  SELECT l_returnflag AS g, l_extendedprice AS value,
       |    CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS rid,
       |    0 AS lvl
       |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
       |$rounds,
       |sk AS (SELECT g, value, rid, (CAST(1 AS BIGINT) << lvl) AS weight FROM lvl16),
       |cum AS (SELECT g, value,
       |    SUM(weight) OVER (PARTITION BY g ORDER BY value, rid ROWS UNBOUNDED PRECEDING) AS cw,
       |    SUM(weight) OVER (PARTITION BY g) AS tw
       |  FROM sk),
       |ns AS (SELECT g, COUNT(*) AS n_sketch FROM sk GROUP BY g),
       |est AS (SELECT g, qpm, MIN(value) AS est
       |  FROM cum, (SELECT unnest([${MpQs.mkString(",")}]) AS qpm)
       |  WHERE cw * 1000 >= qpm * tw GROUP BY g, qpm),
       |ex AS ($exacts)
       |SELECT e.g AS l_returnflag, e.qpm / 1000.0 AS q, ns.n_sketch,
       |  CAST(e.est AS DOUBLE) AS est, ex.exact
       |FROM est e JOIN ns USING (g) JOIN ex ON ex.g = e.g AND ex.qpm = e.qpm""".stripMargin
  }

  /** Replays every Bloom bit: set positions from the window's custkeys,
    * 3 probe positions per customer, might_contain = all 3 set. */
  private val bloomFilterOracle: String =
    """WITH vals AS (SELECT o_custkey AS v FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
      |    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'),
      |bits AS (SELECT DISTINCT
      |    ('0x' || substring(md5('bf' || CAST(i AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 15))::BIGINT % 8192 AS pos
      |  FROM vals, (SELECT unnest([0,1,2]) AS i)),
      |probe AS (SELECT c_custkey,
      |    ('0x' || substring(md5('bf' || CAST(i AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 8192 AS pos
      |  FROM customer, (SELECT unnest([0,1,2]) AS i)),
      |hits AS (SELECT c_custkey, COUNT(*) AS nhit FROM probe JOIN bits USING (pos) GROUP BY c_custkey)
      |SELECT c.c_custkey,
      |  CAST(CASE WHEN COALESCE(h.nhit, 0) = 3 THEN 1 ELSE 0 END AS BIGINT) AS might_contain,
      |  CAST(CASE WHEN EXISTS (SELECT 1 FROM vals WHERE v = c.c_custkey) THEN 1 ELSE 0 END AS BIGINT) AS actual
      |FROM customer c LEFT JOIN hits h ON h.c_custkey = c.c_custkey""".stripMargin

  private val zorderOracle: String = {
    val z = graft.sources.ZOrderLayout.zValueSql("ck", "dy")
    s"""WITH o AS (SELECT CAST(o_custkey AS BIGINT) AS ck,
       |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS dy
       |  FROM orders),
       |zv AS (SELECT ($z) AS z, ck, dy FROM o)
       |SELECT z >> 30 AS z_bucket, COUNT(*) AS n_rows,
       |  MIN(z) AS z_min, MAX(z) AS z_max,
       |  MIN(ck) AS ck_min, MAX(ck) AS ck_max,
       |  MIN(dy) AS dy_min, MAX(dy) AS dy_max
       |FROM zv GROUP BY z_bucket""".stripMargin
  }

  /** Grouped twin of the q_hll_distinct oracle: same register/estimate
    * replay, evaluated per group key. */
  private val hllGroupsOracle: String = {
    val numer = graft.operators.Sketches.hllNumer(8)
    s"""WITH regs AS (
       |  SELECT o_orderpriority, h % 256 AS bucket,
       |    MAX(CASE WHEN h >> 8 = 0 THEN 53
       |        ELSE 53 - length(ltrim(bin(h >> 8), '0')) END) AS register
       |  FROM (SELECT o_orderpriority,
       |      ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |    FROM orders)
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT o_orderpriority,
       |    round(CASE WHEN v > 0 AND $numer / CAST(s_total AS DOUBLE) <= 640.0
       |      THEN 256.0 * ln(256.0 / v)
       |      ELSE $numer / CAST(s_total AS DOUBLE) END, 6) AS approx_distinct
       |  FROM (SELECT o_orderpriority,
       |      COALESCE(SUM(1::BIGINT << (60 - register)), 0)
       |        + (256 - COUNT(*))::HUGEINT * (1::BIGINT << 60) AS s_total,
       |      256 - COUNT(*) AS v
       |    FROM regs GROUP BY o_orderpriority))
       |SELECT e.o_orderpriority, e.approx_distinct, x.exact_distinct
       |FROM est e JOIN (SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct
       |  FROM orders GROUP BY 1) x USING (o_orderpriority)""".stripMargin
  }

  /** One-shot global twin of the compacted-log fold: registers from ALL
    * rows (slice union = whole table; registers max-merge), estimate via
    * the shared recipe; n_generations pins the post-compaction layout. */
  private val hllCompactedOracle: String = {
    val numer = graft.operators.Sketches.hllNumer(8)
    s"""WITH regs AS (
       |  SELECT h % 256 AS bucket,
       |    MAX(CASE WHEN h >> 8 = 0 THEN 53
       |        ELSE 53 - length(ltrim(bin(h >> 8), '0')) END) AS register
       |  FROM (SELECT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
       |    FROM orders)
       |  GROUP BY 1)
       |SELECT CAST(2 AS BIGINT) AS n_generations,
       |  round(CASE WHEN v > 0 AND $numer / CAST(s_total AS DOUBLE) <= 640.0
       |    THEN 256.0 * ln(256.0 / v)
       |    ELSE $numer / CAST(s_total AS DOUBLE) END, 6) AS approx_distinct,
       |  exact_distinct
       |FROM (SELECT COALESCE(SUM(1::BIGINT << (60 - register)), 0)
       |      + (256 - COUNT(*))::HUGEINT * (1::BIGINT << 60) AS s_total,
       |    256 - COUNT(*) AS v FROM regs),
       |  (SELECT COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "g_zorder_keys" -> zorderOracle,
    "q_hll_groups" -> hllGroupsOracle,
    "q_hll_compacted" -> hllCompactedOracle,
    "q_set_ops" ->
      """WITH a AS (SELECT c_custkey FROM customer c WHERE EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01')),
        |b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT 'intersect' AS set_op, COUNT(*) AS n FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL SELECT 'except_a_b', COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL SELECT 'except_b_a', COUNT(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
        |UNION ALL SELECT 'union_distinct', COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)""".stripMargin,
    "q_mad_outliers" ->
      """WITH j AS (SELECT c_mktsegment, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |med AS (SELECT c_mktsegment,
        |    round(quantile_cont(o_totalprice, 0.5), 6) AS median_price
        |  FROM j GROUP BY 1),
        |dev AS (SELECT j.c_mktsegment, j.o_totalprice, m.median_price
        |  FROM j JOIN med m USING (c_mktsegment)),
        |stats AS (SELECT c_mktsegment, median_price,
        |    round(quantile_cont(abs(o_totalprice - median_price), 0.5), 6) AS mad,
        |    COUNT(*) AS n_orders
        |  FROM dev GROUP BY 1, 2),
        |outl AS (SELECT d.c_mktsegment, COUNT(*) AS n_outliers
        |  FROM dev d JOIN stats s USING (c_mktsegment)
        |  WHERE abs(d.o_totalprice - d.median_price) > 3.0 * s.mad
        |  GROUP BY 1)
        |SELECT s.c_mktsegment, s.n_orders, s.median_price, s.mad,
        |  COALESCE(o.n_outliers, 0) AS n_outliers
        |FROM stats s LEFT JOIN outl o USING (c_mktsegment)""".stripMargin,
    "q_grouping_sets" ->
      """SELECT n_name, c_mktsegment,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin,
    "q_pivot_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS VARCHAR) AS DOUBLE) AS "AUTOMOBILE",
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE c_mktsegment = 'BUILDING') AS VARCHAR) AS DOUBLE) AS "BUILDING",
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE c_mktsegment = 'FURNITURE') AS VARCHAR) AS DOUBLE) AS "FURNITURE",
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS VARCHAR) AS DOUBLE) AS "HOUSEHOLD",
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE c_mktsegment = 'MACHINERY') AS VARCHAR) AS DOUBLE) AS "MACHINERY"
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_bloom_filter" -> bloomFilterOracle,
    "q_quantile_sketch" -> quantileSketchOracle,
    "q_mp_quantiles" -> mpQuantilesOracle,
    "q_assoc_rules" -> assocRulesOracle,
    "q_kmv_setops" -> kmvSetOpsOracle,
    "q_window_funcs" -> windowFuncsOracle,
    "q17_small_quantity" -> q17Oracle,
    "q_loo_target_enc" -> looOracle,
    "q_skyline_parts" -> skylineOracle,
    "q_skyline_orders" -> skylineOrdersOracle,
    "q2_min_cost_supplier" -> sqlQ2("lineitem", "supplier", "part", "nation", "region"),
    "q7_volume_shipping" -> sqlQ7("lineitem", "orders", "customer", "supplier", "nation"),
    "q8_market_share" -> sqlQ8("lineitem", "orders", "customer", "supplier",
      "nation", "region", "part"),
    "q9_product_profit" -> sqlQ9("lineitem", "orders", "supplier", "nation", "part"),
    "q11_important_parts" -> sqlQ11("lineitem", "supplier", "nation"),
    "q16_supplier_cnt" -> sqlQ16("lineitem", "supplier", "part"),
    "q4_priority_exists" -> q4Oracle,
    "q12_priority_class" -> q12Oracle,
    "q13_custdist" -> q13Oracle,
    "q14_promo_revenue" -> q14Oracle,
    "q15_top_supplier" -> q15Oracle,
    "q19_disjunctive" -> q19Oracle,
    "q21_waiting_suppliers" -> q21Oracle,
    "q20_excess_shipments" -> q20Oracle,
    "q_dq_report" -> dqOracle,
    "q18_large_orders" -> q18Oracle,
    "q22_idle_balance" -> q22Oracle,
    "q_hll_distinct" ->
      Seq("l_orderkey", "l_partkey", "l_suppkey").map(hllColumnSql).mkString("\nUNION ALL\n"),
    "q_cms_heavy" -> cmsHeavyOracle,
    "q_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "g_csv_typed" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_totalprice,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q_skew_agg" ->
      """SELECT p_type,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_type""".stripMargin,
    "g_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(7,4))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_running_balance" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
        |FROM orders""".stripMargin,
    "q_cube_revenue" ->
      """SELECT n_name, c_mktsegment,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT n_name, c_mktsegment,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
         |  CAST(CAST($rev AS VARCHAR) AS DOUBLE) AS sum_disc_price,
         |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(7,4))) AS DECIMAL(18,6)) * (1 + CAST(l_tax AS DECIMAL(7,4)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
         |  CAST(CAST($rev AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
         |  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_supplier_volume" ->
      s"""SELECT n_name, CAST(CAST($rev AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         |GROUP BY n_name""".stripMargin,
    "q10_returned" ->
      s"""SELECT c_custkey, c_name, n_name, CAST(CAST($rev AS VARCHAR) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND CAST(o_orderdate AS DATE) >= DATE '1996-10-01'
         |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_window_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q_anti_no_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q_semi_parts_shipped" ->
      """SELECT p_partkey, p_name, p_brand FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin)
}
