package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class WalksTfidfSpec extends SparkTestBase {
  import spark.implicits._

  private val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")

  test("randomWalks is reproducible and every hop follows an edge") {
    val starts = Seq(1L).toDF("vid")
    val a = GraphAnalytics.randomWalks(diamond, starts, walksPerVertex = 4, steps = 6)
      .orderBy("walk_id", "step").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val b = GraphAnalytics.randomWalks(diamond, starts, walksPerVertex = 4, steps = 6)
      .orderBy("walk_id", "step").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sameElements(b), "derandomized walks must reproduce exactly")
    // 4 walks × 7 positions, nobody dies (the diamond is connected, undirected)
    assert(a.length == 28)
    val und = Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).flatMap { case (u, v) => Set((u, v), (v, u)) }
    val byWalk = a.groupBy(_._1).values
    byWalk.foreach { w =>
      val path = w.sortBy(_._3).map(_._2)
      path.sliding(2).foreach { case Array(u, v) =>
        assert(und((u, v)), s"hop $u->$v is not an edge")
      }
    }
  }

  test("randomWalks diversify across walk ids") {
    // from vertex 1 of the diamond, 8 walks of 1 hop choose between 2 and
    // 3 by per-walk hash — both neighbors must appear (p(all same) = 2^-7)
    val first = GraphAnalytics.randomWalks(diamond, Seq(1L).toDF("vid"), 8, 1)
      .where(col("step") === 1).select("vid").collect().map(_.getLong(0)).toSet
    assert(first == Set(2L, 3L))
  }

  test("walks end at dead ends in directed mode") {
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = GraphAnalytics.randomWalks(chain, Seq(1L).toDF("vid"), 1, 5, undirected = false)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // walk reaches 3 at step 2 and stops — no rows past it
    assert(out.map(_._2).max == 2L)
    assert(out.toSet == Set((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("skipGramPairs: window-bounded, symmetric, walk-local") {
    val walks = Seq(
      (1L, 10L, 0L), (1L, 20L, 1L), (1L, 30L, 2L), (1L, 40L, 3L),
      (2L, 50L, 0L), (2L, 60L, 1L)).toDF("walk_id", "vid", "step")
    val pairs = GraphAnalytics.skipGramPairs(walks, window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // window 2 within walk 1: (10,20),(10,30) but NOT (10,40)
    assert(pairs.contains((10L, 20L)) && pairs.contains((10L, 30L)))
    assert(!pairs.contains((10L, 40L)))
    // symmetric counts
    assert(pairs((10L, 20L)) == pairs((20L, 10L)))
    // never across walks
    assert(!pairs.keys.exists { case (a, b) => a <= 40L && b >= 50L })
  }

  test("walks are invariant to duplicate edges (the no-staging-dedup argument)") {
    // the staging distinct was removed because the per-walk arg-min/max
    // ignores multiplicity; pin that equivalence on an input where every
    // edge appears 1-3 times
    val dup = diamond
      .unionAll(Seq((1L, 2L), (3L, 4L), (3L, 4L)).toDF("src", "dst"))
    val starts = Seq(1L, 4L).toDF("vid")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("walk_id", "step").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(GraphAnalytics.randomWalks(dup, starts, 4, 6)) ==
      rows(GraphAnalytics.randomWalks(diamond, starts, 4, 6)))
    assert(rows(GraphAnalytics.biasedRandomWalks(dup, starts, 3, 5,
        returnParam = 4.0, inOutParam = 0.25)) ==
      rows(GraphAnalytics.biasedRandomWalks(diamond, starts, 3, 5,
        returnParam = 4.0, inOutParam = 0.25)))
  }

  test("kCore assumeCanonical equals the dedup path on canonical input") {
    // triangle + pendant, canonical distinct pairs (the cooc contract)
    val canon = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    def rows(assume: Boolean) =
      GraphAnalytics.kCore(canon, k = 2, rounds = 4, assumeCanonical = assume)
        .orderBy("u").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(true) == rows(false))
    assert(rows(true) == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
  }

  test("biasedRandomWalks: p discourages returning, q steers common-vs-outward") {
    // 0-1-2 chain; at 2 (prev=1): 1 is RETURN, 3 is COMMON (1-3 edge),
    // 4 is OUTWARD (no 1-4 edge)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (2L, 4L), (1L, 3L)).toDF("src", "dst")
    def path(p: Double, q: Double): Seq[Long] =
      GraphAnalytics.biasedRandomWalks(edges, Seq(0L).toDF("vid"),
        walksPerVertex = 1, steps = 3, returnParam = p, inOutParam = q)
        .orderBy("step").collect().map(_.getLong(1)).toSeq
    // huge p: never backtrack when an alternative exists; tiny q favors
    // outward — at 1 (prev=0) both 2 and 3 are outward (hash picks 2),
    // then at 2 (prev=1) the outward 4 beats the common 3 and return 1
    assert(path(1e6, 1e-6) == Seq(0L, 1L, 2L, 4L))
    // huge q kills outward: at 1 both non-return candidates are outward
    // (equal bias, hash picks 3); at 3 (prev=1) vertex 2 is COMMON
    // (2-1 edge) while 1 is return → the common neighbor wins
    assert(path(1e6, 1e6) == Seq(0L, 1L, 3L, 2L))
    // reproducibility
    assert(path(4.0, 0.25) == path(4.0, 0.25))
  }

  test("weightedSample is reproducible, without replacement, weight-sensitive, and skips w <= 0") {
    val items = ((1L to 100L).map(i => (i, 1000L)) ++ (101L to 200L).map(i => (i, 1L)) ++
      Seq((201L, 0L), (202L, -5L))).toDF("doc_id", "w")
    val s1 = TextAnalysis.weightedSample(items, "doc_id", col("w"), n = 50)
      .collect().map(_.getLong(0))
    val s2 = TextAnalysis.weightedSample(items, "doc_id", col("w"), n = 50)
      .collect().map(_.getLong(0))
    assert(s1.sameElements(s2), "derandomized sample must reproduce")
    assert(s1.length == 50 && s1.distinct.length == 50, "without replacement")
    assert(!s1.contains(201L) && !s1.contains(202L), "non-positive weights excluded")
    // 1000x weight ⇒ heavy items dominate the sample (each light item's
    // inclusion odds are tiny; a majority-light draw has ~zero probability)
    val heavy = s1.count(_ <= 100L)
    assert(heavy > 40, s"only $heavy/50 heavy items sampled")
    // a different seed draws a different sample
    val s3 = TextAnalysis.weightedSample(items, "doc_id", col("w"), n = 50, seed = 7L)
      .collect().map(_.getLong(0))
    assert(!s3.sameElements(s1))
  }

  test("tfIdf ranks corpus-specific terms above shared ones") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry durian durian")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdf(docs, "doc_id", "text", k = 3)
      .where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) == "apple")  // tf 2 × idf ln(4/2) beats banana's ln(4/3)
    assert(top(3L) == "durian")
    // shared 'banana'/'cherry' never outrank doc-specific terms
    val d1 = TextAnalysis.tfIdf(docs, "doc_id", "text", k = 3)
      .where(col("doc_id") === 1).orderBy("rank").collect()
    assert(d1.map(_.getString(1)).toSeq == Seq("apple", "banana"))
    // score is 6dp-rounded: tf=2, idf=ln(2) → 1.386294
    assert(d1(0).getDouble(2) == 1.386294)
  }

  test("bm25Retrieval matches a scalar replay of the formula") {
    val docs = Seq(
      (1L, "spark spark spark joins data"),   // tf(spark)=3, dl=5
      (2L, "spark is a data engine"),         // tf(spark)=1, dl=5
      (3L, "hash hash spark"),                // tf(hash)=2, tf(spark)=1, dl=3
      (4L, "unrelated words only here")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Retrieval(docs, "doc_id", "text",
      Seq("spark", "hash"), k1 = 1.2, b = 0.75, topN = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

    // independent scalar replay (plain Scala math, not DataFrame code)
    val n = 4.0; val totalDl = 17.0; val avgdl = totalDl / n
    def idf(df: Double) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def term(tf: Double, df: Double, dl: Double) =
      BigDecimal(math.round((idf(df) * (tf * 2.2)) /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6) / 1e6)
        .setScale(6)
    val exp1 = term(3, 3, 5)                  // doc 1: spark only
    val exp3 = term(1, 3, 3) + term(2, 1, 3)  // doc 3: spark + hash
    assert(got(1L)._1 == exp1.toDouble && got(1L)._2 == 1L)
    assert(got(3L)._1 == exp3.toDouble && got(3L)._2 == 2L)
    // doc 4 matches nothing and is absent; doc 3's rare 'hash' outranks all
    assert(!got.contains(4L))
    assert(got(3L)._1 > got(1L)._1 && got(1L)._1 > got(2L)._1)
  }

  test("walk staging honors the configured root and round-trips via the Hadoop FS API") {
    val root = java.nio.file.Files.createTempDirectory("graft_stage_root").toString
    spark.conf.set("spark.graft.walkStageDir", root)
    try {
      // a fresh edge input (distinct semanticHash) so StageCache can't
      // hand back a dir staged before the conf was set
      val edges = Seq((101L, 102L), (102L, 103L), (103L, 101L)).toDF("src", "dst")
      val (dir, schema) = GraphAnalytics.stageWalkAdjacency(edges, "src", "dst",
        undirected = true)
      assert(dir.startsWith(root), s"staged $dir outside configured root $root")
      // the staged table must be discoverable and readable through the
      // Hadoop FS API — the cluster contract (executors commit there,
      // the driver-side scan lists it back)
      val hPath = new org.apache.hadoop.fs.Path(dir)
      val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(hPath))
      assert(fs.listStatus(hPath).exists(_.getPath.getName.endsWith(".parquet")))
      val back = spark.read.schema(schema).parquet(dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val expected = Seq((101L, 102L), (102L, 103L), (103L, 101L))
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }.sorted
      assert(back.toSeq == expected)
      // the probe-pushdown conf is scoped, not session-global (r15 #4)
      val k = "spark.sql.parquet.pushdown.inFilterThreshold"
      val before = spark.conf.getOption(k)
      GraphAnalytics.withWalkProbePushdown(spark) {
        assert(spark.conf.get(k) == GraphAnalytics.WalkProbePruneCap.toString)
      }
      assert(spark.conf.getOption(k) == before)
    } finally spark.conf.unset("spark.graft.walkStageDir")
  }
}
