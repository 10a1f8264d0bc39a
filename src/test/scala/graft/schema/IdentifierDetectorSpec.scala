package graft.schema

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

/** Hand-computed oracles for the reference's 5-rule identifier priority
  * (neo4j_export.py:132-175). */
class IdentifierDetectorSpec extends SparkTestBase {
  import spark.implicits._
  import IdentifierDetectorSpec._

  test("rule 1: unique constraint wins over everything") {
    val df = Seq((1L, "a", 10L)).toDF("id", "name", "acctkey")
    val cat = GraphCatalog.empty.withUnique("L", "name")
    assert(IdentifierDetector.detect(df, "L", cat) == "name")
  }

  test("rule 2: property named id (case-insensitive)") {
    val df = Seq((1L, "a", 10L)).toDF("ID", "name", "userid")
    assert(IdentifierDetector.detect(df, "L") == "ID")
  }

  test("rule 3: *id suffix, shortest name wins") {
    val df = Seq((1L, 2L, "x")).toDF("customerid", "xid", "name")
    assert(IdentifierDetector.detect(df, "L") == "xid")
  }

  test("rule 4: all-unique-valued column (original order, sentinel-aware)") {
    // 'aaa' repeats; 'uniq' is unique but contains the "NULL" sentinel in
    // one row — the reference drops sentinels before the uniqueness test,
    // so uniq still qualifies and, coming before 'partial' in ORIGINAL
    // property order (neo4j_export.py:163), wins even though 'partial'
    // sorts before it alphabetically.
    val df = Seq(("x", "u1", "x"), ("x", "u2", "y"), ("x", "NULL", "z"))
      .toDF("aaa", "uniq", "partial")
    assert(IdentifierDetector.detect(df, "L") == "uniq")
  }

  test("rule 5: fallback to first property in original order") {
    // 'aaa' sorts first but 'bbb' is the first property — the reference
    // falls back to properties[0] (neo4j_export.py:171)
    val df = Seq(("x", "p"), ("x", "p")).toDF("bbb", "aaa")
    assert(IdentifierDetector.detect(df, "L") == "bbb")
  }

  test("rule 4: the sketch screen picks what an unscreened exact scan picks") {
    // the unscreened rule: first column, in original order, whose
    // sanitized non-null count is positive and equals its exact distinct
    // count — one exact aggregate per column, no sketch
    def unscreened(df: DataFrame): Option[String] = df.columns.find { c =>
      val s = IdentifierDetector.sanitized(df, c)
      val r = df.agg(count(s), count_distinct(s)).head()
      r.getLong(0) > 0 && r.getLong(0) == r.getLong(1)
    }
    val prop = Prop.forAllNoShrink(genTable) { t =>
      val df = t.toDF(spark)
      val want = unscreened(df)
      val got = IdentifierDetector.allUniqueColumn(df, df.columns.toSeq)
      Prop(got == want) :| s"screened=$got unscreened=$want table=$t"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(60).withWorkers(1).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("rule 4 screen: 200,000 unique longs and their strings pass") {
    val df = spark.range(200000).select(
      col("id").as("n"), col("id").cast("string").as("s"))
    assert(IdentifierDetector.screen(df, Seq("n", "s")) == Seq("n", "s"))
    assert(IdentifierDetector.allUniqueColumn(df, Seq("n", "s")).contains("n"))
  }

  test("rule 4: a column with one duplicate passes the screen but loses to the next unique one") {
    val df = spark.range(200000).select(
      when(col("id") === 0L, lit(1L)).otherwise(col("id")).as("dup"),
      (col("id") * 3L).as("uniq"))
    assert(IdentifierDetector.screen(df, Seq("dup", "uniq")) == Seq("dup", "uniq"))
    assert(IdentifierDetector.allUniqueColumn(df, Seq("dup", "uniq")).contains("uniq"))
  }
}

object IdentifierDetectorSpec {

  /** A column type and an injective map from an index to its values
    * (boolean is injective on {0, 1} only). `small` draws from a few
    * values that collide under Spark's distinct semantics where the type
    * has such values: -0.0 and 0.0, NaN and NaN. */
  final case class Kind(name: String, dataType: DataType, value: Int => Any) {
    def small(j: Int): Any = dataType match {
      case DoubleType => Array(-0.0, 0.0, Double.NaN, 1.0)(j % 4)
      case _          => value(j)
    }
  }

  val kinds: Seq[Kind] = Seq(
    Kind("int", IntegerType, i => i * 7 - 50),
    Kind("long", LongType, i => i.toLong * 1000000007L - 3L),
    Kind("string", StringType, i => s"v$i"),
    Kind("double", DoubleType, {
      case 0 => -0.0
      case 1 => Double.NaN
      case i => i / 4.0
    }),
    Kind("decimal", DecimalType(12, 2), i => java.math.BigDecimal.valueOf(i.toLong * 7, 2)),
    Kind("date", DateType, i => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i))),
    Kind("timestamp", TimestampType,
      i => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600L, 1000))),
    Kind("boolean", BooleanType, i => i % 2 == 0),
    Kind("array", ArrayType(StringType), {
      case 0 => Seq.empty[String]
      case 1 => Seq("")
      case i => Seq(s"a$i", "z")
    }))

  /** Missing values of a kind: null, plus the reference's "" and "NULL"
    * sentinels for strings. */
  def missing(k: Kind): Gen[Any] =
    if (k.dataType == StringType) Gen.oneOf[Any](null, "", "NULL") else Gen.const(null)

  final case class Table(kinds: Seq[Kind], cols: Seq[Seq[Any]], partitions: Int) {
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val schema = StructType(kinds.zipWithIndex.map { case (k, i) =>
        StructField(s"c${i}_${k.name}", k.dataType) })
      val rows = if (cols.isEmpty) Nil else cols.head.indices.map(r => Row.fromSeq(cols.map(_(r))))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
    }
    override def toString: String = kinds.zip(cols).map { case (k, c) =>
      s"${k.name}:[${c.map(String.valueOf).mkString(",")}]" }.mkString("; ")
  }

  /** One column of `n` rows in one of four shapes: all missing; unique
    * with missing values mixed in; unique except for one duplicate;
    * drawn from a small domain. */
  def genColumn(k: Kind, n: Int): Gen[Seq[Any]] = {
    def withMissing(vals: Seq[Any]): Gen[Seq[Any]] =
      Gen.sequence[Seq[Any], Any](vals.map(v =>
        Gen.frequency(4 -> Gen.const(v), 1 -> missing(k))))
    val unique = Gen.pick(n, 0 until 4 * n + 2).map(_.toSeq.map(k.value))
    Gen.oneOf(
      Gen.listOfN(n, missing(k)),
      unique.flatMap(withMissing),
      unique.flatMap { vals =>
        if (n < 2) Gen.const(vals)
        else Gen.choose(1, n - 1).map(r => vals.updated(r, vals(r - 1)))
      },
      Gen.listOfN(n, Gen.choose(0, 3).map(k.small)).flatMap(withMissing))
  }

  val genTable: Gen[Table] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.choose(1, 3), 4 -> Gen.choose(4, 60))
    width <- Gen.choose(1, 5)
    ks <- Gen.listOfN(width, Gen.oneOf(kinds))
    cols <- Gen.sequence[Seq[Seq[Any]], Seq[Any]](ks.map(genColumn(_, n)))
    partitions <- Gen.choose(1, 4)
  } yield Table(ks, cols, partitions)
}
