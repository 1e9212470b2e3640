package graft.expressions

import scala.util.{Random, Try}

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The codegen `ip_fixed` kernel ([[IpFixedExpr]]) against the
  * higher-order form it replaces,
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`,
  * under ANSI arithmetic (the engine's mode): the same value, the same
  * NULL (null array, null element, length mismatch) and the same
  * overflow error, on seeded random `array<bigint>` pairs whose
  * elements reach the full Long range. */
class IpFixedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("ip-fixed-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("a", ArrayType(LongType, containsNull = true)),
    StructField("b", ArrayType(LongType, containsNull = true))))

  private def ipFixed: Column =
    GraftBridge.column(IpFixedExpr(GraftBridge.expression(col("a")), GraftBridge.expression(col("b"))))

  private def zipWith: Column =
    expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")

  type Pair = (Seq[java.lang.Long], Seq[java.lang.Long])

  /** a one-row frame: an action on it evaluates on the driver, so an
    * overflow fails this pair alone. */
  private def one(p: Pair): DataFrame =
    spark.createDataFrame(java.util.List.of(Row(p._1, p._2)), schema)

  private def overflowed(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])

  /** the value, or None where evaluation fails with an overflow. */
  private def eval(p: Pair, c: Column): Option[java.lang.Long] =
    Try(one(p).select(c).collect().head.get(0).asInstanceOf[java.lang.Long]).fold({
      case e if overflowed(e) => None
      case e => throw e
    }, Some(_))

  private def element(r: Random): java.lang.Long = r.nextInt(10) match {
    case 0 => null
    case 1 | 2 => r.nextLong() // any Long: a product overflows almost surely
    case 3 => Seq(Long.MaxValue, Long.MinValue, 1L << 32, -(1L << 31))(r.nextInt(4))
    case 4 | 5 => r.nextInt() // products near 2^62: sums overflow
    case _ => (r.nextInt(2001) - 1000).toLong
  }

  private def array(r: Random, n: Int): Seq[java.lang.Long] =
    if (r.nextInt(20) == 0) null else Seq.fill(n)(element(r))

  private def pairs(seed: Long, n: Int): Seq[Pair] = {
    val r = new Random(seed)
    Seq.fill(n) {
      val la = r.nextInt(6)
      val lb = if (r.nextInt(4) == 0) r.nextInt(6) else la
      (array(r, la), array(r, lb))
    }
  }

  /** the cases the generator reaches only by chance, written out. */
  private val edges: Seq[Pair] = {
    def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val big: java.lang.Long = Long.MaxValue
    Seq(
      (null, l(1L)), (l(1L), null), (null, null), (l(), l()), (l(), l(1L)),
      (l(1L, null, 3L), l(4L, 5L, 6L)),  // null element
      (l(1L, 2L), l(3L)),                  // length mismatch
      (l(big), l(2L)),                     // product overflow
      (l(big, 1L), l(1L, 1L)),             // sum overflow
      (l(1L, null, big), l(1L, 1L, 2L)),   // product overflow after a null
      (l(big, 1L, null), l(1L, 1L, 1L)),   // sum overflow before a null
      (l(1L, null, big), l(1L, 1L, 1L)),   // sum overflow after a null
      (l(big, 1L), l(1L, 1L, 1L)),         // sum overflow before the padding
      (l(big, 3L), l(2L)))                 // product overflow, shorter side
  }

  test("ip_fixed equals the aggregate(zip_with) form: values, nulls and overflow, pair by pair") {
    val all = edges ++ pairs(seed = 20261018L, n = 400)
    val outcomes = all.map(p => (p, eval(p, ipFixed), eval(p, zipWith)))
    val diverged = outcomes.collect { case (p, got, want) if got != want => s"$p: ip_fixed $got, zip_with $want" }
    assert(diverged.isEmpty, diverged.mkString("\n"))
    // the generator alone reaches every outcome: a value, NULL, overflow
    val generated = outcomes.drop(edges.size).map(_._3)
    assert(generated.contains(None) && generated.contains(Some(null)) && generated.exists(_.exists(_ != null)))
  }

  test("the generated kernel in a whole-stage job agrees with the zip_with form") {
    val all = edges ++ pairs(seed = 7L, n = 400)
    val (fine, overflowing) = all.partition(p => eval(p, zipWith).isDefined)
    // a distributed scan: the projection runs as generated code in tasks
    val rows = spark.sparkContext.parallelize(fine.map(p => Row(p._1, p._2)), 2)
    val both = spark.createDataFrame(rows, schema).select(ipFixed.as("got"), zipWith.as("want"))
    assert(both.filter(!(col("got") <=> col("want"))).count() == 0)
    overflowing.take(20).foreach { p =>
      val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(p._1, p._2)), 1), schema)
      val e = intercept[Exception](one.select(ipFixed).collect())
      assert(overflowed(e), s"$p: $e")
    }
  }
}
