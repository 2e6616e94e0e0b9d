package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity pin for the fused [[graft.functions.Quant8]] expression
  * (r19) against the composed q_v7 quantization rule it replaced in the
  * index builds: staged absmax aggregate → when-guarded scale →
  * per-element `round(v/scale, 0).cast("tinyint")`. The fused form must
  * produce the identical (q, scale) pair for every input — the
  * quantized payload is what the oracled recall families (q_v6f, q_v8f,
  * q_v12*) hash transitively.
  *
  * Adversarial inputs covered: exact .5 rounding boundaries (decimal
  * HALF_UP vs binary half-up can only diverge there, and must not),
  * negatives, the zero vector, subnormal and huge magnitudes, NaN and
  * ±Infinity elements (Spark's round passes non-finite through), empty
  * arrays, and fixed-seed random vectors across 60 decades of
  * magnitude.
  */
class Quant8Spec extends AnyFunSuite {

  private lazy val spark = GraftSession.get(4)
  import spark.implicits._

  /** The pre-r19 composed form, verbatim. */
  private def composed(ided: DataFrame): DataFrame = {
    val absmax = aggregate(col("v"), lit(0.0), (a, v) => greatest(a, abs(v)))
    ided
      .withColumn("scale", when(absmax > 0.0, absmax / 127.0).otherwise(1.0))
      .withColumn("q",
        transform(col("v"), v => round(v / col("scale"), 0).cast("tinyint")))
      .select(col("vec_id"), col("q"), col("scale"))
  }

  private def fused(ided: DataFrame): DataFrame =
    ided.withColumn("__qz", call_function("graft_quant8", col("v")))
      .select(col("vec_id"),
        col("__qz").getField("q").as("q"),
        col("__qz").getField("scale").as("scale"))

  private def assertParity(rows: Seq[(Long, Seq[Double])]): Unit = {
    val ided = rows.toDF("vec_id", "v")
    val a = composed(ided).orderBy("vec_id").collect()
    val b = fused(ided).orderBy("vec_id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (ra, rb) =>
      assert(ra.getLong(0) == rb.getLong(0))
      val qa = ra.getSeq[Any](1)
      val qb = rb.getSeq[Any](1)
      assert(qa == qb, s"q mismatch for vec_id ${ra.getLong(0)}: $qa vs $qb")
      assert(java.lang.Double.doubleToRawLongBits(ra.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(rb.getDouble(2)),
        s"scale mismatch for vec_id ${ra.getLong(0)}: " +
          s"${ra.getDouble(2)} vs ${rb.getDouble(2)}")
    }
  }

  test("fused quant8 equals the composed rule on boundary cases") {
    assertParity(Seq(
      0L -> Seq(2.5, 127.0, -2.5, -127.0, 0.5, -0.5, 1.5), // exact .5 under scale 1
      1L -> Seq(0.0, 0.0, 0.0),                            // zero vector -> scale 1
      2L -> Seq(-0.0, 0.0),
      3L -> Seq(1e-310, -3e-310, 2.2e-310),                // subnormals
      4L -> Seq(1e300, -5e299, 2.5e299),
      8L -> Seq(Double.MinPositiveValue, Double.MaxValue),
      9L -> Seq.empty[Double],
      10L -> Seq(63.5, -63.5, 63.499999999999996, 63.50000000000001),
      11L -> Seq(0.49999999999999994, -0.49999999999999994, 1.0)))
  }

  test("non-finite elements: the composed rule CRASHES (ANSI cast overflow)" +
    " — no persisted index ever held them; the fused form stays defined") {
    val bad = Seq(0L -> Seq(Double.NaN, 1.0)).toDF("vec_id", "v")
    intercept[Exception] { composed(bad).collect() }
    fused(bad).collect() // defined (NaN quantizes through d2l→l2b), no throw
  }

  private def rootMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("subnormal absmax: an element past TINYINT raises like the composed cast," +
    " instead of wrapping") {
    // scale = 190·MinPositiveValue / 127 rounds to MinPositiveValue, so
    // the first element quantizes to 190
    val bad = Seq(0L -> Seq(190 * Double.MinPositiveValue, Double.MinPositiveValue))
      .toDF("vec_id", "v")
    intercept[Exception] { composed(bad).collect() }
    val ex = intercept[Exception] { fused(bad).collect() }
    assert(rootMessages(ex).contains("graft_quant8: element 0 quantizes to 190"),
      rootMessages(ex))
  }

  test("a null element raises instead of quantizing as garbage") {
    val withNull = Seq(0L -> Seq[java.lang.Double](1.0, null, -2.0))
      .toDF("vec_id", "v")
    val ex = intercept[Exception] { fused(withNull).collect() }
    assert(rootMessages(ex).contains("graft_quant8: null element at index 1"),
      rootMessages(ex))
  }

  test("fused quant8 equals the composed rule on fixed-seed random vectors") {
    val rnd = new java.util.Random(42L)
    val rows = (0 until 200).map { i =>
      val mag = math.pow(10.0, rnd.nextInt(60) - 30)
      i.toLong -> Seq.fill(96)((rnd.nextDouble() * 2.0 - 1.0) * mag)
    }
    assertParity(rows)
  }

  test("quant8 evaluates once per row in the build projections") {
    val ided = spark.range(16).select(col("id").as("vec_id"),
      array((0 until 8).map(d => (col("id") + d).cast("double")): _*).as("v"))
    val plan = fused(ided).queryExecution.optimizedPlan.toString
    val n = "quant8".r.findAllIn(plan.toLowerCase).length
    assert(n == 1,
      s"graft_quant8 appears $n times in the optimized plan — CollapseProject " +
        s"inlined the struct producer into both field extractions:\n$plan")
  }
}
