package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** x132 contract: the 3-significant-digit bucket estimate is an UPPER
  * bound on the true rank-r value with relative error ≤ 1/m ≤ 1%, on
  * random skewed data and on degenerate corpora. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(prices: Seq[Double]): String = {
    val d = Files.createTempDirectory("graft_qsketch").toString
    prices.toDF("l_extendedprice")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    d
  }

  private def run(dir: String): Map[Long, Long] =
    ExtensionQueries.queries("x132_quantile_sketch")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("est_cents")).toMap

  test("estimates upper-bound the exact quantiles within 1% relative error") {
    val rnd = new scala.util.Random(42)
    // log-uniform-ish prices across 4 orders of magnitude
    val prices = Seq.fill(5000)(
      math.pow(10, 1 + rnd.nextDouble() * 4) * (1 + rnd.nextDouble()))
      .map(p => math.round(p * 100) / 100.0)
    val est = run(fixture(prices))
    val cents = prices.map(p => math.round(p * 100)).sorted
    for (p <- Seq(50L, 90L, 99L)) {
      val r = ((cents.size * p + 99) / 100).toInt // ceil rank, 1-based
      val exact = cents(r - 1)
      assert(est(p) >= exact, s"p$p: est ${est(p)} < exact $exact")
      assert(est(p) <= exact * 1.01 + 1,
        s"p$p: est ${est(p)} breaches the 1% bound vs $exact")
    }
  }

  test("single-row and small-value corpora hit the exact branch") {
    val est = run(fixture(Seq(4.2))) // 420 cents, d=3 -> exact bucket
    assert(est == Map(50L -> 420L, 90L -> 420L, 99L -> 420L))
  }

  test("19-digit magnitudes saturate instead of overflowing Long") {
    // d=19: the unclamped (m+1)*10^16 multiply would exceed Long.Max
    // and wrap negative. The clamped exponent yields a positive
    // saturated estimate — a lower bound at this magnitude, per the
    // documented contract, but never a wrapped/negative one.
    import graft.ops.QuantileSketchOps
    val df = Seq(9223372036854775000L).toDF("c")
      .select(QuantileSketchOps.upperBound(
        QuantileSketchOps.bucketOf(col("c"))).as("est"))
    val est = df.collect().head.getLong(0)
    assert(est > 0L, s"estimate wrapped: $est")
    assert(est == 923L * 1000000000000000L - 1)
  }

  test("bucketOf: 5299999 and 5300000 land in adjacent buckets") {
    import graft.ops.QuantileSketchOps
    val b = Seq(5299999L, 5300000L).toDF("c")
      .select(QuantileSketchOps.bucketOf(col("c"))).as[Long].collect()
    assert(b.toSeq == Seq(7529L, 7530L))
  }
}
