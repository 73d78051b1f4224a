package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    Sessions.tuned(SparkSession.builder().master("local[2]"), "2")
      .appName(getClass.getSimpleName).getOrCreate()

  override def afterAll(): Unit = {
    // shared across suites in one JVM; stopped by the last teardown is fine
    super.afterAll()
  }

  /** `body`'s result and the number of Spark jobs it started, counted
    * between two barrier jobs by [[graft.tools.Profile.counting]]. */
  def countingJobs[T](body: => T): (T, Int) = {
    val (result, counters) = graft.tools.Profile.counting(spark.sparkContext)(body)
    (result, counters.jobs)
  }
}
