package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** `body`'s result and the number of Spark jobs it started. The
    * listener bus is async, so a tagged one-task barrier job runs before
    * and after `body`, and only job starts delivered between the two
    * barriers' starts are counted: the bus delivers events in order, so a
    * late start event of a job that ran before `body` is not counted, and
    * the count is complete once the second barrier is seen. */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val barrier = "graft.test.barrier"
    val jobs = new AtomicInteger
    val barriers = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(barrier) != null))
          barriers.incrementAndGet(): Unit
        else if (barriers.get() == 1) jobs.incrementAndGet(): Unit
    }
    def barrierJob(): Unit = {
      sc.setLocalProperty(barrier, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(barrier, null)
    }
    sc.addSparkListener(l)
    try {
      barrierJob()
      val result = body
      barrierJob()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (barriers.get() < 2 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(barriers.get() == 2, "listener bus did not drain in 30 s")
      (result, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}
