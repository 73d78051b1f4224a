package graft.tools

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{Sessions, SparkEntry}

/** Dev tool: time and count `SparkEntry` queries in one session —
  * `runMain graft.tools.Profile <q1,q2,...> [--reps N] [--conf k=v]...
  * [--plans dir]` against `SPARK_GRAFT_SF_DIR`.
  *
  * For each query and rep it prints one `[profile]` stderr line:
  *  - `plan_s`: building the `DataFrame` and forcing
  *    `queryExecution.executedPlan` (analysis, optimization, physical
  *    planning, plus any eager work the query does while it is built);
  *  - `exec_s`: its `count()`;
  *  - the row count and the [[Counters]] of the whole rep, which are
  *    deterministic for a fixed plan where wall clock is not.
  * Each rep ends with `clearCache()`, as `Bench` does, so every rep
  * repopulates its own persists. One `[profile-med]` line per query gives
  * the median of `plan_s + exec_s` over the warm reps (rep 0 excluded when
  * there is more than one rep: it pays codegen, JIT and pay-once scratch
  * artifacts); for an even number of warm reps it is the mean of the two
  * middle ones.
  *
  * `--conf k=v` (repeatable) sets SQL confs on one `newSession()` of the
  * shared context, e.g. an A/B of an AQE setting in one JVM. `--plans dir`
  * writes each query's formatted explain, taken before rep 0 executes, to
  * `<dir>/<name>.txt`. */
object Profile {

  final case class Options(
      names: Seq[String],
      reps: Int = 3,
      confs: Seq[(String, String)] = Nil,
      plans: Option[String] = None)

  /** What the Spark jobs of one measured body did. Skipped stages (reused
    * shuffle files) are not counted: they post no completion. */
  final case class Counters(
      jobs: Int, stages: Int, tasks: Int,
      shuffleWriteBytes: Long, shuffleReadBytes: Long,
      inputBytes: Long, spillBytes: Long)

  final case class Rep(
      name: String, rep: Int, planS: Double, execS: Double, rows: Long,
      counters: Counters) {
    def line: String = {
      val c = counters
      f"[profile] $name rep$rep plan_s=$planS%.3f exec_s=$execS%.3f " +
        s"rows=$rows jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
        s"shuffle_write_bytes=${c.shuffleWriteBytes} " +
        s"shuffle_read_bytes=${c.shuffleReadBytes} " +
        s"input_bytes=${c.inputBytes} spill_bytes=${c.spillBytes}"
    }
  }

  private val Usage: String =
    "usage: Profile <q1,q2,...> [--reps N] [--conf k=v]... [--plans dir]"

  /** Throws an `IllegalArgumentException` naming the fault for an unknown
    * query, a `--conf` without `=`, a bad `--reps` or an unknown option. */
  def parse(args: Seq[String]): Options = {
    def bad(msg: String) = throw new IllegalArgumentException(s"$msg; $Usage")
    val names = args.headOption.filterNot(_.startsWith("--")).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    if (names.isEmpty) bad("no query names")
    val known = SparkEntry.queries.keySet
    names.find(n => !known(n)).foreach(n => bad(s"unknown query '$n'"))
    @annotation.tailrec
    def opts(rest: Seq[String], o: Options): Options = rest match {
      case Seq() => o
      case "--reps" +: n +: tail =>
        val reps = n.toIntOption.filter(_ > 0)
          .getOrElse(bad(s"--reps expects a positive count, got '$n'"))
        opts(tail, o.copy(reps = reps))
      case "--conf" +: kv +: tail =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty =>
            opts(tail, o.copy(confs = o.confs :+ (k -> v)))
          case _ => bad(s"--conf expects k=v, got '$kv'")
        }
      case "--plans" +: dir +: tail => opts(tail, o.copy(plans = Some(dir)))
      case other +: _ => bad(s"unknown or incomplete option '$other'")
    }
    opts(args.drop(1), Options(names))
  }

  /** Runs every query of `o` and prints its lines; returns the reps. */
  def run(base: SparkSession, sfDir: String, o: Options): Seq[Rep] = {
    val spark = if (o.confs.isEmpty) base else {
      val s = base.newSession()
      o.confs.foreach { case (k, v) => s.conf.set(k, v) }
      s
    }
    o.plans.foreach(d => Files.createDirectories(Paths.get(d)))
    o.names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val reps = (0 until o.reps).map { i =>
        val ((planS, execS, rows), counters) = counting(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.queryExecution.executedPlan
          val planS = (System.nanoTime() - t0) / 1e9
          if (i == 0) o.plans.foreach { d =>
            Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode))
          }
          val t1 = System.nanoTime()
          val rows = df.count()
          (planS, (System.nanoTime() - t1) / 1e9, rows)
        }
        spark.catalog.clearCache()
        val rep = Rep(name, i, planS, execS, rows, counters)
        System.err.println(rep.line)
        rep
      }
      val warm = if (reps.size > 1) reps.drop(1) else reps
      System.err.println(f"[profile-med] $name warm_median_s=" +
        f"${median(warm.map(r => r.planS + r.execS))}%.3f (${warm.size} warm reps)")
      reps
    }
  }

  /** The median; for an even count, the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val Barrier = "graft.profile.barrier"

  /** The listener behind [[counting]]. Its fields are written on the bus
    * thread only; `barriers` is volatile, so reading 2 from it on the
    * caller's thread also publishes the counts. */
  private final class Tally extends SparkListener {
    @volatile var barriers = 0
    var c = Counters(0, 0, 0, 0L, 0L, 0L, 0L)
    private val barrierStages = mutable.Set.empty[Int]
    private def counted(stage: Int) = barriers == 1 && !barrierStages(stage)
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty(Barrier) != null)) {
        barrierStages ++= js.stageIds
        barriers += 1
      } else if (barriers == 1) c = c.copy(jobs = c.jobs + 1)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (counted(s.stageInfo.stageId)) {
        val m = s.stageInfo.taskMetrics
        c = c.copy(stages = c.stages + 1)
        if (m != null) c = c.copy(
          shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
          spillBytes = c.spillBytes + m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (counted(t.stageId)) c = c.copy(tasks = c.tasks + 1)
  }

  /** `body`'s result and the [[Counters]] of the Spark jobs it ran. The
    * listener bus is asynchronous, so a tagged one-task barrier job runs
    * before and after `body`, and only events delivered between the two
    * barriers' job starts are counted, less the barrier jobs' own stages
    * and tasks. The bus delivers events in order, so a late event of a job
    * that ran before `body` is not counted, and the count is complete once
    * the second barrier is seen. */
  def counting[T](sc: SparkContext)(body: => T): (T, Counters) = {
    val l = new Tally
    def barrierJob(): Unit = {
      sc.setLocalProperty(Barrier, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Barrier, null)
    }
    sc.addSparkListener(l)
    try {
      barrierJob()
      val result = body
      barrierJob()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (l.barriers < 2 && System.nanoTime() < deadline) Thread.sleep(5)
      if (l.barriers < 2)
        throw new IllegalStateException("listener bus did not drain in 30 s")
      (result, l.c)
    } finally sc.removeSparkListener(l)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    try run(spark, sfDir, o) finally spark.stop()
  }
}
