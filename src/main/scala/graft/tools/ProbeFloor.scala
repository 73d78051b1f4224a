package graft.tools

import graft.{Sessions, SparkEntry}

/** Dev tool: A/B a query under different AQE coalescing floors
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`) in ONE JVM —
  * `runMain graft.tools.ProbeFloor <q1,q2,...> <floor1,floor2,...> [reps]`
  * against `SPARK_GRAFT_SF_DIR`. Each floor gets its own `newSession()`
  * (SQL confs are session-local; the shared cache is cleared between reps
  * exactly like Bench/TimeMany). Emits one `[probefloor]` stderr line per
  * (query, floor, rep) and a `probefloor-med` warm upper median (rep 0
  * excluded when reps > 1; an even-sized warm set reports the slower of
  * its two middle runs). Built for the SCALING.md sf1 probe of the r17 64 KB
  * floor: list floors A,B,A to guard against box drift. */
object ProbeFloor {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val floors = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val base = Sessions.local()
    base.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      floors.zipWithIndex.foreach { case (floor, fi) =>
        val spark = base.newSession()
        spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.minPartitionSize", floor)
        val times = (0 until reps).map { i =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          System.err.println(
            f"[probefloor] $name floor=$floor#$fi run$i: $sec%.2fs (n=$n)")
          spark.catalog.clearCache()
          sec
        }
        val warm = if (reps > 1) times.drop(1) else times
        val med = warm.sorted.apply(warm.length / 2)
        System.err.println(
          f"[probefloor-med] $name floor=$floor#$fi $med%.3f (upper median)")
      }
    }
    base.stop()
  }
}
