package etlbench

import java.nio.file.{Files, Paths}

/** Per-layer figures of one traced iteration, read off its span tree. */
object Layers {

  /** Spark counters and busy time of the whole iteration, plus each
    * layer's self time (span time not covered by child spans; Spark jobs
    * run synchronously, so a span's self time includes its own jobs). */
  private def common(t: Tracer, it: Span): Map[String, Double] = {
    val sub = t.subtree(it.id)
    val s = t.sparkUnder(it)
    val busy = s.busySeconds
    val self = sub.groupBy(_.layer).map { case (layer, spans) =>
      s"self.${layer}_s" -> spans.map(t.selfSeconds).sum
    }
    Map(
      "spark.jobs" -> s.jobs.toDouble,
      "spark.stages" -> s.stages.toDouble,
      "spark.tasks" -> s.tasks.toDouble,
      "spark.tasks_failed" -> s.tasksFailed.toDouble,
      "spark.shuffle_read_bytes" -> s.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> s.shuffleWrite.toDouble,
      "spark.spill_bytes" -> s.spill.toDouble,
      "spark.input_bytes" -> s.input.toDouble,
      "spark.result_bytes" -> s.result.toDouble,
      "spark.executor_run_s" -> s.runMs / 1000.0,
      "spark.executor_cpu_s" -> s.cpuNs / 1e9,
      "spark.gc_s" -> s.gcMs / 1000.0,
      "spark.job_busy_s" -> busy,
      "spark.driver_only_s" -> (it.seconds - busy),
      "trace.iteration_s" -> it.seconds,
      "trace.spans" -> sub.size.toDouble) ++ self
  }

  def payroll(t: Tracer, it: Span, written: Seq[String]): Map[String, Double] = {
    val sub = t.subtree(it.id)
    def named(n: String) = sub.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def jobs(n: String) = named(n).map(t.sparkUnder(_).jobs).sum.toDouble
    val sinks = named("TableIo.writeCsv") ++ named("TableIo.writeXlsx")
    val sinkSpark = new SparkTally
    sinks.foreach(s => sinkSpark.add(t.sparkUnder(s)))
    val sinkWrites = sinks.flatMap(s => t.subtree(s.id)).filter(_.name == "storage.write")
    def rowsOut(prefix: String) = written.find { p =>
      val n = Paths.get(p).getFileName.toString
      n.startsWith(prefix + "_") && n.endsWith(".csv")
    }.map(p => Files.readAllLines(Paths.get(p)).size - 1.0).getOrElse(0.0)
    common(t, it) ++ Map(
      "storage.list_calls" -> named("storage.list").size.toDouble,
      "storage.list_s" -> secs("storage.list"),
      "storage.read_bytes" -> named("storage.read").map(_.count).sum.toDouble,
      "storage.read_s" -> secs("storage.read"),
      "storage.write_bytes" -> named("storage.write").map(_.count).sum.toDouble,
      "storage.write_s" -> secs("storage.write"),
      "catalog.build_s" -> secs("Catalog.build"),
      "catalog.first_match_calls" -> named("Catalog.firstMatch").size.toDouble,
      "catalog.first_match_s" -> secs("Catalog.firstMatch"),
      "catalog.first_match_jobs" -> jobs("Catalog.firstMatch"),
      "app.load_count_s" -> secs("load.count"),
      "app.load_count_jobs" -> jobs("load.count"),
      "io.read_xlsx_s" -> secs("TableIo.readXlsx"),
      "io.read_csv_s" -> secs("TableIo.readCsv"),
      "pipeline.pua_build_s" -> secs("PuaPipeline.run"),
      "pipeline.cpa_build_s" -> secs("CpaPipeline.run"),
      "pipeline.pua_rows_out" -> rowsOut("PUA"),
      "pipeline.cpa_rows_out" -> rowsOut("CPA"),
      "io.csv_sink_s" -> secs("TableIo.writeCsv"),
      "io.xlsx_sink_s" -> secs("TableIo.writeXlsx"),
      "io.csv_sink_jobs" -> jobs("TableIo.writeCsv"),
      "io.xlsx_sink_jobs" -> jobs("TableIo.writeXlsx"),
      "io.sink_spark_s" -> sinkSpark.busySeconds,
      "io.sink_driver_s" -> (sinks.map(_.seconds).sum - sinkSpark.busySeconds -
        sinkWrites.map(_.seconds).sum),
      "io.sink_bytes_out" -> sinkWrites.map(_.count).sum.toDouble)
  }

  def library(t: Tracer, it: Span): Map[String, Double] = {
    val queries = t.children(it.id).flatMap { q =>
      val s = t.sparkUnder(q)
      Seq(s"${q.name}.s" -> q.seconds, s"${q.name}.jobs" -> s.jobs.toDouble,
          s"${q.name}.shuffle_bytes" -> s.shuffleWrite.toDouble)
    }
    common(t, it) ++ queries
  }
}
