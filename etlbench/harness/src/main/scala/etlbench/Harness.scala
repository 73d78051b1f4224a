package etlbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{Sessions, SparkEntry}
import graft.app.Main
import graft.io.Xlsx
import graft.pipeline.{PayrollFixtures, PayrollQueries}
import graft.storage.LocalFsStorage

/** The benchmark's harness JVM. Usage:
  *
  *   Harness --mode run --workload <name> --inputs <dir> --work <dir>
  *           --out <result.json> --seconds S --trace 0|1 [--queries q1,q2,..]
  *   Harness --mode record --workload library_mix --inputs <dir> --work <dir>
  *           --out <result.json> --queries q1,q2,..
  *
  * Both modes first set up: start a `local[4]` Spark session and verify
  * the inputs against `<inputs>/MANIFEST`; `setup_s` is the time from JVM
  * start to that point. `run` then makes one first iteration and steady
  * iterations for `--seconds`; with `--trace 1` it alternates plain and
  * traced iterations. `record` runs each query once and dumps its result
  * for the DuckDB oracle. An iteration is one `Main.run` (payroll
  * workloads) or one pass over `--queries` (library_mix). The result file
  * lists every iteration's time, output digests and errors; run.py checks
  * them.
  */
object Harness {

  final case class Iter(kind: String, seconds: Double, digests: Map[String, String],
                        error: Option[String], allocMb: Double = 0.0)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = a("mode")
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val payroll = workload != "library_mix"
    lazy val queries = a("queries").split(",").toSeq
    new File(work).mkdirs()

    val spark = Sessions.tuned(SparkSession.builder().master("local[4]")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"), "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result = mutable.LinkedHashMap.empty[String, Any]
    try {
      verifyInputs(inputs)
      result("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      mode match {
        case "run" =>
          val seconds = a("seconds").toDouble
          val traced = a("trace") == "1"
          val run = new Iterations(spark, traced)
          if (payroll) {
            Json.write(s"$work/oracle_sql.json", Map(
              "pua" -> PayrollQueries.oracleSql("q22_pua_pipeline"),
              "cpa" -> PayrollQueries.oracleSql("q23_cpa_pipeline")))
            // the second Main.run is still ~20% slower than the fourth as
            // the JIT warms, so it is a warm-up; a library pass is too long
            // to spare one
            run.measure(seconds, 1, 2, work, result)(payrollIteration(spark, inputs, work, run))
          } else run.measure(seconds, 0, 1, work, result)(libraryPass(spark, inputs, queries, run))
        case "record" => recordLibrary(spark, inputs, queries, work, result)
      }
    } catch {
      case e: InputError =>
        result("fatal") = e.getMessage
    } finally {
      result("peak_rss_mb") = peakRssMb()
      Json.write(a("out"), result.toMap)
      spark.stop()
    }
  }

  final class InputError(msg: String) extends RuntimeException(msg)

  /** Check each file in `<dir>/MANIFEST` ("path<TAB>size<TAB>sha256",
    * library tables add "<TAB>rows") against its size and digest. */
  private def verifyInputs(dir: String): Unit = {
    val manifest = Paths.get(dir, "MANIFEST")
    if (!Files.exists(manifest)) throw new InputError(s"no input manifest at $manifest")
    val lines = new String(Files.readAllBytes(manifest), "UTF-8").split("\n").filter(_.nonEmpty)
    for (line <- lines) {
      val f = line.split("\t")
      val path = Paths.get(dir, f(0))
      if (!Files.exists(path)) throw new InputError(s"missing input ${f(0)}")
      val bytes = Files.readAllBytes(path)
      if (bytes.length != f(1).toLong || Digest.sha256(bytes) != f(2))
        throw new InputError(s"input ${f(0)} does not match its manifest")
    }
  }

  /** A run's iterations and, when traced, their per-layer figures. */
  private final class Iterations(spark: SparkSession, traced: Boolean) {
    val iters = mutable.ArrayBuffer.empty[Iter]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    lazy val tracer = new Tracer(spark.sparkContext)

    /** The first iteration, `warm` warm-up iterations that no metric
      * counts, then steady ones until `seconds` have passed and at least
      * `min` ran. A traced run makes blocks of plain, traced, traced,
      * plain, so a drift that is linear in time (the JIT still warming)
      * cancels out of traced minus plain. */
    def measure(seconds: Double, warm: Int, min: Int, work: String,
                result: mutable.Map[String, Any])(once: String => Unit): Unit = {
      // bytes this thread allocates: the driver side of an iteration
      // (collect, deserialize, render, encode), not the executor tasks
      val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      def step(kind: String): Unit = {
        val a0 = threads.getCurrentThreadAllocatedBytes
        once(kind)
        iters(iters.size - 1) = iters.last.copy(
          allocMb = (threads.getCurrentThreadAllocatedBytes - a0) / (1024.0 * 1024.0))
      }
      step("first")
      for (_ <- 0 until warm) step("warm")
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var n = 0
      while (System.nanoTime() < deadline || n < (if (traced) 4 else min) ||
             (traced && n % 4 != 0)) {
        step(if (traced && (n % 4 == 1 || n % 4 == 2)) "traced" else "run")
        n += 1
      }
      result("iterations") = iters.toSeq
      result("layers") = layers.toSeq
      if (traced) Json.writeSpans(s"$work/trace_spans.json", tracer)
    }
  }

  // --- payroll --------------------------------------------------------------

  /** One `Main.run` (or, traced, its replay) into its own output folder. */
  private def payrollIteration(spark: SparkSession, inputs: String, work: String,
                               run: Iterations): String => Unit = {
    import run.{iters, layers, tracer}
    val clock = PayrollFixtures.FixedClock
    val puaRoot = s"$inputs/pua"
    val lookupRoot = s"$inputs/lookups"
    kind => {
      val out = s"$work/out/iter-${iters.size}"
      val t0 = System.nanoTime()
      var iterSpan: Option[Span] = None
      val res = try Right(
        if (kind != "traced") Main.run(spark, new LocalFsStorage, puaRoot, lookupRoot, out, clock)
        else tracer.span("iteration", "app") {
          iterSpan = tracer.current
          Replay.run(spark, new TracingStorage(new LocalFsStorage, tracer),
            puaRoot, lookupRoot, out, clock, tracer)
        }) catch { case e: Exception => Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      res match {
        case Left(e) => iters += Iter(kind, sec, Map.empty, Some(e.toString))
        case Right(written) =>
          iters += Iter(kind, sec, written.map(p => outputKey(p) -> Digest.ofFile(p)).toMap, None)
          iterSpan.foreach { it =>
            tracer.drain()
            // the decode inside TableIo.readXlsx is not a public call of
            // its own, so it is timed here on the same bytes, outside the
            // iteration
            val bytes = Files.readAllBytes(Paths.get(puaRoot, "PUA_Extract_2025.xlsx"))
            val decode = tracer.span("Xlsx.readTable", "io") {
              val s = tracer.current.get
              s.count = Xlsx.readTable(bytes)._2.size.toLong
              s
            }
            layers += Layers.payroll(tracer, it, written) ++ Map(
              "io.xlsx_decode_s" -> decode.seconds,
              "io.xlsx_rows" -> decode.count.toDouble)
          }
      }
      if (iters.size > 1) deleteTree(new File(out)) // iteration 0 stays for run.py's oracle check
    }
  }

  /** "PUA_Data_Transformed_03152025_1200.csv" -> "PUA.csv" */
  private def outputKey(path: String): String = {
    val name = Paths.get(path).getFileName.toString
    name.takeWhile(_ != '_') + name.substring(name.lastIndexOf('.'))
  }

  // --- library_mix ------------------------------------------------------------

  /** One pass over `queries`, each result collected and digested. */
  private def libraryPass(spark: SparkSession, data: String, queries: Seq[String],
                          run: Iterations): String => Unit = {
    import run.{iters, layers, tracer}
    kind => {
      val digests = mutable.LinkedHashMap.empty[String, String]
      var error: Option[String] = None
      def query(name: String): Unit = {
        val rows = SparkEntry.queries(name)(spark, data).collect()
        digests(name) = Digest.ofRows(rows)
        spark.catalog.clearCache()
      }
      val t0 = System.nanoTime()
      def all(): Unit = for (q <- queries) {
        try {
          if (kind == "traced") tracer.span(s"query.$q", "ops")(query(q)) else query(q)
        } catch { case e: Exception =>
          digests(q) = "error"
          error = Some(s"$q: $e")
        }
      }
      if (kind == "traced") {
        val it = tracer.span("iteration", "app") { val s = tracer.current.get; all(); s }
        iters += Iter(kind, (System.nanoTime() - t0) / 1e9, digests.toMap, error)
        tracer.drain()
        layers += Layers.library(tracer, it)
      } else {
        all()
        iters += Iter(kind, (System.nanoTime() - t0) / 1e9, digests.toMap, error)
      }
    }
  }

  /** One run of each library query: its result as parquet and its oracle
    * SQL, in the layout tools/check_parity.py reads. */
  private def recordLibrary(spark: SparkSession, data: String, queries: Seq[String],
                            work: String, result: mutable.Map[String, Any]): Unit = {
    val digests = mutable.LinkedHashMap.empty[String, String]
    for (q <- queries) {
      val df = SparkEntry.queries(q)(spark, data)
      val rows = df.collect()
      digests(q) = Digest.ofRows(rows)
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        .write.mode("overwrite").parquet(s"$work/record/$q")
      spark.catalog.clearCache()
    }
    Json.write(s"$work/record/oracle_sql.json",
      queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    result("digests") = digests.toMap
  }

  private def peakRssMb(): Double =
    scala.util.Try {
      val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
      status.split("\n").find(_.startsWith("VmHWM:")).get
        .replaceAll("[^0-9]", "").toDouble / 1024.0
    }.getOrElse(0.0)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
