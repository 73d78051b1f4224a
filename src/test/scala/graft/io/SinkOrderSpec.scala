package graft.io

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.DedupOps
import graft.storage.LocalFsStorage

/** Both sinks write rows in `_ingest_ord` order whatever the frame's
  * partitioning: the order is restored on the driver after the collect,
  * so a shuffled frame and its single-partition twin write the same
  * bytes and cells. */
class SinkOrderSpec extends SparkSpec {
  import spark.implicits._

  private val n = 40

  /** Rows numbered in reverse of their ordinal, with a timestamp column
    * and nulls, so both sinks' rendering paths are exercised. */
  private def frame: DataFrame =
    (0 until n).map { i =>
      (s"r${n - i}", if (i % 5 == 0) None else Some(s"v,$i"),
       java.sql.Timestamp.valueOf(f"2024-07-${i % 28 + 1}%02d 08:30:00"), i.toLong)
    }.toDF("id", "v", "ts", DedupOps.OrdinalCol)

  private def xlsxCells(df: DataFrame): (Seq[String], Seq[Seq[Option[String]]]) = {
    val storage = new LocalFsStorage
    val dir = Files.createTempDirectory("graft_sink_order").toString
    Xlsx.readTable(storage.readBytes(TableIo.writeXlsx(df, storage, dir, "t.xlsx")))
  }

  test("sink order follows the ingest ordinal, not the partitioning") {
    val single = frame.coalesce(1)
    val shuffled = frame.repartition(7)
    // the shuffle really does scramble collect order
    val collectOrder = shuffled.select(DedupOps.OrdinalCol).as[Long].collect().toSeq
    assert(collectOrder != collectOrder.sorted)

    val csv = new String(TableIo.csvBytes(shuffled), "UTF-8")
    assert(csv == new String(TableIo.csvBytes(single), "UTF-8"))
    val lines = csv.split("\n").toSeq
    assert(lines.head == "id,v,ts")
    assert(lines.tail.map(_.takeWhile(_ != ',')) == (0 until n).map(i => s"r${n - i}"))

    val (h, cells) = xlsxCells(shuffled)
    assert((h, cells) == xlsxCells(single))
    assert(h == Seq("id", "v", "ts"))
    assert(cells.map(_.head.get) == (0 until n).map(i => s"r${n - i}"))
    assert(cells(0)(1).isEmpty && cells(1)(1).contains("v,1"))
    assert(cells(0)(2).contains("2024-07-01 08:30:00"))
  }

  test("a frame without the ordinal keeps its collect order") {
    // built r40 … r1: any sort on the data columns would reorder it
    val df = frame.drop(DedupOps.OrdinalCol)
    val ids = (0 until n).map(i => s"r${n - i}")
    assert(df.collect().map(_.getString(0)).toSeq == ids)
    val csv = new String(TableIo.csvBytes(df), "UTF-8")
    assert(csv.split("\n").toSeq.tail.map(_.takeWhile(_ != ',')) == ids)
    assert(xlsxCells(df)._2.map(_.head.get) == ids)
  }

  test("XLSX timestamp cells read as Spark's date_format renders them; a null is an empty cell") {
    val df = Seq("2024-07-01 00:00:00", "2024-07-01 08:30:15.123456",
                 "1965-03-09 23:59:59.5", null)
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val expected = df.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .as[String].collect().toSeq.map(Option(_))
    assert(expected.last.isEmpty && expected.count(_.isDefined) == 3)
    assert(xlsxCells(df)._2.map(_.head) == expected)
  }

  test("writeCsvAndXlsx writes both sinks from one collect") {
    val storage = new LocalFsStorage
    val dir = Files.createTempDirectory("graft_sink_both").toString
    // a fresh shuffled frame per call, so no call reuses another's shuffle
    val (paths, jobs) = countingJobs(
      TableIo.writeCsvAndXlsx(frame.repartition(7), storage, dir, "t.csv", "t.xlsx"))
    assert(paths.map(p => p.substring(p.lastIndexOf('/') + 1)) == Seq("t.csv", "t.xlsx"))
    assert(storage.readBytes(paths.head).sameElements(TableIo.csvBytes(frame.repartition(7))))
    assert(Xlsx.readTable(storage.readBytes(paths(1))) == xlsxCells(frame.repartition(7)))
    // as many Spark jobs as one sink alone
    assert(jobs == countingJobs(TableIo.csvBytes(frame.repartition(7)))._2)
  }
}
