package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed storage for co-located joins — the first change a real 100 TB
  * deployment makes (SCALING.md): write both sides of a recurring join
  * bucketed by the join key and the shuffle disappears from every
  * subsequent run.
  *
  * Spark's bucketing needs the table catalog (saveAsTable), which works on
  * the default in-memory catalog + warehouse dir — no Hive metastore
  * required. Both sides must agree on bucket count for an exchange-free
  * sort-merge join. */
object BucketOps {

  /** Write `df` as a bucketed managed table (overwriting any previous). */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int, sortBy: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
    sortBy.fold(w)(s => w.sortBy(s)).saveAsTable(table)
  }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)

  /** Idempotent layout step: build (once) and read a bucketed table. The
    * pay-once shape of a real deployment — the first run writes the
    * layout, every later run opens the buckets and joins exchange-free.
    * Callers embed anything the content depends on (e.g. the sf dir) in
    * `table`, so a name can never alias two datasets. */
  def ensureBucketed(spark: SparkSession, table: String, key: String,
                     buckets: Int, sortBy: Option[String] = None)
                    (mk: => DataFrame): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      // a previous JVM's warehouse dir can linger while the in-memory
      // catalog starts empty — clear the path before the managed write
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        table.toLowerCase)
      if (loc.exists) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
      writeBucketed(mk, table, key, buckets, sortBy)
    }
    spark.table(table)
  }
}
