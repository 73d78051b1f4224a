package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class ColumnOpsSpec extends SparkSpec {
  import ColumnOps._

  private def eval1(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).head.get(0)
  }

  test("D3 strip_decimal_str removes only a trailing .0") {
    import spark.implicits._
    val in = Seq("61000.0", "61000", "  123.0 ", "1.50", "x.0", "nan", "7.0.0")
    val out = in.toDF("v").select(stripDecimalStr(col("v"))).as[String].collect()
    assert(out.toSeq == Seq("61000", "61000", "123", "1.50", "x", "nan", "7.0"))
  }

  test("D3 strips exactly ONE trailing artifact per application (pandas parity)") {
    import spark.implicits._
    // "12.0.0" → "12.0" after one pass — pandas' replace(r'\.0$') does the
    // same; idempotence only holds for strings without stacked suffixes
    val once = Seq("12.0.0").toDF("v")
      .select(stripDecimalStr(col("v"))).as[String].head()
    assert(once == "12.0")
    val unchanged = Seq("61000", "1.50", "abc").toDF("v")
      .select(stripDecimalStr(col("v"))).as[String].collect()
    assert(unchanged.toSeq == Seq("61000", "1.50", "abc"))
  }

  test("H2/H3 null conventions: castStrNanNull vs ensureString concat") {
    import spark.implicits._
    val df = Seq(("a", null: String)).toDF("x", "y")
    val r = df.select(
      dashConcat(ensureString(col("x")), ensureString(col("y"))).as("strict"),
      dashConcat(castStrNanNull(col("x")), castStrNanNull(col("y"))).as("nan"))
      .head
    assert(r.isNullAt(0))            // pandas "string" dtype: null propagates
    assert(r.getString(1) == "a-nan") // pandas astype(str): literal "nan"
  }

  test("D7 splitFirst: missing delimiter yields empty name") {
    import spark.implicits._
    val (code, name) = splitFirst(col("v"), "-")
    val rows = Seq("KV - Vet Med", "NOHYPHEN", "a-b-c").toDF("v")
      .select(code.as("c"), name.as("n")).collect()
    assert(rows(0).getString(0) == "KV" && rows(0).getString(1) == "Vet Med")
    assert(rows(1).getString(0) == "NOHYPHEN" && rows(1).getString(1) == "")
    // split on FIRST only: remainder keeps later delimiters
    assert(rows(2).getString(0) == "a" && rows(2).getString(1) == "b-c")
  }

  test("D8 toTimestampCoerce nulls on malformed input under ANSI mode") {
    import spark.implicits._
    val out = Seq("2025-01-15", "not-a-date", "2025-06-30 08:00:00")
      .toDF("v").select(toTimestampCoerce(col("v")).as("t")).collect()
    assert(out(0).getTimestamp(0).toString.startsWith("2025-01-15"))
    assert(out(1).isNullAt(0))
    assert(out(2).getTimestamp(0).toString.startsWith("2025-06-30 08:00"))
  }

  test("D11 missing markers: null, '', 'nan', 'NaN' (not 'NAN')") {
    import spark.implicits._
    val out = Seq("x", "", " nan ", "NaN", "NAN", null)
      .toDF("v").select(defaultIfMissing(col("v"), "INT").as("r"))
      .as[String].collect()
    assert(out.toSeq == Seq("x", "INT", "INT", "INT", "NAN", "INT"))
  }
}
