package graft.tools

import java.nio.file.Files
import graft.SparkSpec

class ProfileSpec extends SparkSpec {

  test("two reps of a query count the same work; --plans writes its explain") {
    val dir = Files.createTempDirectory("profile-spec")
    try {
      val reps = Profile.run(spark, "/root/testdata/sf0.001", Profile.parse(
        Seq("q16_dedup_keepfirst", "--reps", "2", "--plans", dir.toString)))
      assert(reps.map(_.rep) == Seq(0, 1))
      assert(reps.map(_.rows).distinct.size == 1 && reps.head.rows > 0)
      val c = reps.head.counters
      assert(c.jobs > 0 && c.stages > 0 && c.tasks >= c.stages && c.inputBytes > 0)
      assert(reps(1).counters == c)
      val plan = new String(
        Files.readAllBytes(dir.resolve("q16_dedup_keepfirst.txt")), "UTF-8")
      assert(plan.contains("== Physical Plan =="))
    } finally {
      Files.list(dir).forEach(f => Files.delete(f))
      Files.delete(dir)
    }
  }

  test("bad arguments fail with a named IllegalArgumentException") {
    val unknown = intercept[IllegalArgumentException](
      Profile.parse(Seq("q16_dedup_keepfirst,no_such_query")))
    assert(unknown.getMessage.contains("unknown query 'no_such_query'"))
    val conf = intercept[IllegalArgumentException](Profile.parse(
      Seq("q16_dedup_keepfirst", "--conf", "spark.sql.shuffle.partitions")))
    assert(conf.getMessage.contains(
      "--conf expects k=v, got 'spark.sql.shuffle.partitions'"))
    assert(Profile.parse(Seq("q16_dedup_keepfirst", "--conf", "k=v=w", "--reps", "1")) ==
      Profile.Options(Seq("q16_dedup_keepfirst"), reps = 1, confs = Seq("k" -> "v=w")))
  }

  test("the warm median of an even count is the mean of the two middle reps") {
    assert(Profile.median(Seq(3.0, 1.0)) == 2.0)
    assert(Profile.median(Seq(5.0, 1.0, 2.0)) == 2.0)
  }
}
