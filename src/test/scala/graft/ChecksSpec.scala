package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.TsvReader
import graft.quality.Checks

/** `Checks.report` counts the filter checks over one table in one scan: its
  * counts must equal each check's own `count()`, one result per input entry
  * in input order.
  */
class ChecksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def oneByOne(checks: Seq[(String, DataFrame)]) =
    checks.map { case (n, df) => Checks.CheckResult(n, df.count()) }

  test("report equals per-check count() on the EDGAR fixtures") {
    val raw = TsvReader.readAll(spark, TestSpark.edgarFixtures,
      landTo = Some(java.nio.file.Files.createTempDirectory("checks-raw").toString))
    val suite = Checks.edgarSuite(raw("sub"), raw("tag"), raw("num"), raw("pre"))
    assert(Checks.report(suite) === oneByOne(suite))
  }

  test("report equals per-check count() with nulls, mixed shapes and a repeated name") {
    val dir = java.nio.file.Files.createTempDirectory("checks-nulls").toString
    Seq[(Option[Int], Option[String], Option[Int])](
      (Some(1), Some("a"), Some(2)), (None, Some("b"), Some(7)), (Some(9), None, None),
      (Some(3), Some("a"), Some(0)), (None, None, Some(3)), (Some(4), Some("xyz"), None))
      .toDF("x", "s", "y").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val parent = Seq(1, 3).toDF("x")
    val checks = Seq(
      "x.not_null" -> Checks.notNull(df, "x"),
      "x.between" -> Checks.between(df, "x", 0, 3),
      // null where x or y is null: such rows count for neither form
      "x_gt_y" -> Checks.expect(df, col("x") > col("y")),
      "s.unique" -> Checks.unique(df, "s"),
      "s.regex" -> Checks.matchesRegex(df.withColumn("p", upper(col("s"))), "p", "^[A-Z]$"),
      "x.fk" -> Checks.relationships(df, Seq("x"), parent, Seq("x")),
      "x.not_null" -> Checks.notNull(df, "y"),
      "s.length" -> Checks.lengthBetween(df, "s", 1, 1),
      "parent.not_null" -> Checks.notNull(parent, "x"),
      "y.fresh" -> Checks.freshness(df.withColumn("d", current_date()), "d", 1))
    val got = Checks.report(checks)
    assert(got.map(_.name) === checks.map(_._1))
    assert(got === oneByOne(checks))
    assert(got.map(_.violations) === Seq(2L, 2L, 1L, 2L, 1L, 2L, 2L, 1L, 0L, 0L))
  }

  test("filter checks over one table share one scan of it") {
    val scanned = spark.sparkContext.longAccumulator("checks_scanned")
    val seen = udf((_: Long) => { scanned.add(1); true })
    val base = spark.range(0, 40, 1, 4).toDF("id").filter(seen(col("id")))
    val checks = Seq(
      "lt10" -> Checks.expect(base, col("id") >= 10),
      "odd" -> Checks.expect(base, col("id") % 2 === 0),
      "big" -> Checks.between(base, "id", 0, 35))
    assert(Checks.report(checks).map(_.violations) === Seq(10L, 20L, 4L))
    assert(scanned.value === 40L)
  }
}
