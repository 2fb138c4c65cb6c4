package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{NgramShingleHashes, SortedIntersectSize}
import graft.plans.IntersectSizeRewrite

/** Optimizer-rule tier: the declarative `size(array_intersect(...))` over
  * shingle sets is rewritten to the codegen'd two-pointer kernel, and the
  * rewrite is value-identical.
  */
class RewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("IntersectSizeRewrite substitutes the kernel and preserves values") {
    // over a parquet source (a local relation would constant-fold away
    // before the rule could be observed)
    def q = {
      val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      d.as("l").join(d.as("r"), col("l.doc_id") + 1 === col("r.doc_id"))
        .select(col("l.doc_id"),
          size(array_intersect(
            NgramShingleHashes(col("l.text"), 3),
            NgramShingleHashes(col("r.text"), 3))).as("n"))
    }
    val baseline = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntersectSizeRewrite
    try {
      val rewritten = q
      val hasKernel = rewritten.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[SortedIntersectSize]))
      assert(hasKernel, rewritten.queryExecution.optimizedPlan.toString)
      assert(rewritten.collect().map(r => (r.getLong(0), r.getInt(1))).toSet === baseline)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntersectSizeRewrite)
    }
  }

  test("SQL-gateway shape gets the kernel: array_sort(array_distinct(transform(..xxhash64..)))") {
    // the declarative spelling a V1 gateway user writes as SQL TEXT — no
    // engine expressions anywhere; the proof is type-driven (transform with
    // a non-nullable lambda yields array<bigint> containsNull=false)
    graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("rw_docs")
    def q = spark.sql(
      """SELECT l.doc_id,
        |  size(array_intersect(
        |    array_sort(array_distinct(transform(split(l.text, ' '), x -> xxhash64(x)))),
        |    array_sort(array_distinct(transform(split(r.text, ' '), x -> xxhash64(x)))))) AS n
        |FROM rw_docs l JOIN rw_docs r ON l.doc_id + 1 = r.doc_id""".stripMargin)
    val baseline = q.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntersectSizeRewrite
    try {
      val rewritten = q
      val hasKernel = rewritten.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[SortedIntersectSize]))
      assert(hasKernel, rewritten.queryExecution.optimizedPlan.toString)
      assert(rewritten.collect().map(r => (r.getLong(0), r.getInt(1))).toSet === baseline)
      // sort_array ascending over a distinct set qualifies too
      val sa = spark.sql(
        """SELECT size(array_intersect(
          |  sort_array(array_distinct(transform(split(text, ' '), x -> xxhash64(x)))),
          |  sort_array(array_distinct(transform(split(source, ' '), x -> xxhash64(x)))))) AS n
          |FROM rw_docs""".stripMargin)
      assert(sa.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[SortedIntersectSize])), "sort_array form not rewritten")
      // nullable elements break the proof: the kernel is null-intolerant
      val nullable = spark.sql(
        """SELECT size(array_intersect(
          |  array_sort(array_distinct(array(xxhash64(text), CAST(NULL AS BIGINT)))),
          |  array_sort(array_distinct(array(xxhash64(source), CAST(NULL AS BIGINT)))))) AS n
          |FROM rw_docs""".stripMargin)
      assert(!nullable.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[SortedIntersectSize])), "rewrote a nullable-element array")
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntersectSizeRewrite)
    }
  }

  test("rule leaves unprovable operands alone (bare array_sort may hold dupes)") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IntersectSizeRewrite
    try {
      val df = Seq((Seq(1L, 1L, 2L), Seq(1L, 3L))).toDF("x", "y").select(
        size(array_intersect(array_sort(col("x")), array_sort(col("y")))).as("n"))
      val hasKernel = df.queryExecution.optimizedPlan.expressions.exists(
        _.exists(_.isInstanceOf[SortedIntersectSize]))
      assert(!hasKernel, df.queryExecution.optimizedPlan.toString)
      // array_intersect dedups: |{1,2} ∩ {1,3}| = 1
      assert(df.head.getInt(0) === 1)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == IntersectSizeRewrite)
    }
  }
}
