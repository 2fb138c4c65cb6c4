package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Model, ModelGraph, Table}
import graft.io.Materializer

/** `ModelGraph.run`'s shared-view cache and failure path: a view read by two
  * models is computed once per run, a failed wave waits for its running
  * siblings, and either way the run leaves no cached data behind.
  */
class ModelGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** What a run must give back: the persisted RDDs and whether the cache
    * manager holds anything.
    */
  private def cacheState = (spark.sparkContext.getPersistentRDDs.keySet, cacheManager.isEmpty)

  private def materializer =
    new Materializer(spark, java.nio.file.Files.createTempDirectory("graph-wh").toString, 4)

  /** A view over 0..99 whose build counts the rows it filters, read by two
    * Table models.
    */
  private def sharedViewGraph(rows: org.apache.spark.util.LongAccumulator,
                              more: Model*) = {
    val counted = udf((_: Long) => { rows.add(1); true })
    new ModelGraph(Seq(
      Model("v", Seq("src"), r => r("src").filter(counted(col("id")))),
      Model("a", Seq("v"), r => r("v").select(col("id")), Table()),
      Model("b", Seq("v"), r => r("v").filter(col("id") % 2 === 0), Table())) ++ more)
  }

  test("a view with two Table consumers is built once per run, and released") {
    val rows = spark.sparkContext.longAccumulator("v_rows")
    val before = cacheState
    val out = sharedViewGraph(rows)
      .run(Map("src" -> spark.range(0, 100, 1, 4).toDF()), materializer(_, _))(spark)
    assert(rows.value === 100L, "the shared view was computed once per consumer")
    assert(out("a").count() === 100L)
    assert(out("b").count() === 50L)
    assert(cacheState === before)
    assert(out("v").storageLevel === StorageLevel.NONE)
    // the returned view keeps its lineage once the pin is gone
    assert(out("v").count() === 100L)
  }

  test("a failing model fails the run only after its slow sibling has ended") {
    val rows = spark.sparkContext.longAccumulator("v_rows_failed")
    val slowDone = new AtomicBoolean(false)
    val mat = materializer
    val graph = sharedViewGraph(rows,
      Model("slow", Seq("a"), r => { Thread.sleep(1000); r("a") }, Table()),
      Model("boom", Seq("b"), _ => throw new IllegalStateException("synthetic failure")))
    val before = cacheState
    val e = intercept[IllegalStateException] {
      graph.run(Map("src" -> spark.range(0, 100, 1, 4).toDF()), (m, df) => {
        val out = mat(m, df)
        if (m.name == "slow") slowDone.set(true)
        out
      })(spark)
    }
    assert(e.getMessage === "synthetic failure")
    assert(slowDone.get, "run threw while a sibling model was still building")
    assert(cacheState === before)
  }
}
