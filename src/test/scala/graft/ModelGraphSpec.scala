package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Materialization, Model, ModelGraph, Table, View}
import graft.io.{Materializer, TsvReader}

/** `ModelGraph.run`'s pins and failure path: a model read twice is computed
  * once per run, a failed wave waits for its running siblings, released
  * pins leave no cached data behind and kept pins outlive the run; and the
  * EDGAR graph's shape and pinned set, in the product run and cut to one
  * fact as `edgar_fact_composed` runs it.
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

  test("a view read twice by one Table model is built once per run") {
    val rows = spark.sparkContext.longAccumulator("v_rows_self")
    val counted = udf((_: Long) => { rows.add(1); true })
    val before = cacheState
    val out = new ModelGraph(Seq(
      Model("v", Seq("src"), r => r("src").filter(counted(col("id")))),
      Model("t", Seq("v", "v"), r => r("v").union(r("v")), Table())))
      .run(Map("src" -> spark.range(0, 100, 1, 4).toDF()), materializer(_, _))(spark)
    assert(rows.value === 100L, "the view was computed once per read")
    assert(out("t").count() === 200L)
    assert(cacheState === before)
  }

  test("kept pins: outputs read after the run reuse them, and no cache entry is made") {
    val rows = spark.sparkContext.longAccumulator("v_rows_kept")
    val emptyBefore = cacheManager.isEmpty
    val out = sharedViewGraph(rows)
      .run(Map("src" -> spark.range(0, 100, 1, 4).toDF()), keepPins = true)(spark)
    assert(out("v").queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(out("a").count() === 100L)
    assert(out("b").count() === 50L)
    assert(rows.value === 100L, "an output read after the run rebuilt its pinned view")
    assert(cacheManager.isEmpty === emptyBefore)
    assert(!out("a").queryExecution.withCachedData.toString.contains("InMemoryRelation"))
  }

  /** The models a run of `g` pins: the deps that some build reads as a
    * persisted frame or a checkpoint.
    */
  private def pinnedIn(g: ModelGraph, materialize: (Model, DataFrame) => DataFrame,
                       keepPins: Boolean): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val probed = new ModelGraph(g.models.map(m => m.copy(build = r => {
      m.deps.filter(d => r(d).storageLevel != StorageLevel.NONE ||
        r(d).queryExecution.logical.isInstanceOf[LogicalRDD]).foreach(seen.add)
      m.build(r)
    })))
    probed.run(TsvReader.readAll(spark, TestSpark.edgarFixtures), materialize,
      keepPins = keepPins)(spark)
    seen.asScala.toSet
  }

  test("the EDGAR graph: its 14 models, their deps and materializations, and its pins") {
    val fact = Set("stg_num", "stg_pre", "stg_sub", "dim_company", "dim_filings", "dim_date")
    val factTable: Materialization = Table(clusterBy = Seq("COMPANY_NAME"))
    val want: Seq[(String, Set[String], Materialization)] = Seq(
      ("stg_sub", Set("sub"), View),
      ("stg_num", Set("num"), Table(clusterBy = Seq("ADSH", "TAG", "VERSION_TAG"))),
      ("stg_tag", Set("tag"), View),
      ("stg_pre", Set("pre"), View),
      ("dim_address", Set("stg_sub"), Table()),
      ("dim_company", Set("dim_address", "stg_sub"), Table()),
      ("dim_filings", Set("stg_pre", "stg_tag", "stg_num", "stg_sub"), Table()),
      ("dim_date", Set(), Table()),
      ("fct_balanceSheet", fact, factTable),
      ("fct_IncomeStatement", fact, factTable),
      ("fct_Cashflows", fact, factTable),
      ("raw_stg_sub_modified", Set("sub"), View),
      ("stg_financial_data", Set("raw_stg_sub_modified", "num", "tag", "pre"), View),
      ("financial_statements_json", Set("stg_financial_data"), Table()))
    val g = ModelGraph.edgar(spark)
    assert(g.models.map(m => (m.name, m.deps.toSet, m.materialization)) === want)
    // the dims are read back as bare scans, which `run` never pins
    assert(pinnedIn(g, materializer(_, _), keepPins = false) === Set("stg_sub", "stg_pre"))

    val composed = ModelGraph.edgar(spark, rowCap = None, facts = Seq("fct" -> "R")).upTo("fct")
    assert(composed.models.map(_.name).toSet ===
      Set("stg_sub", "stg_num", "stg_tag", "stg_pre", "dim_address", "dim_company",
        "dim_filings", "dim_date", "fct"))
    assert(pinnedIn(composed, (_, df) => df, keepPins = true) ===
      Set("stg_sub", "stg_num", "stg_pre", "dim_company", "dim_filings"))
  }
}
