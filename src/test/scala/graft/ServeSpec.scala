package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.ModelGraph
import graft.io.{Materializer, TsvReader}
import graft.serve.{Engine, Eq, NumBetween, ResultCache}

class ServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshEngine(cache: Option[ResultCache] = None): Engine = {
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "cat", "v").createOrReplaceTempView("serve_t")
    new Engine(spark, cache)
  }

  test("Lineage: ExprId-grain column lineage — self-join sides, mixed expr, filter scope, generator") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    // self-join: each output column keeps ITS side's source column only —
    // resolution is by ExprId, so the colliding NAMES cannot cross-wire
    val selfJ = li.alias("a").join(li.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey"))
      .select(col("a.l_partkey").as("x"), col("b.l_suppkey").as("y"))
    val lin1 = graft.serve.Lineage.columnLineage(selfJ)
    assert(lin1("x") === Set("lineitem" -> "l_partkey"))
    assert(lin1("y") === Set("lineitem" -> "l_suppkey"))
    // cross-table expression unions both sources; the join key and the
    // WHERE column are row-scope, not column lineage
    val mixed = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select((col("o_totalprice") + col("c_acctbal")).as("wealth"))
    val lin2 = graft.serve.Lineage.columnLineage(mixed)
    assert(lin2("wealth") ===
      Set("orders" -> "o_totalprice", "customer" -> "c_acctbal"))
    assert(lin2.keySet === Set("wealth"))
    // aggregate + alias chain: the decimal-folded sum tracks both inputs
    val agg = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("rev"))
    val lin3 = graft.serve.Lineage.columnLineage(agg)
    assert(lin3("rev") ===
      Set("lineitem" -> "l_extendedprice", "lineitem" -> "l_discount"))
    assert(lin3("l_returnflag") === Set("lineitem" -> "l_returnflag"))
    // generator outputs derive from the exploded input
    val gen = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), posexplode(col("embedding")))
    val lin4 = graft.serve.Lineage.columnLineage(gen)
    assert(lin4("col") === Set("embeddings" -> "embedding"))
    assert(lin4("pos") === Set("embeddings" -> "embedding"))
    assert(lin4("vec_id") === Set("embeddings" -> "vec_id"))
  }

  test("Lineage: indirect edges — WHERE and join-key columns, minus own data sources") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val q = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("o_totalprice"), col("c_custkey"))
    // the WHERE column appears as indirect-only: never in any column's
    // data lineage, present in the plan's indirect source set
    val direct = graft.serve.Lineage.columnLineage(q)
    assert(!direct.values.exists(_.contains("customer" -> "c_mktsegment")))
    val ind = graft.serve.Lineage.indirectSources(q)
    assert(ind === Set("customer" -> "c_mktsegment",
      "orders" -> "o_custkey", "customer" -> "c_custkey"))
    // typed frame: every output column carries the indirect set minus its
    // own data sources — c_custkey (a join key AND an output) must not
    // carry itself as an indirect edge
    val typed = graft.serve.Lineage.lineageFrameTyped(spark, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(typed.contains(("o_totalprice", "customer", "c_mktsegment", "indirect")))
    assert(typed.contains(("o_totalprice", "customer", "c_custkey", "indirect")))
    assert(typed.contains(("c_custkey", "orders", "o_custkey", "indirect")))
    assert(!typed.contains(("c_custkey", "customer", "c_custkey", "indirect")))
    assert(typed.contains(("c_custkey", "customer", "c_custkey", "data")))
  }

  test("select: filters + deterministic pagination") {
    val e = freshEngine()
    val rows = e.select("serve_t", Seq(Eq("cat", "a")), orderBy = Seq("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val page = e.select("serve_t", Nil, limit = 2, offset = 1, orderBy = Seq("id")).collect()
    assert(page.map(_.getLong(0)).toSeq === Seq(2L, 3L))
    val range = e.select("serve_t", Seq(NumBetween("v", 15.0, 35.0)), orderBy = Seq("id"))
    assert(range.collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("sql gateway: SELECT passes, commands are rejected (P8)") {
    val e = freshEngine()
    assert(e.sql("SELECT count(*) AS n FROM serve_t").head.getLong(0) === 4L)
    // CTE-wrapped select passes (string sniffing would be fooled either way)
    assert(e.sql("WITH x AS (SELECT id FROM serve_t) SELECT max(id) FROM x").head.getLong(0) === 4L)
    val err = intercept[IllegalArgumentException] {
      e.sql("DROP TABLE serve_t")
    }
    assert(err.getMessage.contains("only SELECT"))
    intercept[IllegalArgumentException] {
      e.sql("CREATE TABLE t2 AS SELECT * FROM serve_t")
    }
    // table untouched by the rejected commands
    assert(spark.table("serve_t").count() === 4L)
  }

  test("sql gateway lineage: WHERE column surfaces indirect-only through an ad-hoc query") {
    // r15 verdict stretch: the V1 SQL surface exposes the same typed
    // column lineage the DataFrame API gets — parsed+analyzed only, never
    // executed, SELECT-only gate shared with sql()
    val e = freshEngine()
    graft.Tables(spark, "/root/testdata/sf0.001", "orders")
      .createOrReplaceTempView("lineage_orders")
    val typed = e.sqlLineage(
      """SELECT o_orderkey, o_totalprice * 2 AS dbl
        |FROM lineage_orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    assert(typed.contains(("dbl", "orders", "o_totalprice", "data")))
    assert(typed.contains(("o_orderkey", "orders", "o_orderkey", "data")))
    // the WHERE column reaches every output column as indirect, never data
    assert(typed.contains(("dbl", "orders", "o_orderpriority", "indirect")))
    assert(typed.contains(("o_orderkey", "orders", "o_orderpriority", "indirect")))
    assert(!typed.exists(t => t._3 == "o_orderpriority" && t._4 == "data"))
    // the gate still guards the lineage surface
    val err = intercept[IllegalArgumentException] {
      e.sqlLineage("DROP TABLE lineage_orders")
    }
    assert(err.getMessage.contains("only SELECT"))
  }

  test("result cache: plan-fingerprint hits, TTL expiry, invalidation") {
    var now = 0L
    val cache = new ResultCache(ttlSeconds = 10, clock = () => now)
    val e = freshEngine(Some(cache))
    val q = "SELECT cat, count(*) AS n FROM serve_t GROUP BY cat"
    e.sql(q).collect()
    assert(cache.stats === ((0L, 1L, 1)))
    // same semantic plan → hit (even with different formatting)
    e.sql("SELECT  cat,  count(*) AS n  FROM serve_t  GROUP BY cat").collect()
    assert(cache.stats._1 === 1L)
    // TTL expiry → miss again
    now = 11000L
    e.sql(q).collect()
    assert(cache.stats._2 === 2L)
    cache.clear()
    assert(cache.stats._3 === 0)
  }

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager

  /** What a cached result may hold in Spark: the persisted RDDs and whether
    * the cache manager holds anything.
    */
  private def cacheState = (spark.sparkContext.getPersistentRDDs.keySet, cacheManager.isEmpty)

  /** Runs `body` with Catalyst sizing every file scan 10^5 times larger
    * than its files, which puts a result over a test table above
    * [[ResultCache.DriverResultMaxBytes]] (the persisted tier).
    */
  private def aboveCap[T](body: => T): T = {
    val factor = "spark.sql.sources.fileCompressionFactor"
    spark.conf.set(factor, "100000")
    try body finally spark.conf.unset(factor)
  }

  private def parquetDir(prefix: String, rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath
    rows.toDF("id", "s").write.mode("overwrite").parquet(dir)
    dir
  }

  /** Spark jobs that `body` starts on this thread. Its jobs carry a local
    * property; a marker job started after it reaches the listener last, so
    * by then every job of `body` has been seen.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val probe = "graft.test.probe"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "body")
      try body finally sc.setLocalProperty(probe, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "the listener never saw the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }

  test("result cache: underlying-data change invalidates within TTL") {
    aboveCap(dataChangeInvalidates(persisted = true))
  }

  test("result cache: underlying-data change invalidates within TTL, driver-local tier") {
    dataChangeInvalidates(persisted = false)
  }

  /** A cached result is hit while its files are unchanged, however often it
    * is read, and missed once they change.
    */
  private def dataChangeInvalidates(persisted: Boolean): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rc").toFile.getAbsolutePath
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val now = 0L
    val cache = new ResultCache(ttlSeconds = 1000, clock = () => now)
    def q = spark.read.parquet(dir).groupBy("s").count()
    assert(cache.through(q).collect().head.getLong(1) === 1L)
    assert(cache.stats === ((0L, 1L, 1)))
    // same plan, unchanged files → hit (the data version is stable)
    cache.through(q).collect()
    assert(cache.stats._1 === 1L)
    // regression (r4): a THIRD call after the result has been persisted AND
    // collected must still hit. Dataset.inputFiles is empty here (CacheManager
    // substitutes the InMemoryRelation), so a version derived from it would
    // flip and miss forever; the analyzed-plan file list is substitution-proof.
    // Only a persisted result is substituted; the driver-local tier must
    // still hit on the third call.
    if (persisted)
      assert(q.inputFiles.isEmpty, "precondition: cache substitution hides inputFiles")
    cache.through(q).collect()
    assert(cache.stats._1 === 2L, "cache stopped hitting after persist")
    // rewrite the table WELL inside TTL: the file-status fold changes the
    // fingerprint, so the stale entry can never be hit again — the incoming
    // query misses and reads the new data (the reference's SQL-text-keyed
    // Redis cache would have served the stale rows for the rest of the TTL)
    Seq((1L, "x"), (2L, "x")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val fresh = cache.through(q).collect()
    assert(cache.stats._2 === 2L)
    assert(fresh.head.getLong(1) === 2L, "served stale cached data")
    cache.clear()
  }

  test("result cache: a small result is served from the driver, a hit runs no Spark job") {
    val dir = parquetDir("graft-rc-local", Seq((1L, "x"), (2L, "y"), (3L, "x")))
    def q = spark.read.parquet(dir).groupBy("s").count()
    val cache = new ResultCache()
    val before = cacheState
    val missed = cache.through(q)
    // the miss ran the query inside `through`: its rows sit on the driver,
    // nothing was persisted and the cache manager holds nothing new
    assert(missed.queryExecution.logical.isInstanceOf[LocalRelation])
    assert(cacheState === before)
    // built outside the count: reading a parquet directory infers its schema
    // with a job
    val again = q
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring { rows = cache.through(again).collect() } === 0, "a hit ran Spark jobs")
    assert(cache.stats === ((1L, 1L, 1)))
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet === Set(("x", 2L), ("y", 1L)))
    cache.clear()
    assert(cacheState === before)
  }

  test("serving a stored EDGAR model: a miss runs one Spark job over one parquet relation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-wh").toString
    ModelGraph.edgar(spark).run(TsvReader.readAll(spark, TestSpark.edgarFixtures),
      new Materializer(spark, dir, 4).apply)(spark)
    val e = new Engine(spark, Some(new ResultCache()))
    Seq("dim_company" -> "Company_SK", "financial_statements_json" -> "filing_id").foreach {
      case (model, key) =>
        val relations = new Engine(spark).select(model, orderBy = Seq(key), limit = 10)
          .queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
        assert(relations.size === 1, s"$model reads ${relations.size} relations")
        assert(relations.forall {
          case h: HadoopFsRelation => h.fileFormat.isInstanceOf[ParquetFileFormat]
          case _ => false
        }, s"$model does not read parquet")
        var page: Array[org.apache.spark.sql.Row] = null
        assert(jobsDuring {
          page = e.select(model, orderBy = Seq(key), limit = 10).collect()
        } === 1, s"a miss on $model")
        assert(page.nonEmpty)
    }
  }

  test("result cache: a result above the cap is persisted, and unpersisted on invalidate and clear") {
    val dir = parquetDir("graft-rc-big", Seq((1L, "x"), (2L, "y"), (3L, "x")))
    def q = spark.read.parquet(dir).groupBy("s").count()
    val cache = new ResultCache()
    aboveCap {
      val before = cacheState
      assert(cache.through(q).collect().length === 2)
      assert(spark.sparkContext.getPersistentRDDs.size > before._1.size)
      // the hit reads the persisted blocks, not the files
      val hit = cache.through(q)
      hit.collect()
      assert(hit.queryExecution.optimizedPlan.collectFirst {
        case r: InMemoryRelation => r
      }.isDefined, "the persisted result is not read from the cache")
      assert(cache.stats === ((1L, 1L, 1)))
      cache.invalidate(q)
      assert(cacheState === before, "invalidate left the result persisted")
      cache.through(q).collect()
      assert(cacheState !== before)
      cache.clear()
      assert(cacheState === before, "clear left the result persisted")
    }
  }

  test("result cache: concurrent misses of one key run the query once, on both tiers") {
    for (persisted <- Seq(false, true)) {
      val dir = parquetDir("graft-rc-once", Seq((1L, "x")))
      val runs = spark.sparkContext.longAccumulator("query runs")
      // slow enough that the second caller arrives while the first computes
      val counted = udf { (id: Long) => runs.add(1); Thread.sleep(500); id }
        .asNondeterministic()
      def q = spark.read.parquet(dir).select(counted(col("id")).as("id"))
      val cache = new ResultCache()
      def run(): Unit = {
        val before = cacheState
        val start = new CountDownLatch(1)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val results = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] = {
              start.await()
              cache.through(q).collect().map(_.getLong(0)).toSeq
            }
          }))
          start.countDown()
          assert(results.map(_.get(60, TimeUnit.SECONDS)) === Seq(Seq(1L), Seq(1L)))
        } finally pool.shutdown()
        assert(runs.value === 1L, s"the query ran ${runs.value} times (persisted = $persisted)")
        assert(cache.stats === ((1L, 1L, 1)))
        cache.clear()
        assert(cacheState === before, s"clear left a result behind (persisted = $persisted)")
      }
      if (persisted) aboveCap(run()) else run()
    }
  }

  test("file-backed store: a second cache instance hits the first's entry") {
    import graft.serve.FileCacheStore
    val tableDir = java.nio.file.Files.createTempDirectory("graft-fcs-t").toFile.getAbsolutePath
    val storeDir = java.nio.file.Files.createTempDirectory("graft-fcs-s").toFile.getAbsolutePath
    Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "s").write.mode("overwrite").parquet(tableDir)
    def q = spark.read.parquet(tableDir).groupBy("s").count()

    // driver 1 computes and materializes
    val c1 = new ResultCache(ttlSeconds = 1000, store = new FileCacheStore(spark, storeDir))
    val first = c1.through(q).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(first === Set(("x", 2L), ("y", 1L)))
    assert(c1.stats === ((0L, 1L, 1)))
    assert(c1.through(q).count() === 2L) // local tier still hits
    assert(c1.stats._1 === 1L)

    // driver 2 (fresh cache + fresh store instance, same shared dir): the
    // SAME semantic plan over the SAME files fingerprints identically and
    // rehydrates driver 1's materialized result instead of recomputing
    val c2 = new ResultCache(ttlSeconds = 1000, store = new FileCacheStore(spark, storeDir))
    val viaShared = c2.through(q).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaShared === first)
    assert(c2.stats === ((1L, 0L, 1)), "second driver missed the shared entry")

    // invalidation through either instance clears the shared files
    c2.invalidate(q)
    assert(c2.stats._3 === 0)
    val c3 = new ResultCache(ttlSeconds = 1000, store = new FileCacheStore(spark, storeDir))
    c3.through(q).collect()
    assert(c3.stats === ((0L, 1L, 1)), "stale shared entry survived invalidation")
    c1.clear(); c3.clear()
  }

  test("file-backed store: keys listing is cached, local mutations invalidate it") {
    import graft.serve.{CachedResult, FileCacheStore}
    val storeDir = java.nio.file.Files.createTempDirectory("graft-fcs-l").toFile.getAbsolutePath
    val store = new FileCacheStore(spark, storeDir)
    val df = Seq((1L, "x")).toDF("id", "s")
    assert(store.keys.isEmpty)
    // put invalidates: the new key is visible immediately despite the TTL
    store.put(7L, CachedResult(df, 123L))
    assert(store.keys === Seq(7L), "local put not visible through cached listing")
    // the listing is genuinely cached: deleting the meta file BEHIND the
    // store (another process's remove) stays invisible inside the TTL window
    // — the documented at-most-one-window lag; get() is unaffected because
    // it never consults the listing
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(storeDir, "k7.meta"), false)
    assert(store.keys === Seq(7L), "listing re-listed inside the TTL window")
    // a local remove invalidates and re-lists: the key is gone at once
    store.remove(7L)
    assert(store.keys.isEmpty, "local remove not visible through cached listing")
  }

  test("file-backed store: removing another store's key runs no job and deletes its files") {
    import graft.serve.{CachedResult, FileCacheStore}
    val storeDir = java.nio.file.Files.createTempDirectory("graft-fcs-r").toFile
    new FileCacheStore(spark, storeDir.toString).put(9L, CachedResult(Seq((1L, "x")).toDF("id", "s"), 123L))
    assert(new java.io.File(storeDir, "k9").exists && new java.io.File(storeDir, "k9.meta").exists)
    val other = new FileCacheStore(spark, storeDir.toString)
    var prior: Option[CachedResult] = None
    assert(jobsDuring { prior = other.remove(9L) } === 0, "remove read the entry it deletes")
    assert(prior.isEmpty, "another process's entry came back as a local handle")
    assert(!new java.io.File(storeDir, "k9").exists && !new java.io.File(storeDir, "k9.meta").exists)
  }

  test("native expressions are SQL-callable after registration") {
    graft.functions.GraftFunctions.register(spark)
    val n = spark.sql(
      "SELECT sorted_intersect_size(array(1L,2L,5L,9L), array(2L,3L,5L,7L,9L)) AS n")
      .head.getInt(0)
    assert(n === 3)
    // shingle kernel: "abcd" → trigrams {abc, bcd} → 2 sorted distinct hashes
    val sh = spark.sql("SELECT ngram_shingle_hashes('abcd', 3) AS g")
      .head.getSeq[Long](0)
    assert(sh.length === 2 && sh === sh.sorted)
    // band keys: 4 bands over 8 minhash slots from the shingle set
    val bk = spark.sql(
      "SELECT minhash_band_keys(ngram_shingle_hashes('abcdef', 3), 8, 4) AS b")
      .head.getSeq[Long](0)
    assert(bk.length === 4)
    val lsh = spark.sql(
      "SELECT lsh_band_buckets(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 4, 4, 2) AS b")
      .head.getSeq[Long](0)
    assert(lsh.length === 4 && lsh.forall(b => b >= 0 && b < 16))
  }

  test("battery queries run through the SQL gateway (parse → gate → execute)") {
    // the ANSI-compatible slice of the oracle battery, executed as SQL TEXT
    // through Engine.sql (parse → Command gate → execute → cache seam) and
    // checked row-for-row against the DataFrame battery — the gateway is
    // load-bearing for real queries, not just smoke-tested.
    val e = new Engine(spark)
    val dir = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "orders", "lineitem", "events"))
      graft.Tables(spark, dir, t).createOrReplaceTempView(t)
    val names = Seq("q1_agg", "j1_inner_equi", "j2_join_chain", "a4_scalar_max",
      "a6_value_counts", "a7_dup_groups", "w1_topk_per_group", "o4_topk",
      "set_union", "set_intersect", "set_except")
    for (n <- names) {
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val cols = df.columns.sorted.map(col)
        df.select(cols: _*).collect().map(_.toString).sorted.toSeq
      }
      val viaSql = canon(e.sql(SparkEntry.oracleSql(n)))
      val viaDf = canon(SparkEntry.queries(n)(spark, dir))
      assert(viaSql === viaDf, s"gateway result diverges from the battery for $n")
    }
  }

  test("catalog introspection (S11)") {
    val e = freshEngine()
    assert(e.listDatabases().contains("default"))
    assert(e.listTables("default").contains("serve_t"))
  }

  test("filter-widget inference (V4)") {
    val e = freshEngine()
    val spec = e.filterWidgetSpec("serve_t")
    assert(spec("cat") === e.Categorical)  // 3 distinct < 15
    assert(spec("v") === e.NumericRange)
    assert(spec("id") === e.NumericRange)
  }

  test("pipeline runs: trigger/poll lifecycle, per-model states, failure surfacing") {
    import graft.graph.{Model, ModelGraph}
    import graft.serve.PipelineRuns
    implicit val s = spark
    import s.implicits._
    val src = Map("src" -> Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val graph = new ModelGraph(Seq(
      Model("stg", Seq("src"), reg => reg("src")),
      Model("slow", Seq("stg"), reg => {
        started.countDown()
        gate.await(10, java.util.concurrent.TimeUnit.SECONDS)
        reg("stg").filter(col("id") > 0)
      }),
      Model("out", Seq("slow"), reg => reg("slow"))))
    val pr = new PipelineRuns
    val runId = pr.trigger(graph, src, conf = Map("year_quarter" -> "2024Q1"))
    // mid-flight poll: the run is running, upstream done, the gated model
    // running, downstream still queued
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val mid = pr.status(runId).get
    assert(mid.state === "running")
    assert(mid.models("slow") === "running")
    assert(mid.models("out") === "queued")
    assert(mid.conf === Map("year_quarter" -> "2024Q1"))
    gate.countDown()
    val done = pr.awaitTerminal(runId)
    assert(done.state === "success")
    assert(done.models.values.toSet === Set("success"))
    // failure path: the error message reaches the poller, states stay honest
    val bad = new ModelGraph(Seq(
      Model("boom", Seq("src"), _ => throw new RuntimeException("synthetic failure"))))
    val badId = pr.trigger(bad, src)
    val failed = pr.awaitTerminal(badId)
    assert(failed.state === "failed")
    assert(failed.error.exists(_.contains("synthetic failure")))
    assert(failed.models("boom") !== "success")
    // unknown id is the 404 analog; listing is newest-first
    assert(pr.status("run_99999").isEmpty)
    assert(pr.list().map(_.runId) === Seq(badId, runId))
  }

  test("pipeline runs: numeric ordering and terminal-run eviction") {
    import graft.graph.{Model, ModelGraph}
    import graft.serve.PipelineRuns
    implicit val s = spark
    import s.implicits._
    val src = Map("src" -> Seq((1L, "x")).toDF("id", "v"))
    val g = new ModelGraph(Seq(Model("m", Seq("src"), reg => reg("src"))))
    val pr = new PipelineRuns(maxRetainedRuns = 3)
    val ids = (1 to 6).map { _ =>
      val id = pr.trigger(g, src); pr.awaitTerminal(id); id
    }
    // retention cap holds: only the newest terminal runs survive, ordered
    // by the numeric trigger sequence (not the zero-padded id string —
    // lexicographic order breaks past 99999)
    val listed = pr.list()
    assert(listed.size <= 3, s"eviction failed: ${listed.map(_.runId)}")
    assert(listed.map(_.runId) ===
      listed.map(_.runId).sortBy(_.stripPrefix("run_").toLong).reverse)
    assert(listed.map(_.runId).forall(ids.takeRight(4).contains),
      s"evicted newest instead of oldest: ${listed.map(_.runId)}")
    assert(pr.status(ids.head).isEmpty, "oldest terminal run not evicted")
  }

  test("HTTP gateway: unpause → trigger → poll over real loopback sockets") {
    import graft.graph.{Model, ModelGraph}
    import graft.serve.{HttpGateway, PipelineRuns}
    implicit val s = spark
    import s.implicits._
    val src = Map("src" -> Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val graph = new ModelGraph(Seq(
      Model("stg", Seq("src"), reg => reg("src")),
      Model("out", Seq("stg"), reg => reg("stg").filter(col("id") > 0))))
    val bad = new ModelGraph(Seq(
      Model("boom", Seq("src"), _ => throw new RuntimeException("synthetic failure"))))
    val gw = new HttpGateway(new PipelineRuns)
    gw.register("sec_pipeline", graph, src)
    gw.register("bad_pipeline", bad, src)
    val port = gw.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def call(method: String, path: String, body: String = "",
             auth: Boolean = true): (Int, Map[String, Any]) = {
      val b = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .method(method,
          if (body.isEmpty) java.net.http.HttpRequest.BodyPublishers.noBody()
          else java.net.http.HttpRequest.BodyPublishers.ofString(body))
      if (auth) b.header("Authorization", "Basic " +
        java.util.Base64.getEncoder.encodeToString("admin:admin".getBytes))
      val r = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val parsed = HttpGateway.MiniJson.parse(r.body()) match {
        case Some(m: Map[String @unchecked, _]) => m.asInstanceOf[Map[String, Any]]
        case other => fail(s"non-object response: ${r.body()} ($other)")
      }
      (r.statusCode(), parsed)
    }
    def pollToTerminal(dag: String, runId: String): Map[String, Any] = {
      // the reference's `while True: GET …; sleep(10)` loop with a bounded
      // deadline and a test-sized poll interval
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var st = call("GET", s"/api/v1/dags/$dag/dagRuns/$runId")._2
      while (!Set[Any]("success", "failed").contains(st("state")) &&
        System.nanoTime() < deadline) {
        Thread.sleep(50)
        st = call("GET", s"/api/v1/dags/$dag/dagRuns/$runId")._2
      }
      st
    }
    try {
      // no/bad auth is rejected before any routing
      assert(call("GET", "/api/v1/dags/sec_pipeline/dagRuns", auth = false)._1 === 401)
      // a freshly registered dag is paused: trigger refused until the PATCH
      assert(call("POST", "/api/v1/dags/sec_pipeline/dagRuns",
        """{"conf":{}}""")._1 === 409)
      val (pc, patched) = call("PATCH", "/api/v1/dags/sec_pipeline",
        """{"is_paused": false}""")
      assert(pc === 200 && patched("is_paused") === false)
      // trigger with a conf payload (the reference's year_quarter)
      val (tc, trig) = call("POST", "/api/v1/dags/sec_pipeline/dagRuns",
        """{"conf": {"year_quarter": "2024Q1"}}""")
      assert(tc === 200)
      val runId = trig("dag_run_id").asInstanceOf[String]
      assert(Set[Any]("queued", "running", "success").contains(trig("state")))
      val done = pollToTerminal("sec_pipeline", runId)
      assert(done("state") === "success", done)
      assert(done("conf") === Map("year_quarter" -> "2024Q1"))
      assert(done("tasks").asInstanceOf[Map[String, Any]].values.toSet ===
        Set("success"))
      // listing scopes to the dag and counts the one run
      val (_, listed) = call("GET", "/api/v1/dags/sec_pipeline/dagRuns")
      assert(listed("total_entries") === 1)
      // failure surfaces through the poll with its message
      call("PATCH", "/api/v1/dags/bad_pipeline", """{"is_paused": false}""")
      val badRun = call("POST", "/api/v1/dags/bad_pipeline/dagRuns",
        """{"conf":{}}""")._2("dag_run_id").asInstanceOf[String]
      val failed = pollToTerminal("bad_pipeline", badRun)
      assert(failed("state") === "failed")
      assert(failed("error").asInstanceOf[String].contains("synthetic failure"))
      // 404s: unknown dag, unknown run, and a run id under the WRONG dag
      assert(call("GET", "/api/v1/dags/nope/dagRuns")._1 === 404)
      assert(call("GET", "/api/v1/dags/sec_pipeline/dagRuns/run_99999")._1 === 404)
      assert(call("GET", s"/api/v1/dags/bad_pipeline/dagRuns/$runId")._1 === 404)
    } finally gw.stop()
  }
}
