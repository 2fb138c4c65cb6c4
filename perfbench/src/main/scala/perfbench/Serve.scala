package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.Incremental
import graft.io.Materializer
import graft.serve._

/** One request of the serving stream. */
sealed trait Request { def key: Int }
/** `Engine.select` browse page (ordered on a total key, so a page is exact). */
final case class Browse(key: Int, table: String, filters: Seq[FilterSpec], limit: Int,
                        offset: Int, orderBy: Seq[String]) extends Request
/** `Engine.sql` gateway query. */
final case class Gateway(key: Int, sql: String, static: Boolean) extends Request
/** A DDL or INSERT statement the SELECT gate must refuse. */
final case class Ddl(key: Int, sql: String) extends Request
/** A refresh write of `n` new filings. */
final case class Write(key: Int) extends Request

final case class Rec(req: Request, ms: Double, planMs: Double, execMs: Double,
                     rows: Array[Row], ok: Boolean, refused: Boolean = false)

/** Requests served by the warehouse a pipeline run has just built: a closed
  * loop of one client thread per core (the most the loop allows; each waits
  * for its reply) over `Engine` + the program's default `ResultCache` (64
  * entries), with refresh writes landing through
  * `Materializer.materialize(..., Incremental)` beside the reads.
  *
  * There are 448 read keys of seven kinds (fact browse pages by company and
  * by date and value range, company lookups, gateway aggregates, gateway
  * fact⋈dim joins, document lookups by filing, aggregates over the refreshed
  * table); key rank r is of kind r mod 7. Ranks are drawn from one Zipf law
  * with exponent 0.64, the flattest of the 0.64–0.83 that Breslau et al.
  * measured on request traces in front of caches ("Web Caching and
  * Zipf-like Distributions: Evidence and Implications", INFOCOM 1999); no
  * traffic of the app itself is recorded. The 90 reads of a pass draw more
  * than 64 distinct keys: the head is hit, and the tail evicts. The shares
  * of writes and refused statements (1 in 32 requests each) are set, not
  * measured: they put three of each in a pass.
  */
final class Serving(ctx: Ctx, warehouse: java.nio.file.Path) {
  import ctx._

  val Kinds = 7
  val Keys = 448
  val ZipfS = 0.64
  val Requests = 96
  val WriteEvery = 32
  val DdlEvery = 16
  val WriteBatch = 20
  val Clients: Int = cores

  private var built: EtlOutput = _
  private var stream: IndexedSeq[Request] = _
  private var baseRows = 0L
  private var lastRecs: Seq[Rec] = Nil
  private var writes = 0
  private val cache = new ResultCache()
  private val engine = new Engine(spark, Some(cache))
  private lazy val mat = new Materializer(spark, s"$warehouse/serve", clusterPartitions = cores)

  def describe: Map[String, Any] = Map("keys" -> Keys, "kinds" -> Kinds,
    "zipf_s" -> ZipfS, "cache" -> "ResultCache() defaults: 64 entries, 3600 s TTL",
    "requests_per_pass" -> Requests,
    "clients" -> Clients, "write_every" -> WriteEvery, "ddl_every" -> DdlEvery,
    "write_batch" -> WriteBatch)

  /** Point the loop at a freshly built warehouse: empty cache, the refresh
    * table back at its base rows. The request stream is drawn once, from the
    * first warehouse (every pass builds the same one).
    */
  def prepare(w: EtlOutput): Unit = {
    built = w
    cache.clear()
    if (stream == null) {
      baseRows = built.models("stg_sub").count()
      buildRequests()
    }
    tracer.span("io.materialize")(resetWrites())
  }

  private def buildRequests(): Unit = {
    // every seed issues the same requests (the companies, dates and filings
    // of the quarter do not depend on it), so every seed asks for the same
    // work and has the same hits and misses; the seed draws the data
    val fixed = new Random(0x5EEDL)
    def distinct(t: String, c: String): IndexedSeq[Any] =
      spark.table(t).select(c).distinct().orderBy(c).collect().map(_.get(0)).toIndexedSeq
    val facts = Seq("fct_balanceSheet", "fct_IncomeStatement", "fct_Cashflows")
    val names = distinct("fct_balanceSheet", "COMPANY_NAME")
    val dates = distinct("fct_balanceSheet", "FILEDDATE").map(_.toString)
    val ciks = distinct("dim_company", "CIK").filter(_ != null)
    val filings = distinct("financial_statements_json", "filing_id").filter(_ != null)
    val factOrder = Seq("COMPANY_NAME", "FILEDDATE", "STATEMENTTYPE", "TAG", "UNITOFMEASURE", "VERSION")
    def pick[T](xs: IndexedSeq[T]): T = xs(fixed.nextInt(xs.size))
    def request(kind: Int, k: Int): Request = {
      val f = facts(k % facts.size)
      kind match {
        case 0 => Browse(k, f, Seq(Eq("COMPANY_NAME", pick(names))), 20 + fixed.nextInt(3) * 20,
          fixed.nextInt(3) * 10, factOrder)
        case 1 =>
          val d0 = fixed.nextInt(dates.size - 2)
          Browse(k, f, Seq(DateBetween("FILEDDATE", dates(d0), dates(d0 + 2)),
            NumBetween("FCT_VALUE", 0.0, 1e7 * (1 + fixed.nextInt(20)))), 50, fixed.nextInt(4) * 25,
            factOrder)
        case 2 => Browse(k, "dim_company", Seq(In("CIK", Seq.fill(5)(pick(ciks)))), 10, 0,
          Seq("Company_SK", "CIK", "Company_Name", "Ticker", "COMP_ADDRESS_SK"))
        case 3 => Gateway(k,
          s"SELECT STATEMENTTYPE, TAG, COUNT(*) AS n, ROUND(SUM(FCT_VALUE), 2) AS total " +
            s"FROM $f WHERE FILEDDATE = DATE'${pick(dates)}' GROUP BY STATEMENTTYPE, TAG", static = true)
        case 4 => Gateway(k,
          s"SELECT c.CIK, f.TAG, COUNT(*) AS n, ROUND(SUM(f.FCT_VALUE), 2) AS total " +
            s"FROM $f f JOIN dim_company c ON f.COMPANY_NAME = c.Company_Name " +
            s"WHERE c.CIK = ${pick(ciks)} GROUP BY c.CIK, f.TAG", static = true)
        case 5 => Browse(k, "financial_statements_json", Seq(Eq("filing_id", pick(filings))), 10, 0,
          Seq("filing_id"))
        case _ => Gateway(k, s"SELECT BATCH, COUNT(*) AS n FROM filing_index " +
          s"WHERE CIK <= ${pick(ciks)} GROUP BY BATCH", static = false)
      }
    }
    val pool = (0 until Keys).map(k => request(k % Kinds, k))
    val cdf = (1 to Keys).map(i => 1.0 / math.pow(i, ZipfS)).scanLeft(0.0)(_ + _).tail
    val ddl = IndexedSeq("DROP TABLE fct_balanceSheet",
      "INSERT INTO filing_index SELECT * FROM filing_index",
      "CREATE TABLE planted_ctas AS SELECT 1 AS x",
      "ALTER TABLE dim_company RENAME TO planted_rename")
    stream = (0 until Requests).map { i =>
      if (i % WriteEvery == WriteEvery - 1) Write(-1)
      else if (i % DdlEvery == DdlEvery - 1) Ddl(-2, ddl((i / DdlEvery) % ddl.size))
      else {
        val u = fixed.nextDouble() * cdf.last
        pool(cdf.indexWhere(_ >= u))
      }
    }
  }

  private def filingIndex(batch: Int, n: Int): DataFrame = {
    val rows = (0 until n).map(i => (f"7777777777-$batch%02d-$i%06d", 7000L + i,
      s"REFRESHED FILER $i", java.sql.Date.valueOf("2024-03-29"), batch))
    spark.createDataFrame(rows).toDF("ADSH", "CIK", "NAME", "FILED", "BATCH")
  }

  private def resetWrites(): Unit = {
    wipe(warehouse.resolve("serve/filing_index"))
    val base = built.models("stg_sub")
      .select(col("ADSH"), col("CIK"), col("NAME"), col("FILED"),
        lit(0).as("BATCH"))
    mat.materialize("filing_index", base, Incremental("BATCH"))
    writes = 0
  }

  private val writeLock = new Object

  private def read(req: Request): Rec = {
    val t0 = System.nanoTime()
    val df = tracer.span("serve.plan") {
      req match {
        case b: Browse => engine.select(b.table, b.filters, b.limit, b.offset, b.orderBy)
        case g: Gateway => engine.sql(g.sql)
        case other => sys.error(s"not a read: $other")
      }
    }
    val t1 = System.nanoTime()
    val rows = tracer.span("serve.exec")(df.collect())
    val t2 = System.nanoTime()
    val ok = req match {
      case b: Browse => rows.length <= b.limit
      case _ => true
    }
    Rec(req, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6, rows, ok)
  }

  private val stale = new AtomicLong(0)
  private val writeMs = new ConcurrentLinkedQueue[Double]()

  /** One refresh write and its freshness check: one request. */
  private def write(req: Write): Rec = writeLock.synchronized {
    writes += 1
    val b = writes
    val batch = filingIndex(b, WriteBatch)
    val t0 = System.nanoTime()
    tracer.span("serve.write")(tracer.span("io.materialize") {
      mat.materialize("filing_index", batch, Incremental("BATCH"))
    })
    val ms = (System.nanoTime() - t0) / 1e6
    writeMs.add(ms)
    // the next reads over the table must see the batch
    val adshs = (0 until WriteBatch).map(i => f"7777777777-$b%02d-$i%06d")
    val page = tracer.span("serve.verify")(read(Browse(-3, "filing_index",
      Seq(In("ADSH", adshs)), WriteBatch * 2, 0, Seq("ADSH"))))
    val count = tracer.span("serve.verify")(read(Gateway(-4,
      "SELECT COUNT(*) AS n FROM filing_index", static = false)))
    val fresh = page.rows.map(_.getString(0)).toSeq == adshs &&
      count.rows.head.getLong(0) == baseRows + WriteBatch.toLong * b
    if (!fresh) stale.incrementAndGet()
    Rec(req, ms, 0, 0, Array.empty, ok = fresh)
  }

  /** Drop the cached results (end of a pass). */
  def release(): Unit = cache.clear()

  /** Serve the first `requests` of the stream; returns the number of failed
    * requests, their messages and, when traced, the `serve.*` metrics.
    */
  def burst(run: String, requests: Int): (Int, Seq[String], Map[String, Double]) = {
    stale.set(0)
    writeMs.clear()
    val (h0, m0, _) = cache.stats
    val recs = new ConcurrentLinkedQueue[Rec]()
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime()
    // client threads are created inside the pass span and inherit it
    val clients = Executors.newFixedThreadPool(Clients)
    try {
      (0 until Clients).foreach { _ =>
        clients.submit(new Runnable {
          def run(): Unit = {
            var i = next.getAndIncrement()
            while (i < requests) {
              val req = stream(i)
              recs.add(try req match {
                case w: Write => write(w)
                case d: Ddl =>
                  val refused = tracer.span("serve.refuse") {
                    try { engine.sql(d.sql); false }
                    catch { case _: IllegalArgumentException => true }
                  }
                  Rec(d, 0, 0, 0, Array.empty, ok = refused, refused = refused)
                case _ => tracer.span("serve.read")(read(req))
              } catch { case _: Exception => Rec(req, 0, 0, 0, Array.empty, ok = false) })
              i = next.getAndIncrement()
            }
          }
        })
      }
    } finally {
      clients.shutdown()
      clients.awaitTermination(1, TimeUnit.HOURS)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val all = recs.asScala.toSeq
    lastRecs = all
    val reads = all.filter(r => r.req.isInstanceOf[Browse] || r.req.isInstanceOf[Gateway])
    val failed = all.count(!_.ok)
    val (h1, m1, size1) = cache.stats
    val layers =
      if (!tracer.active) Map.empty[String, Double]
      else {
        val spans = tracer.spansOf(run)
        def counters(name: String) = {
          val ids = spans.filter(_.name == name).map(_.id).toSet
          spans.filter(s => ids(s.id) || ids(s.parent)).flatMap(s => tracer.countersOf(s.id))
        }
        val jobs = counters("serve.read").map(_.jobs).sum
        val writeCpuMs = counters("serve.write").map(_.cpuNs).sum / 1e6
        val (tail, pct, beyond) = Stats.tailPercentile(reads.map(_.ms))
        Map(
          "serve.plan_ms" -> Stats.median(reads.map(_.planMs)),
          "serve.exec_ms" -> Stats.median(reads.map(_.execMs)),
          "serve.cache_hit_ratio" -> (h1 - h0).toDouble / math.max(1L, (h1 - h0) + (m1 - m0)),
          "serve.cache_evictions" -> math.max(0L, (m1 - m0) - size1).toDouble,
          "serve.jobs_per_read" -> jobs.toDouble / math.max(1, reads.size),
          "serve.write_ms" -> Stats.median(writeMs.asScala.toSeq),
          "serve.write_cpu_ms" -> writeCpuMs / math.max(1, writeMs.size),
          "serve.stale_reads" -> stale.get.toDouble,
          "serve.refused" -> all.count(_.refused).toDouble,
          "serve.read_p50_ms" -> Stats.median(reads.map(_.ms)),
          "serve.read_geomean_ms" -> Stats.geomean(reads.map(_.ms)),
          "serve.read_qps" -> reads.size / wallS,
          "serve.read_tail_ms" -> tail,
          "serve.read_tail_pct" -> pct,
          "serve.read_tail_beyond" -> beyond.toDouble)
      }
    (failed,
      all.filterNot(_.ok).map(r => s"serve request failed: ${r.req}").distinct.take(5), layers)
  }

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val ddl = lastRecs.filter(_.req.isInstanceOf[Ddl])
    val planted = stream.count(_.isInstanceOf[Ddl])
    if (ddl.size != planted || ddl.exists(!_.refused))
      errs += s"SELECT gate refused ${ddl.count(_.refused)} of $planted planted statements"
    if (stale.get != 0) errs += s"${stale.get} stale reads after refresh writes"
    if (writeMs.size != stream.count(_.isInstanceOf[Write]))
      errs += s"${writeMs.size} writes landed, ${stream.count(_.isInstanceOf[Write])} planned"
    // a seeded sample of distinct reads, recomputed with no cache
    val sample = new Random(seed + 1).shuffle(
      lastRecs.filter(r => r.req.key >= 0).groupBy(_.req.key).values.map(_.head).toSeq
        .sortBy(_.req.key)).take(8)
    errs ++= Oracle.inParallel(cores)(sample.map { rec => () =>
      rec.req match {
        case b: Browse =>
          val full = spark.table(b.table).filter(Filters.toCondition(b.filters))
            .orderBy(b.orderBy.map(col): _*).collect()
          // document rows carry an unordered array: compare their keys
          def key(r: Row): Seq[Any] =
            if (b.table == "financial_statements_json") Seq(r.get(0)) else r.toSeq
          val want = full.slice(b.offset, b.offset + b.limit).map(key).toSeq
          if (rec.rows.map(key).toSeq == want) None
          else Some(s"browse page differs from rows [${b.offset}, ${b.offset + b.limit}) of " +
            s"the uncached result: $b")
        case g: Gateway if g.static =>
          val want = spark.sql(g.sql).collect().map(_.toString).sorted.toSeq
          if (rec.rows.map(_.toString).sorted.toSeq == want) None
          else Some(s"gateway result differs from the uncached query: ${g.sql}")
        case _ => None
      }
    }).flatten
    errs.result()
  }
}
