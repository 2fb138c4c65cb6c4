package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.graph.{ModelGraph, View}
import graft.io.{Materializer, TsvReader}
import graft.quality.Checks

/** What one pipeline pass leaves behind for the output gate. */
final case class EtlOutput(warehouse: Path, raw: Map[String, DataFrame],
                           models: Map[String, DataFrame],
                           report: Seq[Checks.CheckResult])

/** The reference's daily DAG end to end: raw TSVs → `TsvReader.readAll`
  * (landed to parquet) → `ModelGraph.edgar(...).run` with the `Materializer`
  * callback, forcing every View leaf → `Checks.report(edgarSuite)`.
  */
object EdgarPipeline {

  def run(ctx: Ctx, tsv: Path, warehouse: Path): EtlOutput = {
    import ctx._
    val tr = tracer
    val raw = tr.span("io.ingest") {
      TsvReader.readAll(spark, tsv.toString, landTo = Some(s"$warehouse/raw"))
    }
    val mat = new Materializer(spark, s"$warehouse/models", clusterPartitions = cores)
    val graph = ModelGraph.edgar(spark)
    val used = graph.models.flatMap(_.deps).toSet
    val viewLeaves = graph.models
      .filter(m => m.materialization == View && !used(m.name)).map(_.name).toSet
    val models = tr.span("graph.run") {
      graph.run(raw, materialize = (m, df) => tr.span(s"models.${m.name}") {
        val out =
          if (m.materialization == View) mat(m, df)
          else tr.span("io.materialize")(mat(m, df))
        if (viewLeaves(m.name)) out.write.format("noop").mode("overwrite").save()
        out
      })(spark)
    }
    val report = tr.span("quality.checks") {
      Checks.report(Checks.edgarSuite(raw("sub"), raw("tag"), raw("num"), raw("pre")))
    }
    EtlOutput(warehouse, raw, models, report)
  }

  def dirBytes(p: Path): Long = {
    val all = Files.walk(p)
    try {
      var n = 0L
      all.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally all.close()
  }
}

/** `edgar_etl_serve`: one day of the product. A pass loads the quarter's raw
  * TSVs, builds and tests every model (one pipeline, no concurrent clients),
  * then serves the request stream from the warehouse it has just built.
  */
final class EdgarWorkload(ctx: Ctx, shape: EdgarShape) extends Workload {
  import ctx._
  private val tsv = dir("tsv")
  private val warehouse = dir("warehouse")
  private val serving = new Serving(ctx, warehouse)
  private var manifest: EdgarManifest = _
  private var last: EtlOutput = _

  def describe: Map[String, Any] = Map("shape" -> shape.toString,
    "tsv_bytes" -> Option(manifest).map(_.tsvBytes).getOrElse(0L),
    "lines" -> Option(manifest).map(_.lines).getOrElse(Map.empty),
    "serving" -> serving.describe)

  /** One warm-up pass, cold (class loading, JIT, codegen), which serves the
    * first 16 requests of the stream, among them a refused statement.
    */
  def setup(): Unit = {
    wipe(tsv)
    manifest = EdgarGen.generate(tsv, seed, shape)
    day("warmup", 16)
  }

  def pass(run: String): PassResult = day(run, serving.Requests)

  private def day(run: String, requests: Int): PassResult = {
    // each pass starts clean: fresh warehouse, no temp views, no cached RDDs,
    // an empty result cache
    wipe(warehouse)
    releaseSessionState(dropViews = true)
    val t0 = System.nanoTime()
    val c0 = Cpu.work
    var t1, t2 = 0L
    var c1, c2 = 0.0
    val (failed, errors, serveLayers) = tracer.span("pass.edgar_etl_serve") {
      last = EdgarPipeline.run(ctx, tsv, warehouse)
      t1 = System.nanoTime()
      c1 = Cpu.work
      // the refresh table back at its base rows: serving set-up, outside
      // both the batch and the serving figures
      serving.prepare(last)
      t2 = System.nanoTime()
      c2 = Cpu.work
      serving.burst(run, requests)
    }
    val t3 = System.nanoTime()
    PassResult((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t3 - t2) / 1e9, c1 - c0, Cpu.work - c2,
      requests, failed, errors,
      if (tracer.active) layers(tracer.spansOf(run), c1 - c0) ++ serveLayers else Map.empty)
  }

  private def layers(spans: Seq[Span], batchCpuS: Double): Map[String, Double] = {
    def sum(p: Span => Boolean) = spans.filter(p).map(_.seconds).sum
    val ingest = sum(_.name == "io.ingest")
    val graphS = sum(_.name == "graph.run")
    val modelSpans = spans.filter(_.layer == "models")
    def models(prefixes: String*) =
      modelSpans.filter(s => prefixes.exists(p => s.name.startsWith(s"models.$p"))).map(_.seconds).sum
    val factIds = modelSpans.filter(_.name.startsWith("models.fct_")).map(_.id).toSet
    val factCounters = spans.filter(s => factIds(s.id) || factIds(s.parent))
      .flatMap(s => tracer.countersOf(s.id))
    val factShuffle = factCounters.map(_.plan("shuffle_rows")).sum
    val factCpuS = factCounters.map(_.cpuNs).sum / 1e9
    val quality = spans.filter(_.name == "quality.checks")
    val dropped = manifest.lines.map { case (t, n) => n - last.raw(t).count() }.sum
    Map(
      "io.ingest_s" -> ingest,
      "io.ingest_mb_per_s" -> (if (ingest > 0) manifest.tsvBytes / 1e6 / ingest else 0.0),
      "io.rows_dropped" -> dropped.toDouble,
      "io.materialize_s" -> sum(s => s.name == "io.materialize" &&
        modelSpans.exists(_.id == s.parent)),
      "io.bytes_per_input_byte" ->
        EdgarPipeline.dirBytes(warehouse).toDouble / manifest.tsvBytes,
      "graph.run_s" -> graphS,
      "graph.model_overlap" -> (if (graphS > 0) modelSpans.map(_.seconds).sum / graphS else 0.0),
      "models.staging_s" -> models("stg_"),
      "models.dims_s" -> models("dim_"),
      "models.facts_s" -> models("fct_"),
      "models.json_s" -> models("raw_stg_sub_modified", "stg_financial_data",
        "financial_statements_json"),
      "models.facts_shuffle_rows" -> factShuffle.toDouble,
      "models.facts_cpu_share" -> (if (batchCpuS > 0) factCpuS / batchCpuS else 0.0),
      "quality.checks_s" -> quality.map(_.seconds).sum,
      "quality.jobs" -> quality.flatMap(s => tracer.countersOf(s.id)).map(_.jobs).sum.toDouble,
      "quality.violations" -> last.report.map(_.violations).sum.toDouble)
  }

  /** The warehouse's views stay: the output gate reads them. */
  def release(): Unit = {
    serving.release()
    releaseSessionState(dropViews = false)
  }

  def check(): (Seq[String], Seq[String]) = {
    val errs = Seq.newBuilder[String]
    Seq("sub", "tag", "num", "pre").foreach { t =>
      val n = last.raw(t).count()
      if (n != manifest.landed(t))
        errs += s"landed $t rows $n, expected ${manifest.landed(t)} " +
          s"(${manifest.lines(t)} written, ${manifest.malformed(t)} malformed)"
    }
    last.report.foreach { c =>
      val want = manifest.violations.getOrElse(c.name, -1L)
      if (c.violations != want) errs += s"check ${c.name}: ${c.violations} violations, planted $want"
    }
    if (last.report.map(_.name).toSet != manifest.violations.keySet)
      errs += "quality suite differs from the planted check list"
    // every model against its oracle (outside any timing): Table models are
    // read where the pass wrote them, the rest as the pass returned them
    val tables = ModelGraph.edgar(spark).models
      .filter(_.materialization.isInstanceOf[graft.graph.Table]).map(_.name).toSet
    val models = last.models.keys.filterNot(last.raw.contains).map { n =>
      n -> (if (tables(n)) spark.read.parquet(warehouse.resolve(s"models/$n").toString)
            else last.models(n))
    }.toMap
    val g0 = System.nanoTime()
    val (oracleErrs, notes) = Oracle.checkEdgar(spark, last.warehouse.resolve("raw").toString,
      models, cores)
    val g1 = System.nanoTime()
    errs ++= serving.check()
    (errs.result() ++ oracleErrs, notes ++ Seq(f"model oracles ${(g1 - g0) / 1e9}%.1f s, " +
      f"serving checks ${(System.nanoTime() - g1) / 1e9}%.1f s"))
  }
}
