package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one measuring window.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <result.json>
  *
  * Every timing is taken here, around calls into the program's public API;
  * nothing in the program is instrumented. With `--trace 1` passes alternate
  * between traced (spans + listener counters) and untraced, and the record
  * carries per-layer metrics instead of end-to-end ones.
  */
object Main {

  val LayerNames: Seq[String] = Seq("io", "graph", "models", "quality", "serve", "ops")
  val SparkLayers: Seq[String] = Seq("io", "models", "quality", "serve", "ops")
  val SparkKeys: Seq[String] = Seq("jobs", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "sched_delay_s", "task_skew", "core_util")

  /** Every per-layer metric a traced run reports, whatever the workload; a
    * layer the workload does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "io.ingest_s" -> "s", "io.ingest_mb_per_s" -> "MB/s", "io.rows_dropped" -> "count",
    "io.materialize_s" -> "s", "io.bytes_per_input_byte" -> "ratio",
    "graph.run_s" -> "s", "graph.model_overlap" -> "ratio",
    "models.staging_s" -> "s", "models.dims_s" -> "s", "models.facts_s" -> "s",
    "models.json_s" -> "s", "models.facts_shuffle_rows" -> "count",
    "models.facts_cpu_share" -> "ratio",
    "quality.checks_s" -> "s", "quality.jobs" -> "count", "quality.violations" -> "count",
    "serve.plan_ms" -> "ms", "serve.exec_ms" -> "ms", "serve.cache_hit_ratio" -> "ratio",
    "serve.cache_evictions" -> "count", "serve.jobs_per_read" -> "count",
    "serve.write_ms" -> "ms", "serve.write_cpu_ms" -> "ms", "serve.stale_reads" -> "count",
    "serve.refused" -> "count", "serve.read_p50_ms" -> "ms", "serve.read_geomean_ms" -> "ms",
    "serve.read_qps" -> "1/s", "serve.read_tail_ms" -> "ms", "serve.read_tail_pct" -> "%",
    "serve.read_tail_beyond" -> "count", "ops.geomean_ms" -> "ms") ++
    OpsWorkload.Entries.flatMap(e => Seq(s"ops.${e}_s" -> "s", s"ops.$e.shuffle_rows" -> "count")) ++
    OpsWorkload.Modules.map(m => s"ops.${m}_s" -> "s") ++
    SparkLayers.flatMap(l => SparkKeys.map { k =>
      s"spark.$l.$k" -> (k match {
        case "jobs" | "tasks" => "count"
        case "shuffle_write_mb" | "spill_mb" => "MB"
        case "task_skew" | "core_util" => "ratio"
        case _ => "s"
      })
    }) ++
    (LayerNames :+ "harness").map(l => s"self.${l}_s" -> "s") ++
    Seq("jvm.gc_s" -> "s", "jvm.gc_count" -> "count",
      "trace.overhead_s" -> "s", "trace.coverage" -> "ratio", "trace.spans" -> "count")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "batch_cpu_s" -> "s", "op_cpu_ms" -> "ms", "heap_after_gc_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    // the measured configuration of graft.Bench; local filesystem, no fsync
    val t0 = System.nanoTime()
    val cpu0 = Cpu.seconds
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      // the status stores behind the UI fill even with it off; bounded
      // retention keeps their sawtooth out of the heap and GC figures
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, trace)
    tracer.active = false
    val ctx = new Ctx(spark, tracer, work, cores, seed)
    val w: Workload = workload match {
      case "edgar_etl_serve" => new EdgarWorkload(ctx, Shapes.Edgar)
      case "operator_mix" => new OpsWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // failures that are not a request or entry of a pass: output gates and
    // span reconciliation
    val errors = Seq.newBuilder[String]
    // once per run: a cold warm-up pass costs as much as the measuring
    // window, and set-up is compared by its median over many runs. It is
    // compared as process CPU time, which a shared host does not stretch;
    // the wall time goes to the run record
    val s0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    val setupCpuS = Cpu.seconds - cpu0

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcTotals = (gcBeans.map(_.getCollectionTime).sum / 1e3, gcBeans.map(_.getCollectionCount).sum)
    // every measured pass starts from the same state: what the last pass
    // held released, and a collected heap
    def heapMb: Double = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1e6
    }
    def settle(): Double = {
      w.release()
      // unpersisted blocks, and broadcasts and shuffles whose last
      // reference a collection finds, are removed asynchronously: collect
      // until the heap stops shrinking (a busy host delays the cleanup)
      var last = Double.MaxValue
      var now = heapMb
      var n = 0
      while (n < 3 || (now < last * 0.99 && n < 12)) {
        Thread.sleep(300)
        System.gc()
        last = now
        now = heapMb
        n += 1
      }
      now
    }
    settle()
    val passes = Seq.newBuilder[(PassResult, Boolean, Double, Double, Double)]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // at least one pass (two when traced: one traced, one not); more while
    // the window lasts
    while (i < (if (trace) 2 else 1) || System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 0
      val run = s"p$i"
      tracer.runId = run
      tracer.active = traced
      val (gc0, gcn0) = gcTotals
      val st0 = Steal.seconds
      val pc0 = Cpu.seconds
      val jit0 = Cpu.jitSeconds
      val r0 = w.pass(run)
      val stolenS = Steal.seconds - st0
      val cpuS = Cpu.seconds - pc0
      val jitS = Cpu.jitSeconds - jit0
      val (gc1, gcn1) = gcTotals
      tracer.active = false
      val r = if (!traced) r0 else r0.copy(layers = r0.layers ++
        generic(tracer, tracer.spansOf(run), r0.wallS, cores, errors) ++
        Map("jvm.gc_s" -> (gc1 - gc0), "jvm.gc_count" -> (gcn1 - gcn0).toDouble))
      passes += ((r, traced, settle(), Steal.unstolen(r.wallS, cpuS, stolenS), jitS))
      i += 1
    }
    val all = passes.result()
    val c0 = System.nanoTime()
    Oracle.uncompiled(spark)
    val (gateErrors, gateNotes) = w.check()
    errors ++= gateErrors
    val checkS = (System.nanoTime() - c0) / 1e9
    if (trace) tracer.writeSpans(work.resolve("spans.jsonl"))

    val results = all.map(_._1)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val v = Map(
          "setup_s" -> setupCpuS,
          "pass_s" -> Stats.median(all.map(_._4)),
          "batch_cpu_s" -> Stats.median(results.map(_.batchCpuS)),
          "op_cpu_ms" -> Stats.median(results.map(r => r.serveCpuS * 1e3 / r.attempted)),
          "heap_after_gc_mb" -> Stats.median(all.map(_._3)))
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        val traced = all.filter(_._2).map(_._1)
        val keys = traced.flatMap(_.layers.keys).distinct
        // compared without steal, which moves more than tracing does
        val (tWall, uWall) = all.partition(_._2) match {
          case (t, u) => (Stats.median(t.map(_._4)), Stats.median(u.map(_._4)))
        }
        val med = keys.map(k => k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))).toMap ++
          Map("trace.overhead_s" -> (tWall - uWall))
        PerLayer.map { case (n, u) => (n, med.getOrElse(n, 0.0), u) }
      }
    val errs = errors.result()
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "attempted" -> results.map(_.attempted).sum,
      "failed" -> (results.map(_.failed).sum + errs.size),
      "errors" -> (results.flatMap(_.errors) ++ errs),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "setup" -> Map("session_s" -> sessionS, "inputs_and_warm_up_s" -> setupS,
        "cpu_s" -> setupCpuS),
      "check_s" -> checkS,
      "gates" -> gateNotes,
      "passes" -> all.map { case (r, t, heap, unstolen, jit) =>
        Map("wall_s" -> r.wallS, "unstolen_wall_s" -> unstolen, "jit_cpu_s" -> jit,
          "batch_s" -> r.batchS,
          "serve_s" -> r.serveS, "traced" -> t, "attempted" -> r.attempted,
          "batch_cpu_s" -> r.batchCpuS, "serve_cpu_s" -> r.serveCpuS,
          "failed" -> r.failed, "heap_after_gc_mb" -> heap)
      },
      "warmth" -> "the first warm-up pass is cold (fresh JVM); every measured pass is warm",
      "describe" -> w.describe)
    Files.write(out, record.getBytes("UTF-8"))
    spark.stop()
  }

  /** Layer breakdown every traced pass gets: self time per layer, `spark.*`
    * counters per layer, and how much of the pass its spans cover.
    */
  def generic(tr: Tracer, spans: Seq[Span], wallS: Double, cores: Int,
              errors: scala.collection.mutable.Builder[String, Seq[String]]): Map[String, Double] = {
    val root = spans.find(_.name.startsWith("pass."))
    val coverage = root.map { r =>
      val kids = spans.filter(_.parent == r.id).map(s => (s.startNs, s.endNs))
      Layers.union(kids) / 1e9 / r.seconds
    }.getOrElse(0.0)
    val rootRatio = root.map(_.seconds / wallS).getOrElse(0.0)
    if (coverage < 0.95 || rootRatio < 0.95 || rootRatio > 1.05)
      errors += f"span totals do not reconcile with wall time: coverage $coverage%.3f, " +
        f"pass span / wall $rootRatio%.3f"
    val self = Layers.selfSeconds(spans)
    val selfM = LayerNames.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)).toMap +
      ("self.harness_s" -> self.getOrElse("pass", 0.0))
    val sparkM = SparkLayers.flatMap(l => Layers.sparkCounters(tr, spans, l, cores)).toMap
    selfM ++ sparkM ++ Map("trace.coverage" -> coverage, "trace.spans" -> spans.size.toDouble)
  }
}

/** Input sizes. Most of a pass is fixed per-job cost, so the quarter is
  * small: 48 runs of both workloads, with set-up, must fit 3420 s even when
  * the host is shared.
  */
object Shapes {
  val Edgar = EdgarShape(filings = 72, days = 18, presentedTags = 16, customTags = 2,
    dimRows = 30, tagPool = 80, planted = 2, malformed = 3)
}
