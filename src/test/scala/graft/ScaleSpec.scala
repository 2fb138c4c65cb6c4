package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{Bucketed, Incremental, Partitioned, Table}
import graft.io.{CsvIo, Materializer}
import graft.operators.SkewJoin

/** Scale-technique specs: salted skew joins, bucketed (shuffle-free) joins,
  * incremental materialization, clustered table files sized from measured
  * bytes, and the CSV weather path.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted join is row-identical to the plain join on skewed data") {
    // 90% of rows share one hot key
    val big = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, s"row$i"))
      .toDF("k", "payload")
    val small = Seq((7L, "hot"), (10L, "ten"), (20L, "twenty")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = SkewJoin.saltedInnerJoin(big, small, "k", buckets = 8)
    assert(salted.count() === plain.count())
    val a = plain.orderBy("k", "payload").collect().map(_.toString)
    val b = salted.select("k", "payload", "name").orderBy("k", "payload").collect().map(_.toString)
    assert(a === b)
  }

  test("bloom semi join: row-identical to plain semi, prefilter is a thin superset") {
    val rnd = new scala.util.Random(31)
    // 5000-row fact, 3% of keys selected
    val fact = Seq.tabulate(5000)(i => ((i % 1000).toLong, s"row$i")).toDF("k", "payload")
    val keys = (0L until 1000L).filter(_ => rnd.nextInt(100) < 3)
      .map(k => (k, "sel")).toDF("k", "tag").select("k")
    val plain = fact.join(keys, Seq("k"), "left_semi")
      .orderBy("k", "payload").collect().map(_.toString)
    val bloom = SkewJoin.bloomSemiJoin(fact, keys, "k")
      .orderBy("k", "payload").collect().map(_.toString)
    assert(bloom === plain)
    // the prefilter must contain every true match and stay close to the
    // true match count (fpp 0.01 over 1000 distinct keys: a handful of
    // false-positive keys at most -- far below the 5000-row fact)
    val pre = SkewJoin.bloomKeyFilter(fact, keys, "k")
    val preCount = pre.count()
    assert(preCount >= plain.length.toLong, "prefilter lost a true match")
    assert(preCount <= plain.length.toLong + 250L,
      s"prefilter barely reduced: $preCount of 5000 for ${plain.length} matches")
    // r13: the probe is the NATIVE BloomFilterMightContain expression
    // (filter bytes as a foldable literal), not a ScalaUDF — on the 100 TB
    // fact-scan path this predicate runs once per row, and a UDF there
    // would break the scan's whole-stage-codegen span. Pin against a
    // PARQUET-backed fact (the production shape): on the in-memory fixture
    // above, ConvertToLocalRelation constant-folds the whole probe into a
    // LocalTableScan — itself proof the expression is optimizer-evaluable,
    // which no ScalaUDF is — so the plan-shape pin needs a real scan.
    val pqDir = java.nio.file.Files.createTempDirectory("bloomprobe").toString
    fact.write.mode("overwrite").parquet(pqDir)
    val prePq = SkewJoin.bloomKeyFilter(spark.read.parquet(pqDir), keys, "k")
    assert(prePq.count() === preCount)
    val prePlan = prePq.queryExecution.executedPlan.toString
    assert(!prePlan.contains("UDF") && !prePlan.toLowerCase.contains("scalaudf"),
      s"bloomKeyFilter probe regressed to a ScalaUDF:\n${prePlan.take(800)}")
    assert(prePlan.contains("might_contain"),
      s"native BloomFilterMightContain missing from probe plan:\n${prePlan.take(800)}")
    // `*(n)` is toString's whole-stage-codegen marker; the probe Filter
    // must carry it (a UDF-bearing Filter loses the star)
    assert("""\*\(\d+\) Filter might_contain""".r.findFirstIn(prePlan).isDefined,
      s"probe Filter fell out of whole-stage codegen:\n${prePlan.take(800)}")
  }

  test("runtime-filter landscape: Spark injects on scan+filter shapes; " +
      "bloomSemiJoin covers programmatic key sets") {
    // Two halves of the same scale story. (1) When the semi join's key side
    // is a SCANNED table narrowed by a selective predicate, Spark's own
    // InjectRuntimeFilter plants a bloom_filter_might_contain prefilter on
    // the fact side (with the size thresholds the optimizer uses at real
    // scale lowered here so the tiny fixture qualifies) — the built-in
    // optimizer already covers that shape, and graft must NOT reinvent it.
    // (2) When the key side is PROGRAMMATIC (an in-memory frame, a dedup
    // survivor set, an audit list — no scan, no selective source filter),
    // the rule never fires even with every threshold at zero — THAT is the
    // gap SkewJoin.bloomSemiJoin fills explicitly. Both pins are plan-level
    // (the result equivalence is ScaleSpec's other bloom test + the oracle).
    val dir = java.nio.file.Files.createTempDirectory("rtf").toString
    Seq.tabulate(20000)(i => (i.toLong % 4000, s"row$i"))
      .toDF("k", "payload").write.parquet(s"$dir/fact")
    Seq.tabulate(4000)(i => (i.toLong, i % 97))
      .toDF("k", "sel").write.parquet(s"$dir/keys")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    def hasBloomProbe(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])))
    val fact = s2.read.parquet(s"$dir/fact")
    val scanKeys = s2.read.parquet(s"$dir/keys")
      .filter(col("sel") === 0).select("k")
    assert(hasBloomProbe(fact.join(scanKeys, Seq("k"), "left_semi")),
      "Spark's InjectRuntimeFilter should fire on the scan+filter key side")
    import s2.implicits._
    val progKeys = (0L until 4000L by 97).map(k => (k, "x"))
      .toDF("k", "tag").select("k")
    assert(!hasBloomProbe(fact.join(progKeys, Seq("k"), "left_semi")),
      "programmatic key sides are outside InjectRuntimeFilter's shape " +
        "(if this starts firing on some Spark upgrade, bloomSemiJoin's " +
        "scaladoc claim needs revisiting)")
  }

  test("bucketed tables join without a shuffle") {
    val mat = new Materializer(spark,
      java.nio.file.Files.createTempDirectory("bucket-wh").toString)
    val left = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val right = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    val lb = mat.materialize("bucketed_l", left, Bucketed(Seq("k"), 8))
    val rb = mat.materialize("bucketed_r", right, Bucketed(Seq("k"), 8))
    val joined = lb.join(rb, "k")
    assert(joined.count() === 1000)
    val shuffles = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"bucketed join should be shuffle-free, found ${shuffles.size} exchanges")
  }

  test("incremental materialization appends only rows past the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("inc-wh").toString
    val mat = new Materializer(spark, dir)
    val day1 = Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "d")
      .withColumn("d", col("d").cast("date"))
    mat.materialize("inc_t", day1, Incremental("d"))
    assert(spark.read.parquet(s"$dir/inc_t").count() === 2)
    // second batch: one stale row (before max watermark) + boundary + fresh.
    // the reference's `>= max` re-processes the boundary value (SURVEY §7.4#7)
    val day2 = Seq((1L, "2024-01-01"), (3L, "2024-01-02"), (4L, "2024-01-03"))
      .toDF("id", "d").withColumn("d", col("d").cast("date"))
    // the second write runs the watermark aggregate and the append, and no
    // schema-inference job over its target: one job fewer than inferring
    val target = s"$dir/inc_t"
    assert(TestSpark.jobsDuring(spark.read.parquet(target)) === 1, "inference runs a job")
    val watermark = TestSpark.jobsDuring(
      spark.read.schema(day2.schema).parquet(target).agg(max(col("d"))).head())
    assert(TestSpark.jobsDuring(mat.materialize("inc_t", day2, Incremental("d"))) === watermark + 1)
    val rows = spark.read.parquet(s"$dir/inc_t")
    assert(rows.count() === 4) // 2 + boundary(3) + fresh(4); stale 1 filtered
    assert(rows.filter(col("id") === 1L).count() === 1)
  }

  test("incremental materialization reads its target with the frame's schema") {
    val dir = java.nio.file.Files.createTempDirectory("inc-schema").toString
    val mat = new Materializer(spark, dir)
    val target = s"$dir/inc_s"
    mat.materialize("inc_s", Seq((1L, "2024-01-01", "a")).toDF("id", "d", "extra")
      .withColumn("d", col("d").cast("date")), Incremental("d"))
    // a frame without `extra`: the rows are appended, the view has the
    // frame's columns, and the first write's files keep `extra`
    val narrow = mat.materialize("inc_s", Seq((2L, "2024-01-02")).toDF("id", "d")
      .withColumn("d", col("d").cast("date")), Incremental("d"))
    assert(narrow.columns.toSeq === Seq("id", "d"))
    assert(spark.table("inc_s").columns.toSeq === Seq("id", "d"))
    assert(narrow.count() === 2)
    assert(spark.read.parquet(target).filter(col("extra") === "a").count() === 1)
    // a watermark column of another type fails the watermark read, before
    // the append: the target keeps its rows
    intercept[org.apache.spark.SparkException] {
      mat.materialize("inc_s", Seq((3L, "2024-01-03")).toDF("id", "d"), Incremental("d"))
    }
    assert(spark.read.parquet(target).count() === 2)
  }

  test("minhash LSH plan carries no broadcast hints (shingle corpus must scale)") {
    // the verification joins are doc_id equi-joins; a hard broadcast() hint
    // on the shingle side re-imports the memory bound LSH exists to escape.
    // AQE may still choose broadcast at runtime when sizes allow — that's
    // size-based and correct; a plan-time hint is not.
    val docs = (1 to 50).map(i => (i.toLong, s"document number $i with shared text"))
      .toDF("doc_id", "text")
    val hints = graft.operators.Dedup.minhashLshPairs(docs, threshold = 0.8)
      .queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
    assert(hints.isEmpty, s"expected no broadcast hints, found ${hints.size}")
  }

  test("CSV weather source/sink with Fahrenheit conversion (S9/F15)") {
    val dir = java.nio.file.Files.createTempDirectory("weather").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/w.csv"),
      "temperature,humidity,date\n212.0,10.5,2024-06-01\n32.0,80.0,2024-06-02\n")
    val df = CsvIo.readWeather(spark, s"$dir/w.csv")
    val rows = df.orderBy("date").collect()
    assert(rows(0).getAs[Double]("temperature_celsius") === 100.0)
    assert(rows(1).getAs[Double]("temperature_celsius") === 0.0)
    CsvIo.writeWeather(df, s"$dir/out")
    assert(CsvIo.readWeather(spark, s"$dir/out").count() === 2)
  }

  test("partitioned materialization prunes directories at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("part-wh").toString
    val m = new Materializer(spark, dir)
    val ev = graft.Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val back = m.materialize("ev_by_type", ev, Partitioned(Seq("event_type")))
    val filtered = back.filter(col("event_type") === "click")
    // the scan must carry a PARTITION filter (directory pruning), leaving
    // no data filter to evaluate per row
    val scan = filtered.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "no partition filters")
    assert(filtered.count() ===
      ev.filter(col("event_type") === "click").count())
    // and only the matching directory's files are read
    assert(scan.metadata("Location").contains("ev_by_type"))
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).forall(_.getPath.toString.contains("event_type=click")))
  }

  test("ORC table materialization round-trips with clustering") {
    val dir = java.nio.file.Files.createTempDirectory("orc-wh").toString
    val m = new Materializer(spark, dir)
    val n = graft.Tables(spark, "/root/testdata/sf0.001", "nation")
    val back = m.materialize("nation_orc", n,
      Table(clusterBy = Seq("n_regionkey"), format = "orc"))
    assert(back.count() === n.count())
    assert(back.schema === n.schema)
    // the files on disk are ORC, not parquet
    val files = new java.io.File(s"$dir/nation_orc").listFiles()
    assert(files.exists(_.getName.endsWith(".orc")), files.mkString(","))
  }

  /** Writes `rows` rows (two keys and a 64-character payload) as a `Table`
    * clustered on the keys with `clusterPartitions = 4`, in a new session
    * carrying `conf`, and returns how many files it wrote. The table must
    * hold exactly the input rows, and each file must be sorted on the keys.
    */
  private def clusteredFiles(rows: Long, conf: (String, String)*): Int = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    val dir = java.nio.file.Files.createTempDirectory("cluster-wh").toString
    val df = s.range(0, rows, 1, 4).select((col("id") * 7919 % 97).as("k"),
      (col("id") % 5).cast("string").as("tag"), sha2(col("id").cast("string"), 256).as("payload"))
    val back = new Materializer(s, dir, clusterPartitions = 4)
      .materialize("clustered", df, Table(clusterBy = Seq("k", "tag")))
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    val files = new java.io.File(s"$dir/clustered").listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet"))
    files.foreach { f =>
      val keys = s.read.parquet(f).select("k", "tag").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(keys === keys.sorted, s"$f is not sorted on the keys")
    }
    files.length
  }

  test("clustered Table under AQE: a small frame lands as one file") {
    assert(clusteredFiles(300) === 1)
  }

  test("clustered Table with AQE off: exactly clusterPartitions files") {
    assert(clusteredFiles(300, "spark.sql.adaptive.enabled" -> "false") === 4)
  }

  test("clustered Table above the advisory partition size: 2 to clusterPartitions files") {
    // 40000 rows shuffle more than the advisory size, while each of the 4
    // hash partitions stays below it (AQE would split a larger one). With
    // parallelism first off, the advisory size alone sizes the files.
    val n = clusteredFiles(40000,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1536k",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    assert(n >= 2 && n <= 4, s"$n files")
  }

  test("blocked-pairs block count grows with the corpus under a fixed memory budget") {
    import graft.operators.Dedup
    val byCores = Dedup.blockCount(spark, corpusBytes = 0L)
    // 100 GB corpus at a 256 MB task budget needs ≥ 2·corpus/budget blocks
    val big = Dedup.blockCount(spark, corpusBytes = 100L << 30)
    assert(big >= 800, s"memory bound ignored: B=$big")
    assert(big > byCores, "B must scale past the parallelism floor with corpus size")
    // and a small corpus stays at the parallelism-balanced floor
    assert(Dedup.blockCount(spark, corpusBytes = 1L << 20) === byCores)
  }

  test("memory-aware fanout bounds per-partition bytes for array-heavy stages") {
    val byCores = graft.Tuning.fanout(spark)
    // unknown / small payloads keep the cores-only count exactly
    assert(graft.Tuning.fanout(spark, 0L) === byCores)
    assert(graft.Tuning.fanout(spark, 1L << 20) === byCores)
    // 1 TB of shingle payload at the 256 MB default budget: ≥ 4096
    // partitions, NOT 2×cores — each task materializes a bounded slice
    val big = graft.Tuning.fanout(spark, 1L << 40)
    assert(big >= 4096, s"memory bound ignored: $big")
    assert(big > byCores)
    // monotone in the payload, and the task-count backstop holds
    assert(graft.Tuning.fanout(spark, 2L << 40) >= big)
    assert(graft.Tuning.fanout(spark, Long.MaxValue) === (1 << 20))
  }

  test("binPackFFD: a dominant group fans out across sub-groups, output partition-invariant") {
    import graft.operators.Packing
    import spark.implicits._
    // one dominant group ("en" = 90% of the corpus) plus a long tail —
    // the 100 TB shape the sub-grouping exists for. ~50 tokens per doc,
    // cap 600 tokens per sub-group → the en group MUST split.
    val docs = (1 to 400).map { i =>
      val g = if (i <= 360) "en" else s"g${i % 7}"
      (i.toLong, g, ("w " * (30 + i % 40)).trim)
    }
    val base = docs.toDF("doc_id", "lang", "text")
    val cap = 600L
    // the dominant group genuinely fans out: >= 10 content-derived sub-groups
    val subs = Packing.ffdSubGroups(base, "lang", cap)
      .filter($"grp" === "en").select($"sub").distinct().count()
    assert(subs >= 10, s"en fanned out to only $subs sub-groups at cap=$cap")
    def run(df: org.apache.spark.sql.DataFrame, shufflePartitions: Int) = {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
      try Packing.binPackFFD(df, budget = 512, maxSubGroupTokens = cap)
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    }
    // identical output across input partitioning AND shuffle width — the
    // sub-group assignment is content-derived, never partition-derived
    val a = run(base.repartition(3), 4)
    val b = run(base.repartition(17), 13)
    assert(a === b, "packing depended on partitioning")
    // invariants hold under sub-grouping: every doc once, budget respected
    assert(a.map(_._1) === docs.map(_._1))
    a.groupBy(_._4).values.foreach { xs =>
      val fill = xs.map(_._3).sum
      assert(xs.forall(_._5 == fill))
      assert(fill <= 512 || xs.length == 1, s"bin over budget: $xs")
      assert(xs.map(_._2).distinct.length === 1, "bin crossed groups")
    }
  }

  test("binPackFFD: null text and null group pack instead of crashing") {
    import graft.operators.Packing
    import spark.implicits._
    val d = Seq(
      (1L, "en", "a b c"), (2L, null, "d e"), (3L, null, null),
      (4L, "en", null), (5L, null, "f g h i")
    ).toDF("doc_id", "lang", "text")
    val rows = Packing.binPackFFD(d, budget = 4)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // every doc packed exactly once; null text = 0 tokens
    assert(rows.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L))
    assert(rows.find(_._1 == 3L).get._3 === 0L)
    assert(rows.find(_._1 == 4L).get._3 === 0L)
    // null group survives to the output and packs as ONE group, apart from "en"
    val nullGroupBins = rows.filter(_._2.isEmpty).map(_._4).toSet
    val enBins = rows.filter(_._2.contains("en")).map(_._4).toSet
    assert((nullGroupBins & enBins).isEmpty, "null group shared a bin with en")
    // null-group docs (2, 3, 5): 2+0+4 tokens under budget 4 → FFD packs
    // (5:4), (2:2 + 3:0) — two bins
    assert(nullGroupBins.size === 2)
  }

  test("binPackFFDInvariants: all violation counters zero on the real corpus") {
    import graft.operators.Packing
    val inv = Packing.binPackFFDInvariants(
      graft.Tables(spark, "/root/testdata/sf0.01", "documents"), budget = 512)
      .collect()
    assert(inv.nonEmpty)
    inv.foreach { r =>
      assert(r.getLong(3) === 0L, s"overfull_bins: $r")
      assert(r.getLong(4) === 0L, s"openerless_bins: $r")
      assert(r.getLong(5) === 0L, s"fill_mismatch_bins: $r")
      assert(r.getLong(6) === 0L, s"dup_docs: $r")
    }
  }
}
