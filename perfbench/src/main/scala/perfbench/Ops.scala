package perfbench

import java.nio.file.Path
import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** `operator_mix`: one sequential pass over a fixed set of `SparkEntry.queries`
  * entries, each written to the noop sink as `graft.Bench` does, over tables
  * generated from the seed in the layout of the TPC-H-shaped test data
  * (TESTDATA.md).
  */
final class OpsWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import OpsWorkload._

  private val data = dir("opsdata")
  private val outputs = dir("check/ops")

  def describe: Map[String, Any] = Map("entries" -> Entries, "rows" -> OpsGen.Rows)

  /** The warm-up pass writes each entry's rows for the oracle gate; measured
    * passes use the noop sink, as `graft.Bench` does, and leave nothing to
    * compare.
    */
  def setup(): Unit = {
    wipe(data)
    wipe(outputs)
    OpsGen.write(spark, data, seed)
    runEntries("warmup", e => df => df.write.parquet(outputs.resolve(e).toString))
  }

  def pass(run: String): PassResult =
    runEntries(run, _ => df => df.write.format("noop").mode("overwrite").save())

  private def runEntries(run: String,
                         sink: String => org.apache.spark.sql.DataFrame => Unit): PassResult = {
    val queries = graft.SparkEntry.queries
    var failed = 0
    val errs = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    val c0 = Cpu.work
    val times = tracer.span("pass.operator_mix") {
      Entries.map { e =>
        // as in graft.Bench: blocks pinned by the previous entry are released
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val s0 = System.nanoTime()
        try tracer.span(s"ops.$e") {
          sink(e)(queries(e)(spark, data.toString))
        } catch { case ex: Exception =>
          failed += 1
          errs += s"$e failed: $ex"
        }
        (System.nanoTime() - s0) / 1e6
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Cpu.work - c0
    val layers =
      if (!tracer.active) Map.empty[String, Double]
      else {
        val spans = tracer.spansOf(run)
        val byEntry = Entries.map(e => e -> spans.find(_.name == s"ops.$e")).toMap
        Entries.flatMap { e =>
          val s = byEntry(e)
          Seq(s"ops.${e}_s" -> s.map(_.seconds).getOrElse(0.0),
            s"ops.$e.shuffle_rows" -> s.flatMap(x => tracer.countersOf(x.id))
              .map(_.plan("shuffle_rows").toDouble).getOrElse(0.0))
        }.toMap ++ Map("ops.geomean_ms" -> Stats.geomean(times)) ++ Modules.map { m =>
          s"ops.${m}_s" -> Entries.filter(e => ModuleOf(e) == m)
            .flatMap(e => byEntry(e)).map(_.seconds).sum
        }
      }
    PassResult(wall, wall, wall, cpu, cpu, Entries.size, failed, errs.result(), layers)
  }

  def release(): Unit = releaseSessionState(dropViews = false)

  def check(): (Seq[String], Seq[String]) =
    Oracle.checkOps(spark, data.toString, outputs.toString, Entries, cores)
}

object OpsWorkload {
  /** The entries measured, by module. `ann_recall_check` (about 7 s),
    * `retrieval_mmr_check` (3 s), `graph_lpa_converged` (2.3 s),
    * `dedup_jaccard_prefix` (1 s) and `q21_waiting_suppliers` (0.7 s) cost
    * that much at any input size; a pass with them does not fit the run
    * budget (48 runs with set-up in 3420 s), so they stay with the full
    * battery.
    */
  val ModuleOf: Map[String, String] = Map(
    "ann_brute_topk" -> "Similarity",
    "retrieval_bm25_topk" -> "Retrieval",
    "dedup_minhash_lsh_check" -> "Dedup",
    "graph_link_prediction" -> "Clustering",
    "q18_large_orders" -> "Relational",
    "edgar_fact_composed" -> "ComposedPipeline")
  val Entries: Seq[String] = ModuleOf.keys.toSeq.sorted
  val Modules: Seq[String] = ModuleOf.values.toSeq.distinct.sorted
}

/** Seeded TPC-H-ish tables plus `documents` and `embeddings`, with the
  * column names and types of the TPC-H-shaped test data.
  */
object OpsGen {
  val Rows: Map[String, Int] = Map("customer" -> 300, "supplier" -> 30, "part" -> 400,
    "orders" -> 3000, "documents" -> 300, "embeddings" -> 300)

  private val Vocab = Vector("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "filter", "group",
    "stream", "vector")

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    import spark.implicits._
    val r = new Random(seed)
    def save(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(y0: Int, years: Int) =
      LocalDateTime.of(y0, 1, 1, 0, 0).plusDays(r.nextInt(365 * years).toLong)

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    save("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    val segs = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val nc = Rows("customer")
    save("customer", (0 until nc).map(i => (i.toLong, f"Customer#$i%09d", r.nextInt(25),
      money(-999, 9999), segs(r.nextInt(5))))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    val ns = Rows("supplier")
    save("supplier", (0 until ns).map(i => (i.toLong, f"Supplier#$i%09d", r.nextInt(25),
      money(-999, 9999))).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    val np = Rows("part")
    val colors = Vector("red", "blue", "green", "small", "large")
    val nouns = Vector("widget", "bolt", "ring", "gear", "valve")
    val types = Vector("ECONOMY", "STANDARD", "SMALL", "LARGE", "PROMO")
    val prices = (0 until np).map(i => 900.0 + (i % 1000) / 10.0)
    save("part", (0 until np).map(i => (i.toLong, s"${colors(r.nextInt(5))} ${nouns(r.nextInt(5))}",
      s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(5)), 1 + r.nextInt(50), prices(i)))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    val no = Rows("orders")
    val prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (0 until no).map(i => (i.toLong, r.nextInt(nc).toLong,
      Vector("F", "O", "P")(r.nextInt(3)), money(1000, 500000), day(1992, 7), prio(r.nextInt(5))))
    save("orders", orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))
    val lines = orders.flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val pk = r.nextInt(np)
        val q = (1 + r.nextInt(50)).toDouble
        (o._1, pk.toLong, r.nextInt(ns).toLong, ln, q, math.round(q * prices(pk) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
          if (r.nextBoolean()) "F" else "O", o._5.plusDays(1L + r.nextInt(120)))
      }
    }
    save("lineitem", lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"))
    val langs = Vector("en", "en", "en", "de", "es", "fr", "zh")
    // every fifth document whose id is a multiple of 3 is a one-word edit of
    // the one 30 ids earlier: near-duplicate pairs for the dedup entries
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until Rows("documents")).foreach { i =>
      texts += (if (i >= 30 && i % 3 == 0 && r.nextInt(5) == 0) {
        val words = texts(i - 30).split(" ")
        words.updated(r.nextInt(words.length), Vocab(r.nextInt(Vocab.size))).mkString(" ")
      } else Seq.fill(20 + r.nextInt(70))(Vocab(r.nextInt(Vocab.size))).mkString(" "))
    }
    save("documents", texts.zipWithIndex.map { case (text, i) =>
      (i.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))
    save("embeddings", (0 until Rows("embeddings")).map { i =>
      val v = Array.fill(graft.Tables.EmbeddingDim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
    }.toDF("vec_id", "embedding", "label"))
  }
}
