package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Measured ANN recall vs the exact baseline, per tier, at any scale —
  * the r15 verdict's task #1 evidence tool: the recall/agreement gates'
  * floors are geometry-DERIVED, and this main records the geometry's
  * MEASURED slack at each corpus size so "the N^(-1/6) probed-fraction
  * claim survives at 10×" is a number in COVERAGE.md, not an
  * extrapolation.
  *
  * Usage: `runMain graft.RecallProbe <sfDir> [tiers]` — prints one JSON
  * line: per-tier recall@10 against [[Similarity.bruteForceTopK]] (the
  * DuckDB-verified exact baseline at battery scales) over the standard
  * every-100th query panel. The brute arm is O(Q·N); with the panel
  * fixed by the `% 100` rule, Q = N/100 keeps the probe linear-ish up to
  * sf1 (4M scored pairs) and `SPARK_GRAFT_PANEL_EVERY` widens the stride
  * for larger corpora so Q stays bounded.
  */
object RecallProbe {

  def recallOf(brute: org.apache.spark.sql.DataFrame,
               approx: org.apache.spark.sql.DataFrame): Double = {
    val b = brute.select(col("q_id"), col("neighbor_id"))
    val hits = approx.select(col("q_id"), col("neighbor_id"))
      .join(b, Seq("q_id", "neighbor_id"), "left_semi").count()
    hits.toDouble / math.max(1L, b.count())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val wanted = if (args.length > 1) args(1).split(",").map(_.trim).toSet
                 else Set("ivf", "pq", "pq256", "ivfpq", "lsh", "quantized")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-recall-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables(spark, sfDir, "embeddings")
    val n = e.count()
    val k = 10
    val brute = Similarity.bruteForceTopK(e, k,
      dim = Some(Tables.EmbeddingDim))
      .select(col("q_id"), col("neighbor_id")).localCheckpoint()
    // SPARK_GRAFT_RERANK overrides the PQ tiers' rerankFactor — the knob
    // the recall-vs-R calibration sweeps
    val rr = sys.env.get("SPARK_GRAFT_RERANK").map(_.toInt)
    val tiers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ivf" -> (() => Similarity.ivfTopKKMeans(e, k, iters = 3)),
      "pq" -> (() => Similarity.pqTopK(e, k,
        rerankFactor = rr.getOrElse(8))),
      "pq256" -> (() => Similarity.pqTopK(e, k, m = 8, ks = 256,
        rerankFactor = rr.getOrElse(8))),
      "ivfpq" -> (() => Similarity.ivfPqTopK(e, k,
        rerankFactor = rr.getOrElse(0))),
      "lsh" -> (() => Similarity.lshTopK(e, k)),
      "quantized" -> (() => Similarity.quantizedTopK(e, k,
        rerankFactor = rr.getOrElse(4))))
    val rec = tiers.filter(t => wanted(t._1)).map { case (name, f) =>
      name -> recallOf(brute, f())
    }
    val js = rec.map { case (nm, r) => f""""$nm":$r%.4f""" }.mkString(",")
    println(s"""{"sf":"$sfDir","n":$n,"k":$k,"recall":{$js}}""")
    spark.stop()
  }
}
