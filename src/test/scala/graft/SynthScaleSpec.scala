package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the sf-scaling synthesizer: the 10× dataset is only evidence if
  * the copies keep FK consistency and keep the workload's similarity
  * structure (no cross-copy near-dups), so those invariants are pinned here
  * on a real (sf0.001) scale-out.
  */
class SynthScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val src = "/root/testdata/sf0.001"
  private lazy val out = {
    val dir = java.nio.file.Files.createTempDirectory("graft-synth").toString
    Tables.names.foreach(t => SynthScale.scaleTable(spark, src, dir, t, copies = 2))
    dir
  }

  test("row counts scale by the copy factor; fixed dims stay fixed") {
    val base = spark.read.parquet(s"$src/orders.parquet").count()
    assert(spark.read.parquet(s"$out/orders.parquet").count() === 2 * base)
    val li = spark.read.parquet(s"$src/lineitem.parquet").count()
    assert(spark.read.parquet(s"$out/lineitem.parquet").count() === 2 * li)
    assert(spark.read.parquet(s"$out/nation.parquet").count() ===
      spark.read.parquet(s"$src/nation.parquet").count())
  }

  test("foreign keys stay consistent: orders⋈customer scales exactly") {
    def joined(dir: String) = {
      val o = spark.read.parquet(s"$dir/orders.parquet")
      val c = spark.read.parquet(s"$dir/customer.parquet")
      o.join(c, o("o_custkey") === c("c_custkey")).count()
    }
    assert(joined(out) === 2 * joined(src))
    // and no order dangles: every o_custkey resolves in both copies
    val o = spark.read.parquet(s"$out/orders.parquet")
    val c = spark.read.parquet(s"$out/customer.parquet")
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() === 0L)
  }

  test("document copies are isomorphic but shingle-disjoint (no cross-copy near-dups)") {
    val d = spark.read.parquet(s"$out/documents.parquet")
    val base = d.filter(col("doc_id") < SynthScale.KeyStride)
      .select(col("doc_id"), col("text").as("t0"), length(col("text")).as("len0"))
    val copy = d.filter(col("doc_id") >= SynthScale.KeyStride)
      .select((col("doc_id") - SynthScale.KeyStride).as("doc_id"),
        col("text").as("t1"), length(col("text")).as("len1"))
    val both = base.join(copy, "doc_id")
    assert(both.count() === base.count())
    // isomorphic: identical length, different bytes (rotation is a bijection)
    assert(both.filter(col("len0") =!= col("len1")).count() === 0L)
    assert(both.filter(col("t0") === col("t1")).count() === 0L)
    // exact-dup groups stay entirely within one copy: a rotation can never
    // equal an unrotated text of the same corpus (distinct alphabets)
    val groups = d.groupBy(col("text"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val cross = groups.filter(col("lo") < SynthScale.KeyStride &&
      col("hi") >= SynthScale.KeyStride)
    assert(cross.count() === 0L)
  }

  test("embedding sign flips preserve norms and within-copy cosines, kill cross-copy ones") {
    val e = spark.read.parquet(s"$out/embeddings.parquet")
    val base = e.filter(col("vec_id") < SynthScale.KeyStride)
    val copy = e.filter(col("vec_id") >= SynthScale.KeyStride)
      .select((col("vec_id") - SynthScale.KeyStride).as("vec_id"),
        col("embedding").as("emb1"))
    val both = base.select(col("vec_id"), col("embedding").as("emb0")).join(copy, "vec_id")
    import graft.functions.VectorFns
    // norms identical (diagonal ±1 is orthogonal)
    val maxNormDiff = both.select(
        abs(VectorFns.l2norm(col("emb0")) - VectorFns.l2norm(col("emb1"))).as("d"))
      .agg(max(col("d"))).head.getDouble(0)
    assert(maxNormDiff < 1e-6)
    // a vector and its flipped twin sit near cosine 0 (50% of dims flip):
    // no cross-copy pair can reach the battery's τ ≥ 0.9 near-dup range
    val maxCross = both.select(abs(VectorFns.cosine(col("emb0"), col("emb1"))).as("c"))
      .agg(max(col("c"))).head.getDouble(0)
    assert(maxCross < 0.9, s"cross-copy cosine $maxCross reaches near-dup range")
  }
}
