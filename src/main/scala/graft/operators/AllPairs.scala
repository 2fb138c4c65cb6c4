package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The exact all-pairs executor behind [[Dedup.jaccardPairs]],
  * [[Dedup.cosinePairs]], the near-dup tier of [[Dedup.incrementalDedup]]
  * and the within-cell stage of [[SemDedup]]. A [[Metric]] says how to
  * score: `prep` runs once per row (a norm, say) and `score` once per pair.
  * One pair loop ([[against]]) keeps the pairs whose [[round4]] score
  * reaches the threshold. A pair join in SQL would copy two ~kB payloads
  * into every joined row before scoring it; here only passing pairs ever
  * become rows.
  *
  * Two modes feed the loop, and both give the same rows:
  *  - [[Broadcast]]: the side that fits is collected to the driver once and
  *    broadcast. Self pairs are driven by index strides over it (slot s owns
  *    rows s, s+slots, …): the input is scanned once, and interleaving
  *    balances the triangular work (row i pairs with n−i partners). Cross
  *    pairs stream the other side past it.
  *  - [[Blocked]]: the Afrati–Ullman block-pair scheme, with no driver
  *    collect and no broadcast. Rows hash into b blocks by id, and each
  *    unordered block pair (i ≤ j) is one task that holds exactly two
  *    blocks: √(2·tasks) replication, the minimum for all-pairs under a
  *    per-task memory cap. Cross pairs split the left side into b blocks
  *    and the right side into the parallelism floor of [[Dedup.blockCount]].
  *    The group stage is an RDD `groupByKey` with an explicit partition
  *    count: it is compute-bound, and AQE, which sees only shuffle bytes,
  *    would coalesce it onto one core.
  *
  * [[modeFor]] is the one selection rule. The executor itself takes the
  * mode as a parameter, so a test can force either one.
  */
private[graft] object AllPairs {

  sealed trait Mode
  case object Broadcast extends Mode
  final case class Blocked(b: Int) extends Mode

  /** Estimated payload of the side that would be broadcast, above which
    * the pairs run blocked: 64 MB, i.e. 8M chars of text at 8 bytes of
    * hashed shingles per char. It fits a default 1g driver together with
    * its serialized broadcast copy.
    */
  val MaxBroadcastBytes: Long = 64L << 20

  def modeFor(spark: SparkSession, payloadBytes: Long): Mode =
    if (payloadBytes <= MaxBroadcastBytes) Broadcast
    else Blocked(Dedup.blockCount(spark, payloadBytes))

  /** A pair metric: `prep` runs once per row, `score` once per pair; `name`
    * is the output score column. Methods, not function values, so a score
    * comes back as a primitive double, unboxed, on every pair.
    */
  abstract class Metric[P, Q](val name: String) extends Serializable {
    def prep(p: P): Q
    def score(a: Q, b: Q): Double
  }

  /** Set Jaccard of two sorted hashed-shingle sets by a two-pointer merge,
    * |A∩B| / (|A|+|B|−|A∩B|). Two empty sets give 0/0 = NaN.
    */
  object Jaccard extends Metric[Array[Long], Array[Long]]("jac") {
    def prep(g: Array[Long]): Array[Long] = g
    def score(ga: Array[Long], gb: Array[Long]): Double = {
      var i = 0; var j = 0; var n = 0
      while (i < ga.length && j < gb.length) {
        val x = ga(i); val y = gb(j)
        if (x == y) { n += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      n.toDouble / (ga.length + gb.length - n)
    }
  }

  /** Cosine of `dim`-float vectors, with the dot and the norms accumulated
    * sequentially in double: the same bits as [[graft.functions.VectorFns.dotN]]
    * and the DuckDB `list_sum` oracle.
    */
  final class Cosine(dim: Int) extends Metric[Array[Float], (Array[Float], Double)]("cos") {
    def prep(v: Array[Float]): (Array[Float], Double) = {
      var acc = 0.0; var i = 0
      while (i < dim) { val x = v(i).toDouble; acc += x * x; i += 1 }
      (v, math.sqrt(acc))
    }
    def score(a: (Array[Float], Double), b: (Array[Float], Double)): Double = {
      val va = a._1; val vb = b._1
      var dot = 0.0; var i = 0
      while (i < dim) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
      dot / (a._2 * b._2)
    }
  }

  def cosine(dim: Int): Metric[Array[Float], (Array[Float], Double)] = new Cosine(dim)

  /** The oracle's rounding: HALF_UP to 4 decimals, exactly Spark's
    * `round(double, 4)`. NaN (Jaccard of two empty shingle sets) maps below
    * every threshold, as the SQL form's NULL never passes its filter.
    */
  private def round4(x: Double): Double =
    if (x.isNaN) Double.NegativeInfinity
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private type Pair = (Long, Long, Double)

  /** The one pair loop: row `x` against `ys(from until ys.length)`, as
    * (x id, y id, score) for every pair whose rounded score reaches
    * `threshold`.
    */
  private def against[Q](x: (Long, Q), ys: Array[(Long, Q)], from: Int,
                         m: Metric[_, Q], threshold: Double): Iterator[Pair] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Pair]
    var j = from
    while (j < ys.length) {
      val r = round4(m.score(x._2, ys(j)._2))
      if (r >= threshold) out += ((x._1, ys(j)._1, r))
      j += 1
    }
    out.iterator
  }

  private def ordered(p: Pair): Pair = if (p._1 <= p._2) p else (p._2, p._1, p._3)

  /** Every pair of `rows` (id, payload), as (id_a < id_b, score). */
  def selfPairs[P, Q](rows: Dataset[(Long, P)], m: Metric[P, Q], threshold: Double,
                      mode: Mode): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val pairs = mode match {
      case Broadcast =>
        val items = rows.collect().map { case (id, p) => (id, m.prep(p)) }
        val bc = spark.sparkContext.broadcast(items)
        val slots = math.max(1, math.min(graft.Tuning.fanout(spark), items.length))
        // seeded from a range, not an RDD, so the plan keeps Range's size
        // estimate and a join downstream can still broadcast the pairs
        spark.range(0, slots, 1, slots).as[Long].mapPartitions { seeds =>
          val all = bc.value
          seeds.flatMap(s => Iterator.range(s.toInt, all.length, slots)
            .flatMap(i => against(all(i), all, i + 1, m, threshold))).map(ordered)
        }
      case Blocked(b) =>
        spark.createDataset(blockedSelf(rows.rdd.map(r => (0, r)), 1, b, m, threshold))
    }
    pairs.toDF("id_a", "id_b", m.name)
  }

  /** Every pair within each group of `rows` (group, id, payload), blocked
    * per group: task (group, bx, by) holds blocks bx and by of one group.
    * SemDedup's within-cell stage, with `groups` k-means cells.
    */
  def groupedPairs[P, Q](rows: Dataset[(Int, Long, P)], groups: Int, b: Int,
                         m: Metric[P, Q], threshold: Double): DataFrame =
    rows.sparkSession.createDataFrame(
      blockedSelf(rows.rdd.map { case (g, id, p) => (g, (id, p)) }, groups, b, m, threshold))
      .toDF("id_a", "id_b", m.name)

  private def blockedSelf[P, Q](rows: RDD[(Int, (Long, P))], groups: Int, b: Int,
                                m: Metric[P, Q], threshold: Double): RDD[Pair] = {
    val numTasks = math.min(groups.toLong * b * (b + 1) / 2, Int.MaxValue.toLong).toInt
    rows.flatMap { case (g, (id, p)) =>
      val blk = math.floorMod(id, b).toInt
      (0 until b).map(o => ((g, math.min(blk, o), math.max(blk, o)), (id, p)))
    }.groupByKey(numTasks).flatMap { case ((_, bx, by), group) =>
      val items = group.iterator.map { case (id, p) => (id, m.prep(p)) }.toArray
      val pairs =
        if (bx == by) Iterator.range(0, items.length)
          .flatMap(i => against(items(i), items, i + 1, m, threshold))
        else {
          val (xs, ys) = items.partition(r => math.floorMod(r._1, b) == bx)
          xs.iterator.flatMap(x => against(x, ys, 0, m, threshold))
        }
      pairs.map(ordered)
    }
  }

  /** Every (left, right) pair, as (id_a = left id, id_b = right id, score).
    * Broadcast mode broadcasts `left` and streams `right`.
    */
  def crossPairs[P, Q](left: Dataset[(Long, P)], right: Dataset[(Long, P)],
                       m: Metric[P, Q], threshold: Double, mode: Mode): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val pairs = mode match {
      case Broadcast =>
        val bc = spark.sparkContext.broadcast(
          left.collect().map { case (id, p) => (id, m.prep(p)) })
        right.repartition(graft.Tuning.fanout(spark)).mapPartitions { it =>
          val ls = bc.value
          it.flatMap { case (id, p) => against((id, m.prep(p)), ls, 0, m, threshold) }
            .map(p => (p._2, p._1, p._3))
        }
      case Blocked(bL) =>
        val bR = Dedup.blockCount(spark)
        val l = left.rdd.flatMap { case (id, p) =>
          val bl = math.floorMod(id, bL).toInt
          (0 until bR).map(br => ((bl, br), (true, id, p)))
        }
        val r = right.rdd.flatMap { case (id, p) =>
          val br = math.floorMod(id, bR).toInt
          (0 until bL).map(bl => ((bl, br), (false, id, p)))
        }
        val numTasks = math.min(bL.toLong * bR, Int.MaxValue.toLong).toInt
        spark.createDataset((l union r).groupByKey(numTasks).flatMap { case (_, group) =>
          val (ls, rs) = group.partition(_._1)
          val rp = rs.map { case (_, id, p) => (id, m.prep(p)) }.toArray
          ls.iterator.flatMap { case (_, id, p) => against((id, m.prep(p)), rp, 0, m, threshold) }
        })
    }
    pairs.toDF("id_a", "id_b", m.name)
  }
}
