package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.Ingest
import graft.fn.Keys

/** Property-style tests over seeded random samples (SURVEY.md §5 plan):
  * surrogate-key determinism and dbt_utils-formula equivalence, quarter
  * mapping vs the reference API's arithmetic, and fingerprint normalization
  * invariance. One Spark job per property (batched samples).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new Random(42)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("surrogate key == md5 of dash-joined coalesced casts, over 200 samples") {
    val samples = Seq.fill(200)((rnd.nextLong(999999999L),
      rnd.alphanumeric.take(rnd.nextInt(40)).mkString))
    val got = samples.toDF("cik", "name")
      .select(col("cik"), col("name"), Keys.surrogateKey(col("cik"), col("name")).as("sk"))
      .collect()
    got.foreach { r =>
      assert(r.getString(2) === md5hex(s"${r.getLong(0)}-${r.getString(1)}"))
    }
  }

  test("surrogate key treats null components as empty string (dbt_utils exact)") {
    val got = Seq((Some(42L), Option.empty[String]))
      .toDF("a", "b").select(Keys.surrogateKey(col("a"), col("b"))).head.getString(0)
    assert(got === md5hex("42-"))
    // nulls do NOT collapse with missing separators: ('a', null) ≠ ('a')
    val one = Seq(Tuple1("a")).toDF("a").select(Keys.surrogateKey(col("a"))).head.getString(0)
    assert(got !== one)
  }

  test("yearQuarter matches (month-1)/3+1 arithmetic across the valid range") {
    for (_ <- 1 to 300) {
      val y = 2009 + rnd.nextInt(16)
      val m = 1 + rnd.nextInt(12)
      val d = 1 + rnd.nextInt(28)
      assert(Ingest.yearQuarter(f"$y%04d-$m%02d-$d%02d") === s"${y}q${(m - 1) / 3 + 1}")
    }
  }

  test("fingerprint is invariant under whitespace and case noise") {
    val docs = Seq.fill(100) {
      val words = Seq.fill(1 + rnd.nextInt(12))(
        rnd.alphanumeric.filter(_.isLetter).take(1 + rnd.nextInt(8)).mkString.toLowerCase)
      val base = words.mkString(" ")
      val noisy = "  " + words.mkString("   ").toUpperCase + " "
      (base, noisy)
    }
    val fps = docs.toDF("base", "noisy").select(
      graft.operators.TextAnalysis.fingerprint(col("base")).as("a"),
      graft.operators.TextAnalysis.fingerprint(col("noisy")).as("b")).collect()
    fps.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("Ranking.topK ≡ sort each group by the order columns, take k (ties, nulls, small groups)") {
    // scores from a 5-value range (ties everywhere, broken by id), one in
    // ten null (ordered last under desc), 60 groups of ~7 rows, so k = 10
    // exceeds most groups; its own seed leaves the shared sequence of the
    // other properties as it was
    val r = new Random(10)
    val rows = (0 until 400).map { id =>
      (r.nextInt(60), id.toLong,
        if (r.nextInt(10) == 0) Option.empty[Int] else Some(r.nextInt(5)))
    }
    val df = rows.toDF("g", "id", "score")
    for (k <- Seq(1, 2, 3, 10)) {
      val cut = graft.fn.Ranking.topK(df, Seq(col("g")),
        Seq(col("score").desc, col("id")), k)
      assert(cut.schema("rank").dataType === org.apache.spark.sql.types.IntegerType)
      val got = cut.select("g", "id", "rank").as[(Int, Long, Int)].collect().toSet
      val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
        rs.sortBy { case (_, id, s) => (s.isEmpty, -s.getOrElse(0), id) }.take(k)
          .zipWithIndex.map { case ((_, id, _), i) => (g, id, i + 1) }
      }.toSet
      assert(got === want, s"k = $k")
    }
  }

  test("MinHashBandKeys matches the reference Scala computation") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val numHashes = 16
    val bands = 4
    val rows = numHashes / bands
    def refBandKeys(g: Array[Long]): Option[Array[Long]] =
      if (g.isEmpty) None
      else {
        val mins = Array.fill(numHashes)(Long.MaxValue)
        for (x <- g; i <- 0 until numHashes) {
          val h = XXH64.hashLong(x, i)
          if (h < mins(i)) mins(i) = h
        }
        Some(Array.tabulate(bands) { b =>
          (0 until rows).foldLeft(42L)((acc, r) => XXH64.hashLong(mins(b * rows + r), acc))
        })
      }
    val inputs = Seq.fill(60)(Array.fill(rnd.nextInt(30))(rnd.nextLong())) :+ Array.empty[Long]
    val got = inputs.map(Tuple1(_)).toDF("g")
      .select(graft.functions.MinHashBandKeys(col("g"), numHashes, bands).as("b"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getSeq[Long](0).toArray))
    inputs.zip(got).foreach { case (in, out) =>
      assert(out.map(_.toSeq) === refBandKeys(in).map(_.toSeq))
    }
  }

  test("asOfJoin agrees with a per-row max-filter reference on random data") {
    val lefts = Seq.tabulate(120)(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, rnd.nextInt(1000).toLong))
    val rights = Seq.tabulate(80)(i =>
      ((rnd.nextInt(6) + 1).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val got = graft.operators.Temporal.asOfJoin(
        lefts.toDF("event_id", "user_id", "ts"),
        rights.toDF("user_id", "ts", "tag"),
        key = "user_id", time = "ts", carry = Map("ts" -> "m_ts"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    lefts.foreach { case (id, u, t) =>
      val want = rights.collect { case (ru, rt, _) if ru == u && rt <= t => rt }
        .maxOption
      assert(got(id) === want, s"event $id (user $u, ts $t)")
    }
  }

  test("NgramShingleHashes ≡ declarative shingles: set size and pairwise intersections") {
    // the codegen'd kernel replaced array_sort(transform(shingles, xxhash64));
    // hash VALUES differ by design, but the SET semantics every consumer
    // relies on (|A|, |A∩B|, hence Jaccard) must be identical — including
    // multi-byte UTF-8, where n-grams are CHARACTER windows
    val alphabet = "abcdeé中 ß"
    val texts = Seq.fill(120)(
      Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    // reference computation in plain Scala: distinct char trigrams
    def refShingles(s: String): Set[String] =
      if (s.length < 3) Set.empty else s.sliding(3).toSet
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        graft.operators.Dedup.hashedShingles(col("text")).as("g"))
      .collect()
      .map(r => (r.getString(1), r.getSeq[Long](2)))
    rows.foreach { case (t, g) =>
      assert(g.length === refShingles(t).size, s"size mismatch for '$t'")
      assert(g === g.sorted, "kernel output must be sorted")
      assert(g.distinct.length === g.length, "kernel output must be distinct")
    }
    // pairwise |A∩B| must equal the string-set intersection size
    for (Seq((ta, ga), (tb, gb)) <- rows.take(30).combinations(2).map(_.toSeq)) {
      val want = refShingles(ta).intersect(refShingles(tb)).size
      assert(ga.toSet.intersect(gb.toSet).size === want,
        s"intersection mismatch for '$ta' × '$tb'")
    }
  }

  test("redactPii is idempotent and markers never re-match, over random PII mixes") {
    val pii = Seq("x.y@corp.io", "10.0.0.1", "123-45-6789", "555-123-4567")
    val words = Seq("alpha", "beta", "gamma", "delta", "1.5", "v2")
    val texts = Seq.fill(150)(
      Seq.fill(1 + rnd.nextInt(12))(
        if (rnd.nextInt(3) == 0) pii(rnd.nextInt(pii.size))
        else words(rnd.nextInt(words.size))).mkString(" "))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = graft.operators.Curation.redactPii(d)
      .select(col("doc_id"), col("text"), col("n_pii"))
    val twice = graft.operators.Curation.redactPii(once.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"), col("n_pii"))
    val o = once.as[(Long, String, Long)].collect().sortBy(_._1)
    val t2 = twice.as[(Long, String, Long)].collect().sortBy(_._1)
    // a second pass finds nothing (markers are inert) and changes nothing
    assert(t2.map(r => (r._1, r._2)).toSeq === o.map(r => (r._1, r._2)).toSeq)
    assert(t2.forall(_._3 == 0L), "second redaction pass found PII in markers")
    // and no raw PII string survives the first pass
    o.foreach { case (_, txt, _) =>
      pii.foreach(p => assert(!txt.contains(p), s"unredacted '$p' in '$txt'")) }
  }

  test("stratified samples nest: higher pct per stratum is a superset, over random maps") {
    val d = spark.range(2000).select(col("id"),
      when(col("id") % 4 === 0, "a").when(col("id") % 4 === 1, "b")
        .when(col("id") % 4 === 2, "c").otherwise("d").as("s"))
    for (_ <- 1 to 5) {
      val lo = Map("a" -> rnd.nextInt(50), "b" -> rnd.nextInt(50), "c" -> rnd.nextInt(50))
      val hi = lo.map { case (k, v) => k -> (v + rnd.nextInt(100 - v + 1).min(100 - v)) }
      val keptLo = graft.operators.Sampling.stratifiedSample(d, col("id"), col("s"), lo)
        .select("id").as[Long].collect().toSet
      val keptHi = graft.operators.Sampling.stratifiedSample(d, col("id"), col("s"), hi)
        .select("id").as[Long].collect().toSet
      assert(keptLo.subsetOf(keptHi), s"nesting broke for $lo vs $hi")
    }
  }

  test("Tuning.concurrently: input order, failure propagation, degenerate sizes") {
    // load-bearing for five oracled gates (concurrent invariant arms):
    // results must arrive in INPUT order regardless of completion order,
    // a failing thunk must propagate (no silent partial gate), and the
    // 0/1-thunk paths must run without spinning up a pool
    val slowFirst = graft.Tuning.concurrently(Seq[() => Int](
      () => { Thread.sleep(150); 1 },
      () => 2,
      () => { Thread.sleep(50); 3 }))
    assert(slowFirst === Seq(1, 2, 3))
    // Await.result rethrows the failed arm's exception directly
    val ex = intercept[IllegalStateException] {
      graft.Tuning.concurrently(Seq[() => Int](
        () => 1, () => throw new IllegalStateException("arm failed")))
    }
    assert(ex.getMessage === "arm failed")
    assert(graft.Tuning.concurrently(Seq.empty[() => Int]) === Seq.empty)
    assert(graft.Tuning.concurrently(Seq[() => Int](() => 7)) === Seq(7))
  }

  test("repetition ratios stay in [0,1] and exact duplication maximizes them") {
    val texts = Seq.fill(100)(
      Seq.fill(1 + rnd.nextInt(30))(
        Seq("w1", "w2", "w3", "w4")(rnd.nextInt(4))).mkString(" "))
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(
        graft.operators.TextAnalysis.dupTokenRatio(col("text")).as("dt"),
        graft.operators.TextAnalysis.dupBigramRatio(col("text")).as("db"))
      .as[(Double, Double)].collect()
    rows.foreach { case (dt, db) =>
      assert(dt >= 0.0 && dt < 1.0, s"dup_tok out of range: $dt")
      assert(db >= 0.0 && db < 1.0, s"dup_bigram out of range: $db")
    }
  }

  test("phraseMatches agrees with a sliding-window reference on random corpora") {
    // two independent spellings of the same contract: the engine's
    // posting-list anchor-alignment joins vs a local sliding-window scan.
    // Tiny vocabulary on purpose — maximal repeated-token and overlap
    // density, where an off-by-one in anchor arithmetic would surface.
    val vocab = Seq("a", "b", "c")
    for (round <- 0 until 3) {
      val docs = Seq.tabulate(40) { i =>
        (i.toLong,
          Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val phrase = Seq.fill(2 + round % 2)(vocab(rnd.nextInt(vocab.size)))
      val want = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").toSeq
        val anchors = toks.indices.dropRight(phrase.size - 1)
          .filter(a => phrase.indices.forall(j => toks(a + j) == phrase(j)))
        if (anchors.isEmpty) None
        else Some(id -> (anchors.size.toLong, anchors.min.toLong))
      }.toMap
      val got = graft.operators.Retrieval.phraseMatches(docs.toDF("doc_id", "text"), phrase)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"round $round phrase=$phrase")
    }
  }

  test("proximityMatches agrees with a brute-force window reference") {
    // the banded equi-join spelling vs a direct per-anchor scan — the band
    // arithmetic (⌊pos/(w+1)⌋ ± 1 covers every |Δ| ≤ w pair) is exactly
    // the kind of off-by-one a property net catches. Distinct-term corpora
    // only (the operator requires distinct terms); windows 1-4 sweep the
    // band-boundary cases.
    val vocab = Seq("a", "b", "c", "d")
    for (round <- 0 until 3) {
      val docs = Seq.tabulate(40) { i =>
        (i.toLong,
          Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val terms = rnd.shuffle(vocab).take(2 + round % 2)
      val w = 1 + rnd.nextInt(4)
      val want = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").toSeq
        val anchors = toks.indices.filter { a =>
          toks(a) == terms.head && terms.tail.forall { t =>
            toks.indices.exists(p => toks(p) == t && math.abs(p - a) <= w)
          }
        }
        if (anchors.isEmpty) None
        else Some(id -> (anchors.size.toLong, anchors.min.toLong))
      }.toMap
      val got = graft.operators.Retrieval
        .proximityMatches(docs.toDF("doc_id", "text"), terms, w)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got === want, s"round $round terms=$terms w=$w")
    }
  }

  test("HilbertKey: bijective curve with strict cell adjacency (which Morton lacks)") {
    import graft.functions.HilbertKey
    // full 2^4 × 2^4 grid: the 256 keys must be a permutation of 0..255
    // (bijectivity) and walking them in key order must move exactly ONE
    // Manhattan step per position — the defining Hilbert property and the
    // locality guarantee the zone-map tier prices. Morton on the same grid
    // must FAIL the adjacency check (the Z jumps), proving the test can
    // tell the curves apart.
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val keyed = grid.toDF("x", "y")
      .select(col("x"), col("y"), HilbertKey(col("x"), col("y"), 4).as("d"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(keyed.map(_._3).sorted.toSeq === (0L until 256L),
      "Hilbert keys are not a bijection onto 0..255")
    val path = keyed.sortBy(_._3)
    path.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, d)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"curve jumped at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
    val mortonPath = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.operators.Layout.mortonKey(col("x"), col("y")).as("d"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._3)
    val mortonJumps = mortonPath.sliding(2).count {
      case Array((x1, y1, _), (x2, y2, _)) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(mortonJumps > 0, "Morton unexpectedly adjacency-clean — test is vacuous")
    // reference agreement at a production-ish width on random points
    def ref(x0: Long, y0: Long, bits: Int): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val pts = Seq.fill(50)((rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong))
    val got = pts.toDF("x", "y")
      .select(HilbertKey(col("x"), col("y"), 20).as("d"))
      .collect().map(_.getLong(0))
    pts.zip(got).foreach { case ((x, y), g) =>
      assert(g === ref(x, y, 20), s"($x, $y)")
    }
    // out-of-grid fails loudly, never aliases
    val err = intercept[Exception] {
      Seq((1L << 20, 0L)).toDF("x", "y")
        .select(HilbertKey(col("x"), col("y"), 20)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("outside the 2^20 grid")), s"got: $err")
  }

  test("PqEncode matches the reference L2-argmin computation") {
    // the codegen'd block-wise encoder vs a direct per-block scan of the
    // FULL squared distance (the expression itself ranks by the expanded
    // ‖c‖²−2·x·c form — agreement proves the dropped ‖x_b‖² term and the
    // row-norm table are consistent). Ties keep the lowest code in both.
    val m = 4; val subDim = 3; val ks = 5; val dim = m * subDim
    val cb = Array.fill(m * ks * subDim)(rnd.nextDouble() * 2 - 1)
    // plant exact-duplicate rows in block 2 so the tie branch is exercised
    for (i <- 0 until subDim)
      cb(((2 * ks) + 3) * subDim + i) = cb(((2 * ks) + 1) * subDim + i)
    def ref(v: Array[Float]): Seq[Int] = (0 until m).map { b =>
      (0 until ks).minBy { c =>
        val off = ((b * ks) + c) * subDim
        (0 until subDim).map { i =>
          val d = v(b * subDim + i).toDouble - cb(off + i); d * d
        }.sum
      } // minBy keeps the first (lowest) index on ties
    }
    val inputs = Seq.fill(80)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val got = inputs.map(Tuple1(_)).toDF("v")
      .select(graft.functions.PqEncode(col("v"), cb, m, subDim, ks).as("c"))
      .collect().map(_.getSeq[Int](0))
    inputs.zip(got).foreach { case (in, out) =>
      assert(out === ref(in), s"input ${in.toSeq}")
    }
  }

  test("PqAdcTable matches the reference dot-product table, incl. at ks=256") {
    // the loop-codegen'd ADC table vs a direct Scala computation — run at
    // both the 16×32 test geometry and the m=8/ks=256 production point the
    // unrolled Column spelling could not codegen (the reason the native
    // expression exists)
    for ((m, ks) <- Seq((4, 5), (8, 256))) {
      val subDim = 3; val dim = m * subDim
      val cb = Array.fill(m * ks * subDim)(rnd.nextDouble() * 2 - 1)
      def ref(v: Array[Float]): Seq[Double] = (0 until m * ks).map { r =>
        val b = r / ks
        (0 until subDim).map(i =>
          v(b * subDim + i).toDouble * cb(r * subDim + i)).sum
      }
      val inputs = Seq.fill(20)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
      val got = inputs.map(Tuple1(_)).toDF("v")
        .select(graft.functions.PqAdcTable(col("v"), cb, m, subDim, ks).as("t"))
        .collect().map(_.getSeq[Double](0))
      inputs.zip(got).foreach { case (in, out) =>
        assert(out.length === m * ks)
        out.zip(ref(in)).foreach { case (g, w) =>
          assert(math.abs(g - w) < 1e-12, s"m=$m ks=$ks") }
      }
    }
  }

  test("PqRecNormSq matches the reference ‖centroid + decode(codes)‖²") {
    // the loop-codegen'd reconstruction norm vs a direct Scala decode —
    // at the test geometry and the m=8/ks=256 production point (the same
    // two-point protocol as PqAdcTable). Codes are random valid indices;
    // centroids random doubles.
    for ((m, ks) <- Seq((4, 5), (8, 256))) {
      val subDim = 3; val dim = m * subDim
      val cb = Array.fill(m * ks * subDim)(rnd.nextDouble() * 2 - 1)
      def ref(codes: Array[Int], cent: Array[Double]): Double =
        (0 until dim).map { i =>
          val b = i / subDim
          val v = cent(i) + cb((b * ks + codes(b)) * subDim + i % subDim)
          v * v
        }.sum
      val inputs = Seq.fill(20)((Array.fill(m)(rnd.nextInt(ks)),
        Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
      val got = inputs.toDF("codes", "cent")
        .select(graft.functions.PqRecNormSq(
          col("codes"), col("cent"), cb, m, subDim, ks).as("n"))
        .collect().map(_.getDouble(0))
      inputs.zip(got).foreach { case ((codes, cent), g) =>
        assert(math.abs(g - ref(codes, cent)) < 1e-12, s"m=$m ks=$ks")
      }
    }
  }
}
