package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AllPairs, Clustering, Dedup, Sampling, Temporal}

/** Specs for the round-3 "beyond" operators: as-of join, bucketed range
  * join, deterministic hash split, and connected-components dedup
  * clustering — all over hand-computable fixtures.
  */
class TemporalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("coalesceIntervals: containment, touching, disjoint — running max, not lag") {
    // key 1: [0,100] contains [10,20] (must NOT split — the lag(end) bug),
    // [100,150] touches end-to-start (merges), [200,250] is disjoint.
    // key 2: single interval.
    val rows = Seq(
      (1L, 0L, 100L), (1L, 10L, 20L), (1L, 100L, 150L), (1L, 200L, 250L),
      (2L, 5L, 6L)
    ).toDF("k", "s", "e")
    val got = Temporal.coalesceIntervals(rows, "k", "s", "e")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got === Map(
      (1L, 0L) -> (0L, 150L, 3L),
      (1L, 1L) -> (200L, 250L, 1L),
      (2L, 0L) -> (5L, 6L, 1L)))
  }

  test("sessionize: gap breaks, 0-based session seq, per-session numbering, ties") {
    // user 1: gaps of 5, 100 (break), 5, 100 (break) at gap=50 → three
    // sessions of sizes 2/2/1; a ts tie inside session 0 pins the id
    // tiebreak. user 2: one event → one singleton session.
    val rows = Seq(
      (1L, 10L, 1L), (1L, 15L, 2L), (1L, 115L, 3L), (1L, 120L, 4L),
      (1L, 220L, 5L),
      (2L, 40L, 6L)
    ).toDF("user_id", "ts_us", "event_id")
    val got = Temporal.sessionize(rows, "user_id", "ts_us", "event_id", gapUs = 50L)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got === Map(
      1L -> (0L, 1L), 2L -> (0L, 2L),
      3L -> (1L, 1L), 4L -> (1L, 2L),
      5L -> (2L, 1L),
      6L -> (0L, 1L)))
    // exact-gap boundary: a gap of EXACTLY gapUs does not break (strict >)
    val edge = Seq((3L, 0L, 7L), (3L, 50L, 8L)).toDF("user_id", "ts_us", "event_id")
    val e = Temporal.sessionize(edge, "user_id", "ts_us", "event_id", gapUs = 50L)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(e === Map(7L -> 0L, 8L -> 0L))
  }

  test("ewmaSmooth equals a plain Scala fold, bit for bit, with ts ties") {
    // the one-pass HOF fold vs a direct sequential fold over the same
    // (ts, id)-sorted series — EXACT double equality is the contract the
    // unrounded oracle relies on. Ties on ts (ids 4/5 share t=40) pin the
    // id tiebreak; a lone-event entity pins the y₀ = x₀ base case.
    val rows = Seq( // (user, id, ts, value)
      (1L, 1L, 10L, 2.0), (1L, 2L, 30L, 5.5), (1L, 3L, 20L, -1.25),
      (1L, 4L, 40L, 0.3), (1L, 5L, 40L, 9.0),
      (2L, 6L, 7L, 4.75) // single event: ewma = value
    )
    val alpha = 0.3
    val want = rows.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val ys = sorted.tail.scanLeft(sorted.head._4) {
        (acc, e) => alpha * e._4 + (1 - alpha) * acc
      }
      sorted.map(_._2).zip(ys).map { case (id, y) => (u, id) -> y }
    }
    val got = Temporal.ewmaSmooth(
        rows.toDF("user_id", "event_id", "ts", "value")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        "user_id", "ts", "event_id", "value", alpha)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, w) =>
      assert(got(k) === w, s"ewma drifted at $k") // exact, no tolerance
    }
  }

  test("holtSmooth equals a plain Scala coupled fold, bit for bit; " +
    "tracks a linear ramp EWMA lags") {
    val rows = Seq( // (user, id, ts, value)
      (1L, 1L, 10L, 10.0), (1L, 2L, 20L, 20.0), (1L, 3L, 30L, 30.0),
      (1L, 4L, 40L, 40.0), (1L, 5L, 50L, 50.0),
      (2L, 6L, 7L, 4.75) // single event: level = value
    )
    val (alpha, beta) = (0.5, 0.3)
    val want = rows.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val ls = sorted.tail.scanLeft((sorted.head._4, 0.0)) {
        case ((l, b), e) =>
          val lnew = alpha * e._4 + (1 - alpha) * (l + b)
          (lnew, beta * (lnew - l) + (1 - beta) * b)
      }.map(_._1)
      sorted.map(_._2).zip(ls).map { case (id, y) => (u, id) -> y }
    }
    val df = rows.toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val got = Temporal.holtSmooth(df, "user_id", "ts", "event_id", "value",
        alpha, beta)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, w) =>
      assert(got(k) === w, s"holt drifted at $k") // exact, no tolerance
    }
    // on the perfect ramp, Holt's trend closes the gap EWMA structurally
    // keeps: at the 5th point Holt is nearer the signal than EWMA
    val ew = Temporal.ewmaSmooth(df, "user_id", "ts", "event_id", "value",
        alpha).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(got((1L, 5L)) - 50.0) < math.abs(ew((1L, 5L)) - 50.0),
      s"holt ${got((1L, 5L))} should beat ewma ${ew((1L, 5L))} on a ramp")
  }

  test("rollingMadAnomaly: planted spike flagged, robustness to the spike itself") {
    // user 1: steady series with one spike at id 4 — the spike must flag,
    // and the rows WINDOWING OVER the spike must not (median robustness:
    // a mean/stddev monitor would inflate and mask); the head rows with
    // short windows must behave (row 1: window = [x], med = x, mad = 0,
    // dev = 0 → 0 > 0 is false). user 2: constant series — mad = 0
    // everywhere, never flags.
    val rows = Seq(
      (1L, 1L, 10L, 5.0), (1L, 2L, 20L, 5.2), (1L, 3L, 30L, 4.9),
      (1L, 4L, 40L, 50.0), // spike
      (1L, 5L, 50L, 5.1), (1L, 6L, 60L, 5.0), (1L, 7L, 70L, 4.8),
      (2L, 8L, 10L, 7.0), (2L, 9L, 20L, 7.0), (2L, 10L, 30L, 7.0)
    ).toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val got = Temporal.rollingMadAnomaly(rows, "user_id", "ts", "event_id",
        "value", lookback = 4, cut = 3.0)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(got(4L), "the planted spike did not flag")
    (Seq(1L, 2L, 3L, 5L, 6L, 7L) ++ Seq(8L, 9L, 10L)).foreach { id =>
      assert(!got(id), s"false positive at id=$id")
    }
  }

  test("asOfJoin: latest at-or-before match, ties, and no-match null") {
    val left = Seq( // (event_id, user, ts)
      (1L, 10L, 100L), // after right@50 and right@100 → tie: right@100 wins
      (2L, 10L, 60L),  // between 50 and 100 → right@50
      (3L, 10L, 40L),  // before all → null
      (4L, 20L, 500L)  // user with no right rows → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 50L, "a"), (10L, 100L, "b"), (30L, 10L, "z")
    ).toDF("user_id", "ts", "tag")
    val out = Temporal.asOfJoin(left, right, "user_id", "ts",
        carry = Map("ts" -> "m_ts", "tag" -> "m_tag"))
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4))))
    assert(out === Array(
      (1L, Some(100L), Some("b")),
      (2L, Some(50L), Some("a")),
      (3L, None, None),
      (4L, None, None)))
  }

  test("asOfJoin: NULL keys never match each other (SQL equality semantics)") {
    // the window's partitionBy groups null keys into one partition, which
    // without the right-side null filter would hand a null-keyed left row a
    // null-keyed right row's carry — DuckDB ASOF (ON l.k = r.k), pandas
    // merge_asof, and any SQL join all produce NO match there
    val left = Seq(
      (1L, Option(10L), 100L),      // normal match
      (2L, Option.empty[Long], 100L) // null key → must stay unmatched
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (Option(10L), 50L, "a"),
      (Option.empty[Long], 60L, "n") // null-keyed right row: matchable by nobody
    ).toDF("user_id", "ts", "tag")
    val out = Temporal.asOfJoin(left, right, "user_id", "ts",
        carry = Map("ts" -> "m_ts", "tag" -> "m_tag"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4))))
    assert(out === Array(
      (1L, Some(50L), Some("a")),
      (2L, None, None)), s"null-key rows matched: ${out.mkString(",")}")
  }

  test("asOfJoin directions and tolerance: forward, nearest, bounded lookback") {
    val left = Seq(
      (1L, 10L, 100L), // right rows at 50 and 100
      (2L, 10L, 60L),
      (3L, 10L, 40L),
      (4L, 20L, 500L)  // user with no right rows
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 50L, "a"), (10L, 100L, "b"), (30L, 10L, "z")
    ).toDF("user_id", "ts", "tag")
    def run(direction: String, tol: Option[Long]) =
      Temporal.asOfJoin(left, right, "user_id", "ts",
          carry = Map("tag" -> "m_tag"), direction = direction, tolerance = tol)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), Option(r.get(3)))).toSeq
    // forward: earliest right AT or after; right at the left ts matches
    assert(run("forward", None) === Seq(
      (1L, Some("b")), (2L, Some("b")), (3L, Some("a")), (4L, None)))
    // nearest: closer side wins (60 → back@50 dist 10 beats fwd@100 dist 40;
    // 40 → only fwd@50 exists); exact-at matches count as distance 0
    assert(run("nearest", None) === Seq(
      (1L, Some("b")), (2L, Some("a")), (3L, Some("a")), (4L, None)))
    // backward tolerance: 60→50 is within 15 but not within 5
    assert(run("backward", Some(15L)) === Seq(
      (1L, Some("b")), (2L, Some("a")), (3L, None), (4L, None)))
    assert(run("backward", Some(5L)) === Seq(
      (1L, Some("b")), (2L, None), (3L, None), (4L, None)))
    // forward tolerance: 60→100 (dist 40) nulls under 30; 40→50 survives
    assert(run("forward", Some(30L)) === Seq(
      (1L, Some("b")), (2L, None), (3L, Some("a")), (4L, None)))
    // nearest tolerance gates each side BEFORE choosing: at tol=30 the
    // backward candidate for 60 (dist 10) survives, forward (dist 40) dies
    assert(run("nearest", Some(30L)) === Seq(
      (1L, Some("b")), (2L, Some("a")), (3L, Some("a")), (4L, None)))
    // tie at equal distance goes backward (pandas): left@75 between 50 and
    // 100 — equidistant 25 → backward 'a'
    val tieLeft = Seq((9L, 10L, 75L)).toDF("event_id", "user_id", "ts")
    val tie = Temporal.asOfJoin(tieLeft, right, "user_id", "ts",
        carry = Map("tag" -> "m_tag"), direction = "nearest")
      .collect().map(r => Option(r.get(3))).toSeq
    assert(tie === Seq(Some("a")))
  }

  test("asOfJoin: a null carried value on the matched row stays null (atomic row carry)") {
    // right@100 has tag=NULL; carrying columns independently would fill the
    // tag from the OLDER right@50 row — all carried values must come from
    // the same (latest) right row
    val left = Seq((1L, 10L, 150L)).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, 50L, Some("a")), (10L, 100L, Option.empty[String]))
      .toDF("user_id", "ts", "tag")
    val r = Temporal.asOfJoin(left, right, "user_id", "ts",
        carry = Map("ts" -> "m_ts", "tag" -> "m_tag")).head
    assert(r.getLong(3) === 100L)
    assert(r.isNullAt(4), s"tag must be the matched row's NULL, got ${r.get(4)}")
  }

  test("incrementalDedup: blocked cross-set path is value-identical to broadcast") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (12L, "the quick brown fox jumps over the lazy cat"),
      (13L, "entirely novel text that matches nothing else here")
    ).toDF("doc_id", "text")
    // the near-dup tier's cross pairs (batch × corpus), in both modes of
    // the one executor: broadcast batch, and 3 batch blocks × the corpus
    def cross(mode: AllPairs.Mode) = AllPairs.crossPairs(Dedup.shingleSets(batch),
        Dedup.shingleSets(corpus), AllPairs.Jaccard, 0.8, mode)
      .as[(Long, Long, Double)].collect().toSet
    val broadcastPath = cross(AllPairs.Broadcast)
    val blockedPath = cross(AllPairs.Blocked(3))
    assert(broadcastPath.map(p => (p._1, p._2)) === Set((10L, 0L), (12L, 0L)))
    assert(blockedPath === broadcastPath)
    // the public result: the batch minus every doc with a near-dup pair
    val admitted = Dedup.incrementalDedup(corpus, batch, 0.8).as[Long].collect().toSet
    assert(admitted === Set(13L))
    assert(admitted === Set(10L, 12L, 13L) -- broadcastPath.map(_._1))
  }

  test("rangeJoinBucketed: (start, end] boundaries across bucket edges") {
    val intervals = Seq( // (iv_id, key, start, end]; width 100
      (1L, 7L, 100L, 200L),
      (2L, 7L, 250L, 350L) // spans buckets 2..3
    ).toDF("iv_id", "k", "s", "e")
    val points = Seq( // (pt_id, key, t)
      (10L, 7L, 100L), // == start → excluded
      (11L, 7L, 101L), // in (100,200]
      (12L, 7L, 200L), // == end → included
      (13L, 7L, 300L), // inside interval 2, different bucket than its start
      (14L, 7L, 351L), // just past end of 2
      (15L, 8L, 150L)  // wrong key
    ).toDF("pt_id", "k", "t")
    val got = Temporal.rangeJoinBucketed(intervals, points,
        key = "k", startCol = "s", endCol = "e", timeCol = "t",
        bucketWidth = 100L)
      .select("iv_id", "pt_id").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 11L), (1L, 12L), (2L, 13L)))
  }

  test("hashSplit: deterministic, in-range, and md5-derived") {
    val df = spark.range(1000)
      .select(col("id"), Sampling.hashBucket(col("id")).as("b"),
        Sampling.hashSplit(col("id")).as("split"))
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 100))
    // pinned example: bucket of key 42 is the md5-derived value DuckDB
    // computes (md5('42') = a1d0c6e8... → 0xa1d0c6e8 % 100 = 84 → val)
    val r42 = rows.find(_.getLong(0) == 42L).get
    assert(r42.getLong(1) === 84L)
    assert(r42.getString(2) === "val")
    // same input → same split on re-evaluation (pure function, no rand())
    val again = df.collect()
    assert(rows.map(_.getString(2)).toSeq === again.map(_.getString(2)).toSeq)
    // rough proportions at n=1000 (uniform hash: ±5% slack)
    val bySplit = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit("train") > 750 && bySplit("train") < 850)
    // hashSample: deterministic Bernoulli — exactly the rows whose bucket
    // falls under pct, so sample(20) ⊇ sample(10) and both re-derive
    val s10 = Sampling.hashSample(spark.range(1000).toDF("id"), col("id"), 10)
      .as[Long].collect().toSet
    val s20 = Sampling.hashSample(spark.range(1000).toDF("id"), col("id"), 20)
      .as[Long].collect().toSet
    assert(s10.subsetOf(s20), "sample nesting broken")
    assert(s10.size > 50 && s10.size < 150, s"sample size off: ${s10.size}")
    assert(s10 === rows.filter(_.getLong(1) < 10).map(_.getLong(0)).toSet)
  }

  test("stratifiedSample: per-stratum rates, default pass-through, hash-consistency") {
    val d = spark.range(1000)
      .select(col("id"),
        when(col("id") % 3 === 0, "en").when(col("id") % 3 === 1, "de")
          .otherwise("fr").as("lang"))
    val kept = Sampling.stratifiedSample(d, col("id"), col("lang"),
      pcts = Map("en" -> 10, "de" -> 50))
      .as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    // ~334 per stratum before sampling; uniform hash → rate ± slack
    assert(byLang("en") > 15 && byLang("en") < 55, s"en rate off: ${byLang("en")}")
    assert(byLang("de") > 130 && byLang("de") < 210, s"de rate off: ${byLang("de")}")
    // absent stratum keeps defaultPct=100: every fr row survives
    assert(byLang("fr") === 333)
    // membership is the same hash decision hashSample makes at that pct —
    // the strata compose, they don't re-randomize
    val en10 = Sampling.hashSample(d.filter(col("lang") === "en"), col("id"), 10)
      .select("id").as[Long].collect().toSet
    assert(kept.filter(_._2 == "en").map(_._1).toSet === en10)
  }

  test("connectedComponents: chain, triangle, and min-id labels") {
    val pairs = Seq(
      // chain 1-2-3-4 (tests multi-hop propagation)
      (1L, 2L), (2L, 3L), (3L, 4L),
      // triangle 10-11-12
      (10L, 11L), (11L, 12L), (10L, 12L),
      // isolated pair
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Clustering.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: empty input converges immediately") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Clustering.connectedComponents(empty).count() === 0L)
  }

  test("pageRank: uniform on a cycle, mass-conserving, hub-dominant on a star") {
    // 3-cycle: the stationary distribution is exactly uniform at EVERY
    // iteration (symmetry), so even a finite power iteration is exact
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val prC = Clustering.pageRank(cycle, iters = 4).as[(Long, Double)].collect().toMap
    prC.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, prC))
    // undirected star 1↔{2,3,4}: the hub holds the most mass; total mass ≡ 1
    val star = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val prS = Clustering.pageRank(star, iters = 8).as[(Long, Double)].collect().toMap
    assert(math.abs(prS.values.sum - 1.0) < 1e-9, prS)
    assert(prS(1L) > prS(2L) && prS(2L) === prS(3L) && prS(3L) === prS(4L), prS)
    // hand value: hub alternates toward d/(1+d)... pin the closed loop
    // partially — leaves split the remainder equally
    assert(math.abs(prS(2L) - (1.0 - prS(1L)) / 3) < 1e-12, prS)
  }

  test("triangles: K4, star, shared-edge pair — exact sets") {
    // K4: every 3-subset is a triangle → 4 triangles, each node in 3
    val k4 = (for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)).toDF("src", "dst")
    val c4 = Clustering.triangleCounts(k4)
      .as[(String, Long)].collect().toMap
    assert(c4 === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(Clustering.triangles(k4).count() === 4L)
    // star: no triangles at all (and degree orientation builds zero wedges
    // at the hub — the skew-robustness the operator exists for)
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z"), ("h", "w")).toDF("src", "dst")
    assert(Clustering.triangles(star).count() === 0L)
    // two triangles sharing edge b-c
    val shared = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"))
      .toDF("src", "dst")
    val cs = Clustering.triangleCounts(shared).as[(String, Long)].collect().toMap
    assert(cs === Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("triangles: degree orientation matches brute force on a random graph") {
    val rnd = new scala.util.Random(1234)
    val n = 24
    val edges = (for {
      a <- 0 until n; b <- 0 until n if a < b && rnd.nextDouble() < 0.22
    } yield (s"n$a", s"n$b"))
    val adj = edges.toSet
    def hasEdge(x: String, y: String) =
      adj.contains((x, y)) || adj.contains((y, x))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = (for {
      i <- nodes.indices; j <- i + 1 until nodes.length; k <- j + 1 until nodes.length
      if hasEdge(nodes(i), nodes(j)) && hasEdge(nodes(j), nodes(k)) &&
        hasEdge(nodes(i), nodes(k))
    } yield Seq(nodes(i), nodes(j), nodes(k))).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Clustering.triangleCounts(edges.toDF("src", "dst"))
      .as[(String, Long)].collect().toMap
    assert(got === brute)
  }

  test("kCore: cascading peel, maximality, empty core") {
    // path a-b-c-d-e with k=2: peeling cascades from both ends to empty
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    assert(Clustering.kCore(path, k = 2).count() === 0L)
    // triangle + tail c-d-e: 2-core is exactly the triangle (d peels only
    // AFTER e does — a genuine multi-round cascade)
    val triTail = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    assert(Clustering.kCore(triTail, k = 2).as[String].collect().toSet ===
      Set("a", "b", "c"))
    // K4: 3-core is everything; 4-core is empty
    val k4 = (for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)).toDF("src", "dst")
    assert(Clustering.kCore(k4, k = 3).count() === 4L)
    assert(Clustering.kCore(k4, k = 4).count() === 0L)
  }

  test("kCore: batched peeling ≡ single-step peeling on a deep cascade") {
    // 24-node path with a K5 anchor at one end, k=2: the path unravels one
    // node per peel STEP from the free end (peel depth ~22 — the shape
    // that motivates batching), the K5 survives. maxBatch=1 is the
    // pre-batching engine; the geometric default must reach the identical
    // fixpoint in far fewer driver rounds.
    val path = (0 until 23).map(i => (s"p$i", s"p${i + 1}"))
    val anchor = for {
      a <- Seq("p0", "q1", "q2", "q3", "q4")
      b <- Seq("p0", "q1", "q2", "q3", "q4") if a < b
    } yield (a, b)
    val edges = (path ++ anchor).toDF("src", "dst")
    val expected = Set("p0", "q1", "q2", "q3", "q4")
    assert(Clustering.kCore(edges, k = 2, maxBatch = 1).as[String].collect().toSet
      === expected)
    assert(Clustering.kCore(edges, k = 2).as[String].collect().toSet === expected)
  }

  test("bfsHops: radius cap, min-over-sources tiers, isolated seed, early stop") {
    def hops(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) =
      Clustering.bfsHops(edges.toDF("src", "dst"), seeds.toDF("node"), maxHops)
        .as[(Long, Int)].collect().toMap
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    // single source, radius 3: nodes 5, 6 lie beyond the cap
    assert(hops(path, Seq(1L), 3) ===
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // two sources: each node takes the MIN hop over sources
    assert(hops(path, Seq(1L, 6L), 3) ===
      Map(1L -> 0, 6L -> 0, 2L -> 1, 5L -> 1, 3L -> 2, 4L -> 2))
    // an isolated seed (no edges touch 99) still surfaces at hop 0, and a
    // duplicated seed list must not duplicate rows
    assert(hops(path, Seq(99L, 99L, 1L), 1) ===
      Map(99L -> 0, 1L -> 0, 2L -> 1))
    // early stop: the triangle is exhausted at hop 1 — a generous cap must
    // terminate (frontier empties) and add nothing
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(hops(tri, Seq(1L), 5) === Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("ssspBounded: longer-but-cheaper path wins within the radius, " +
    "loses beyond it; min over sources; undirected") {
    def dists(edges: Seq[(Long, Long, Double)], seeds: Seq[Long], maxHops: Int) =
      Clustering.ssspBounded(edges.toDF("src", "dst", "w"),
          seeds.toDF("node"), maxHops)
        .as[(Long, Double)].collect().toMap
    // 1→4 direct costs 10; the detour 1→2→3→4 costs 3 but needs 3 hops
    val g = Seq((1L, 4L, 10.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
    assert(dists(g, Seq(1L), 1) === Map(1L -> 0.0, 4L -> 10.0, 2L -> 1.0))
    assert(dists(g, Seq(1L), 2) ===
      Map(1L -> 0.0, 4L -> 10.0, 2L -> 1.0, 3L -> 2.0))
    // radius 3 admits the cheap detour: dist(4) drops 10 → 3
    assert(dists(g, Seq(1L), 3) ===
      Map(1L -> 0.0, 4L -> 3.0, 2L -> 1.0, 3L -> 2.0))
    // a seed ON the expensive end pulls everything to its own min — and the
    // edge is traversed in BOTH directions (undirected symmetrization)
    assert(dists(g, Seq(1L, 4L), 1) ===
      Map(1L -> 0.0, 4L -> 0.0, 2L -> 1.0, 3L -> 1.0))
  }

  test("lpaCommunities: bridged cliques split at the bridge; self-vote and " +
    "min-label ties; deterministic") {
    // two 4-cliques bridged by 4–5: every node's votes tie 1-each (clique
    // neighbors + self + maybe the bridge), so the min label of its
    // closed neighborhood wins round 1 — clique A collapses to 1, clique
    // B to 5 (node 5's own votes include bridge-label 4 — but 4 ties with
    // 5,6,7,8 at n=1 and... 4 < 5, so round-1 node 5 takes 4; rounds 2–3
    // must pull it back into B or keep the split stable — assert the
    // 3-round result matches an inline reference fold instead of a guess)
    def cliq(ns: Seq[Long]) = for { a <- ns; b <- ns if a < b } yield (a, b)
    val edges = cliq(Seq(1L, 2L, 3L, 4L)) ++ cliq(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L))
    val got = Clustering.lpaCommunities(edges.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    // inline reference: the same synchronous vote-argmax in plain Scala
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var ref = sym.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      ref = sym.map { case (n, nbrs) =>
        val votes = (nbrs.map(ref) ++ Seq(ref(n)))
          .groupBy(identity).map { case (l, v) => (l, v.size) }
        n -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    assert(got === ref)
    // the bridge must not merge the cliques into ONE community
    assert(Set(got(1L), got(2L), got(3L)).size === 1)
    assert(Set(got(6L), got(7L), got(8L)).size === 1)
    assert(got(1L) !== got(8L), s"cliques merged: $got")
    // determinism: a second run is identical
    val again = Clustering.lpaCommunities(edges.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(again === got)
  }

  test("lpaCommunitiesConverged: early stop on a pre-converged graph, " +
    "fixed-point equality with the fixed-round form") {
    // two disjoint triangles converge in ONE round (each node's closed
    // neighborhood min is the triangle min, and that assignment is a fixed
    // point); round 2 detects no change and stops — 2 rounds run of a cap
    // of 10
    def cliq(ns: Seq[Long]) = for { a <- ns; b <- ns if a < b } yield (a, b)
    val tri = (cliq(Seq(1L, 2L, 3L)) ++ cliq(Seq(7L, 8L, 9L)))
      .toDF("src", "dst")
    val (labels, rounds) = Clustering.lpaDetail(tri, maxRounds = 10,
      stopOnConverge = true)
    assert(rounds === 2, s"expected stop at round 2, ran $rounds")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    // confluence: the early-stopped labels equal the fixed-round form at
    // ANY round count past convergence — the property the shared unrolled
    // oracle rests on
    val fixed = Clustering.lpaCommunities(tri, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(fixed === got)
    // a graph that does NOT converge under the cap runs all rounds and
    // still equals the fixed-round labels (the cap-hit arm of the oracle
    // argument): the bridged-clique graph oscillates at the bridge
    val bridged = (cliq(Seq(1L, 2L, 3L, 4L)) ++ cliq(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L))).toDF("src", "dst")
    val (cl, cr) = Clustering.lpaDetail(bridged, maxRounds = 3,
      stopOnConverge = true)
    val fx = Clustering.lpaCommunities(bridged, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(cl.as[(Long, Long)].collect().toMap === fx,
      s"capped converged run diverged from fixed-round at $cr rounds")
  }

  test("linkPrediction: common counts, neighbor Jaccard, floor, seed-anchored") {
    // bipartite: node 1 → {10,11,12}, node 2 → {10,11}, node 3 → {12}
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 12L), (1L, 12L)) // duplicate edge must not double-count
      .toDF("src", "dst")
    def scores(minCommon: Int) =
      Clustering.linkPrediction(e, Seq(1L).toDF("node"), minCommon)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // jac(1,2) = 2/(3+2−2) = 0.6667; jac(1,3) = 1/(3+1−1) = 0.3333
    assert(scores(1) === Map(
      (1L, 2L) -> ((2L, 0.6667)), (1L, 3L) -> ((1L, 0.3333))))
    // the floor prunes the coincidence tail; the seed never pairs itself
    assert(scores(2) === Map((1L, 2L) -> ((2L, 0.6667))))
  }

  test("kCore: matches brute-force peeling on a random graph") {
    val rnd = new scala.util.Random(77)
    val n = 30
    val edges = (for {
      a <- 0 until n; b <- 0 until n if a < b && rnd.nextDouble() < 0.18
    } yield (s"n$a", s"n$b"))
    for (k <- Seq(2, 3, 5)) {
      var core = edges.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      while (changed) {
        val deg = core.map(v => v -> edges.count(e =>
          (e._1 == v && core(e._2)) || (e._2 == v && core(e._1)))).toMap
        val next = core.filter(v => deg(v) >= k)
        changed = next.size != core.size
        core = next
      }
      val got = Clustering.kCore(edges.toDF("src", "dst"), k)
        .as[String].collect().toSet
      assert(got === core, s"k=$k")
    }
  }

  test("pageRank: dangling mass is redistributed (sum stays 1)") {
    // 1→2, 2 is dangling: without the fix, mass drains each round
    val g = Seq((1L, 2L)).toDF("src", "dst")
    val pr = Clustering.pageRank(g, iters = 6).as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr)
    assert(pr(2L) > pr(1L), pr) // sink receives, source only gets teleport+redistribution
  }

  test("connectedComponents matches union-find on a random 2000-node graph") {
    val rnd = new scala.util.Random(23)
    val n = 2000
    // sparse random graph: ~1.2 edges/node → many components, some chains
    val pairs = Seq.fill((n * 1.2).toInt) {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    // reference: plain union-find with path compression
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // union-find roots are not necessarily the min member — canonicalize to
    // min id per component for the compare
    val byRoot = touched.groupBy(id => find(id.toInt))
    val want = byRoot.values.flatMap { members =>
      val m = members.min
      members.map(_ -> m)
    }.toMap
    val got = Clustering.connectedComponents(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("LSH clusters refine the exact clusters (real corpus)") {
    // the production composition (dedup_clusters_lsh): CC over MinHash-LSH
    // pairs. LSH pairs are a precision-1 subset of the exact pairs, so every
    // LSH cluster must sit INSIDE one exact cluster (dropping an edge can
    // split a component, never merge two), and the recall floor pinned on
    // minhashLshPairs bounds how much splitting is possible.
    val docs01 = graft.Tables(spark, "/root/testdata/sf0.01", "documents")
    val exactCc = Clustering.connectedComponents(
      Dedup.jaccardPairs(docs01, 0.8).select(col("id_a"), col("id_b")))
      .as[(Long, Long)].collect().toMap
    val lshCc = Clustering.connectedComponents(
      Dedup.minhashLshPairs(docs01, 0.8).select(col("id_a"), col("id_b")))
      .as[(Long, Long)].collect().toMap
    assert(lshCc.nonEmpty, "LSH pair graph lost its clusters")
    // every LSH-clustered node is exact-clustered too (precision 1)
    assert(lshCc.keySet.subsetOf(exactCc.keySet),
      s"LSH invented nodes: ${lshCc.keySet.diff(exactCc.keySet)}")
    // refinement: an LSH cluster never spans two exact clusters
    lshCc.groupBy(_._2).foreach { case (lshCluster, members) =>
      val exactIds = members.keySet.map(exactCc)
      assert(exactIds.size === 1,
        s"LSH cluster $lshCluster spans exact clusters $exactIds")
    }
    // coverage floor: the LSH graph keeps ≥80% of the exact-clustered nodes
    // (follows from the ≥0.8 pair recall pinned in OperatorsSpec)
    assert(lshCc.size.toDouble / exactCc.size >= 0.8,
      s"LSH cluster coverage regressed: ${lshCc.size}/${exactCc.size}")
  }

  test("curateCorpus: dedups, filters quality and language, assigns splits") {
    val d = Seq(
      // long enough English text to clear the 0.5 quality floor
      (1L, "spark engines process large volumes of data with distributed execution " +
        "plans that scale across many machines " + ("more tokens here " * 10)),
      (2L, "spark engines process large volumes of data with distributed execution " +
        "plans that scale across many machines " + ("more tokens here " * 10)), // exact dup of 1
      (3L, "short text"), // quality below floor
      (4L, "der hund und die katze sind nicht das problem und nicht die antwort " +
        ("der und das ist nicht " * 10)) // German
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation.curateCorpus(d, minQuality = 0.5, lang = "en")
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L)) // survivor of the dup pair, quality+lang pass
  }

  test("redactPii: staged redaction, no double counting, identity on clean text") {
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.org or call 555-123-4567 now"),
      (2L, "server 192.168.1.200 leaked ssn 123-45-6789 twice: 987-65-4321"),
      // the @-host is digits-with-dots: NOT an email (no alpha TLD), so the
      // IP stage catches it — and must count it exactly once
      (3L, "ftp creds at bob@10.22.33.44 please rotate"),
      (4L, "perfectly clean prose with a version number 1.2 inside")
    ).toDF("doc_id", "text")
    val out = graft.operators.Curation.redactPii(d)
      .select("doc_id", "text", "n_pii")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (("mail <EMAIL> or call <PHONE> now", 2L)))
    assert(out(2L) === (("server <IP> leaked ssn <SSN> twice: <SSN>", 3L)))
    assert(out(3L) === (("ftp creds at bob@<IP> please rotate", 1L)))
    assert(out(4L) === (("perfectly clean prose with a version number 1.2 inside", 0L)))
  }

  test("rangeJoinBucketed agrees with a naive filter join on random data") {
    val rnd = new scala.util.Random(11)
    val intervals = Seq.tabulate(60)(i =>
      (i.toLong, (rnd.nextInt(4) + 1).toLong,
        rnd.nextInt(5000).toLong, 0L)).map { case (id, k, s, _) =>
      (id, k, s, s + 200L + rnd.nextInt(900)) } // width 200-1100, bucket 500
    val points = Seq.tabulate(300)(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, rnd.nextInt(7000).toLong))
    val got = Temporal.rangeJoinBucketed(
        intervals.toDF("iv_id", "k", "s", "e"), points.toDF("pt_id", "k", "t"),
        key = "k", startCol = "s", endCol = "e", timeCol = "t", bucketWidth = 500L)
      .select("iv_id", "pt_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (iv, ik, s, e) <- intervals
      (pt, pk, t) <- points
      if ik == pk && t > s && t <= e
    } yield (iv, pt)).toSet
    assert(got === want)
  }

  test("asOfJoinKeys: composite key — same-user other-day rows never match") {
    val left = Seq(
      (1L, 10L, 5L, 100L), // user 10, day 5 → right@(10,5,50)
      (2L, 10L, 6L, 100L), // same user, day 6 → only right@(10,6,90)
      (3L, 10L, 7L, 100L)  // same user, day 7: no right rows → null
    ).toDF("event_id", "user_id", "day", "ts")
    val right = Seq(
      (10L, 5L, 50L, "d5"), (10L, 6L, 90L, "d6"), (20L, 5L, 10L, "z")
    ).toDF("user_id", "day", "ts", "tag")
    val out = Temporal.asOfJoinKeys(left, right, keys = Seq("user_id", "day"),
        time = "ts", carry = Map("tag" -> "m_tag"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(4)))).toSeq
    assert(out === Seq(
      (1L, Some("d5")), (2L, Some("d6")), (3L, None)))
  }

  test("asOfJoin directions agree with a brute-force reference on random data") {
    val rnd = new scala.util.Random(41)
    val left = Seq.tabulate(150)(i =>
      (i.toLong, (rnd.nextInt(6) + 1).toLong, rnd.nextInt(1000).toLong))
    val right = Seq.tabulate(120)(i =>
      ((rnd.nextInt(7) + 1).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val lDF = left.toDF("event_id", "user_id", "ts")
    val rDF = right.toDF("user_id", "ts", "tag")
    val tol = 80L
    def brute(direction: String, tolerance: Option[Long]): Map[Long, Option[Long]] =
      left.map { case (id, k, t) =>
        val cands = right.filter(_._1 == k)
        val b: Option[Long] = cands.map(_._2).filter(_ <= t)
          .filter(v => tolerance.forall(tl => t - v <= tl)).sorted.lastOption
        val f: Option[Long] = cands.map(_._2).filter(_ >= t)
          .filter(v => tolerance.forall(tl => v - t <= tl)).sorted.headOption
        val m: Option[Long] = direction match {
          case "backward" => b
          case "forward"  => f
          case "nearest"  => (b, f) match {
            case (Some(bb), Some(ff)) => if (t - bb <= ff - t) Some(bb) else Some(ff)
            case (x, y) => x.orElse(y)
          }
        }
        id -> m
      }.toMap
    for (direction <- Seq("backward", "forward", "nearest");
         tolerance <- Seq(None, Some(tol))) {
      val got = Temporal.asOfJoin(lDF, rDF, "user_id", "ts",
          carry = Map("ts" -> "m_ts"), direction = direction, tolerance = tolerance)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      assert(got === brute(direction, tolerance), s"$direction tol=$tolerance")
    }
  }

  test("intervalOverlapJoin agrees with a naive inequality join, any bucket width") {
    val rnd = new scala.util.Random(23)
    val as = Seq.tabulate(60)(i =>
      (i.toLong, (rnd.nextInt(4) + 1).toLong, rnd.nextInt(5000).toLong))
      .map { case (id, k, s) => (id, k, s, s + 100L + rnd.nextInt(1200)) }
    val bs = Seq.tabulate(80)(i =>
      (i.toLong, (rnd.nextInt(5) + 1).toLong, rnd.nextInt(6000).toLong))
      .map { case (id, k, s) => (id, k, s, s + 50L + rnd.nextInt(700)) }
    val want = (for {
      (ai, ak, astart, aend) <- as
      (bi, bk, bstart, bend) <- bs
      if ak == bk && astart < bend && bstart < aend
    } yield (ai, bi)).toSet
    // exactness (incl. the owner-bucket dedup) must hold for widths smaller
    // than, comparable to, and larger than the interval lengths
    for (w <- Seq(64L, 500L, 4096L)) {
      val got = Temporal.intervalOverlapJoin(
          as.toDF("a_id", "k", "a_s", "a_e"), bs.toDF("b_id", "k", "b_s", "b_e"),
          key = "k", aStart = "a_s", aEnd = "a_e",
          bStart = "b_s", bEnd = "b_e", bucketWidth = w)
        .select("a_id", "b_id").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"width $w produced duplicate pairs")
      assert(got.toSet === want, s"width $w drifted from the naive join")
    }
  }

  test("binPackFFD: budget respected, overflow isolated, deterministic") {
    val d = Seq(
      (1L, "en", 300), (2L, "en", 300), (3L, "en", 200), (4L, "en", 200),
      (5L, "en", 100), (6L, "en", 700), // overflow: longer than budget
      (7L, "de", 400), (8L, "de", 150)
    ).map { case (id, g, n) => (id, g, ("w " * n).trim) }.toDF("doc_id", "lang", "text")
    def run() = graft.operators.Packing.binPackFFD(d, budget = 512)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    val rows = run()
    // every doc packed exactly once
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    val byBin = rows.groupBy(_._4)
    byBin.values.foreach { xs =>
      val fill = xs.map(_._3).sum
      // fill column agrees with the recomputed sum
      assert(xs.forall(_._5 == fill))
      // bins respect the budget unless they isolate one oversized doc
      assert(fill <= 512 || (xs.length == 1 && xs.head._3 > 512),
        s"bin over budget: $xs")
    }
    // the oversized doc sits alone
    val overflowBin = rows.find(_._1 == 6L).get._4
    assert(byBin(overflowBin).length === 1)
    // bins never cross groups
    byBin.values.foreach(xs => assert(xs.map(_._2).distinct.length === 1))
    // FFD packs the en group (300+300+200+200+100=1100 over 512) into 3
    // bins: (300+200), (300+200), (100) — plus the overflow singleton
    assert(rows.filter(r => r._2 == "en" && r._3 <= 512).map(_._4).distinct.length === 3)
    // pure function of content: identical output on a second run
    assert(run().toSeq === rows.toSeq)
    // real corpus, many partitions: bin ids must stay unique ACROSS tasks
    // (the first cut derived ids from TaskContext partition ids, which
    // collided and silently merged bins from different groups)
    val real = graft.operators.Packing.binPackFFD(
      graft.Tables(spark, "/root/testdata/sf0.01", "documents"), budget = 512)
      .as[(Long, String, Long, Long, Long)].collect()
    val realBins = real.groupBy(_._4)
    realBins.values.foreach { xs =>
      assert(xs.map(_._2).distinct.length === 1, "bin crossed groups")
      val fill = xs.map(_._3).sum
      assert(fill <= 512 || xs.length == 1, s"real-corpus bin over budget: $fill")
    }
  }

  test("sequencePacking: concat-then-chunk spans with straddling documents") {
    // budget 10; en docs of 4, 8, 3 tokens in doc_id order:
    //   doc 0: tokens [0,4)  → pack 0, offset 0
    //   doc 1: tokens [4,12) → packs 0-1 (straddles), offset 4
    //   doc 2: tokens [12,15)→ pack 1, offset 2
    val d = Seq(
      (0L, "en", "a b c d"),
      (1L, "en", "a b c d e f g h"),
      (2L, "en", "a b c"),
      (3L, "de", "x y")
    ).toDF("doc_id", "lang", "text")
    val got = graft.operators.Packing.sequencePacking(d, budget = 10)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got(0L) === ((0L, 0L, 0L)))
    assert(got(1L) === ((0L, 1L, 4L)))
    assert(got(2L) === ((1L, 1L, 2L)))
    assert(got(3L) === ((0L, 0L, 0L))) // de group packs independently
  }

  test("chunkSpans: overlap windows cover the document exactly") {
    // 10 tokens, width 4, overlap 1 → stride 3 → spans [0,4) [3,7) [6,10)
    val d = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2L, "short")).toDF("doc_id", "text")
    val got = graft.operators.Packing.chunkSpans(d, width = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 0L, 0L, 4L), (1L, 1L, 3L, 7L), (1L, 2L, 6L, 10L),
      (2L, 0L, 0L, 1L)))
  }

  test("resampleFfill: gaps carry the prior bucket, leading buckets stay null") {
    // buckets of width 10 over ts range [5, 38] → grid 0..3 for BOTH keys.
    // key a observes in buckets 0 (2.5+1.0) and 3 (4.0) — buckets 1,2 carry
    // 3.5; key b observes only in bucket 2 (7.0) — buckets 0,1 stay null
    // (nothing to carry), bucket 3 carries 7.0.
    val ev = Seq(
      ("a", 5L, 2.5), ("a", 8L, 1.0), ("a", 38L, 4.0),
      ("b", 27L, 7.0)
    ).toDF("k", "ts", "value")
    val out = graft.operators.Temporal
      .resampleFfill(ev, "k", "ts", col("value"), bucketWidth = 10L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2), r.getBoolean(3))).toSet
    assert(out === Set(
      ("a", 0L, 3.5, false), ("a", 1L, 3.5, true),
      ("a", 2L, 3.5, true), ("a", 3L, 4.0, false),
      ("b", 0L, null, true), ("b", 1L, null, true),
      ("b", 2L, 7.0, false), ("b", 3L, 7.0, true)))
  }
}
