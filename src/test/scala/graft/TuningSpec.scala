package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 Tuning seams: session-isolated pinPartitioned (no caller-
  * session AQE flip, partitioning visible to later plans, no stale view
  * resolution in the cached clone) and the concurrent-arm share that
  * divides fanout across gate arms.
  */
class TuningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pinPartitioned records hash partitioning consumable with no exchange") {
    val df = (1 to 1000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "v")
      .repartition(4, col("k"))
    val pinned = Tuning.pinPartitioned(df)
    // rows unchanged
    assert(pinned.count() === 1000)
    // the recorded partitioning satisfies a same-key aggregate: the agg
    // plans with NO exchange (shuffle partitions == pin count == 4)
    val agg = pinned.groupBy(col("k")).agg(count(lit(1)))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"expected no Exchange above the pinned scan, got:\n$plan")
    Tuning.freeCheckpoint(pinned)
  }

  test("pinPartitioned never touches the caller session's AQE conf") {
    val key = "spark.sql.adaptive.enabled"
    val orig = spark.conf.get(key, "true")
    spark.conf.set(key, "true")
    try {
      val df = (1 to 200).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
        .repartition(4, col("k"))
      // concurrent pins + a concurrently-planned query on the caller
      // session: the r16 form flipped the session-global conf around each
      // materialization (a planning race); the r17 form materializes under
      // a cloned session, so the caller's conf must read "true" at every
      // observation point
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val pins = Tuning.concurrently(Seq[() => AnyRef](
        () => Tuning.pinPartitioned(df),
        () => Tuning.pinPartitioned(df),
        () => {
          (1 to 20).foreach { _ =>
            observed.add(spark.conf.get(key, "true"))
            spark.range(10).groupBy(col("id") % 3).count().collect()
          }
          null
        }))
      import scala.jdk.CollectionConverters._
      assert(observed.asScala.forall(_ == "true"),
        s"caller session lost AQE mid-flight: ${observed.asScala.toSet}")
      assert(spark.conf.get(key) === "true")
      pins.collect { case d: org.apache.spark.sql.DataFrame =>
        assert(d.count() === 200); Tuning.freeCheckpoint(d)
      }
    } finally spark.conf.set(key, orig)
  }

  test("pinPartitioned reads a replaced temp view's current definition") {
    // the AQE-off clone is cached per session, and its catalog is a copy
    // taken when the clone was created: the pin must hand it the caller's
    // ANALYZED plan, or a view replaced after the first pin re-resolves to
    // its old definition inside the clone
    val view = "tuning_spec_pin_view"
    Seq(1L, 2L).toDF("v").createOrReplaceTempView(view)
    try {
      val first = Tuning.pinPartitioned(spark.table(view))
      assert(first.collect().map(_.getLong(0)).sorted === Array(1L, 2L))
      Seq(7L, 8L, 9L).toDF("v").createOrReplaceTempView(view)
      val second = Tuning.pinPartitioned(spark.table(view))
      assert(second.collect().map(_.getLong(0)).sorted === Array(7L, 8L, 9L),
        "pin resolved the view's stale definition")
      Seq(first, second).foreach(Tuning.freeCheckpoint)
    } finally spark.catalog.dropTempView(view)
  }

  test("pinPartitioned plans with the caller's current conf, not the clone's first copy") {
    // a broadcast join keeps the streamed side's 7 splits; with broadcasts
    // off it is a sort-merge join over the 4 shuffle partitions
    val q = spark.range(0, 1000, 1, 7).toDF("k").join(spark.range(0, 100, 1, 3).toDF("k"), "k")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    try {
      val first = Tuning.pinPartitioned(q)
      assert(first.rdd.getNumPartitions === 7)
      spark.conf.set(key, "-1")
      val second = Tuning.pinPartitioned(q)
      assert(second.rdd.getNumPartitions === 4, "the pin planned with a stale broadcast threshold")
      assert(second.count() === 100L)
      Seq(first, second).foreach(Tuning.freeCheckpoint)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("sessionWith: one clone per (parent, overrides), rebuilt after a parent conf change") {
    val aqe = "spark.sql.adaptive.enabled"
    val aqeOff = Map(aqe -> "false")
    val interpreted = Map("spark.sql.codegen.wholeStage" -> "false")
    val key = "spark.sql.shuffle.partitions"
    val prior = Seq(aqe, key).map(k => k -> spark.conf.getOption(k))
    try {
      val a = Tuning.sessionWith(spark, aqeOff)
      assert(Tuning.sessionWith(spark, aqeOff) eq a, "a second clone for the same overrides")
      val b = Tuning.sessionWith(spark, interpreted)
      assert(!(a eq b) && !(a eq spark))
      assert(a.conf.get(aqe) === "false" && b.conf.get("spark.sql.codegen.wholeStage") === "false")
      // a change of an overridden key leaves that clone alone, not the others
      spark.conf.set(aqe, "false")
      assert(Tuning.sessionWith(spark, aqeOff) eq a)
      val b2 = Tuning.sessionWith(spark, interpreted)
      assert(!(b2 eq b) && b2.conf.get(aqe) === "false")
      spark.conf.set(aqe, "true")
      spark.conf.set(key, "3")
      val c = Tuning.sessionWith(spark, aqeOff)
      assert(!(c eq a), "the clone outlived a parent conf change")
      assert(c.conf.get(key) === "3" && c.conf.get(aqe) === "false")
      // pinPartitioned plans in that clone: AQE off, so the pin records
      // the hash partitioning it was planned with
      val pinned = Tuning.pinPartitioned(
        (1 to 100).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v").repartition(col("k")))
      pinned.queryExecution.logical match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          assert(r.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning], r.outputPartitioning)
          assert(r.outputPartitioning.numPartitions === 3)
        case p => fail(s"not a pin: ${p.nodeName}")
      }
      assert(spark.conf.get(aqe) === "true")
      Tuning.freeCheckpoint(pinned)
    } finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("freeCheckpoint unpersists a localCheckpoint and a pin; a lazy frame is left alone") {
    val sc = spark.sparkContext
    def rddId(df: org.apache.spark.sql.DataFrame): Int = df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      case p => fail(s"not a checkpoint: ${p.nodeName}")
    }
    val base = (1 to 200).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
    val local = base.repartition(2).localCheckpoint()
    val pinned = Tuning.pinPartitioned(base.repartition(4, col("k")))
    val ids = Seq(local, pinned).map(rddId)
    def persisted(id: Int): Boolean = sc.getPersistentRDDs.contains(id)
    assert(ids.forall(persisted), s"$ids not all in ${sc.getPersistentRDDs.keySet}")
    Tuning.freeCheckpoint(base.filter(col("v") > 3)) // lazy: nothing to free
    assert(ids.forall(persisted), "a lazy frame's free released someone's blocks")
    Seq(local, pinned).foreach(Tuning.freeCheckpoint)
    assert(!ids.exists(persisted), s"$ids still in ${sc.getPersistentRDDs.keySet}")
  }

  test("concurrently divides the arm share; fanout/availableCores honor it") {
    assert(Tuning.currentArmShare === 1)
    val base = Tuning.availableCores(spark)
    val seen = Tuning.concurrently(Seq[() => AnyRef](
      () => (Tuning.currentArmShare, Tuning.availableCores(spark),
        // nested arms multiply the share
        Tuning.concurrently(Seq[() => AnyRef](
          () => Integer.valueOf(Tuning.currentArmShare),
          () => Integer.valueOf(Tuning.currentArmShare))).map(_.asInstanceOf[Integer].intValue)),
      () => (Tuning.currentArmShare, Tuning.availableCores(spark), Seq.empty[Int])))
    seen.foreach { case (share: Int, avail: Int, nested: Seq[Int]) =>
      assert(share === 2)
      assert(avail === math.max(1, spark.sparkContext.defaultParallelism / 2))
      nested.foreach(n => assert(n === 4))
    }
    // share is restored outside the arms
    assert(Tuning.currentArmShare === 1)
    assert(Tuning.availableCores(spark) === base)
  }

  test("connectedComponents big (pinned) path = small path, label for label") {
    // two chains + a triangle + an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L))
      .toDF("id_a", "id_b")
    val key = "spark.graft.cc.edgesPerPartition"
    val small = graft.operators.Clustering.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    spark.conf.set(key, "1") // forces edgeCount/1+1 >= shuffle partitions
    try {
      val big = graft.operators.Clustering.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(big === small)
      assert(small.toMap.apply(3L) === 1L)
      assert(small.toMap.apply(33L) === 30L)
    } finally spark.conf.unset(key)
  }

  test("profile (exact, two-level form) matches hand-computed stats") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), Some("b")), (Some(2), None),
      (None, Some("b")), (None, None))
      .toDF("x", "s")
    val rows = graft.quality.Checks.profile(df, Seq("x", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.getString(4)), Option(r.getString(5)))).toMap
    assert(rows("x") === ((5L, 2L, 2L, Some("1"), Some("2"))))
    assert(rows("s") === ((5L, 2L, 2L, Some("a"), Some("b"))))
    // no Expand in the exact plan (the r16 multi-countDistinct shape)
    val plan = graft.quality.Checks.profile(df, Seq("x", "s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"exact profile must not Expand:\n$plan")
  }
}
