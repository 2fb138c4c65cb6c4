package graft

import org.apache.spark.sql.SparkSession

/** Shared partitioning heuristics. */
object Tuning {

  /** How many sibling [[concurrently]] arms share the executor from the
    * CURRENT thread (1 = the whole application). Concurrent gate arms used
    * to each fan out to 2×cores partitions, so an n-arm gate kept n×2×cores
    * tasks in flight in one JVM — measured as the r16 anti-scaling cluster
    * (bitext_ivf_check 22.9 s at 32 cores vs 8.3 s at 8: the arms contend
    * for cores, memory and GC instead of splitting them). Thread-local so
    * each arm's plans size themselves from their actual share; nested
    * [[concurrently]] calls multiply (2 arms × 2 inner trainings = share 4).
    */
  private val armShare = new ThreadLocal[Int] { override def initialValue(): Int = 1 }
  private[graft] def currentArmShare: Int = armShare.get()

  /** Executor cores available to THIS thread's plans: total parallelism
    * divided by the number of concurrent arms sharing the session.
    */
  def availableCores(spark: SparkSession): Int =
    math.max(1, spark.sparkContext.defaultParallelism / armShare.get())

  /** Fan-out partition count for compute-bound stages — pair loops,
    * band-key passes, broadcast-join fan-out chains: 2× the cores AVAILABLE
    * to this thread (total cores / concurrent arms, see [[armShare]]) with
    * a floor of 8. Used as an EXPLICIT `repartition(n, ...)` count
    * rather than relying on `spark.sql.shuffle.partitions`: these stages
    * are compute-bound, not byte-bound, and AQE (which only sees shuffle
    * bytes) would coalesce a small shuffle onto one core and serialize the
    * downstream loop.
    */
  def fanout(spark: SparkSession): Int =
    math.max(availableCores(spark) * 2, 8)

  /** Run independent Spark actions concurrently and return their results
    * in input order — the standard concurrent-actions pattern: the
    * scheduler interleaves the subtrees' tasks across free executor slots,
    * so wall time approaches the slowest subtree instead of the sum. Used
    * by the verification gates whose invariant arms (e.g. four ANN tiers,
    * two CC passes) are independent until the final assembly join: each
    * thunk materializes one deterministic subtree (typically via
    * `localCheckpoint()`), so results are submission-order-independent.
    * On a real cluster the same submission shape fills otherwise-idle
    * executors during each arm's narrow stages. Any thunk failure
    * propagates (no silent partial gates), but only once every arm has
    * ended (see [[awaitAll]]), so no arm's Spark jobs outlive the call.
    */
  def concurrently[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    // each arm sees its share of the executor (parent share × sibling
    // count) so fanout()/availableCores() size the arm's repartitions to
    // the cores it will actually get, not the whole machine — the r17
    // anti-scaling fix. Set INSIDE the pool thread (plans are built there);
    // cleared in a finally so pooled threads never leak a stale share.
    val parentShare = armShare.get()
    val nArms = thunks.size
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nArms)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = thunks.map(t => scala.concurrent.Future {
        armShare.set(parentShare * nArms)
        try t() finally armShare.remove()
      })
      awaitAll(fs)
    } finally pool.shutdown()
  }

  /** Wait for EVERY future, then return their results in input order or
    * throw the first failure in input order, with the other failures
    * attached as suppressed. `Future.sequence` fails fast instead: the
    * caller returns (and releases whatever the futures use) while sibling
    * futures are still running Spark jobs.
    */
  private[graft] def awaitAll[T](fs: Seq[scala.concurrent.Future[T]]): Seq[T] = {
    val done = fs.map(f =>
      scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf).value.get)
    done.collect { case scala.util.Failure(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => done.map(_.get)
    }
  }

  /** Deterministic scratch directory for an entry's persisted artifacts,
    * keyed by a sanitized tag of the data directory. ONE sanitization rule
    * shared by every module (Similarity's IVF index, Bpe's frozen table,
    * ColumnarIo's format round trips, Layout's compaction): a divergence
    * would silently change which scratch dir an entry hits, and two data
    * dirs sanitizing to the same tag would collide.
    */
  def scratchDirFor(prefix: String, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"${sys.props("java.io.tmpdir")}/$prefix/$tag"
  }

  /** Memory-aware fan-out for ARRAY-HEAVY rows (shingle-hash sets, exploded
    * band keys, embeddings): the cores-only count above keeps every core
    * busy but says nothing about per-partition bytes — at 2×cores a 1 TB
    * shingle pass would hand each task tens of GB. Given the stage's
    * estimated materialized payload (same caller-supplied estimate style as
    * [[graft.operators.Dedup.blockCount]]: row count × average payload, from
    * a cheap probe or a maintained counter; 0 = unknown), the count is
    * raised until each partition stays under `taskBudgetBytes`. Never
    * returns less than the cores-only fan-out, so small inputs keep the
    * exact previous behavior.
    */
  def fanout(spark: SparkSession, stageBytes: Long,
             taskBudgetBytes: Long = 256L << 20): Int = {
    val byMemory =
      if (stageBytes <= 0) 0L
      else math.ceil(stageBytes.toDouble / taskBudgetBytes).toLong
    // backstop: 2^20 partitions ≈ 256 TB of stage payload at the default
    // budget — past that the caller should be blocking/banding, not fanning
    math.max(fanout(spark).toLong, byMemory).min(1L << 20).toInt
  }

  /** Storage level for loop-invariant pinned relations (the symmetrized
    * edge list an iterative graph operator re-reads every round): DISK_ONLY
    * once the relation is big enough to crowd the unified pool's protected
    * storage region, plain MEMORY_AND_DISK below that. The sf10 probe
    * motivated DISK_ONLY (a ~2 GB deserialized edge pin on a 16 GB heap was
    * half of graph_lpa_converged's UNABLE_TO_ACQUIRE_MEMORY), but pinning a
    * 13 MB sf0.1 edge list to disk taxes every round with a serialize +
    * disk round trip the small case never needed — measured +30-120% on the
    * whole graph family. The cutover is sized from the plan's estimated
    * bytes against a budget derived from the ACTUAL heap
    * (`spark.graft.pin.memBudgetFraction`, default 0.05 — at 16 GB that is
    * ~800 MB, so the sf10 shape still goes to disk and every battery scale
    * stays in memory), not a constant tuned for either environment.
    *
    * Caveats of the cluster budget: it counts the executors registered at
    * the call, so under dynamic allocation at app start (none registered
    * yet) the floor budgets one executor's pool, and pins are sent to disk
    * more eagerly than the cluster will need; and it is
    * `spark.executor.memory` × `spark.memory.fraction`, ignoring
    * `spark.memory.storageFraction` and off-heap memory. This only picks a
    * storage level, never a result. `spark.graft.pin.memBudgetBytes`
    * overrides the whole derivation.
    */
  def pinLevel(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.storage.StorageLevel = {
    val spark = df.sparkSession
    val frac = spark.conf
      .getOption("spark.graft.pin.memBudgetFraction")
      .map(_.toDouble).getOrElse(0.05)
    // Pinned blocks live in EXECUTOR storage memory — under local[*] that
    // is the driver JVM's heap, but on a cluster it is the executors'
    // unified pools, so the budget is sized from spark.executor.memory ×
    // spark.memory.fraction × live executor count (the r16 advisor fix: a
    // driver-heap budget on a cluster compares against the wrong memory
    // and ignores executor count entirely). `spark.graft.pin.memBudgetBytes`
    // overrides the whole derivation for deployments that know better.
    val budget = spark.conf.getOption("spark.graft.pin.memBudgetBytes")
      .map(_.toLong).getOrElse {
        val sc = spark.sparkContext
        val poolBytes =
          if (sc.isLocal) Runtime.getRuntime.maxMemory
          else {
            val execHeap = sc.getConf.getSizeAsBytes("spark.executor.memory", "1g")
            val memFrac = sc.getConf.getDouble("spark.memory.fraction", 0.6)
            // statusTracker lists driver + executors; floor at 1 so a
            // just-started dynamic-allocation app never divides by zero
            val nExec = math.max(1, sc.statusTracker.getExecutorInfos.length - 1)
            (execHeap * memFrac * nExec).toLong
          }
        (poolBytes * frac).toLong
      }
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > budget) org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  }

  /** Eagerly pin a relation whose PARTITIONING later plans must see — the
    * loop-invariant side of an iterative per-round join, pre-partitioned by
    * the join key so every round reuses the exchange. Under AQE the
    * checkpoint's `LogicalRDD` records `UnknownPartitioning` (the adaptive
    * plan hides the final exchange's partitioning), so the join re-shuffles
    * the pin every round anyway — verified with an executed-plan probe
    * (plans/r16/graph_lpa_round_*.txt). The checkpoint is therefore
    * materialized with AQE off — but under a CLONED session (same
    * SparkContext/shared state, copied SQLConf), never by flipping the
    * caller's session conf: the r16 form's non-atomic set/restore was a
    * latent race for any caller inside [[concurrently]] (another thread's
    * query planned in that window silently lost AQE, and two overlapping
    * pins could clobber each other's restore). The materialized
    * `LogicalRDD` leaf — partitioning recorded — is re-rooted under the
    * caller's session, so downstream plans are indistinguishable from the
    * old form's output. Storage level is still the size-adaptive
    * [[pinLevel]]. Safe from any thread, including concurrent arms and
    * per-round loop pins. The clone receives the caller's ANALYZED plan,
    * never the raw one: the cached clone's catalog is a snapshot from its
    * creation, so re-resolving a temp view or table name there would read
    * a stale definition of a view replaced since.
    */
  def pinPartitioned(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.GraftInternals
    val parent = df.sparkSession
    val child = pinSessionFor(parent)
    val pinned = GraftInternals
      .ofRows(child, df.queryExecution.analyzed)
      .localCheckpoint(true, pinLevel(df))
    GraftInternals.ofRows(parent, pinned.queryExecution.analyzed)
  }

  /** The AQE-off clone used by [[pinPartitioned]], cached per parent
    * session: cloning builds a whole SessionState, which measured as
    * ~0.2 s per call once the CC loop started pinning every round — the
    * clone's conf never changes after creation, and concurrent actions on
    * one session are safe, so one clone serves every pin. Keyed on the
    * parent's current SQL conf, every entry but the AQE switch: a pin must
    * plan as the caller's session would (shuffle partitions, broadcast
    * threshold, codegen), so any conf change invalidates the cached clone.
    * A clone holds its parent session, so it lives as long as its parent's
    * JVM: one clone per session that ever pinned (in practice one per
    * application), never collected.
    */
  private val pinSessions =
    new java.util.IdentityHashMap[SparkSession, (Map[String, String], SparkSession)]()
  private def pinSessionFor(parent: SparkSession): SparkSession =
    pinSessions.synchronized {
      import org.apache.spark.sql.GraftInternals
      val nowConf = parent.conf.getAll - "spark.sql.adaptive.enabled"
      Option(pinSessions.get(parent)) match {
        case Some((conf, child)) if conf == nowConf => child
        case _ =>
          val child = GraftInternals.cloneSession(parent)
          child.conf.set("spark.sql.adaptive.enabled", "false")
          pinSessions.put(parent, (nowConf, child))
          child
      }
    }

  /** Release the storage blocks behind a localCheckpoint'd frame that no
    * later computation will read again. Iterative operators (LPA,
    * pagerank, connected components, BFS/SSSP) pin one relation per round;
    * without an explicit release every superseded round's blocks sit in
    * the unified pool until the JVM GCs the DataFrame reference AND the
    * async ContextCleaner drains — at sf10 that latency alone starved
    * execution memory mid-round (UNABLE_TO_ACQUIRE_MEMORY in
    * graph_lpa_converged, 16 GB heap). Unpersists the materialized RDD of
    * the checkpointed plan's `LogicalRDD` node (a `localCheckpoint` or a
    * [[pinPartitioned]] result); a no-op on any other plan shape, so a
    * caller cannot free something that was never pinned. NOTE a
    * truncated-lineage frame is unrecomputable once freed — only call on
    * relations the operator provably never touches again (the round it
    * superseded).
    */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
