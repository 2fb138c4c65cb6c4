package graft.serve

import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftInternals}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** One cached result and its creation time. The handle is one of two tiers
  * (see [[ResultCache]]): a driver-local frame over the collected rows (a
  * `LocalRelation`, read without a Spark job) for a result Catalyst sizes at
  * or below [[ResultCache.DriverResultMaxBytes]], else a persisted
  * (block-manager-backed) frame. What a cross-process store would serialize
  * is the MATERIALIZED location (a parquet path / table name), not this
  * handle — see [[CacheStore]].
  */
final case class CachedResult(df: DataFrame, createdMs: Long)

/** Storage seam for [[ResultCache]] — the part of the reference's shared
  * Redis TTL cache (reference: Frontend/app.py:151-215) that is NOT
  * driver-local state. [[InMemoryCacheStore]] is the single-process default;
  * a cross-process implementation stores key → (materialized path,
  * createdMs) in any shared KV and rehydrates with `spark.read` — the
  * ResultCache logic (fingerprinting, tiers, TTL, eviction, stats) is
  * unchanged either way, which is the point of the seam. A store holds
  * either tier's handle as it is given; `remove` hands back this process's
  * handle, if it has one, so the cache can release a persisted one.
  */
trait CacheStore {
  def get(key: Long): Option[CachedResult]
  def put(key: Long, value: CachedResult): Unit
  def remove(key: Long): Option[CachedResult]
  def size: Int
  def keys: Seq[Long]
  def oldestKey: Option[Long]
}

/** Driver-local store: a concurrent map of plan-hash → cached handle. */
final class InMemoryCacheStore extends CacheStore {
  private val entries = new ConcurrentHashMap[Long, CachedResult]()
  override def get(key: Long): Option[CachedResult] = Option(entries.get(key))
  override def put(key: Long, value: CachedResult): Unit = entries.put(key, value)
  override def remove(key: Long): Option[CachedResult] = Option(entries.remove(key))
  override def size: Int = entries.size
  override def keys: Seq[Long] = {
    val b = Seq.newBuilder[Long]
    entries.forEach((k, _) => b += k)
    b.result()
  }
  override def oldestKey: Option[Long] = {
    var oldest = Option.empty[Long]
    var oldestTs = Long.MaxValue
    entries.forEach { (k, e) =>
      if (e.createdMs < oldestTs) { oldestTs = e.createdMs; oldest = Some(k) }
    }
    oldest
  }
}

/** Plan-fingerprint result cache with TTL — the engine-side analog of the
  * reference's Redis result cache (reference: Frontend/app.py:151-215,
  * 284-303; V2/V3 in SURVEY.md §2.10).
  *
  * Key = the canonicalized analyzed plan's semantic hash, so two queries that
  * differ only in formatting/aliases hit the same entry — strictly better
  * than the reference's normalized-SQL-text key — COMBINED with a data
  * version derived from the plan's input files ([[dataVersion]]): rewriting
  * the underlying parquet changes the fingerprint, so a cached result can
  * never serve stale data within TTL (the reference's text-keyed cache can).
  *
  * Value = the result, in one of two tiers chosen on a miss from Catalyst's
  * size estimate (`optimizedPlan.stats.sizeInBytes`):
  *  - at or below [[ResultCache.DriverResultMaxBytes]] the query runs once,
  *    inside `through` (a normal SQL execution, so listeners see it), and its
  *    rows are kept on the driver as a `LocalRelation`-backed frame. Reading
  *    it plans to `LocalTableScanExec` and runs no Spark job; nothing is
  *    registered with Spark's CacheManager, so other queries' planning does
  *    not match against it and dropping it costs nothing. `maxEntries`
  *    entries hold at most `maxEntries` × the cap of driver memory (by
  *    estimate).
  *  - above the cap the result is `persist()`ed (lazily: the caller's first
  *    action fills it) and unpersisted when it leaves the cache, so a large
  *    result lives in the cluster's block managers, never on the driver.
  *
  * Entries expire `ttlSeconds` after they were created (reference TTL:
  * 3600 s). When the cache is full, a miss drops the entry created first; a
  * hit does not refresh an entry's age. An entry orphaned by a data change
  * lingers only until it expires or is dropped as the oldest — it can no
  * longer be hit, because no incoming query maps to its key.
  *
  * Concurrent misses of one key run the query once: the first caller
  * computes, later callers wait for its result and count as hits.
  *
  * Scale notes: the store only holds plan-hash → handle on the driver; swap
  * [[CacheStore]] to share results across driver processes. The data
  * version stats at most [[ResultCache.MaxStatFiles]] files — past that it
  * folds the distinct parent DIRECTORIES' status instead (a parquet
  * overwrite rewrites the directory), keeping namenode calls bounded no
  * matter how many files a 100 TB table has.
  */
final class ResultCache(ttlSeconds: Long = 3600, maxEntries: Int = 64,
                        clock: () => Long = () => System.currentTimeMillis(),
                        store: CacheStore = new InMemoryCacheStore) {

  import ResultCache.{mix, DriverResultMaxBytes, MaxStatFiles}

  private var hitCount = 0L
  private var missCount = 0L

  /** Misses being computed, by key: a later miss of the key waits for it. */
  private val inFlight = new ConcurrentHashMap[Long, Future[DataFrame]]()

  /** Version hash of the data behind a plan: folds (path, mtime, length) of
    * every input file (dir-level past [[ResultCache.MaxStatFiles]]).
    *
    * The file list is collected from the ANALYZED logical plan's file-source
    * relations, NOT `Dataset.inputFiles`: `inputFiles` reflects the optimized
    * plan, where Spark's CacheManager substitutes a persisted InMemoryRelation
    * (which has no files) for any plan this cache already persisted — so after
    * the first `through()`, an identical incoming query would report zero
    * files, flip the version, and never hit again. The analyzed plan is
    * pre-substitution and stable across persist. Plans with no file source
    * (temp views over local data, pure ranges) version as 0 and rely on the
    * plan hash alone.
    */
  def dataVersion(df: DataFrame): Long = {
    val files = ResultCache.planInputFiles(df)
    if (files.isEmpty) 0L
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val targets: Seq[String] =
        if (files.length <= MaxStatFiles) files.toSeq
        else files.map(f => new Path(f).getParent.toString).distinct.toSeq
      var h = files.length.toLong
      targets.sorted.foreach { p =>
        val path = new Path(p)
        try {
          val st = path.getFileSystem(conf).getFileStatus(path)
          h = mix(mix(mix(h, p.hashCode.toLong), st.getModificationTime), st.getLen)
        } catch {
          case _: java.io.IOException => // vanished under us: plan hash decides
        }
      }
      h
    }
  }

  def fingerprint(df: DataFrame): Long =
    mix(df.queryExecution.analyzed.canonicalized.semanticHash().toLong, dataVersion(df))

  /** Route a DataFrame through the cache: same semantic plan over unchanged
    * data within TTL returns the cached result. On a miss a result at or
    * below [[ResultCache.DriverResultMaxBytes]] is computed here, before
    * `through` returns; a larger one is persisted and computed by the
    * caller's first action.
    */
  def through(df: DataFrame): DataFrame = {
    val key = fingerprint(df)
    val now = clock()
    def live(e: CachedResult) = now - e.createdMs < ttlSeconds * 1000
    store.get(key).filter(live) match {
      case Some(e) => hit(); e.df
      case None =>
        val mine = Promise[DataFrame]()
        Option(inFlight.putIfAbsent(key, mine.future)) match {
          case Some(running) =>
            val result = Await.result(running, Duration.Inf)
            hit()
            result
          case None =>
            try {
              // look again: a miss of this key may have finished in between
              val result = store.get(key) match {
                case Some(e) if live(e) => hit(); e.df
                case cur =>
                  if (cur.isDefined) invalidateKey(key)
                  synchronized { missCount += 1 }
                  val computed = materialize(df)
                  if (store.size >= maxEntries) store.oldestKey.foreach(invalidateKey)
                  store.put(key, CachedResult(computed, now))
                  computed
              }
              mine.success(result)
              result
            } catch { case t: Throwable => mine.failure(t); throw t }
            finally inFlight.remove(key)
        }
    }
  }

  private def hit(): Unit = synchronized { hitCount += 1 }

  /** The cached form of `df`: its rows on the driver when Catalyst sizes it
    * at or below the cap (or when it already is a local relation), else a
    * persisted frame. The persisted frame is a new Dataset over the analyzed
    * plan: `df`'s own plan was optimized before the persist registered, so
    * its actions would not read the cache.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    if (onDriver(df) || qe.optimizedPlan.stats.sizeInBytes <= DriverResultMaxBytes)
      df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    else GraftInternals.ofRows(df.sparkSession, qe.analyzed).persist()
  }

  /** A driver-local result: released with its last reference, never
    * unpersisted (which would cost a CacheManager pass for nothing).
    */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LocalRelation]

  /** V3: explicit invalidation (delete one key). */
  def invalidate(df: DataFrame): Unit = invalidateKey(fingerprint(df))

  private def invalidateKey(key: Long): Unit =
    store.remove(key).foreach(e => if (!onDriver(e.df)) e.df.unpersist())

  /** V3: flushall. */
  def clear(): Unit = store.keys.foreach(invalidateKey)

  def stats: (Long, Long, Int) = synchronized { (hitCount, missCount, store.size) }
}

object ResultCache {
  /** Per-file status cap before the data version falls back to directory
    * granularity — bounds FS metadata calls per fingerprint.
    */
  val MaxStatFiles = 256

  /** Largest result, by Catalyst's estimate, kept on the driver instead of
    * persisted: 4 MB, so the default 64 entries hold at most ~256 MB.
    */
  val DriverResultMaxBytes: BigInt = 4L << 20

  /** 64-bit hash combine (boost-style with the splitmix64 constant). */
  private[serve] def mix(a: Long, b: Long): Long =
    a ^ (b + 0x9E3779B97F4A7C15L + (a << 6) + (a >>> 2))

  /** Input files of the ANALYZED plan's file-source relations (v1
    * HadoopFsRelation and v2 FileTable). Unlike `Dataset.inputFiles` this is
    * immune to CacheManager's InMemoryRelation substitution, which happens
    * downstream of analysis — see [[ResultCache.dataVersion]].
    */
  private[serve] def planInputFiles(df: DataFrame): Array[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles
        case _                    => Array.empty[String]
      }
      case r: DataSourceV2Relation => r.table match {
        case ft: FileTable => ft.fileIndex.inputFiles
        case _             => Array.empty[String]
      }
    }.flatten.distinct.toArray
  }
}
