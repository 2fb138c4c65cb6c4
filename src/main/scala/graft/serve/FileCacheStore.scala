package graft.serve

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cross-process [[CacheStore]]: the engine-side analog of the reference's
  * SHARED Redis result cache (reference: Frontend/app.py:151-215) — several
  * driver processes (the reference runs one Streamlit worker per user)
  * serving each other's cached results through a shared filesystem instead
  * of a Redis instance.
  *
  * Two tiers, write-through:
  *  - a LOCAL handle map with [[InMemoryCacheStore]] semantics, so the
  *    owning driver keeps hitting its own handle (driver-local rows or a
  *    persisted frame, whichever tier [[ResultCache]] chose) and eviction
  *    still releases it;
  *  - a SHARED directory holding `k<key>` parquet data plus a `k<key>.meta`
  *    marker with the creation time. The meta file is written LAST, so its
  *    presence means the data is fully committed — a reader never sees a
  *    half-written entry (a crashed writer leaves an orphan data dir that
  *    the next `put` of that key overwrites).
  *
  * A `get` that misses locally rehydrates with `spark.read.parquet` — the
  * rehydrated frame scans the materialized result, which at 100 TB is the
  * point: the EXPENSIVE plan ran once on some driver; everyone else pays a
  * column-pruned scan of its (much smaller) result. TTL, fingerprinting,
  * the tier choice, eviction of the oldest-created entry and stats all stay
  * in [[ResultCache]] — this class only moves
  * the entry map out of the process, which is the seam's contract.
  */
final class FileCacheStore(spark: SparkSession, rootDir: String) extends CacheStore {

  private val local = new ConcurrentHashMap[Long, CachedResult]()
  private val root = new Path(rootDir)
  private def fs = root.getFileSystem(spark.sessionState.newHadoopConf())
  fs.mkdirs(root)

  private def dataPath(key: Long) = new Path(root, s"k$key")
  private def metaPath(key: Long) = new Path(root, s"k$key.meta")

  private def readMeta(key: Long): Option[Long] = {
    val mp = metaPath(key)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      try {
        val bytes = new Array[Byte](64)
        val n = in.read(bytes)
        Some(new String(bytes, 0, math.max(n, 0), StandardCharsets.UTF_8).trim.toLong)
      } catch { case _: NumberFormatException | _: java.io.IOException => None }
      finally in.close()
    }
  }

  override def get(key: Long): Option[CachedResult] =
    Option(local.get(key)).orElse {
      readMeta(key).map { createdMs =>
        CachedResult(spark.read.parquet(dataPath(key).toString), createdMs)
      }
    }

  override def put(key: Long, value: CachedResult): Unit = {
    value.df.write.mode("overwrite").parquet(dataPath(key).toString)
    val out = fs.create(metaPath(key), true)
    try out.write(value.createdMs.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    local.put(key, value)
    invalidateListing()
  }

  /** Drops the key here and in the shared directory. Returns only this
    * process's handle: another process's entry is deleted, not rehydrated
    * (a read job for a frame nobody will read).
    */
  override def remove(key: Long): Option[CachedResult] = {
    val prior = Option(local.remove(key))
    fs.delete(metaPath(key), false)
    fs.delete(dataPath(key), true)
    invalidateListing()
    prior
  }

  override def size: Int = keys.size

  // `size`/`keys` back the maxEntries check that evicts the oldest-created
  // entry, which runs on every miss — a raw listStatus there makes each
  // miss pay a directory listing. The listing is cached for a short TTL
  // instead: local mutations (put/remove) invalidate it immediately, so this
  // process's eviction decisions stay exact; another process's writes become
  // visible to size/oldestKey at most `listingTtlMs` late, which can only
  // delay a shared eviction by one window. Correctness is unaffected — `get`
  // never consults the listing, it reads the key's meta file directly.
  private val listingTtlMs = 2000L
  // expired-sentinel is -1, NOT Long.MinValue: `now - Long.MinValue`
  // overflows negative, which would make the staleness check read the
  // sentinel as fresh and pin the empty listing forever
  @volatile private var cachedListing: (Long, Seq[Long]) = (-1L, Nil)
  private def invalidateListing(): Unit = cachedListing = (-1L, Nil)

  override def keys: Seq[Long] = {
    val now = System.currentTimeMillis()
    val (listedAt, listed) = cachedListing
    if (now - listedAt <= listingTtlMs) listed
    else {
      val fresh = listKeys()
      cachedListing = (now, fresh)
      fresh
    }
  }

  private def listKeys(): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("k") && n.endsWith(".meta") =>
        n.stripPrefix("k").stripSuffix(".meta") }
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  override def oldestKey: Option[Long] =
    keys.flatMap(k => readMeta(k).map(k -> _)).minByOption(_._2).map(_._1)
}
