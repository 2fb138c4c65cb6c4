package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the tracer, the run's working
  * directory (inside the checkout) and the core count the session runs on.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val cores: Int, val seed: Long) {
  def dir(name: String): Path = work.resolve(name)

  /** Remove a directory tree if present. */
  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally all.close()
  }

  /** Pass hygiene: temp views dropped and persisted RDDs released. */
  def releaseSessionState(dropViews: Boolean): Unit = {
    if (dropViews)
      spark.catalog.listTables().collect().filter(_.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** One measured pass: its wall time, the wall and CPU time of its batch
  * part and of its request-serving part, the requests or entries issued and
  * how many of them failed (each counted once), and the layer metrics a
  * traced pass adds.
  */
final case class PassResult(wallS: Double, batchS: Double, serveS: Double,
                            batchCpuS: Double, serveCpuS: Double,
                            attempted: Int, failed: Int,
                            errors: Seq[String], layers: Map[String, Double] = Map.empty)

/** CPU time of this JVM. `seconds` counts every thread: executor tasks,
  * driver, GC and the JIT compilers. `work` leaves out the JIT compilers,
  * whose share of a warm pass depends on when the JVM happens to finish
  * compiling, not on the work the pass does. Unlike wall time, neither
  * counts time the host takes the processors away.
  */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tasks = java.nio.file.Paths.get("/proc/self/task")
  private val TicksPerS = 100.0

  def seconds: Double = os.getProcessCpuTime / 1e9

  /** CPU time of the JIT compiler threads, from the kernel's per-thread
    * accounting (`/proc/self/task/<tid>/stat`); 0 where there is none. The
    * JVM runs with a fixed set of compiler threads, so none exits and takes
    * its count along.
    */
  def jitSeconds: Double =
    if (!java.nio.file.Files.isDirectory(tasks)) 0.0
    else {
      val all = java.nio.file.Files.list(tasks)
      try all.iterator().asScala.map { t =>
        try {
          val stat = new String(java.nio.file.Files.readAllBytes(t.resolve("stat")), "UTF-8")
          val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          if (!comm.contains("CompilerThre")) 0.0
          else {
            // fields after the command: state, ppid, ..., utime (11), stime (12)
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            (f(11).toLong + f(12).toLong) / TicksPerS
          }
        } catch { case _: java.io.IOException => 0.0 }
      }.sum
      finally all.close()
    }

  def work: Double = seconds - jitSeconds
}

/** Steal time of the machine, from the kernel's `/proc/stat`: the time a
  * hypervisor ran something else while a processor of this machine had work
  * to run, summed over the processors. Reads 0 where there is no
  * `/proc/stat`.
  */
object Steal {
  private val stat = java.nio.file.Paths.get("/proc/stat")
  private val TicksPerS = 100.0

  def seconds: Double =
    if (!java.nio.file.Files.isReadable(stat)) 0.0
    else java.nio.file.Files.readAllLines(stat).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(f => f(8).toDouble / TicksPerS).getOrElse(0.0)

  /** Wall time of an interval with the host's share taken out. Steal slows
    * every processor that has work in proportion, so the interval would
    * have taken `wall × cpu / (cpu + stolen)` had nothing been taken
    * (`cpu`: this process's CPU time over the interval).
    */
  def unstolen(wallS: Double, cpuS: Double, stolenS: Double): Double =
    if (stolenS <= 0 || cpuS <= 0) wallS else wallS * cpuS / (cpuS + stolenS)
}

trait Workload {
  /** Inputs from the seed, then the warm-up passes (and whatever else must
    * exist before the first measured pass). Runs once per JVM.
    */
  def setup(): Unit

  /** One fixed unit of work, timed from outside the program's calls. */
  def pass(run: String): PassResult

  /** End-of-pass release of what the pass itself holds on purpose (cached
    * results, temp views, pinned blocks); the heap measured after it is the
    * state that outlives a pass.
    */
  def release(): Unit

  /** Output gate over the last pass: one message per failure, and one note
    * per output found equal to its oracle.
    */
  def check(): (Seq[String], Seq[String])

  /** Facts about the chosen input sizes, for the run record. */
  def describe: Map[String, Any]
}
