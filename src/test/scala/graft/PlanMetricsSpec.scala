package graft

import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `PlanMetrics.collect` over a plan that shuffles one relation once and
  * reads it twice: a self-join whose second exchange is reused. The bytes
  * moved once, so the counters must count them once.
  */
class PlanMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  for (aqe <- Seq(true, false))
    test(s"self-join over a reused exchange counts its shuffle once (AQE ${if (aqe) "on" else "off"})") {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val n = 2000L
      val r = s.range(0, n, 1, 4)
        .select((col("id") % 100).as("k"), col("id").as("v"))
        .repartition(4, col("k"))
      val joined = r.alias("a").join(r.alias("b"), col("a.k") === col("b.k"))
      assert(joined.collect().length === 100 * 20 * 20)

      val qe = joined.queryExecution
      val nodes = PlanMetrics.allNodes(qe.executedPlan)
      assert(nodes.exists(_.isInstanceOf[ReusedExchangeExec]), qe.executedPlan.treeString)
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, qe.executedPlan.treeString)

      val m = PlanMetrics.collect(qe)
      assert(m("shuffle_rows") === n)
      val written = exchanges.head.metrics("shuffleBytesWritten").value
      assert(written > 0)
      assert(m("shuffle_bytes") === written)
    }
}
