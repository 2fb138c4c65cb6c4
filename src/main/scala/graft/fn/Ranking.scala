package graft.fn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The constant-k top-k cut shared by the ranking operators. */
object Ranking {

  /** The first `k` rows of each `by` group in `order`, numbered 1..k in
    * `rankCol` (an int; a caller whose schema says long casts it in its own
    * final projection). `order` should end in a unique key, or ties fall
    * wherever the sort leaves them; null order keys follow the column's
    * null ordering (`desc` puts them last, `asc` first).
    *
    * The filter sits directly over the window, which is the shape
    * Catalyst's `InferWindowGroupLimit` plans as a partial and a final
    * `WindowGroupLimit`: every map task keeps only its local top-k before
    * the shuffle (PlanSpec pins it). k = 1 filters `rank = 1`, the argmax
    * form; Catalyst infers the same limit from it.
    */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int,
           rankCol: String = "rank"): DataFrame = {
    val rank = col(rankCol)
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)))
      .filter(if (k == 1) rank === 1 else rank <= k)
  }
}
