package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's full staging → dims → fact dataflow composed end-to-end
  * over the driver's TPC-H-shaped tables and gated by one DuckDB oracle —
  * so the COMPOSITION (decimal widening through the fact sum, null-sentinel
  * cleansing, the dbt_utils surrogate-key formula, dim_filings' many-to-many
  * VERSION_TAG join, left-join + null-reject) is hash-checked as a whole,
  * not just operator by operator.
  *
  * Reference dataflow: masterfindata/models/Staging/ *.sql →
  * Dimensions/ *.sql → Facts/fct_balanceSheet.sql:9-73. Column mapping
  * (driver tables → EDGAR raw): orders⋈customer → `sub` (adsh = orderkey,
  * cik = custkey, filed = orderdate); lineitem → `num` (tag = partkey mod
  * 10, version = linestatus, uom = returnflag, value = extendedprice widened
  * to DECIMAL(18,2) so the sum is exact) and `pre` (stmt = returnflag);
  * distinct (tag, version) → `tag`. The stmt filter 'R' plays the
  * reference's 'BS'. rowCap = None: the reference's LIMIT subset is
  * nondeterministic, and the oracle needs the full dataflow anyway.
  *
  * TAG is deliberately LOW-cardinality (mod 10): dim_filings joins back to
  * the fact on (StatementType, FiledDate) — the reference's many-to-many —
  * so filings-per-date must stay bounded like EDGAR's real tag vocabulary.
  * With tag = raw partkey the filings-per-date grows with the corpus and the
  * join volume turns quadratic in scale factor.
  *
  * Input is mod-sampled on the order key (`o_orderkey % 4 = 0`): the fact's
  * natural output is O(num rows) — the reference caps it with a
  * nondeterministic `LIMIT 100000` for testing; a deterministic key-mod
  * filter (pushed into both scans) is the oracle-able analog and keeps the
  * entry proportionate to the rest of the battery.
  */
object ComposedPipeline {

  def rawTables(s: SparkSession, dir: String): Map[String, DataFrame] = {
    val orders = graft.Tables(s, dir, "orders")
      .filter(col("o_orderkey") % 4 === 0)
    val customer = graft.Tables(s, dir, "customer")
    val li = graft.Tables(s, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
    val nullStr = lit(null).cast("string")
    val sub = orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .select(
        col("o_orderkey").cast("string").as("adsh"),
        col("o_custkey").as("cik"),
        col("c_name").as("name"),
        nullStr.as("countryba"), // null → 'Unknown' sentinel exercised
        col("c_nationkey").cast("string").as("stprba"),
        col("c_mktsegment").as("cityba"),
        nullStr.as("zipba"),
        col("c_mktsegment").as("bas1"),
        nullStr.as("bas2"), // null → 'Does not exist or Unknown'
        nullStr.as("baph"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("filed"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("accepted"),
        concat(lower(col("c_name")), lit("-2024q1.htm")).as("instance"))
    val num = li.select(
      col("l_orderkey").cast("string").as("adsh"),
      (col("l_partkey") % 10).cast("string").as("tag"),
      col("l_linestatus").as("version"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("ddate"),
      col("l_linenumber").as("qtrs"),
      col("l_returnflag").as("uom"),
      col("l_extendedprice").cast("decimal(18,2)").as("value"),
      nullStr.as("footnote"))
    val pre = li.select(
      col("l_orderkey").cast("string").as("adsh"),
      col("l_returnflag").as("stmt"),
      (col("l_partkey") % 10).cast("string").as("tag"),
      col("l_linestatus").as("version"),
      nullStr.as("plabel"))
    val tag = li.select(
      (col("l_partkey") % 10).cast("string").as("tag"),
      col("l_linestatus").as("version")).distinct()
      .withColumn("tlabel", nullStr)
      .withColumn("doc", nullStr)
    Map("sub" -> sub, "num" -> num, "pre" -> pre, "tag" -> tag)
  }

  /** staging → dims → buildFact("R") as the product runs it:
    * [[graft.graph.ModelGraph.edgar]] with the one fact, cut to that fact
    * and its ancestors (the JSON models read raw columns this mapping does
    * not have). FCT_VALUE is emitted as double (the sum itself is exact
    * decimal; the cast is only for the hash compare).
    *
    * The run keeps its pins (`localCheckpoint`): the fact is consumed after
    * `run` returns, it joins each dim twice, and the staging models feed
    * both dims and the fact, so released pins would recompute them per
    * read. This
    * mirrors the reference, where dbt materializes the dimensions as tables
    * and the facts read the stored relations.
    */
  def composedFact(s: SparkSession, dir: String): DataFrame =
    graft.graph.ModelGraph.edgar(s, rowCap = None, facts = Seq("fct" -> "R")).upTo("fct")
      .run(rawTables(s, dir), keepPins = true)(s)("fct")
      .select(col("FCT_VALUE").cast("double").as("FCT_VALUE"),
        col("COMPANY_NAME"), col("FILEDDATE"), col("STATEMENTTYPE"),
        col("TAG"), col("UNITOFMEASURE"), col("VERSION"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "edgar_fact_composed" -> ((s, dir) => composedFact(s, dir)))

  /** DuckDB transliteration of the same dataflow. dim_date is omitted: its
    * left join is 1:1-at-most on a unique calendar key and no DATE_SK column
    * reaches the output, so it cannot change rows (its 2000-based calendar
    * matches none of the 1992-1998 order dates). DOC is omitted from
    * dim_filings' DISTINCT: it is the constant 'Unknown' here.
    */
  def oracles: Map[String, String] = Map(
    "edgar_fact_composed" ->
      """WITH stg_sub AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS ADSH, o_custkey AS CIK, c_name AS NAME,
        |         'Unknown' AS COUNTRYBA,
        |         CAST(c_nationkey AS VARCHAR) AS STPRBA,
        |         'Unknown' AS ZIPBA,
        |         c_mktsegment AS BAS1,
        |         'Does not exist or Unknown' AS BAS2,
        |         strftime(o_orderdate, '%Y-%m-%d') AS FILED
        |  FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 4 = 0),
        |stg_num AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS ADSH, CAST(l_partkey % 10 AS VARCHAR) AS TAG,
        |         l_linestatus AS VERSION, l_returnflag AS UOM,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS VALUE,
        |         l_linestatus || '-' || CAST(l_partkey % 10 AS VARCHAR) AS VERSION_TAG
        |  FROM lineitem WHERE l_orderkey % 4 = 0),
        |stg_pre AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS ADSH, l_returnflag AS STMT,
        |         CAST(l_partkey % 10 AS VARCHAR) AS TAG, l_linestatus AS VERSION,
        |         l_linestatus || '-' || CAST(l_partkey % 10 AS VARCHAR) AS VERSION_TAG
        |  FROM lineitem WHERE l_orderkey % 4 = 0),
        |dim_address AS (
        |  SELECT md5(concat_ws('-', COALESCE(BAS1,''), COALESCE(BAS2,''), COALESCE(STPRBA,''),
        |                       COALESCE(COUNTRYBA,''), COALESCE(ZIPBA,''))) AS COMP_ADDRESS_SK,
        |         NAME AS Company_Name
        |  FROM stg_sub),
        |dim_company AS (
        |  SELECT DISTINCT md5(concat_ws('-', COALESCE(CAST(s.CIK AS VARCHAR),''),
        |                                COALESCE(s.NAME,''))) AS Company_SK,
        |         s.CIK, s.NAME AS Company_Name
        |  FROM dim_address a JOIN stg_sub s ON a.Company_Name = s.NAME),
        |dim_filings AS (
        |  SELECT DISTINCT
        |    md5(concat_ws('-', COALESCE(t.TAG,''), COALESCE(t.VERSION,''), COALESCE(p.STMT,''),
        |                  COALESCE(n.UOM,''), COALESCE(sb.FILED,''))) AS FILINGS_SK,
        |    t.TAG, t.VERSION, p.STMT AS StatementType, sb.FILED AS FiledDate,
        |    n.UOM AS UnitOfMeasure
        |  FROM (SELECT DISTINCT ADSH, STMT, VERSION_TAG FROM stg_pre) p
        |  JOIN (SELECT DISTINCT TAG, VERSION, VERSION_TAG FROM
        |          (SELECT DISTINCT CAST(l_partkey % 10 AS VARCHAR) AS TAG, l_linestatus AS VERSION,
        |                  l_linestatus || '-' || CAST(l_partkey % 10 AS VARCHAR) AS VERSION_TAG
        |           FROM lineitem WHERE l_orderkey % 4 = 0)) t USING (VERSION_TAG)
        |  JOIN (SELECT DISTINCT UOM, VERSION_TAG FROM stg_num) n USING (VERSION_TAG)
        |  JOIN (SELECT DISTINCT ADSH, FILED FROM stg_sub) sb USING (ADSH)),
        |source_filtered AS (
        |  SELECT n.VALUE, n.ADSH, p.STMT
        |  FROM stg_num n JOIN stg_pre p ON n.ADSH = p.ADSH AND n.TAG = p.TAG
        |  WHERE p.STMT = 'R'),
        |source_with_sub AS (
        |  SELECT f.VALUE, f.ADSH, s.CIK, s.FILED AS FiledDate, f.STMT
        |  FROM source_filtered f JOIN stg_sub s ON f.ADSH = s.ADSH),
        |key_data AS (
        |  SELECT src.VALUE, dc.Company_SK AS COMPANY_SK, df.FILINGS_SK
        |  FROM source_with_sub src
        |  LEFT JOIN dim_company dc ON src.CIK = dc.CIK
        |  LEFT JOIN dim_filings df ON src.STMT = df.StatementType AND src.FiledDate = df.FiledDate
        |  WHERE dc.Company_SK IS NOT NULL AND df.FILINGS_SK IS NOT NULL)
        |SELECT CAST(ROUND(SUM(k.VALUE), 2) AS DOUBLE) AS FCT_VALUE,
        |       dc.Company_Name AS COMPANY_NAME, df.FiledDate AS FILEDDATE,
        |       df.StatementType AS STATEMENTTYPE, df.TAG,
        |       df.UnitOfMeasure AS UNITOFMEASURE, df.VERSION
        |FROM key_data k
        |JOIN dim_company dc ON k.COMPANY_SK = dc.Company_SK
        |JOIN dim_filings df ON k.FILINGS_SK = df.FILINGS_SK
        |GROUP BY 2, 3, 4, 5, 6, 7""".stripMargin
  )
}
