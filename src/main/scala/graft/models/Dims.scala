package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fn.Keys

/** Dimension models (reference: Airflow/masterfindata/models/Dimensions/ *.sql).
  *
  * Scale notes: `dim_date` is generated with `spark.range` (no window-over-
  * nothing single-partition sequence — the reference's
  * `ROW_NUMBER() OVER (ORDER BY NULL)` forces a single node; `range` is
  * embarrassingly parallel). `dim_filings`' triple join on non-unique
  * VERSION_TAG is a deliberate reference many-to-many collapsed by DISTINCT —
  * we pre-`dropDuplicates` each side on exactly the columns that survive into
  * the projection, which is provably equivalent (DISTINCT of a join of
  * distinct-on-used-columns inputs) and avoids the quadratic blowup at scale.
  */
object Dims {

  /** dim_address (reference: dim_address.sql:7-21). */
  def dimAddress(stgSub: DataFrame): DataFrame =
    stgSub.select(
      Keys.surrogateKey(col("BAS1"), col("BAS2"), col("STPRBA"),
        col("COUNTRYBA"), col("ZIPBA")).as("COMP_ADDRESS_SK"),
      col("NAME").as("Company_Name"),
      col("BAS1").as("Street_Address1"),
      col("BAS2").as("Street_Address2"),
      col("STPRBA").as("State_or_Province"),
      col("COUNTRYBA").as("Country"),
      col("ZIPBA").as("Zipcode")
    )

  /** dim_company (reference: dim_company.sql:6-23) — DISTINCT over
    * dim_address ⋈ stg_sub on company name. The reference's trailing
    * `ORDER BY Name` inside a view is presentational only and dropped here
    * (SURVEY.md §2.6 O1) — a global sort inside a model would be a pointless
    * full-shuffle at scale.
    */
  def dimCompany(dimAddress: DataFrame, stgSub: DataFrame): DataFrame =
    // dim_address is itself derived from stg_sub, so this is a self-join by
    // lineage — qualify both sides with aliases.
    dimAddress.alias("a")
      .join(stgSub.alias("s"), col("a.Company_Name") === col("s.NAME"), "inner")
      .select(
        Keys.surrogateKey(col("s.CIK"), col("s.NAME")).as("Company_SK"),
        col("s.CIK").as("CIK"),
        col("s.NAME").as("Company_Name"),
        Keys.ticker(col("s.INSTANCE")).as("Ticker"),
        col("a.COMP_ADDRESS_SK").as("COMP_ADDRESS_SK")
      )
      .distinct()

  /** dim_filings (reference: dim_filings.sql:6-34) — pre⋈tag⋈num on
    * VERSION_TAG, ⋈sub on ADSH, DISTINCT projection. Each input is reduced to
    * its used columns + dropDuplicates before the join: semantically identical
    * under the final DISTINCT, and the only thing that keeps this join from
    * exploding (VERSION_TAG is non-unique in num/pre at EDGAR scale).
    */
  def dimFilings(stgPre: DataFrame, stgTag: DataFrame, stgNum: DataFrame,
                 stgSub: DataFrame): DataFrame = {
    val pre = stgPre.select("ADSH", "STMT", "VERSION_TAG").dropDuplicates()
    val tag = stgTag.select("TAG", "VERSION", "DOC", "VERSION_TAG").dropDuplicates()
    val num = stgNum.select("UOM", "VERSION_TAG").dropDuplicates()
    val sub = stgSub.select("ADSH", "FILED").dropDuplicates()
    pre
      .join(tag, "VERSION_TAG")
      .join(num, "VERSION_TAG")
      .join(sub, "ADSH")
      .select(
        Keys.surrogateKey(col("TAG"), col("VERSION"), col("STMT"),
          col("UOM"), col("FILED")).as("FILINGS_SK"),
        col("TAG"),
        col("VERSION"),
        coalesce(col("DOC"), lit("Unknown")).as("DOC"),
        col("STMT").as("StatementType"),
        col("FILED").as("FiledDate"),
        col("UOM").as("UnitOfMeasure")
      )
      .distinct()
  }

  /** dim_date (reference: dim_date.sql:7-33) — 11,323-day calendar from the
    * reference's fixed 2000-01-01 start. The facts left-join it, so a filing
    * date outside it only leaves DATE_SK null, and DATE_SK never reaches a
    * fact's output. Built from `spark.range` instead of
    * `GENERATOR(ROWCOUNT)+ROW_NUMBER() OVER (ORDER BY NULL)` (W1/W2): same
    * rows, no single-partition window.
    *
    * Semantics quirk preserved (SURVEY.md §7.4#2): Snowflake `EXTRACT(DOW)` is
    * 0(Sun)–6(Sat), so the reference's weekend test `DOW IN (6,7)` flags
    * Saturday only. `compatWeekendBug=true` (default) reproduces that;
    * `false` gives the corrected Sat+Sun flag.
    */
  def dimDate(spark: SparkSession, rowCount: Int = 11323,
              compatWeekendBug: Boolean = true): DataFrame = {
    val base = spark.range(rowCount)
      .select(date_add(to_date(lit("2000-01-01")), col("id").cast("int")).as("FULL_DT"))
    val dow = dayofweek(col("FULL_DT")) - lit(1) // Snowflake DOW: 0=Sun..6=Sat
    val weekend =
      if (compatWeekendBug) when(dow.isin(6, 7), "Y").otherwise("N")
      else when(dow.isin(0, 6), "Y").otherwise("N")
    base.select(
      date_format(col("FULL_DT"), "yyyyMMdd").cast("long").as("DATE_SK"),
      col("FULL_DT"),
      year(col("FULL_DT")).as("YEAR"),
      month(col("FULL_DT")).as("MONTH"),
      quarter(col("FULL_DT")).as("QUARTER"),
      dayofmonth(col("FULL_DT")).as("DAY_OF_MONTH"),
      dow.as("DAY_OF_WEEK"),
      weekend.as("IS_WEEKEND")
    )
  }
}
