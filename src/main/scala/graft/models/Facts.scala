package graft.models

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fact models — the reference's three fact tables are byte-identical except
  * for the statement-type literal (`diff fct_balanceSheet.sql
  * fct_IncomeStatement.sql` → only `STMT = 'BS'` vs `'IS'` and the query tag),
  * so they are one parameterized builder here (SURVEY.md §2.7, §7.2#2).
  *
  * Dataflow per fact (reference: masterfindata/models/Facts/fct_balanceSheet
  * .sql:9-73): num⋈pre composite-key inner join + STMT filter → broadcast
  * inner join to sub (+ optional row cap) → left joins to the three dims +
  * null-rejecting filter → 6-key group-by with ROUND(SUM(value),2).
  *
  * Scale notes:
  *  - The STMT filter and column pruning sit directly on the scan — Catalyst
  *    pushes both into the parquet reader.
  *  - stg_sub (one row per filing, ~8k/quarter) and the dims are broadcast;
  *    only num⋈pre shuffles, on (ADSH, TAG) — the natural key both sides
  *    share, so a bucketed/pre-partitioned layout on ADSH makes it
  *    shuffle-free.
  *  - The reference's left-join + IS NOT NULL is left intact: Catalyst's
  *    EliminateOuterJoin rewrites it to inner automatically.
  */
object Facts {

  /** One fact table. `stmt` ∈ {BS, IS, CF} for the reference's three models;
    * `rowCap` mirrors the reference's `LIMIT 100000 -- for initial testing`
    * (fct_balanceSheet.sql:37). `None` = production (no cap); note the capped
    * subset is nondeterministic without an order, exactly as in Snowflake
    * (SURVEY.md §7.4#4).
    */
  def buildFact(stmt: String,
                stgNum: DataFrame, stgPre: DataFrame, stgSub: DataFrame,
                dimCompany: DataFrame, dimFilings: DataFrame, dimDate: DataFrame,
                rowCap: Option[Int] = Some(100000)): DataFrame = {

    // source_filtered: composite-key inner join + constant filter (J3+P3).
    val sourceFiltered = stgNum.as("n")
      .join(stgPre.as("p"),
        col("n.ADSH") === col("p.ADSH") && col("n.TAG") === col("p.TAG"), "inner")
      .where(col("p.STMT") === stmt)
      .select(
        col("n.VALUE").as("VALUE"),
        col("n.ADSH").as("ADSH"),
        col("p.STMT").as("STMT"))

    // source_with_sub: broadcast-hinted inner join (J4) + row cap (O2).
    val subSide = broadcast(stgSub.select(col("ADSH"), col("CIK"), col("FILED")))
    val joined = sourceFiltered
      .join(subSide, Seq("ADSH"), "inner")
      .select(col("VALUE"), col("ADSH"), col("CIK"),
        col("FILED").as("FiledDate"), col("STMT"))
    // Restore parallelism before the dim fan-out: every join below is a
    // broadcast join, so with no exchange anywhere downstream the whole
    // many-to-many filings expansion would inherit the source's partitioning
    // — a handful of parquet splits (or ONE partition after a rowCap limit)
    // carrying a ~40×-row fan-out chain (measured 9.9 s → 1.7 s at sf0.1).
    // Explicit partition count: AQE would coalesce a small user shuffle
    // right back onto one core; this stage is fan-out-bound, not byte-bound.
    val par = graft.Tuning.fanout(stgNum.sparkSession)
    val sourceWithSub = rowCap.fold(joined)(joined.limit)
      .repartition(par, col("ADSH"))

    // key_data: left joins to dims (J5) + null-rejecting filter (P4 → inner).
    val keyData = sourceWithSub.as("src")
      .join(dimCompany.as("dc0"), col("src.CIK") === col("dc0.CIK"), "left")
      .join(dimFilings.as("df0"),
        col("src.STMT") === col("df0.StatementType") &&
          col("src.FiledDate") === col("df0.FiledDate"), "left")
      .join(dimDate.as("dd"),
        try_to_date(col("src.FiledDate").cast("string"), "yyyy-MM-dd") === col("dd.FULL_DT"),
        "left")
      .where(col("dc0.Company_SK").isNotNull && col("df0.FILINGS_SK").isNotNull)
      .select(
        col("src.VALUE").as("VALUE"),
        col("src.ADSH").as("ADSH_KEY"),
        col("dc0.Company_SK").as("COMPANY_SK"),
        col("df0.FILINGS_SK").as("FILINGS_SK"),
        col("dd.DATE_SK").as("DATE_SK"))

    // final: inner joins back to dims (J8) + 6-key hash agg (A1).
    keyData.as("k")
      .join(dimCompany.as("dc"), col("k.COMPANY_SK") === col("dc.Company_SK"), "inner")
      .join(dimFilings.as("df"), col("k.FILINGS_SK") === col("df.FILINGS_SK"), "inner")
      .groupBy(
        col("dc.Company_Name").as("COMPANY_NAME"),
        col("df.FiledDate").as("FILEDDATE"),
        col("df.StatementType").as("STATEMENTTYPE"),
        col("df.TAG").as("TAG"),
        col("df.UnitOfMeasure").as("UNITOFMEASURE"),
        col("df.VERSION").as("VERSION"))
      .agg(round(sum(col("k.VALUE")), 2).as("FCT_VALUE"))
      .select("FCT_VALUE", "COMPANY_NAME", "FILEDDATE", "STATEMENTTYPE",
        "TAG", "UNITOFMEASURE", "VERSION")
  }
}
