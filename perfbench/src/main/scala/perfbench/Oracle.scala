package perfbench

import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Output gates. Each output the program produced is compared with the
  * reference SQL, evaluated by Spark SQL in a session of its own over the
  * same input files: SQL text that shares no code with the program's
  * DataFrame pipelines. Rows are compared as multisets after sorting the
  * columns by name and rendering each value as a string, as
  * tools/check_oracle.py does.
  */
object Oracle {

  /** A value as a string. `loose` is for the EDGAR models only: decimals
    * compare by value, whatever their scale, and arrays as unordered lists
    * (`financial_data` of the document model is one).
    */
  def render(v: Any, loose: Boolean): String = v match {
    case null => "NULL"
    case d: java.math.BigDecimal if loose =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case r: Row =>
      r.schema.fieldNames.map(_.toLowerCase).zip(r.toSeq.map(render(_, loose)))
        .sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] =>
      val items = xs.map(render(_, loose))
      (if (loose) items.sorted else items).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Sorted column names and sorted rendered rows of `df`. */
  def rows(df: DataFrame, loose: Boolean): (Seq[String], Seq[String]) = {
    val cols = df.columns.toSeq.sortBy(_.toLowerCase)
    val rendered = df.select(cols.map(c => df.col(s"`$c`")): _*).collect()
      .map(r => r.toSeq.map(render(_, loose)).mkString("|")).toSeq.sorted
    (cols.map(_.toLowerCase), rendered)
  }

  /** One output against its oracle: Right(note) when they agree, with the
    * row count and a digest of the sorted rows; Left(what differs).
    */
  def compare(name: String, got: DataFrame, want: DataFrame,
              loose: Boolean): Either[String, String] = {
    val t0 = System.nanoTime()
    val (gotCols, gotRows) = rows(got, loose)
    val (wantCols, wantRows) = rows(want, loose)
    if (gotCols != wantCols) Left(s"$name: columns $gotCols, oracle $wantCols")
    else if (gotRows != wantRows) {
      val extra = gotRows.diff(wantRows).take(2)
      val missing = wantRows.diff(gotRows).take(2)
      Left(s"$name: ${gotRows.size} rows, oracle ${wantRows.size}; " +
        s"unexpected $extra missing $missing")
    } else {
      val digest = MessageDigest.getInstance("SHA-256")
        .digest(gotRows.mkString("\n").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val s = (System.nanoTime() - t0) / 1e9
      Right(f"$name: ${gotRows.size} rows match, digest $digest ($s%.1f s)")
    }
  }

  /** The gates' plans each run once over a few thousand rows, after every
    * measured pass: compiling them (whole-stage code generation) and
    * re-planning them stage by stage (AQE) costs more than it saves.
    */
  def uncompiled(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** A session for oracle SQL: none of the program's temporary views. */
  def session(spark: SparkSession): SparkSession = uncompiled(spark.newSession())

  /** Runs the comparisons `threads` at a time (each is a few small Spark
    * jobs) and gathers their results in order.
    */
  def inParallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() })).map(_.get())
    finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def collectResults(results: Seq[Either[String, String]]): (Seq[String], Seq[String]) =
    (results.collect { case Left(e) => e }, results.collect { case Right(n) => n })

  // --- edgar: the reference model SQL, transliterated to Spark SQL ---------

  private def surrogate(cols: String*): String =
    "md5(concat_ws('-', " + cols.map(c => s"COALESCE(CAST($c AS STRING), '')").mkString(", ") + "))"

  /** The staging, dimension and document models, in dependency order. */
  def edgarModels(subColumns: Seq[String]): Seq[(String, String)] = Seq(
    "stg_sub" -> """SELECT adsh AS ADSH, cik AS CIK, name AS NAME,
        COALESCE(countryba, 'Unknown') AS COUNTRYBA, COALESCE(stprba, 'Unknown') AS STPRBA,
        COALESCE(cityba, 'Unknown') AS CITYBA, COALESCE(zipba, 'Unknown') AS ZIPBA,
        COALESCE(bas1, 'Unknown') AS BAS1, COALESCE(bas2, 'Does not exist or Unknown') AS BAS2,
        baph AS BAPH, filed AS FILED, accepted AS ACCEPTED, instance AS INSTANCE,
        upper(split_part(instance, '-', 1)) AS Ticker FROM sub""",
    "stg_num" -> """SELECT adsh AS ADSH, tag AS TAG, version AS VERSION, ddate AS DDATE,
        qtrs AS QTRS, uom AS UOM, value AS VALUE, footnote AS FOOTNOTE,
        version || '-' || tag AS VERSION_TAG FROM num""",
    "stg_tag" -> """SELECT tag AS TAG, version AS VERSION, COALESCE(tlabel, 'not known') AS TLABEL,
        doc AS DOC, version || '-' || tag AS VERSION_TAG FROM tag""",
    "stg_pre" -> """SELECT adsh AS ADSH, stmt AS STMT, tag AS TAG, version AS VERSION,
        COALESCE(plabel, 'not known') AS PLABEL, version || '-' || tag AS VERSION_TAG FROM pre""",
    "dim_address" -> s"""SELECT ${surrogate("BAS1", "BAS2", "STPRBA", "COUNTRYBA", "ZIPBA")}
        AS COMP_ADDRESS_SK, NAME AS Company_Name, BAS1 AS Street_Address1,
        BAS2 AS Street_Address2, STPRBA AS State_or_Province, COUNTRYBA AS Country,
        ZIPBA AS Zipcode FROM stg_sub""",
    "dim_company" -> s"""SELECT DISTINCT ${surrogate("s.CIK", "s.NAME")} AS Company_SK,
        s.CIK AS CIK, s.NAME AS Company_Name, upper(split_part(s.INSTANCE, '-', 1)) AS Ticker,
        a.COMP_ADDRESS_SK AS COMP_ADDRESS_SK
        FROM dim_address a JOIN stg_sub s ON a.Company_Name = s.NAME""",
    "dim_filings" -> s"""SELECT DISTINCT
        ${surrogate("t.TAG", "t.VERSION", "p.STMT", "n.UOM", "sb.FILED")} AS FILINGS_SK,
        t.TAG AS TAG, t.VERSION AS VERSION, COALESCE(t.DOC, 'Unknown') AS DOC,
        p.STMT AS StatementType, sb.FILED AS FiledDate, n.UOM AS UnitOfMeasure
        FROM (SELECT DISTINCT ADSH, STMT, VERSION_TAG FROM stg_pre) p
        JOIN (SELECT DISTINCT TAG, VERSION, DOC, VERSION_TAG FROM stg_tag) t
          ON p.VERSION_TAG = t.VERSION_TAG
        JOIN (SELECT DISTINCT UOM, VERSION_TAG FROM stg_num) n ON t.VERSION_TAG = n.VERSION_TAG
        JOIN (SELECT DISTINCT ADSH, FILED FROM stg_sub) sb ON p.ADSH = sb.ADSH""",
    // the reference's day-of-week is Snowflake's, 0 = Sunday; its weekend
    // test (6, 7) flags Saturday only
    "dim_date" -> """SELECT CAST(date_format(d, 'yyyyMMdd') AS BIGINT) AS DATE_SK, d AS FULL_DT,
        year(d) AS YEAR, month(d) AS MONTH, quarter(d) AS QUARTER, dayofmonth(d) AS DAY_OF_MONTH,
        dayofweek(d) - 1 AS DAY_OF_WEEK,
        CASE WHEN dayofweek(d) - 1 IN (6, 7) THEN 'Y' ELSE 'N' END AS IS_WEEKEND
        FROM (SELECT date_add(DATE '2000-01-01', CAST(id AS INT)) AS d FROM range(11323))""",
    "raw_stg_sub_modified" -> subColumns.map { c =>
      if (c.equalsIgnoreCase("period")) s"COALESCE(`$c`, DATE '9999-12-31') AS `$c`" else s"`$c`"
    }.mkString("SELECT ", ", ", " FROM sub"),
    "stg_financial_data" -> """SELECT s.adsh, s.cik, s.filed AS filing_date,
        s.fy AS fiscal_year, s.fp AS fiscal_period, s.name AS company_name, s.sic,
        n.tag, n.version, n.ddate AS period_end_date, n.qtrs AS quarters_duration,
        n.uom AS unit_of_measure, n.value AS numeric_value, n.footnote,
        t.tlabel AS tag_label, t.doc AS tag_description,
        p.stmt AS statement_type, p.plabel AS presentation_label
        FROM raw_stg_sub_modified s
        LEFT JOIN num n ON s.adsh = n.adsh
        LEFT JOIN tag t ON n.tag = t.tag AND n.version = t.version
        LEFT JOIN pre p ON n.adsh = p.adsh AND n.tag = p.tag""",
    "financial_statements_json" -> """SELECT adsh AS filing_id,
        named_struct('company_name', company_name, 'cik', cik, 'sic', sic) AS company_info,
        collect_list(named_struct('tag', tag, 'tag_label', tag_label,
          'tag_description', tag_description, 'value', numeric_value,
          'unit_of_measure', unit_of_measure, 'period_end_date', period_end_date,
          'quarters_duration', quarters_duration, 'statement_type', statement_type,
          'presentation_label', presentation_label)) AS financial_data,
        filing_date, fiscal_year, fiscal_period
        FROM stg_financial_data
        GROUP BY adsh, cik, company_name, sic, filing_date, fiscal_year, fiscal_period""")

  /** The three facts and the statement each one keeps. */
  val Facts: Seq[(String, String)] =
    Seq("fct_balanceSheet" -> "BS", "fct_IncomeStatement" -> "IS", "fct_Cashflows" -> "CF")

  /** `Facts.buildFact` caps its source at this many rows; below it the fact
    * is deterministic and can be checked.
    */
  val RowCap = 100000

  def factSource(stmt: String): String =
    s"""SELECT f.VALUE, f.ADSH, s.CIK, s.FILED AS FiledDate, f.STMT
        FROM (SELECT n.VALUE, n.ADSH, p.STMT FROM stg_num n
              JOIN stg_pre p ON n.ADSH = p.ADSH AND n.TAG = p.TAG
              WHERE p.STMT = '$stmt') f
        JOIN stg_sub s ON f.ADSH = s.ADSH"""

  def fact(stmt: String): String =
    s"""WITH kd AS (
        SELECT src.VALUE, dc.Company_SK AS COMPANY_SK, df.FILINGS_SK
        FROM (${factSource(stmt)}) src
        LEFT JOIN dim_company dc ON src.CIK = dc.CIK
        LEFT JOIN dim_filings df
          ON src.STMT = df.StatementType AND src.FiledDate = df.FiledDate
        WHERE dc.Company_SK IS NOT NULL AND df.FILINGS_SK IS NOT NULL)
      SELECT ROUND(SUM(k.VALUE), 2) AS FCT_VALUE, dc.Company_Name AS COMPANY_NAME,
        df.FiledDate AS FILEDDATE, df.StatementType AS STATEMENTTYPE, df.TAG AS TAG,
        df.UnitOfMeasure AS UNITOFMEASURE, df.VERSION AS VERSION
      FROM kd k JOIN dim_company dc ON k.COMPANY_SK = dc.Company_SK
      JOIN dim_filings df ON k.FILINGS_SK = df.FILINGS_SK
      GROUP BY 2, 3, 4, 5, 6, 7"""

  /** Every EDGAR model against its oracle over the landed raw tables.
    * Returns (errors, notes).
    */
  def checkEdgar(spark: SparkSession, landed: String, models: Map[String, DataFrame],
                 threads: Int): (Seq[String], Seq[String]) = {
    val s = session(spark)
    Seq("sub", "tag", "num", "pre").foreach { t =>
      s.read.parquet(s"$landed/$t").cache().createOrReplaceTempView(t)
    }
    // each staged oracle is read by several others: computed once
    val staged = edgarModels(s.table("sub").columns.toSeq)
    staged.foreach { case (n, sql) => s.sql(sql).cache().createOrReplaceTempView(n) }
    val capped = Facts.flatMap { case (n, stmt) =>
      val rows = s.sql(s"SELECT COUNT(*) FROM (${factSource(stmt)})").head().getLong(0)
      if (rows < RowCap) None
      else Some(s"$n: $rows source rows reach the $RowCap row cap; " +
        "the capped fact is not deterministic")
    }
    val oracles = staged.map { case (n, _) => n -> s.table(n) }.toMap ++
      Facts.map { case (n, stmt) => n -> s.sql(fact(stmt)) }
    val unmatched = (oracles.keySet ++ models.keySet) -- (oracles.keySet & models.keySet)
    val (errors, notes) = collectResults(inParallel(threads)(
      (oracles.keySet & models.keySet).toSeq.sorted.map { n =>
        () => compare(n, models(n), oracles(n), loose = true)
      }))
    s.catalog.clearCache()
    (capped ++ (if (unmatched.isEmpty) Nil
      else Seq(s"models without an oracle or without output: ${unmatched.toSeq.sorted}")) ++
      errors, notes)
  }

  // --- operator_mix: SparkEntry.oracleSql, transliterated to Spark SQL -----

  /** For each measured entry, its `SparkEntry.oracleSql` statement in Spark
    * SQL's dialect: same joins, filters, arithmetic order and rounding; list
    * functions become Spark's higher-order functions.
    */
  val OpsSql: Map[String, String] = Map(
    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (
        |  SELECT q.q_id, e.vec_id,
        |    aggregate(zip_with(q.q_emb, e.embedding,
        |      (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, b) -> a + b) /
        |    (SQRT(aggregate(transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |       0D, (a, b) -> a + b)) *
        |     SQRT(aggregate(transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        |       0D, (a, b) -> a + b))) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id)
        |SELECT q_id, vec_id AS neighbor_id, `rank` FROM (
        |  SELECT q_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS `rank`
        |  FROM c) WHERE `rank` <= 10""".stripMargin,
    "dedup_minhash_lsh_check" ->
      """WITH e AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b
        |    ON a.text = b.text AND a.doc_id < b.doc_id
        |  WHERE length(a.text) >= 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
        |  CAST(0 AS BIGINT) AS missing_exact_pairs,
        |  CAST(0 AS BIGINT) AS dup_pairs
        |FROM e""".stripMargin,
    "edgar_fact_composed" ->
      """WITH stg_sub AS (
        |  SELECT CAST(o_orderkey AS STRING) AS ADSH, o_custkey AS CIK, c_name AS NAME,
        |         'Unknown' AS COUNTRYBA,
        |         CAST(c_nationkey AS STRING) AS STPRBA,
        |         'Unknown' AS ZIPBA,
        |         c_mktsegment AS BAS1,
        |         'Does not exist or Unknown' AS BAS2,
        |         date_format(o_orderdate, 'yyyy-MM-dd') AS FILED
        |  FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey % 4 = 0),
        |stg_num AS (
        |  SELECT CAST(l_orderkey AS STRING) AS ADSH, CAST(l_partkey % 10 AS STRING) AS TAG,
        |         l_linestatus AS VERSION, l_returnflag AS UOM,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) AS VALUE,
        |         l_linestatus || '-' || CAST(l_partkey % 10 AS STRING) AS VERSION_TAG
        |  FROM lineitem WHERE l_orderkey % 4 = 0),
        |stg_pre AS (
        |  SELECT CAST(l_orderkey AS STRING) AS ADSH, l_returnflag AS STMT,
        |         CAST(l_partkey % 10 AS STRING) AS TAG, l_linestatus AS VERSION,
        |         l_linestatus || '-' || CAST(l_partkey % 10 AS STRING) AS VERSION_TAG
        |  FROM lineitem WHERE l_orderkey % 4 = 0),
        |dim_address AS (
        |  SELECT md5(concat_ws('-', COALESCE(BAS1,''), COALESCE(BAS2,''), COALESCE(STPRBA,''),
        |                       COALESCE(COUNTRYBA,''), COALESCE(ZIPBA,''))) AS COMP_ADDRESS_SK,
        |         NAME AS Company_Name
        |  FROM stg_sub),
        |dim_company AS (
        |  SELECT DISTINCT md5(concat_ws('-', COALESCE(CAST(s.CIK AS STRING),''),
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
        |          (SELECT DISTINCT CAST(l_partkey % 10 AS STRING) AS TAG, l_linestatus AS VERSION,
        |                  l_linestatus || '-' || CAST(l_partkey % 10 AS STRING) AS VERSION_TAG
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
        |GROUP BY 2, 3, 4, 5, 6, 7""".stripMargin,
    "graph_link_prediction" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1),
        |se AS (SELECT src AS id_a, dst FROM e WHERE src % 100 = 0),
        |c AS (SELECT se.id_a, e.src AS id_b, COUNT(*) AS common
        |      FROM se JOIN e ON e.dst = se.dst AND e.src <> se.id_a
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT c.id_a, c.id_b, c.common,
        |  ROUND(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 4) AS jac
        |FROM c JOIN deg da ON da.id = c.id_a
        |       JOIN deg db ON db.id = c.id_b""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qsum
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
        |SELECT c_custkey, o_orderkey, o_totalprice,
        |  CAST(qsum AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "retrieval_bm25_topk" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    filter(split(lower(text), '\\s+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, CAST(size(toks) AS DOUBLE) AS dl FROM d),
        |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dd),
        |q AS (SELECT * FROM VALUES
        |  (1,'dup'),(1,'merge'),
        |  (2,'join'),(2,'hash'),(2,'scan'),
        |  (3,'spark'),(3,'window'),(3,'slow') AS t(query_id, term)),
        |v AS (SELECT DISTINCT term FROM q),
        |tf AS (
        |  SELECT dd.doc_id, dd.dl, v.term,
        |    CAST(size(filter(dd.toks, x -> x = v.term)) AS DOUBLE) AS tf
        |  FROM dd CROSS JOIN v),
        |tfnz AS (SELECT * FROM tf WHERE tf > 0),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfnz GROUP BY term),
        |sc AS (
        |  SELECT q.query_id, tfnz.doc_id,
        |    ROUND(SUM(
        |      ln(1.0D + (g.n_docs - dfreq.df + 0.5D) / (dfreq.df + 0.5D)) *
        |      (tfnz.tf * 2.2D) /
        |      (tfnz.tf + 1.2D * (1.0D - 0.75D + 0.75D * tfnz.dl / g.avgdl))), 6) AS score
        |  FROM tfnz JOIN dfreq USING (term) JOIN q USING (term) CROSS JOIN g
        |  GROUP BY q.query_id, tfnz.doc_id)
        |SELECT query_id, doc_id, `rank` FROM (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS `rank`
        |  FROM sc) WHERE `rank` <= 10""".stripMargin)

  /** Each entry's rows, as the warm-up pass wrote them under `outputs`,
    * against its oracle over the generated tables under `data`. Returns
    * (errors, notes).
    */
  def checkOps(spark: SparkSession, data: String, outputs: String, entries: Seq[String],
               threads: Int): (Seq[String], Seq[String]) = {
    val s = session(spark)
    val dir = new java.io.File(data)
    dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).foreach { f =>
      s.read.parquet(s"$data/$f").createOrReplaceTempView(f.stripSuffix(".parquet"))
    }
    val repo = graft.SparkEntry.oracleSql
    collectResults(inParallel(threads)(entries.map { e =>
      () => OpsSql.get(e) match {
        case Some(sql) if repo.contains(e) =>
          compare(e, s.read.parquet(s"$outputs/$e"), s.sql(sql), loose = false)
        case _ => Left(s"$e: no oracle" +
          (if (repo.contains(e)) " in the benchmark" else " in SparkEntry.oracleSql"))
      }
    }))
  }
}
