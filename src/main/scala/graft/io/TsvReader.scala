package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}

import graft.schema.EdgarSchemas

/** Snowflake-`COPY INTO`-equivalent lenient TSV loader.
  *
  * Reproduces the reference's file-format + copy options (reference:
  * Airflow/dags/Sec_data_pipeline.py:379-398,417-457 and
  * Airflow/dags/tsv_to_snowflake.py:211-269):
  * `FIELD_DELIMITER='\t'`, `SKIP_HEADER=1`, `FIELD_OPTIONALLY_ENCLOSED_BY='"'`,
  * `NULL_IF ('NULL','null','')`/`EMPTY_FIELD_AS_NULL`, `DATE_FORMAT='YYYYMMDD'`,
  * `ON_ERROR='CONTINUE'` → Spark `DROPMALFORMED` mode: unparsable rows are
  * skipped inside the scan rather than failing the load.
  *
  * IMPORTANT semantics note: with `DROPMALFORMED`, Spark only detects a
  * malformed row in the fields a query actually reads (CSV column pruning), so
  * a lazily-read CSV can yield different row sets for different downstream
  * projections. Snowflake's `COPY` judges the whole row once at load. [[load]]
  * reproduces that by landing the parsed rows to parquet immediately — which
  * is also the right 100 TB pattern (parse text once, serve columnar scans
  * thereafter). Use [[read]] only when the one-pass caveat is acceptable.
  *
  * Scale note: `spark.read.csv` over a path glob parallelizes by file and by
  * split; the parquet landing write parallelizes the same way. Pattern
  * filtering is pushed to file listing via `pathGlobFilter` (COPY `PATTERN=`).
  */
object TsvReader {

  /** Lazily read one EDGAR TSV with a declared schema and COPY-leniency
    * options (see class note for the malformed-row caveat).
    */
  def read(spark: SparkSession, path: String, schema: StructType,
           pattern: Option[String] = None,
           boolCols: Seq[String] = Nil): DataFrame = {
    val reader = spark.read
      .schema(schema)
      .option("sep", "\t")
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "")
      .option("emptyValue", "")
      .option("dateFormat", "yyyyMMdd")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
      .option("mode", "DROPMALFORMED") // ON_ERROR='CONTINUE'
    val withPattern = pattern.fold(reader)(p => reader.option("pathGlobFilter", p))
    val raw = withPattern.csv(path)
    // NULL_IF ('NULL','null') on string columns (empty string handled by nullValue).
    val nulledLiterals = schema.fields.foldLeft(raw) { (df, f) =>
      if (f.dataType.typeName == "string")
        df.withColumn(f.name, when(lower(col(f.name)) === "null", lit(null)).otherwise(col(f.name)))
      else df
    }
    // 0/1 TSV columns that are BOOLEAN in the reference DDL.
    boolCols.foldLeft(nulledLiterals) { (df, c) =>
      df.withColumn(c, col(c).cast(BooleanType))
    }
  }

  /** `COPY INTO`-faithful load: parse the TSV once (all columns, whole-row
    * malformed judgment) and land it at `target` as parquet; returns the
    * landed table, read back with the schema it was written with (no
    * schema-inference job).
    */
  def load(spark: SparkSession, path: String, schema: StructType, target: String,
           pattern: Option[String] = None,
           boolCols: Seq[String] = Nil): DataFrame = {
    val parsed = read(spark, path, schema, pattern, boolCols)
    parsed.write.mode("overwrite").parquet(target)
    spark.read.schema(parsed.schema).parquet(target)
  }

  /** Load all four raw EDGAR tables from a directory of `{sub,tag,num,pre}.txt`.
    * With `landTo` set, each table is landed to `landTo/<name>` parquet
    * (COPY-faithful whole-row semantics); otherwise tables are lazy CSV reads.
    */
  def readAll(spark: SparkSession, dir: String,
              landTo: Option[String] = None): Map[String, DataFrame] =
    EdgarSchemas.all.map { case (name, schema) =>
      name -> (landTo match {
        case Some(w) => load(spark, s"$dir/$name.txt", schema, s"$w/$name",
          boolCols = EdgarSchemas.boolCols(name))
        case None => read(spark, s"$dir/$name.txt", schema,
          boolCols = EdgarSchemas.boolCols(name))
      })
    }
}
