package graft.io

import org.apache.spark.sql.{DataFrame, GraftInternals, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.graph.{Bucketed, Incremental, Materialization, MergeInc, Model, Partitioned, Table, View}

/** Model materializer: dbt materializations → Spark write paths
  * (reference: masterfindata/dbt_project.yml:26-45, fct_balanceSheet.sql:1-6).
  *
  *  - view → temp view + lazy DataFrame (recomputed per use, like a SQL
  *    view, except that [[graft.graph.ModelGraph.run]] computes a view read
  *    by two or more models once per run).
  *  - every written materialization (table, partitioned, merge-incremental,
  *    incremental) → read back with the schema just written (no
  *    schema-inference job); an incremental write also reads its target
  *    with the appended frame's schema to find the watermark, so the frame
  *    must have the target's schema (see [[graft.graph.Incremental]]).
  *  - table → parquet under `warehouseDir`, `cluster_by` mapped to a
  *    rebalance on the keys, then `sortWithinPartitions(keys)` (SURVEY.md
  *    §4), so files are clustered for downstream min/max pruning — the
  *    Spark analog of Snowflake clustering keys. The file count is sized
  *    from measured bytes: under AQE the rebalance shuffle starts at
  *    `clusterPartitions` partitions and is coalesced to the advisory
  *    partition size (`spark.sql.adaptive.advisoryPartitionSizeInBytes`),
  *    so a table of a few hundred rows lands as one file, not
  *    `clusterPartitions` files that every later read opens with a task
  *    each. `clusterPartitions` is therefore a cap; the one exception is
  *    AQE's rebalance skew rule, which splits a single partition above the
  *    advisory size into sorted slices. With AQE off the write lands as
  *    exactly `clusterPartitions` hash partitions, as a plain
  *    `repartition(n, keys)` would.
  *  - incremental → append rows with `watermark >= max(existing watermark)`
  *    (reference: json_transform/macros/incremental_filter.sql:1-5 — note the
  *    `>=` re-processes the boundary value; preserved as-is, SURVEY.md §7.4#7).
  */
final class Materializer(spark: SparkSession, warehouseDir: String,
                         clusterPartitions: Int = 32) {

  private def path(name: String) = s"$warehouseDir/$name"

  def apply(model: Model, df: DataFrame): DataFrame =
    materialize(model.name, df, model.materialization)

  def materialize(name: String, df: DataFrame, mat: Materialization): DataFrame =
    mat match {
      case View =>
        df.createOrReplaceTempView(name)
        df
      case Table(clusterBy, format) =>
        val out =
          if (clusterBy.isEmpty) df
          else GraftInternals.ofRows(df.sparkSession, RebalancePartitions(
              clusterBy.map(UnresolvedAttribute.quotedString),
              df.queryExecution.analyzed, Some(clusterPartitions)))
            .sortWithinPartitions(clusterBy.map(col): _*)
        out.write.mode("overwrite").format(format).save(path(name))
        val back = readBack(path(name), format, out.schema, Nil)
        back.createOrReplaceTempView(name)
        back
      case Partitioned(partitionBy, format) =>
        // one directory per partition value; a filter on the partition
        // column prunes directories before any file is opened
        df.write.mode("overwrite").partitionBy(partitionBy: _*)
          .format(format).save(path(name))
        val back = readBack(path(name), format, df.schema, partitionBy)
        back.createOrReplaceTempView(name)
        back
      case Bucketed(bucketBy, numBuckets) =>
        // a previous JVM may have left the managed location behind while the
        // in-memory catalog forgot the table — clear both before writing
        spark.sql(s"DROP TABLE IF EXISTS `$name`")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        df.write.mode("overwrite")
          .bucketBy(numBuckets, bucketBy.head, bucketBy.tail: _*)
          .sortBy(bucketBy.head, bucketBy.tail: _*)
          .format("parquet")
          .saveAsTable(name)
        spark.table(name)
      case MergeInc(keys, partitionByOpt, deleteColOpt) =>
        val target = path(name)
        val tpath = new org.apache.hadoop.fs.Path(target)
        val fs = tpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val delCol = deleteColOpt.map(col)
        // each branch writes a frame, then reads the target back with that
        // frame's schema
        val written = (fs.exists(tpath), partitionByOpt) match {
          case (false, partOpt) =>
            // first batch: tombstones have nothing to delete; feed metadata
            // (the delete flag) never lands in the table
            val seed0 = delCol.map(c => df.filter(!coalesce(c, lit(false)))).getOrElse(df)
            val seed = deleteColOpt.map(seed0.drop(_)).getOrElse(seed0)
            val w = seed.write.mode("overwrite")
            partOpt.fold(w)(p => w.partitionBy(p)).parquet(target)
            seed
          case (true, Some(p)) =>
            // partition-scoped merge: only the feed's partitions are read,
            // merged, and dynamically overwritten — untouched partitions'
            // files are never opened, let alone rewritten
            val touched = df.select(col(p)).distinct().collect().map(_.get(0))
            val existingSlice = spark.read.parquet(target)
              .filter(col(p).isin(touched: _*))
            val merged = graft.operators.Scd
              .mergeUpsert(existingSlice, df, keys, deleteWhen = delCol)
              // break lineage to the target files before overwriting them
              // (self-overwrite is otherwise rejected at analysis)
              .localCheckpoint()
            merged.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(p).parquet(target)
            // dynamic overwrite only replaces partitions PRESENT in the
            // output: a touched partition whose rows were all deleted writes
            // nothing and would silently survive — drop its directory
            val written = merged.select(col(p)).distinct().collect().map(_.get(0)).toSet
            touched.filterNot(written).foreach { v =>
              fs.delete(new org.apache.hadoop.fs.Path(tpath, s"$p=$v"), true)
            }
            merged
          case (true, None) =>
            val merged = graft.operators.Scd
              .mergeUpsert(spark.read.parquet(target), df, keys, deleteWhen = delCol)
              .localCheckpoint()
            merged.write.mode("overwrite").parquet(target)
            merged
        }
        val back = readBack(target, "parquet", written.schema, partitionByOpt.toSeq)
        back.createOrReplaceTempView(name)
        back
      case Incremental(wmCol) =>
        val target = path(name)
        val tpath = new org.apache.hadoop.fs.Path(target)
        val fs = tpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(tpath)) df.write.mode("overwrite").parquet(target)
        else {
          // the target read with the appended frame's schema: inferring
          // it would cost a Spark job on every refresh write
          val maxWm = readBack(target, "parquet", df.schema, Nil)
            .agg(max(col(wmCol))).head.get(0)
          val fresh =
            if (maxWm == null) df
            else df.filter(col(wmCol) >= lit(maxWm))
          fresh.write.mode("append").parquet(target)
        }
        val back = readBack(target, "parquet", df.schema, Nil)
        back.createOrReplaceTempView(name)
        back
    }

  /** The table at `dir`, read with the schema it was written with instead
    * of inferring it (an inference job per read). Only the data columns are
    * given: partition columns' types are still inferred from the directory
    * names, as a plain read infers them.
    */
  private def readBack(dir: String, format: String, written: StructType,
                       partitionBy: Seq[String]): DataFrame = {
    val data = written.filterNot(f => partitionBy.exists(_.equalsIgnoreCase(f.name)))
    spark.read.format(format).schema(StructType(data)).load(dir)
  }
}
