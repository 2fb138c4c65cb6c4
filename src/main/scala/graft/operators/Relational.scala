package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fn.{Keys, Ranking}
import graft.operators.Sampling
import graft.serve.{Eq, Filters, NumBetween}

/** The relational operator battery — every scan/filter/join/agg/window/sort/
  * set/scalar operator from SURVEY.md §2 exercised over the driver tables
  * (TESTDATA.md), each with a DuckDB oracle for the hash-compare gate.
  *
  * Conventions for cross-engine hash equality:
  *  - money sums aggregate in DECIMAL (exact, order-independent) and emit
  *    DOUBLE (identical binary value in both engines);
  *  - timestamps are compared/emitted via DATE casts (no tz/ntz skew);
  *  - every LIMIT/OFFSET rides on a unique ORDER key (deterministic subset).
  *
  * Scale notes are attached per query where the plan shape matters.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(s, dir, name)

  /** Sketch-accuracy semantic gate (the `_check` pattern) for the three
    * rows-only sketch entries: sketch INTERNALS are engine-private, but
    * each sketch's published accuracy CONTRACT is checkable against the
    * exact aggregate the battery already oracle-gates —
    *
    *  - `a10b` (HyperLogLog++ `approx_count_distinct`, default rsd 0.05):
    *    per-group relative error ≤ 0.15 (3× the one-sigma rsd);
    *  - `a11b` (Greenwald-Khanna `approx_percentile`, accuracy 10000 ⇒
    *    rank error ≤ n/10000): each approximate value must lie inside the
    *    EXACT percentile band [f−ε, f+ε] with ε = 0.005 — 50× the sketch's
    *    rank guarantee, and wide enough (≥1 rank for groups ≥ 200 rows)
    *    that interpolation at the band edges can't false-fail a data value
    *    sitting exactly on the target rank;
    *  - `a16` (Datasketches HLL, lgConfigK 12 ⇒ rsd ≈ 0.016): per-type
    *    estimates AND the register-wise union row within 5% of the exact
    *    distinct counts — the union bound is the one that catches a broken
    *    merge, the whole point of a mergeable sketch.
    *
    * All three sketches are deterministic for a fixed input (fixed hash
    * seeds), so the counters are stable run to run; DuckDB independently
    * derives the two group-count conservation columns and pins every
    * violation counter at zero. Verification-scale by design: the gate
    * recomputes the exact aggregates next to the sketches.
    */
  def sketchAccuracyInvariants(li: DataFrame, ev: DataFrame,
                               acdRelErr: Double = 0.15,
                               pctEps: Double = 0.005,
                               hllRelErr: Double = 0.05): DataFrame = {
    // the three error bands are the gate's published contract (defaults =
    // the battery values); overridable so the non-vacuity spec can pass an
    // unattainable band and prove each counter is computed, not a constant
    val acd = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("ex"),
        approx_count_distinct(col("l_partkey")).as("ap"))
      .agg(count(lit(1)).cast("long").as("n_flag_groups"),
        coalesce(sum(when(abs(col("ap") - col("ex")).cast("double") >
          lit(acdRelErr) * col("ex").cast("double"), 1L).otherwise(0L)), lit(0L))
          .cast("long").as("acd_violations"))
    val fracs = Seq(0.25, 0.5, 0.75)
    val eps = pctEps
    val bandFracs = (fracs.map(_ - eps) ++ fracs.map(_ + eps)).mkString(", ")
    val pct = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("ap"),
        expr(s"percentile(l_extendedprice, array($bandFracs))").as("bd"))
      .select(fracs.indices.map { i =>
        (element_at(col("ap"), i + 1) < element_at(col("bd"), i + 1) ||
          element_at(col("ap"), i + 1) > element_at(col("bd"), i + 4))
          .cast("long").as(s"v$i")
      }: _*)
      .agg(coalesce(sum(col("v0") + col("v1") + col("v2")), lit(0L))
        .cast("long").as("pct_violations"))
    val sk = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("ex"),
        hll_sketch_agg(col("user_id")).as("sk"))
    val perType = sk.agg(count(lit(1)).cast("long").as("n_type_groups"),
      coalesce(sum(when(abs(hll_sketch_estimate(col("sk")) - col("ex")).cast("double") >
        lit(hllRelErr) * col("ex").cast("double"), 1L).otherwise(0L)), lit(0L))
        .cast("long").as("hll_violations"))
    val union = sk.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("u"))
      .crossJoin(ev.agg(countDistinct(col("user_id")).as("gx")))
      .select(when(abs(col("u") - col("gx")).cast("double") >
        lit(hllRelErr) * col("gx").cast("double"), 1L).otherwise(0L)
        .cast("long").as("hll_union_violation"))
    acd.crossJoin(pct).crossJoin(perType).crossJoin(union)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P1: projection + rename — column pruning reaches the scan (ReadSchema).
    "p1_project_rename" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        upper(col("c_name")).as("name_uc"),
        col("c_acctbal").as("acctbal"))
    }),

    // P3: constant filter — pushed to parquet (PushedFilters).
    "p3_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate").cast("date") >= lit("1995-07-01"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // P5: dynamic predicate builder (the UI-filter path) — same pushdown.
    "p5_dynamic_filters" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(Filters.toCondition(Seq(
          Eq("c_mktsegment", "BUILDING"),
          NumBetween("c_acctbal", 0.0, 5000.0))))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    }),

    // P6: incremental watermark filter — batch form of the reference's
    // `col >= (SELECT MAX(col) FROM this)` macro; scalar agg is broadcast,
    // no shuffle of the big side. (events.ts is a nano-epoch long — see Tables)
    "p6_incremental_watermark" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wm = ev.agg((max(col("ts")) - lit(7L * graft.Tables.NanosPerDay)).as("wm"))
      ev.join(broadcast(wm))
        .filter(col("ts") >= col("wm"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // J1: plain equi-join — Catalyst picks broadcast-hash (nation is tiny).
    "j1_inner_equi" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
    }),

    // J2: multi-table chain with a constant filter — dims broadcast, the
    // filter prunes region before the join (PushDownPredicates).
    "j2_join_chain" -> ((s, dir) => {
      t(s, dir, "region").filter(col("r_name") === "ASIA")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("n_name"))
    }),

    // J3: composite-key join (num⋈pre shape from the fact build).
    "j3_composite_key" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val g = li.groupBy(col("l_orderkey"), col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"))
      li.join(g, Seq("l_orderkey", "l_partkey"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("n_lines"))
    }),

    // J4: explicit broadcast join of a small dim into the big fact, then agg.
    "j4_broadcast_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))
    }),

    // J5+P2: left join + null-default sentinel (the staging COALESCE family).
    "j5_left_coalesce" -> ((s, dir) => {
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("c_name"), lit("Unknown")).as("cust_name"),
          col("o_totalprice"))
    }),

    // J6: left join + IS NOT NULL — Catalyst's EliminateOuterJoin rewrites to
    // inner; same rows as the reference's key_data stage (P4).
    "j6_left_null_filter" -> ((s, dir) => {
      t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "left")
        .filter(col("c_custkey").isNotNull)
        .select(col("o_orderkey"), col("c_name"))
    }),

    // J7: denormalizing left-join chain (the JSON path's sub→num→tag→pre).
    "j7_denorm_chain" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("l_orderkey")).as("n_lineitems"))
    }),

    // J9: FK-orphan check as left-anti (the dbt relationships test).
    "j9_anti_join" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // left-semi (EXISTS) — the inverse of J9.
    "j10_semi_join" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
    }),

    // Bloom-prefiltered semi join (beyond tier): lineitems of high-value
    // orders (~3% selective key set). The key side folds into ONE broadcast
    // Bloom sketch that thins the fact BEFORE its exchange; the exact semi
    // join on the survivors keeps semantics row-identical (the oracle is a
    // plain EXISTS — any Bloom false negative breaks the hash). The
    // shuffle-reduction factor is spec-pinned in OperatorsSpec.
    "j12_bloom_semi_join" -> ((s, dir) => {
      val hv = t(s, dir, "orders")
        .filter(col("o_totalprice") > 480000.0)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.operators.SkewJoin.bloomSemiJoin(
          t(s, dir, "lineitem"), hv, "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
    }),

    // salted skew join (beyond tier) — the manual hot-key spreader for when
    // AQE's skew splitting isn't enough: the fact takes a whole-row-hash
    // salt, the dimension explodes ×16, and each hot supplier key spreads
    // over 16 reducers. Result must be ROW-IDENTICAL to the plain inner
    // join — the oracle is that plain join, so any salt-alignment bug
    // (missed (key, salt) pair, dropped salt bucket) breaks the hash.
    // Aggregated per nation so the gate also exercises the post-join shape.
    "j13_salted_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"),
          col("l_discount"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.SkewJoin.saltedInnerJoin(li, sup, "suppkey", buckets = 16)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    // full-outer join — year-over-year customer churn: both sides carry
    // unmatched rows (lost vs newly-acquired customers), the case semi/anti
    // can't express. Aggregate-before-join keeps the shuffled sides at
    // |active customers|, not |orders|, and the join key is the same
    // custkey both aggregations just partitioned by, so AQE can reuse the
    // exchange; coalesce() recovers the single key column.
    "j11_full_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val y94 = o.filter(year(col("o_orderdate")) === 1994)
        .groupBy(col("o_custkey").as("k94")).agg(count(lit(1)).as("n_1994"))
      val y95 = o.filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey").as("k95")).agg(count(lit(1)).as("n_1995"))
      y94.join(y95, col("k94") === col("k95"), "full_outer")
        .select(coalesce(col("k94"), col("k95")).as("custkey"),
          col("n_1994"), col("n_1995"))
    }),

    // A2: DISTINCT — hash agg on all columns.
    "a2_distinct" -> ((s, dir) => {
      t(s, dir, "orders").select(col("o_orderstatus"), col("o_orderpriority")).distinct()
    }),

    // A3: collect-to-array agg; array is sorted then joined so the unordered
    // ARRAY_AGG semantics hash stably (SURVEY.md §7.4#3).
    "a3_collect_sorted" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(col("o_orderkey"))),
            x => x.cast("string"))).as("order_keys"))
    }),

    // A4: scalar MAX subquery → rows at the max (broadcast single-row join).
    "a4_scalar_max" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.join(broadcast(o.agg(max(col("o_totalprice")).as("mx"))))
        .filter(col("o_totalprice") === col("mx"))
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // A5: global min/max (the UI slider-bounds query). Dates emit as ISO
    // strings — unambiguous across engines' dataframe date representations.
    "a5_minmax" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        min(col("l_shipdate").cast("date")).cast("string").as("min_ship"),
        max(col("l_shipdate").cast("date")).cast("string").as("max_ship"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
    }),

    // A6: value_counts (the UI pie chart).
    "a6_value_counts" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // A7/T2/T9: duplicate detection — key groups seen more than once.
    "a7_dup_groups" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
    }),

    // W1: ranked top-k per group (row_number over partition).
    "w1_topk_per_group" -> ((s, dir) => {
      Ranking.topK(t(s, dir, "customer"), Seq(col("c_nationkey")),
          Seq(col("c_acctbal").desc, col("c_custkey")), 3, "rn")
        .select(col("c_nationkey"), col("c_custkey"), col("rn"))
    }),

    // lag + running sum per key (sequence analytics over the event stream);
    // running sum in DECIMAL so the frame-ordered accumulation is exact.
    "w2_lag_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("running",
          sum(col("value").cast("decimal(14,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
        .select(col("event_id"), col("user_id"), col("prev_value"), col("running"))
    }),

    // W2/W3: generated calendar dimension (dim_date) from spark.range — no
    // single-partition ROW_NUMBER; embarrassingly parallel at any size.
    "w3_calendar_dim" -> ((s, dir) => {
      graft.models.Dims.dimDate(s)
        .select(col("DATE_SK").as("date_sk"),
          col("FULL_DT").cast("string").as("full_dt"),
          col("YEAR").as("year"), col("MONTH").as("month"),
          col("QUARTER").as("quarter"), col("DAY_OF_MONTH").as("day_of_month"),
          col("DAY_OF_WEEK").as("day_of_week"), col("IS_WEEKEND").as("is_weekend"))
    }),

    // TPC-H Q3 shape: selective join chain → grouped revenue → top-k.
    "q3_shipping_priority" -> ((s, dir) => {
      val cutoff = lit("1995-03-15")
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate").cast("date") < cutoff)
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate").cast("date") > cutoff)
        .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").cast("string").as("o_orderdate"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
    }),

    // TPC-H Q5 shape: 6-table star join with region filter → per-nation agg.
    "q5_local_revenue" -> ((s, dir) => {
      t(s, dir, "region").filter(col("r_name") === "EUROPE")
        .join(t(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(t(s, dir, "supplier"), col("n_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "lineitem"), col("s_suppkey") === col("l_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    // Join-skew diagnostic: per-key-column group-size distribution — the
    // pre-join report that decides whether a key needs the salted path
    // (`operators/SkewJoin`) or AQE skew handling. One hash agg per column,
    // reduced to a one-row profile each: max/mean group size, skew factor,
    // and how many groups exceed 4× the mean. Everything downstream of the
    // per-key agg is group-cardinality-sized.
    "diag_skew_report" -> ((s, dir) => {
      def profile(df: DataFrame, keyCol: String, table: String): DataFrame =
        df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_groups"),
            max(col("n")).as("max_n"),
            round(sum(col("n")).cast("double") / count(lit(1)), 6).as("mean_n"))
          .withColumn("skew_factor",
            round(col("max_n") / col("mean_n"), 6))
          .withColumn("key_col", lit(s"$table.$keyCol"))
          .select(col("key_col"), col("n_groups"), col("max_n"),
            col("mean_n"), col("skew_factor"))
      profile(t(s, dir, "lineitem"), "l_partkey", "lineitem")
        .unionByName(profile(t(s, dir, "lineitem"), "l_suppkey", "lineitem"))
        .unionByName(profile(t(s, dir, "orders"), "o_custkey", "orders"))
    }),

    // Join-cardinality estimator (the second planner diagnostic next to
    // diag_skew_report): |A ⋈_k B| from two 1024-bucket key histograms —
    // each side reduces MAP-SIDE to ≤ 1024 rows before any exchange, so
    // the estimate costs two scans and a metadata-sized join at ANY scale.
    // The raw bucketed dot product Σ_b cntA_b·cntB_b is BIASED upward by
    // the in-bucket cross terms — E[dot] = J + (|A||B| − J)/nb, which
    // DOMINATES when distinct keys ≫ buckets (measured here: dot 88.5M vs
    // true 600k) — so the emitted estimate is the unbiased inversion
    // (nb·dot − |A||B|)/(nb − 1), the classic count-sketch inner-product
    // correction. The exact size Σ_key cntA·cntB (a distinct-key shuffle —
    // cheap next to materializing the join, but key-cardinality-sized
    // where the sketch is constant-sized) and the relative error are
    // emitted too, so the gate certifies the accuracy contract on this
    // data. md5-derived buckets = engine-portable.
    "diag_join_estimate" -> ((s, dir) => {
      val nb = 1024
      def hist(df: DataFrame, key: String) = df
        .groupBy(Sampling.hashBucket(col(key), nb).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val dot = hist(o, "o_orderkey").as("ha")
        .join(hist(li, "l_orderkey").as("hb"), Seq("bucket"))
        .agg(sum(col("ha.cnt") * col("hb.cnt")).as("dot"))
      val sizes = o.agg(count(lit(1)).as("na"))
        .crossJoin(li.agg(count(lit(1)).as("nb_rows")))
      def keyCnt(df: DataFrame, key: String) = df
        .groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
      val exact = keyCnt(o, "o_orderkey").as("ka")
        .join(keyCnt(li, "l_orderkey").as("kb"), Seq("k"))
        .agg(sum(col("ka.cnt") * col("kb.cnt")).as("exact_rows"))
      dot.crossJoin(sizes).crossJoin(exact)
        .select(col("dot"), col("exact_rows"),
          round((lit(nb) * col("dot") - col("na") * col("nb_rows"))
            .cast("double") / (nb - 1), 2).as("est_rows"))
        .select(col("est_rows"), col("exact_rows"),
          round((col("est_rows") - col("exact_rows")) * 100.0 /
            col("exact_rows"), 4).as("err_pct"))
    }),

    // equi-DEPTH histogram (the planner-statistics companion to a14's
    // fixed-width form): quartile edges from ONE exact-percentile pass,
    // broadcast back as bucket bounds; counts per bucket are then a plain
    // hash agg. Bucket of x = number of edges ≤ x (half-open on the upper
    // edges), so every engine buckets identically.
    "a19_equidepth_hist" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val edges = li.agg(
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("es"))
        .select(element_at(col("es"), 1).as("e1"),
          element_at(col("es"), 2).as("e2"), element_at(col("es"), 3).as("e3"))
      li.crossJoin(broadcast(edges))
        .select((when(col("l_extendedprice") > col("e3"), 3)
          .when(col("l_extendedprice") > col("e2"), 2)
          .when(col("l_extendedprice") > col("e1"), 1)
          .otherwise(0)).as("bucket"),
          col("l_extendedprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 4).as("lo"),
          round(max(col("l_extendedprice")), 4).as("hi"))
    }),

    // exact group-wise MODE with a deterministic tie-break (most frequent
    // value, ties to the smallest) — the window form, NOT the engines'
    // mode() aggregates, whose tie-break is unspecified and engine-specific
    "a20_mode" -> ((s, dir) => {
      val cnt = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      Ranking.topK(cnt, Seq(col("l_returnflag")), Seq(col("n").desc, col("l_quantity")), 1, "rk")
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n").as("mode_n"))
    }),

    // exact WEIGHTED median (lower): the smallest value whose running
    // weight reaches half the group's total — integer weights keep the
    // comparison exact, and the "2·cum ≥ total" form avoids ever dividing.
    // One sort-window pass + one aggregation; the engines' own
    // percentile/median functions interpolate (and disagree), this
    // definition is engine-free
    "a22_weighted_median" -> ((s, dir) => {
      val byPrice = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val whole = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("wt"))
        .withColumn("cumw", sum(col("wt")).over(byPrice))
        .withColumn("totw", sum(col("wt")).over(whole))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("l_extendedprice")).as("weighted_median"),
          max(col("totw")).as("total_weight"))
    }),

    // Pearson correlation + OLS fit, BIT-EXACT across engines: the moment
    // sums accumulate in LONGS (whole-dollar prices, integral quantities —
    // exact and order-independent; actual magnitudes stay < 2^53 so the
    // final cast to double is exact too), and the closing arithmetic is
    // the SAME parenthesized +,−,×,÷,√ expression tree in both engines —
    // all IEEE-754 correctly-rounded ops, so identical inputs give
    // identical doubles with NO rounding fuzz. The engines' own corr() /
    // regr_slope() stream float partials in partition order and cannot
    // make this guarantee.
    "a21_corr_linfit" -> ((s, dir) => {
      // x = whole-dollar list price, y = whole-dollar discounted revenue —
      // the slope per flag IS the effective (1 − mean discount) factor
      val xq = col("l_extendedprice").cast("long")
      val yt = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("long")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(xq).cast("double").as("sx"), sum(yt).cast("double").as("sy"),
          sum(xq * xq).cast("double").as("sxx"),
          sum(xq * yt).cast("double").as("sxy"),
          sum(yt * yt).cast("double").as("syy"))
        .select(col("l_returnflag"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
            col("n")).as("icept"))
    }),

    // S8 companion: schema-on-read over an embedded JSON column (the
    // VARIANT-path access the reference gets from Snowflake's `:` operator).
    // get_json_object is a codegen'd per-row projection — extraction adds
    // no shuffle; the only exchange is the group agg. Null-robust: rows
    // whose path is absent/malformed count separately instead of vanishing.
    "s8_json_path_agg" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
    }),

    // S8's Spark-4-NATIVE twin: the same VARIANT-path aggregate through the
    // engine's binary variant type instead of per-access string re-parsing —
    // `try_parse_json` decodes each JSON document ONCE into the
    // shredding-friendly binary encoding, `try_variant_get` does typed path
    // access on those bytes. Same null-robust semantics (absent path or
    // non-long value → null, counted, never dropped); at scale this is the
    // form that wins when SEVERAL paths are extracted per row — one decode
    // amortizes across all of them, where s8's get_json_object re-parses
    // the string per path.
    "s8c_variant_agg" -> ((s, dir) => {
      val k = try_variant_get(try_parse_json(col("props")), "$.k", "long")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
    }),

    // TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join driver —
    // the per-order rollup (group-cardinality-sized after its one shuffle)
    // filters DOWN to the few large orders before any dimension join, so
    // the customer/orders joins see only qualifying keys. AQE broadcasts
    // the filtered rollup; at any scale the expensive side streams once.
    "q18_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qsum"))
        .filter(col("qsum") > 150)
      t(s, dir, "orders").join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("qsum").cast("double").as("sum_qty"))
    }),

    // TPC-H Q10 shape: returned-items revenue per customer over one quarter.
    // Both fact inputs are thinned BEFORE the join — the date window on
    // orders and the returnflag on lineitem reach their scans as pushed
    // filters — then one customer-keyed aggregate; nation broadcasts. The
    // decimal-fold keeps the revenue exact, so the top-20 order (revenue
    // desc, custkey) is engine-deterministic.
    // column-level lineage of the Q10 shape, extracted from the ANALYZED
    // plan (graft.serve.Lineage — the dbt-docs parity feature at COLUMN
    // grain), TYPED: 'data' edges (value flows into the column) plus
    // 'indirect' edges (Filter/Join-condition attributes that select the
    // column's rows without entering its value — the OpenLineage facet's
    // split). Deterministic plan metadata ⇒ a constant-table oracle
    "meta_column_lineage" -> ((s, dir) =>
      graft.serve.Lineage.lineageFrameTyped(s,
        queries("q10_returned_items")(s, dir))),

    "q10_returned_items" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01") &&
          col("o_orderdate").cast("date") < lit("1996-04-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
    }),

    // TPC-H Q17 shape (r13): CORRELATED scalar subquery — per-brand revenue
    // from "small" line items, where small means below 20% of that PART's
    // own average quantity. Deliberately written as the correlated SQL form
    // (the one lane the battery's other 200+ entries never exercise) so
    // Catalyst's decorrelation does the rewrite: the per-row
    // `(SELECT 0.2*AVG(..) WHERE l2.l_partkey = p_partkey)` becomes ONE
    // partkey-grained aggregate joined back to the fact — per-row subquery
    // execution would be O(rows × group) and is plan-pinned absent in
    // PlanSpec. AVG(l_quantity) is cross-engine exact here: quantities are
    // integers ≤ 50, so every partial sum is an exactly-representable
    // double regardless of summation order, and the revenue fold is the
    // q10 decimal-then-double discipline.
    "q17_small_quantity_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q17_part")
      s.sql("""
        SELECT p_brand,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
            AS avg_yearly,
          COUNT(*) AS n_small
        FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
                            FROM q17_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand""")
    }),

    // TPC-H Q22 shape (r13): the EXISTENTIAL decorrelation lane — Q17
    // covers correlated SCALAR subqueries; this covers correlated
    // NOT EXISTS, which Catalyst must rewrite to a left-anti join (plan-
    // pinned: no surviving subquery, one anti join), plus two uncorrelated
    // scalar subqueries for the balance bar. "Churned high-balance
    // accounts per nation": above-average balance, no order since
    // 2001-01-01 (this generator gives every customer SOME order, so the
    // anti-join needs the window to be non-trivial — 615/1500 qualify at
    // sf0.01; the cutoff is a direct TIMESTAMP bound, not CAST(..AS DATE),
    // so the predicate reaches the orders parquet scan — a cast around the
    // column would block pushdown, and the pin below checks it).
    // The above-average bar is the exact decimal product form
    // `bal·n > Σbal` rather than `bal > avg(bal)`: a float avg differs in
    // its last ulp across engines at this summation size, and a boundary
    // row flipping would break the hash contract.
    "q22_churned_balances" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q22_customer")
      t(s, dir, "orders").createOrReplaceTempView("q22_orders")
      s.sql("""
        SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        FROM q22_customer
        WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
              (SELECT COUNT(*) FROM q22_customer WHERE c_acctbal > 0.0) >
              (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4)))
               FROM q22_customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM q22_orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        GROUP BY c_nationkey""")
    }),

    // TPC-H Q21 shape (r13): the DOUBLE-existential decorrelation lane —
    // a correlated EXISTS and a correlated NOT EXISTS over the SAME
    // derived relation, each with a non-equi correlation term
    // (`f2.l_suppkey <> f1.l_suppkey`). Catalyst must plan one left-semi
    // and one left-anti join carrying that mixed equi+non-equi condition
    // — per-row subquery loops here would be O(rows × order-size) twice
    // over the fact table (plan-pinned in PlanSpec: no surviving
    // subqueries, exactly one LeftSemi and one LeftAnti). The generator
    // has no receipt/commit dates, so "late" is shipped >60 days after
    // the order date — the lateness flag lives on a lineitem⋈orders CTE
    // that all three references share, which also makes this the one
    // battery entry where decorrelation runs over a WITH-relation rather
    // than a base table. Counts are exact integers; s_name is unique per
    // supplier and ≤100 groups exist, so the LIMIT never ties.
    "q21_waiting_suppliers" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q21_lineitem")
      t(s, dir, "orders").createOrReplaceTempView("q21_orders")
      t(s, dir, "supplier").createOrReplaceTempView("q21_supplier")
      t(s, dir, "nation").createOrReplaceTempView("q21_nation")
      s.sql("""
        WITH flagged AS (
          SELECT l_orderkey, l_suppkey,
                 l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
          FROM q21_lineitem JOIN q21_orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F')
        SELECT s_name, n_nationkey AS nation_key, COUNT(*) AS numwait
        FROM flagged f1
        JOIN q21_supplier ON s_suppkey = f1.l_suppkey
        JOIN q21_nation ON n_nationkey = s_nationkey
        WHERE f1.late
          AND EXISTS (SELECT 1 FROM flagged f2
                      WHERE f2.l_orderkey = f1.l_orderkey
                        AND f2.l_suppkey <> f1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM flagged f3
                          WHERE f3.l_orderkey = f1.l_orderkey
                            AND f3.l_suppkey <> f1.l_suppkey AND f3.late)
        GROUP BY s_name, n_nationkey
        ORDER BY numwait DESC, s_name LIMIT 100""")
    }),

    // TPC-H Q20 shape (r14): the NESTED-IN decorrelation lane that
    // finishes the Q17/Q21/Q22 family — a correlated IN whose subquery
    // itself contains BOTH an uncorrelated IN (the part-name filter) and a
    // correlated scalar aggregate TWO levels deep (the per-(part, supplier)
    // average referenced from inside the outer IN's subquery). Catalyst
    // must decorrelate all three: the scalar agg becomes one
    // (partkey, suppkey)-grained aggregate joined back, and both INs
    // become left-semi joins — plan-pinned in PlanSpec (no surviving
    // subquery, ≥2 LeftSemi). The generator has no partsupp table, so
    // availqty > 0.5·SUM becomes quantity > 1.8·AVG over the same
    // supplier's shipments of that part — structurally identical nesting.
    // AVG is cross-engine exact for the Q17 reason (integer quantities,
    // exactly-representable partial sums); 35/100 suppliers qualify at
    // sf0.01, so the semi joins are non-vacuous.
    "q20_promotable_suppliers" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("q20_supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("q20_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q20_part")
      s.sql("""
        SELECT s_name, s_nationkey AS nation_key
        FROM q20_supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM q20_lineitem l1
            WHERE l_partkey IN (SELECT p_partkey FROM q20_part
                                WHERE p_name LIKE 'small%')
              AND l_quantity > (SELECT 1.8 * AVG(l2.l_quantity)
                                FROM q20_lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey
                                  AND l2.l_suppkey = l1.l_suppkey))
          AND s_nationkey < 13""")
    }),

    // TPC-H Q2 shape (r14): correlated scalar MIN over a multi-table JOIN
    // — the family's Q17 lane decorrelates a single-table AVG; this one's
    // subquery is itself a 3-table join (lineitem ⋈ supplier ⋈ nation,
    // region-filtered) whose MIN is referenced per outer row. Catalyst
    // must decorrelate the whole join into ONE partkey-grained aggregate
    // (plan-pinned: no surviving subquery, the min-aggregate present, the
    // n_regionkey filter pushed into BOTH nation scans). No partsupp in
    // the generator, so "min supplycost" becomes min extended price among
    // region-1 shipments of the part — identical structure. Cross-engine
    // exact by construction: the predicate compares a STORED double to the
    // MIN of stored doubles, zero arithmetic.
    "q2_min_cost_supplier" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("q2_part")
      t(s, dir, "lineitem").createOrReplaceTempView("q2_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q2_supplier")
      t(s, dir, "nation").createOrReplaceTempView("q2_nation")
      s.sql("""
        SELECT s_name, s_acctbal, p_partkey, p_brand,
               l_extendedprice AS min_price
        FROM q2_part JOIN q2_lineitem ON p_partkey = l_partkey
        JOIN q2_supplier ON s_suppkey = l_suppkey
        JOIN q2_nation ON s_nationkey = n_nationkey
        WHERE p_size <= 15 AND n_regionkey = 1
          AND l_extendedprice = (
            SELECT MIN(l2.l_extendedprice)
            FROM q2_lineitem l2
            JOIN q2_supplier s2 ON s2.s_suppkey = l2.l_suppkey
            JOIN q2_nation n2 ON n2.n_nationkey = s2.s_nationkey
            WHERE l2.l_partkey = p_partkey AND n2.n_regionkey = 1)""")
    }),

    // TPC-H Q15 shape (r14): scalar subquery over an AGGREGATED CTE — the
    // revenue view is referenced twice (the join and the MAX bar), so the
    // decorrelation family gains the view-maximum pattern its other lanes
    // (base-table Q17/Q20, existential Q21/Q22, join-subquery Q2) never
    // exercise. Exactness discipline: the revenue fold casts the PRODUCT
    // to DECIMAL(18,4) once (q10's rule — both engines round the double
    // product identically), the decimal SUM/MAX/equality are then exact,
    // and only the output column drops to DOUBLE.
    "q15_top_supplier" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q15_lineitem")
      t(s, dir, "supplier").createOrReplaceTempView("q15_supplier")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
            SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
              AS total_revenue
          FROM q15_lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        FROM q15_supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""")
    }),

    // TPC-H Q7 shape (r14): cross-nation volume — a 6-table join whose
    // nation pair is a DISJUNCTION of two symmetric conjunctions, grouped
    // by the pair + the shipdate YEAR. The decimal-once volume cast keeps
    // the per-(pair, year) sums exact; EXTRACT(YEAR ...) is integer.
    "q7_nation_volume" -> ((s, dir) => {
      Seq("lineitem", "supplier", "orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"q7_$n"))
      s.sql("""
        SELECT supp_nation, cust_nation, yr,
          CAST(SUM(vol) AS DOUBLE) AS revenue, COUNT(*) AS n_ship
        FROM (SELECT n1.n_nationkey AS supp_nation, n2.n_nationkey AS cust_nation,
                EXTRACT(YEAR FROM l_shipdate) AS yr,
                CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol
              FROM q7_lineitem JOIN q7_supplier ON s_suppkey = l_suppkey
              JOIN q7_orders ON o_orderkey = l_orderkey
              JOIN q7_customer ON c_custkey = o_custkey
              JOIN q7_nation n1 ON s_nationkey = n1.n_nationkey
              JOIN q7_nation n2 ON c_nationkey = n2.n_nationkey
              WHERE ((n1.n_nationkey = 1 AND n2.n_nationkey = 2)
                  OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1))
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
        GROUP BY supp_nation, cust_nation, yr""")
    }),

    // TPC-H Q12 shape (r14): dual CASE-bucketed counts over a join with an
    // IN-list predicate INSIDE the aggregate — the late-shipment split by
    // priority class. Counts are exact integers; the 30-day lateness bound
    // is the q21 interval spelling.
    "q12_priority_lateness" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q12_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("q12_lineitem")
      s.sql("""
        SELECT l_returnflag,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM q12_orders JOIN q12_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        GROUP BY l_returnflag""")
    }),

    // TPC-H Q13 shape (r14): the customer-distribution DOUBLE aggregation —
    // count orders per customer, then histogram the counts — over a LEFT
    // OUTER join whose non-key predicate lives in the ON clause (filtering
    // the RIGHT side before the join, never dropping order-less customers;
    // a WHERE spelling would silently turn the join inner — the classic
    // outer-join placement bug this lane pins cross-engine). All integers.
    "q13_order_distribution" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q13_customer")
      t(s, dir, "orders").createOrReplaceTempView("q13_orders")
      s.sql("""
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM q13_customer LEFT OUTER JOIN q13_orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count""")
    }),

    // TPC-H Q14 shape (r14): promo revenue share — a conditional-over-total
    // ratio. Cross-engine exact: both sums are DECIMAL(18,4)-folded
    // (decimal-once product cast), each casts to double deterministically,
    // and the ratio is two IEEE ops in fixed order — bit-identical without
    // any rounding fudge.
    "q14_promo_share" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q14_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q14_part")
      s.sql("""
        SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
               CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS promo_share,
          COUNT(*) AS n
        FROM (SELECT p_type,
                CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol
              FROM q14_lineitem JOIN q14_part ON p_partkey = l_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00')""")
    }),

    // TPC-H Q16 shape (r14): NOT IN with a subquery — the NULL-AWARE anti
    // join lane (semantically distinct from Q22's NOT EXISTS: a single
    // null in the subquery would empty the result, so Catalyst must plan
    // the null-aware variant, not a plain LeftAnti) — plus COUNT(DISTINCT)
    // per group and an uncorrelated IN-list pushed to the part scan.
    "q16_supplier_counts" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q16_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q16_part")
      t(s, dir, "supplier").createOrReplaceTempView("q16_supplier")
      s.sql("""
        SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
        WHERE p_size IN (1, 5, 10, 15, 20)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size""")
    }),

    // TPC-H Q19 shape (r14): the DISJUNCTIVE multi-table predicate — three
    // brand/size/quantity conjunctions OR'd together, referencing BOTH join
    // sides, so no disjunct can be pushed wholesale; what Catalyst can and
    // must do is keep the equi-join (the OR must not degrade the join to a
    // nested loop) — plan-pinned. Revenue is the decimal-once fold.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("q19_lineitem")
      t(s, dir, "part").createOrReplaceTempView("q19_part")
      s.sql("""
        SELECT COUNT(*) AS n_lines,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
        FROM q19_lineitem JOIN q19_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")
    }),

    // TPC-H Q4 shape (r14): the SINGLE correlated EXISTS lane — the one
    // canonical existential the family still lacked (Q21 is the double
    // form, Q22 the negated one). The correlation carries a NON-EQUI term
    // (`l_shipdate > o_orderdate + 45 days` references both sides), so
    // Catalyst must plan a LeftSemi with a mixed equi+range condition —
    // plan-pinned. Counts are exact integers; the 45-day bound is the q21
    // interval spelling (no l_commitdate/l_receiptdate in this schema, so
    // "late" = shipped >45 days after order, same semantics as q12's
    // lateness predicate).
    "q4_priority_late_orders" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("q4_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("q4_lineitem")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM q4_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM q4_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
        GROUP BY o_orderpriority""")
    }),

    // TPC-H Q6 shape (r14): the pure scan-side lane — a single-table
    // filter+aggregate whose entire WHERE must reach the parquet reader as
    // PushedFilters (plan-pinned: shipdate window, discount band, quantity
    // cap all pushed; ReadSchema carries only the four touched columns).
    // At 100 TB this query IS its scan: row-group statistics skip
    // everything outside the date window, so the pushdown is the operator.
    // Double literals are CAST-pinned on both engines so the band compares
    // double-to-double bit-identically.
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
          col("l_quantity") < lit(24.0))
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * col("l_discount"))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    // TPC-H Q8 shape (r14): national market share — the 8-table join
    // (two roles of nation: the customer's region gate and the supplier's
    // identity) reduced in ONE pass by a conditional aggregate: share =
    // Σ(vol | supp_nation=3) / Σ(vol) per order year. The naive spelling
    // joins the fact twice (numerator and denominator); the CASE fold
    // halves the scan and keeps one shuffle. Q14's exactness rule: both
    // sums decimal-folded, each cast to double, ratio is one IEEE divide.
    "q8_market_share" -> ((s, dir) => {
      Seq("lineitem", "supplier", "orders", "customer", "nation", "region",
        "part").foreach(n => t(s, dir, n).createOrReplaceTempView(s"q8_$n"))
      s.sql("""
        SELECT yr,
          CAST(CAST(SUM(CASE WHEN supp_nation = 3 THEN vol
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
            / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share,
          COUNT(*) AS n
        FROM (SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
                CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
                s_nationkey AS supp_nation
              FROM q8_part JOIN q8_lineitem ON p_partkey = l_partkey
              JOIN q8_supplier ON s_suppkey = l_suppkey
              JOIN q8_orders ON l_orderkey = o_orderkey
              JOIN q8_customer ON o_custkey = c_custkey
              JOIN q8_nation n1 ON c_nationkey = n1.n_nationkey
              JOIN q8_region ON n1.n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
                AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        GROUP BY yr""")
    }),

    // TPC-H Q9 shape (r14): product-type profit — a LIKE-filtered measure
    // built from BOTH join sides (revenue from lineitem minus a cost term
    // from part), grouped by supplier nation × order year. This schema has
    // no partsupp, so supply cost is proxied as 60% of retail price — the
    // decimal SUBTRACTION discipline is the point: each side of the minus
    // is decimal-folded separately (DECIMAL(18,4) − DECIMAL(18,4) →
    // exact), so the profit sum never accumulates float error. The
    // '%gear%' infix LIKE cannot prune row groups (no prefix) but DOES
    // push as a string-contains filter to the part scan.
    "q9_product_profit" -> ((s, dir) => {
      Seq("lineitem", "part", "supplier", "orders")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"q9_$n"))
      s.sql("""
        SELECT nation_key, yr,
          CAST(SUM(profit) AS DOUBLE) AS sum_profit, COUNT(*) AS n
        FROM (SELECT s_nationkey AS nation_key,
                EXTRACT(YEAR FROM o_orderdate) AS yr,
                CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  - CAST(p_retailprice * l_quantity * CAST(0.6 AS DOUBLE)
                         AS DECIMAL(18,4)) AS profit
              FROM q9_lineitem JOIN q9_part ON p_partkey = l_partkey
              JOIN q9_supplier ON s_suppkey = l_suppkey
              JOIN q9_orders ON o_orderkey = l_orderkey
              WHERE p_name LIKE '%gear%')
        GROUP BY nation_key, yr""")
    }),

    // TPC-H Q11 shape (r14): GROUP BY ... HAVING against an UNCORRELATED
    // scalar-subquery bar — the aggregate-vs-global-aggregate pattern the
    // family still lacked (Q15 reuses a CTE by equality; here the bar is
    // an inequality and the subquery re-states the whole FROM/WHERE, the
    // canonical Q11 spelling). No partsupp in this schema, so "stock
    // value" is retailprice × shipped quantity per part from ASIA-nation
    // suppliers. The bar is 2.5× the mean part value — mean-relative, so
    // the predicate stays selective-but-nonempty at ANY scale factor
    // (TPC-H's own 0.0001/SF fraction bakes the scale into the constant;
    // a mean-relative bar is the scale-free spelling). Both the group
    // value and the bar are exact-decimal sums cast to double, divided/
    // scaled in pinned order — bit-identical across engines.
    "q11_important_stock" -> ((s, dir) => {
      Seq("lineitem", "part", "supplier", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(s"q11_$n"))
      s.sql("""
        SELECT l_partkey,
          CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
            AS DOUBLE) AS stock_value
        FROM q11_lineitem JOIN q11_part ON p_partkey = l_partkey
        JOIN q11_supplier ON s_suppkey = l_suppkey
        WHERE s_nationkey IN (SELECT n_nationkey FROM q11_nation
                              WHERE n_regionkey = 2)
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
                 AS DOUBLE) >
          (SELECT CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
                    AS DOUBLE) * CAST(2.5 AS DOUBLE)
                  / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
           FROM q11_lineitem JOIN q11_part ON p_partkey = l_partkey
           JOIN q11_supplier ON s_suppkey = l_suppkey
           WHERE s_nationkey IN (SELECT n_nationkey FROM q11_nation
                                 WHERE n_regionkey = 2))""")
    }),

    // ranking family: rank/dense_rank/ntile (beyond the reference's W1).
    "w4_rank_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
    }),

    // distribution ranks (r13) — the two window functions w4 leaves out.
    // The unique (acctbal DESC, custkey) ordering makes every row its own
    // peer group, so percent_rank = (rank−1)/(n−1) and cume_dist = rank/n
    // are single divisions of exact small integers — bit-identical in any
    // engine, no rounding discipline needed.
    "w6_dist_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
    }),

    // time-RANGE window frame (beyond): sliding 1-hour lookback per user —
    // a RangeFrame, physically distinct from w2's RowFrame (peers at equal
    // ts all enter the frame; frame bounds move by VALUE, not row count).
    // µs grain + decimal sum for engine-exact compare.
    "w5_time_range_window" -> ((s, dir) => {
      val hourUs = 3600L * 1000 * 1000
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-hourUs, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("value").cast("decimal(18,2)")).over(w)
            .cast("double").as("v_1h"))
    }),

    // 2-D density grid (the heatmap/scatter-density reduction behind the
    // reference frontend's plots): day × value-decile cell counts + exact
    // decimal mass. The plot-side data op — a renderer draws cells, the
    // engine never ships raw points. Shuffle is bounded by #cells.
    "a17_density_grid" -> ((s, dir) => {
      val dayUs = 86400L * 1000 * 1000
      t(s, dir, "events")
        .select(expr(s"(ts div 1000) div $dayUs").as("day_idx"),
          floor(col("value") / 10.0).cast("long").as("value_decile"),
          col("value"))
        .groupBy(col("day_idx"), col("value_decile"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("mass"))
    }),

    // winsorized robust statistics: per-group p05/p95 caps applied to the
    // measure before aggregating — the outlier-robust profile a fact column
    // gets before its values feed a model or a dashboard scale. Two passes:
    // the exact-percentile frame is GROUP-CARDINALITY-sized and broadcast
    // back over the fact scan (never a fact shuffle for the clamp), then one
    // partial+final agg. Decimal-exact sum → double for the engine compare.
    "a18_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val capped = greatest(least(col("l_extendedprice"), col("p95")), col("p05"))
      val pcts = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.05, 0.95))").as("ps"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("p05"), element_at(col("ps"), 2).as("p95"))
      li.join(broadcast(pcts), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(capped.cast("decimal(28,6)")).cast("double") / count(lit(1)), 4)
            .as("avg_w"),
          round(min(capped), 4).as("min_w"),
          round(max(capped), 4).as("max_w"),
          round(min(col("p05")), 4).as("cap_lo"),
          round(min(col("p95")), 4).as("cap_hi"))
    }),

    // multi-dimensional aggregates (absent in the reference — exceed parity).
    "a8_rollup" -> ((s, dir) => {
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),
    "a9_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),

    // explicit GROUPING SETS — the general form rollup/cube specialize:
    // per-status totals, per-priority totals, and the grand total in one
    // Expand+hash-agg pass (one scan, one shuffle — not a UNION of three
    // aggregations, which would scan three times).
    "a15_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // exact distinct count (the approx variant is a separate rows-only query).
    "a10_count_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_lines"))
    }),
    "a10b_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("n_parts_approx"))
    }),

    // the sketch-accuracy semantic gate for a10b/a11b/a16 — each sketch's
    // published error contract checked against the exact aggregate,
    // violation counters DuckDB pins at zero
    "sketch_accuracy_check" -> ((s, dir) =>
      sketchAccuracyInvariants(t(s, dir, "lineitem"), t(s, dir, "events"))),

    // MERGEABLE distinct-count sketches (Datasketches HLL): per-type user
    // sketches plus a global row that UNIONS the per-type sketches instead
    // of re-scanning — the re-aggregatable rollup architecture a 100 TB
    // metrics store needs (store sketch bytes per cell; any rollup is a
    // register-wise union, never a second pass over raw data). Rows-only:
    // sketch binaries are engine-internal; the union ≡ one-scan identity
    // and the accuracy floor are spec-pinned.
    "a16_hll_mergeable" -> ((s, dir) => {
      val sk = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      sk.select(col("event_type"),
          hll_sketch_estimate(col("sk")).as("n_users_approx"))
        .unionByName(sk
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users_approx"))
          .select(lit("__all__").as("event_type"), col("n_users_approx")))
    }),

    // exact interpolated percentiles (matches DuckDB quantile_cont). ONE
    // percentile agg with an array of fractions: three scalar percentile
    // aggs each build and merge their own value→count map over the same
    // column — 3× the buffer memory and merge work for identical values
    // (measured 3.5 s → 1.3 s at sf0.1).
    "a11_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
    }),

    // sketch-based percentiles: the 100 TB shape for a11 — approx_percentile
    // (Greenwald-Khanna) keeps a bounded summary per partition and merges
    // summaries, so the shuffle carries sketch bytes, not values. Rows-only
    // (sketch merge order is engine-internal); rank-accuracy vs the exact
    // a11 values is spec-pinned in OperatorsSpec.
    "a11b_approx_percentiles" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
    }),

    // fixed-width histogram — the profiling primitive behind every data-
    // quality dashboard: one hash aggregation on the computed bucket (map-
    // side combine bounds the shuffle at #buckets per partition). Bucket =
    // floor(x/width) in DOUBLE deliberately: one IEEE division + floor is
    // bit-identical everywhere, whereas decimal→int casts round in DuckDB
    // but truncate in Spark.
    "a14_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select((floor(col("l_extendedprice").cast("double") / 10000).cast("long")
          * 10000).as("bucket_lo"),
          col("l_extendedprice"))
        .groupBy(col("bucket_lo"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // top-k by score — Catalyst plans TakeOrderedAndProject (no full sort).
    "o4_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // O3: deterministic pagination — unique order key, then offset/limit.
    "o3_limit_offset" -> ((s, dir) => {
      t(s, dir, "orders").orderBy(col("o_orderkey"))
        .offset(50).limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // Set ops (beyond reference parity — it has none; SURVEY.md §2.7).
    "set_union" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
        .union(t(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("k")))
        .distinct()
    }),
    "set_intersect" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("k")))
    }),
    "set_except" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_custkey").as("k"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("k")))
    }),

    // Pivot with an EXPLICIT value list — the values are part of the query,
    // so the plan is a single-pass conditional aggregation (one shuffle, no
    // value-discovery pre-query), and the output schema is static: the shape
    // that scales. (An implicit pivot runs a distinct-values job first and
    // cannot be planned statically.) Oracle is the CASE form — the same
    // relational algebra spelled portably.
    "a12_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
    }),

    // Unpivot (melt): wide per-group metrics → long (group, metric, value)
    // rows — the inverse reshape, a per-row generate with NO extra shuffle
    // beyond the feeding aggregation.
    "a13_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")
    }),

    // F1-F6/F15: scalar-function suite incl. the dbt_utils-exact MD5 key.
    "f_scalar_suite" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        Keys.surrogateKey(col("c_custkey"), col("c_name")).as("sk"),
        upper(split_part(col("c_name"), lit("#"), lit(1))).as("prefix_uc"),
        concat_ws("-", col("c_custkey").cast("string"), col("c_mktsegment")).as("composite"),
        round((col("c_acctbal") - 32) * 5 / 9, 2).as("converted"),
        length(col("c_name")).as("name_len"))
    }),

    // F14/F16: quarter derivation + regex date validation (the API gateway).
    "f_quarter_of_date" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("d", col("o_orderdate").cast("date"))
        .filter(col("d").cast("string").rlike("^\\d{4}-\\d{2}-\\d{2}$") &&
          year(col("d")).between(1992, 1998))
        .select(col("o_orderkey"),
          concat(year(col("d")), lit("q"), quarter(col("d"))).as("year_quarter"))
    }),

    // column-level data profile (the dbt-docs/warehouse-stats analog): one
    // scan produces every column's row/null/distinct counts and min/max.
    "t0_profile" -> ((s, dir) =>
      graft.quality.Checks.profile(
        t(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars"))),

    // T4: accepted_values violations (reporting rows, as in quality.Checks).
    "t4_accepted_values" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(!col("event_type").isin("view", "click", "signup", "purchase"))
        .select(col("event_id"), col("event_type"))
    }),

    // T6: range violations — events.value outside [0, 100].
    "t6_range_violations" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(!col("value").between(0, 100))
        .select(col("event_id"), col("value"))
    }),

    // T8: length-bound violations — documents longer than 300 chars.
    "t8_length_violations" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(!length(col("text")).between(0, 300))
        .select(col("doc_id"), length(col("text")).as("len"))
    })
  )

  def oracles: Map[String, String] = Map(
    // group-count conservation derived independently; the accuracy-contract
    // violation counters are constants BY DESIGN (see
    // sketchAccuracyInvariants)
    "sketch_accuracy_check" ->
      """SELECT
        |  CAST((SELECT COUNT(DISTINCT l_returnflag) FROM lineitem) AS BIGINT)
        |    AS n_flag_groups,
        |  CAST(0 AS BIGINT) AS acd_violations,
        |  CAST(0 AS BIGINT) AS pct_violations,
        |  CAST((SELECT COUNT(DISTINCT event_type) FROM events) AS BIGINT)
        |    AS n_type_groups,
        |  CAST(0 AS BIGINT) AS hll_violations,
        |  CAST(0 AS BIGINT) AS hll_union_violation""".stripMargin,
    "p1_project_rename" ->
      "SELECT c_custkey AS id, UPPER(c_name) AS name_uc, c_acctbal AS acctbal FROM customer",
    "p3_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' AND CAST(l_shipdate AS DATE) >= DATE '1995-07-01'""".stripMargin,
    "p5_dynamic_filters" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0.0 AND 5000.0""".stripMargin,
    "p6_incremental_watermark" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE ts >= (SELECT MAX(ts) - INTERVAL 7 DAY FROM events)""".stripMargin,
    "j1_inner_equi" ->
      "SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey",
    "j2_join_chain" ->
      """SELECT o_orderkey, c_custkey, n_name
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |WHERE r_name = 'ASIA'""".stripMargin,
    "j3_composite_key" ->
      """SELECT li.l_orderkey, li.l_partkey, li.l_linenumber, g.n_lines
        |FROM lineitem li JOIN (
        |  SELECT l_orderkey, l_partkey, COUNT(*) AS n_lines
        |  FROM lineitem GROUP BY l_orderkey, l_partkey) g
        |ON li.l_orderkey = g.l_orderkey AND li.l_partkey = g.l_partkey""".stripMargin,
    "j4_broadcast_agg" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "j5_left_coalesce" ->
      """SELECT o_orderkey, COALESCE(c_name, 'Unknown') AS cust_name, o_totalprice
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "j6_left_null_filter" ->
      """SELECT o_orderkey, c_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey IS NOT NULL""".stripMargin,
    "j7_denorm_chain" ->
      """SELECT c_custkey, COUNT(l_orderkey) AS n_lineitems
        |FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey""".stripMargin,
    "j9_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "j10_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "j12_bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 480000.0)""".stripMargin,
    // the plain unsalted join — row-identity is the salted join's contract
    "j13_salted_agg" ->
      """SELECT s_nationkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin,
    "a2_distinct" ->
      "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    "a3_collect_sorted" ->
      """SELECT o_custkey, STRING_AGG(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys
        |FROM orders GROUP BY o_custkey""".stripMargin,
    "a4_scalar_max" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice = (SELECT MAX(o_totalprice) FROM orders)""".stripMargin,
    "a5_minmax" ->
      """SELECT CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_ship,
        |  CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,
    "a6_value_counts" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    "a7_dup_groups" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
        |GROUP BY user_id, event_type HAVING COUNT(*) > 1""".stripMargin,
    "w1_topk_per_group" ->
      """SELECT c_nationkey, c_custkey, rn FROM (
        |  SELECT c_nationkey, c_custkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) WHERE rn <= 3""".stripMargin,
    "w2_lag_running" ->
      """SELECT event_id, user_id,
        |  LAG(value, 1) OVER w AS prev_value,
        |  CAST(SUM(CAST(value AS DECIMAL(14,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "w3_calendar_dim" ->
      """SELECT CAST(STRFTIME(full_dt, '%Y%m%d') AS BIGINT) AS date_sk,
        |  CAST(full_dt AS VARCHAR) AS full_dt,
        |  CAST(EXTRACT(YEAR FROM full_dt) AS INT) AS year,
        |  CAST(EXTRACT(MONTH FROM full_dt) AS INT) AS month,
        |  CAST(EXTRACT(QUARTER FROM full_dt) AS INT) AS quarter,
        |  CAST(EXTRACT(DAY FROM full_dt) AS INT) AS day_of_month,
        |  CAST(EXTRACT(DOW FROM full_dt) AS INT) AS day_of_week,
        |  CASE WHEN EXTRACT(DOW FROM full_dt) IN (6,7) THEN 'Y' ELSE 'N' END AS is_weekend
        |FROM (SELECT DATE '2000-01-01' + CAST(i AS INT) AS full_dt FROM range(11323) t(i))""".stripMargin,
    "o3_limit_offset" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50",
    "q3_shipping_priority" ->
      """SELECT l_orderkey, revenue, o_orderdate FROM (
        |  SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
        |    AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
        |  GROUP BY l_orderkey, CAST(o_orderdate AS DATE))
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN supplier ON n_nationkey = s_nationkey
        |JOIN lineitem ON s_suppkey = l_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'EUROPE'
        |GROUP BY n_name""".stripMargin,
    // same md5 bucket formula as the engine's Sampling.hashBucket
    "diag_join_estimate" ->
      """WITH ha AS (
        |  SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT % 1024 AS bucket,
        |         COUNT(*) AS cnt FROM orders GROUP BY 1),
        |hb AS (
        |  SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::UBIGINT % 1024 AS bucket,
        |         COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |d AS (SELECT CAST(SUM(ha.cnt * hb.cnt) AS BIGINT) AS dot
        |      FROM ha JOIN hb USING (bucket)),
        |sz AS (SELECT (SELECT COUNT(*) FROM orders) AS na,
        |              (SELECT COUNT(*) FROM lineitem) AS nb_rows),
        |ka AS (SELECT o_orderkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1),
        |kb AS (SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        |ex AS (SELECT CAST(SUM(ka.cnt * kb.cnt) AS BIGINT) AS exact_rows
        |       FROM ka JOIN kb USING (k)),
        |est AS (SELECT ROUND(CAST(1024 * dot - na * nb_rows AS DOUBLE) / 1023, 2) AS est_rows
        |        FROM d, sz)
        |SELECT est_rows, exact_rows,
        |  ROUND((est_rows - exact_rows) * 100.0 / exact_rows, 4) AS err_pct
        |FROM est, ex""".stripMargin,
    "diag_skew_report" ->
      """WITH p AS (SELECT l_partkey AS k FROM lineitem),
        |sp AS (SELECT l_suppkey AS k FROM lineitem),
        |oc AS (SELECT o_custkey AS k FROM orders),
        |prof AS (
        |  SELECT 'lineitem.l_partkey' AS key_col, COUNT(*) AS n_groups,
        |    MAX(n) AS max_n,
        |    ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS mean_n
        |  FROM (SELECT k, COUNT(*) AS n FROM p GROUP BY k)
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey', COUNT(*), MAX(n),
        |    ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6)
        |  FROM (SELECT k, COUNT(*) AS n FROM sp GROUP BY k)
        |  UNION ALL
        |  SELECT 'orders.o_custkey', COUNT(*), MAX(n),
        |    ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6)
        |  FROM (SELECT k, COUNT(*) AS n FROM oc GROUP BY k))
        |SELECT key_col, n_groups, max_n, mean_n,
        |  ROUND(max_n / mean_n, 6) AS skew_factor
        |FROM prof""".stripMargin,
    "a19_equidepth_hist" ->
      """WITH e AS (
        |  SELECT quantile_cont(l_extendedprice, 0.25) AS e1,
        |    quantile_cont(l_extendedprice, 0.5) AS e2,
        |    quantile_cont(l_extendedprice, 0.75) AS e3
        |  FROM lineitem)
        |SELECT CASE WHEN l_extendedprice > e3 THEN 3
        |            WHEN l_extendedprice > e2 THEN 2
        |            WHEN l_extendedprice > e1 THEN 1
        |            ELSE 0 END AS bucket,
        |  COUNT(*) AS n,
        |  ROUND(MIN(l_extendedprice), 4) AS lo,
        |  ROUND(MAX(l_extendedprice), 4) AS hi
        |FROM lineitem CROSS JOIN e
        |GROUP BY 1""".stripMargin,
    // the same window form — never the engine mode() whose ties are
    // unspecified
    "a20_mode" ->
      """WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, ROW_NUMBER() OVER
        |  (PARTITION BY l_returnflag ORDER BY n DESC, l_quantity) AS rk FROM c)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
        |FROM r WHERE rk = 1""".stripMargin,
    // the same running-weight definition; the (orderkey, linenumber)
    // tiebreak makes the cumulative sum deterministic under equal prices
    "a22_weighted_median" ->
      """WITH w AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cumw,
        |    SUM(CAST(l_quantity AS BIGINT)) OVER (
        |      PARTITION BY l_returnflag) AS totw
        |  FROM lineitem)
        |SELECT l_returnflag,
        |  MIN(l_extendedprice) AS weighted_median,
        |  CAST(MAX(totw) AS BIGINT) AS total_weight
        |FROM w WHERE cumw * 2 >= totw
        |GROUP BY l_returnflag""".stripMargin,
    // the SAME long moment sums and the SAME parenthesized double
    // expression tree — IEEE-correctly-rounded ops on identical inputs
    "a21_corr_linfit" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(TRUNC(l_extendedprice) AS BIGINT) AS x,
        |    CAST(TRUNC(l_extendedprice * (1 - l_discount)) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM m GROUP BY 1)
        |SELECT l_returnflag,
        |  (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS icept
        |FROM s""".stripMargin,
    // TRY_CAST so "missing" means post-cast-null on BOTH sides (absent path
    // OR non-numeric value) — Spark's cast('long') yields null in the same
    // cases, so the definitions agree for any $.k value shape, not just the
    // all-numeric corpus of the day.
    "s8_json_path_agg" ->
      """WITH kv AS (SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(SUM(k) AS BIGINT) AS k_sum,
        |  MIN(k) AS k_min, MAX(k) AS k_max
        |FROM kv GROUP BY event_type""".stripMargin,
    // identical oracle shape to s8 — the variant tier must agree with the
    // string-path tier row for row (same TRY_CAST missing semantics)
    "s8c_variant_agg" ->
      """WITH kv AS (SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(SUM(k) AS BIGINT) AS k_sum,
        |  MIN(k) AS k_min, MAX(k) AS k_max
        |FROM kv GROUP BY event_type""".stripMargin,
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
    // the Q10 shape's column lineage is a PLAN property, deterministic by
    // construction — the oracle is the expected constant edge set (an
    // engine-side walk bug shows up as a wrong/missing row, not a flake).
    // 'data' edges are the value flows; 'indirect' edges are the plan's
    // Filter/Join-condition sources (o_orderdate, l_returnflag + the four
    // join keys' six attributes), attached to every output column minus
    // the sources it already carries as data — the same rule the engine
    // applies, derived here declaratively from two hand-written tables
    "meta_column_lineage" ->
      """WITH direct(out_col, src_table, src_col) AS (VALUES
        |  ('c_custkey', 'customer', 'c_custkey'),
        |  ('c_name',    'customer', 'c_name'),
        |  ('c_acctbal', 'customer', 'c_acctbal'),
        |  ('n_name',    'nation',   'n_name'),
        |  ('revenue',   'lineitem', 'l_extendedprice'),
        |  ('revenue',   'lineitem', 'l_discount')),
        |ind(src_table, src_col) AS (VALUES
        |  ('lineitem', 'l_returnflag'),
        |  ('lineitem', 'l_orderkey'),
        |  ('orders',   'o_orderdate'),
        |  ('orders',   'o_orderkey'),
        |  ('orders',   'o_custkey'),
        |  ('customer', 'c_custkey'),
        |  ('customer', 'c_nationkey'),
        |  ('nation',   'n_nationkey')),
        |outs(out_col) AS (VALUES
        |  ('c_custkey'), ('c_name'), ('c_acctbal'), ('n_name'), ('revenue'))
        |SELECT out_col, src_table, src_col, 'data' AS edge_type FROM direct
        |UNION ALL
        |SELECT o.out_col, i.src_table, i.src_col, 'indirect'
        |FROM outs o CROSS JOIN ind i
        |WHERE NOT EXISTS (SELECT 1 FROM direct d
        |  WHERE d.out_col = o.out_col AND d.src_table = i.src_table
        |    AND d.src_col = i.src_col)""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, revenue, c_acctbal, n_name FROM (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1996-04-01'
        |  GROUP BY c_custkey, c_name, c_acctbal, n_name)
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q17_small_quantity_revenue" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  COUNT(*) AS n_small
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.2 * AVG(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin,
    "q22_churned_balances" ->
      """SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(18,4)) *
        |      (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.0) >
        |      (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4)))
        |       FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |GROUP BY c_nationkey""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH flagged AS (
        |  SELECT l_orderkey, l_suppkey,
        |         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, n_nationkey AS nation_key, COUNT(*) AS numwait
        |FROM flagged f1
        |JOIN supplier ON s_suppkey = f1.l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE f1.late
        |  AND EXISTS (SELECT 1 FROM flagged f2
        |              WHERE f2.l_orderkey = f1.l_orderkey
        |                AND f2.l_suppkey <> f1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM flagged f3
        |                  WHERE f3.l_orderkey = f1.l_orderkey
        |                    AND f3.l_suppkey <> f1.l_suppkey AND f3.late)
        |GROUP BY s_name, n_nationkey
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q20_promotable_suppliers" ->
      """SELECT s_name, s_nationkey AS nation_key
        |FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem l1
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'small%')
        |      AND l_quantity > (SELECT 1.8 * AVG(l2.l_quantity)
        |                        FROM lineitem l2
        |                        WHERE l2.l_partkey = l1.l_partkey
        |                          AND l2.l_suppkey = l1.l_suppkey))
        |  AND s_nationkey < 13""".stripMargin,
    "q2_min_cost_supplier" ->
      """SELECT s_name, s_acctbal, p_partkey, p_brand,
        |       l_extendedprice AS min_price
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size <= 15 AND n_regionkey = 1
        |  AND l_extendedprice = (
        |    SELECT MIN(l2.l_extendedprice)
        |    FROM lineitem l2
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |    WHERE l2.l_partkey = p_partkey AND n2.n_regionkey = 1)""".stripMargin,
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, yr,
        |  CAST(SUM(vol) AS DOUBLE) AS revenue, COUNT(*) AS n_ship
        |FROM (SELECT n1.n_nationkey AS supp_nation, n2.n_nationkey AS cust_nation,
        |        EXTRACT(YEAR FROM l_shipdate) AS yr,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol
        |      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_nationkey = 1 AND n2.n_nationkey = 2)
        |          OR (n1.n_nationkey = 2 AND n2.n_nationkey = 1))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY supp_nation, cust_nation, yr""".stripMargin,
    "q12_priority_lateness" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY l_returnflag""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q14_promo_share" ->
      """SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vol
        |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |       CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS promo_share,
        |  COUNT(*) AS n
        |FROM (SELECT p_type,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00')""".stripMargin,
    "q16_supplier_counts" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_size IN (1, 5, 10, 15, 20)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q4_priority_late_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 45 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= CAST(0.05 AS DOUBLE)
        |  AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_quantity < CAST(24 AS DOUBLE)""".stripMargin,
    "q8_market_share" ->
      """SELECT yr,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 3 THEN vol
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(SUM(vol) AS DOUBLE) AS DOUBLE) AS mkt_share,
        |  COUNT(*) AS n
        |FROM (SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
        |        s_nationkey AS supp_nation
        |      FROM part JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON l_orderkey = o_orderkey
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |      JOIN region ON n1.n_regionkey = r_regionkey
        |      WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
        |        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY yr""".stripMargin,
    "q9_product_profit" ->
      """SELECT nation_key, yr,
        |  CAST(SUM(profit) AS DOUBLE) AS sum_profit, COUNT(*) AS n
        |FROM (SELECT s_nationkey AS nation_key,
        |        EXTRACT(YEAR FROM o_orderdate) AS yr,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |          - CAST(p_retailprice * l_quantity * CAST(0.6 AS DOUBLE)
        |                 AS DECIMAL(18,4)) AS profit
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      WHERE p_name LIKE '%gear%')
        |GROUP BY nation_key, yr""".stripMargin,
    "q11_important_stock" ->
      """SELECT l_partkey,
        |  CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
        |    AS DOUBLE) AS stock_value
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_regionkey = 2)
        |GROUP BY l_partkey
        |HAVING CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
        |         AS DOUBLE) >
        |  (SELECT CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(18,4)))
        |            AS DOUBLE) * CAST(2.5 AS DOUBLE)
        |          / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE)
        |   FROM lineitem JOIN part ON p_partkey = l_partkey
        |   JOIN supplier ON s_suppkey = l_suppkey
        |   WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |                         WHERE n_regionkey = 2))""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""".stripMargin,
    "w4_rank_suite" ->
      """SELECT c_custkey, c_nationkey,
        |  RANK() OVER w AS rnk,
        |  DENSE_RANK() OVER w AS drnk,
        |  NTILE(4) OVER w AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "w6_dist_suite" ->
      """SELECT c_custkey, c_nationkey,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "w5_time_range_window" ->
      """SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v_1h
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "a17_density_grid" ->
      """SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |  CAST(FLOOR(value / 10.0) AS BIGINT) AS value_decile,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS mass
        |FROM events GROUP BY 1, 2""".stripMargin,
    "a8_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,
    "j11_full_outer" ->
      """WITH y94 AS (SELECT o_custkey AS k, COUNT(*) AS n_1994 FROM orders
        |            WHERE EXTRACT(YEAR FROM o_orderdate) = 1994 GROUP BY 1),
        |     y95 AS (SELECT o_custkey AS k, COUNT(*) AS n_1995 FROM orders
        |            WHERE EXTRACT(YEAR FROM o_orderdate) = 1995 GROUP BY 1)
        |SELECT COALESCE(y94.k, y95.k) AS custkey, n_1994, n_1995
        |FROM y94 FULL OUTER JOIN y95 ON y94.k = y95.k""".stripMargin,
    "a15_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "a9_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "a14_histogram" ->
      """SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) / 10000) AS BIGINT) * 10000 AS bucket_lo,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY 1""".stripMargin,
    "a12_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a13_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a""".stripMargin,
    "a10_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_lines
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a11_percentiles" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a18_winsorize" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, COUNT(*) AS n,
        |  ROUND(CAST(SUM(CAST(GREATEST(LEAST(l.l_extendedprice, p.p95), p.p05)
        |        AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 4) AS avg_w,
        |  ROUND(MIN(GREATEST(LEAST(l.l_extendedprice, p.p95), p.p05)), 4) AS min_w,
        |  ROUND(MAX(GREATEST(LEAST(l.l_extendedprice, p.p95), p.p05)), 4) AS max_w,
        |  ROUND(MIN(p.p05), 4) AS cap_lo,
        |  ROUND(MIN(p.p95), 4) AS cap_hi
        |FROM lineitem l JOIN p USING (l_returnflag)
        |GROUP BY l.l_returnflag""".stripMargin,
    "o4_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "set_union" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders""".stripMargin,
    "set_except" ->
      "SELECT c_custkey AS k FROM customer EXCEPT SELECT o_custkey AS k FROM orders",
    "f_scalar_suite" ->
      """SELECT c_custkey,
        |  MD5(CONCAT_WS('-', COALESCE(CAST(c_custkey AS VARCHAR), ''), COALESCE(CAST(c_name AS VARCHAR), ''))) AS sk,
        |  UPPER(SPLIT_PART(c_name, '#', 1)) AS prefix_uc,
        |  CONCAT_WS('-', CAST(c_custkey AS VARCHAR), c_mktsegment) AS composite,
        |  ROUND((c_acctbal - 32) * 5 / 9, 2) AS converted,
        |  LENGTH(c_name) AS name_len
        |FROM customer""".stripMargin,
    "f_quarter_of_date" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) AS VARCHAR) || 'q' ||
        |  CAST(EXTRACT(QUARTER FROM CAST(o_orderdate AS DATE)) AS VARCHAR) AS year_quarter
        |FROM orders
        |WHERE REGEXP_MATCHES(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '^\d{4}-\d{2}-\d{2}$')
        |  AND EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) BETWEEN 1992 AND 1998""".stripMargin,
    "t0_profile" ->
      """SELECT 'doc_id' AS column, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_value, CAST(MAX(doc_id) AS VARCHAR) AS max_value
        |FROM documents
        |UNION ALL SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |  MIN(lang), MAX(lang) FROM documents
        |UNION ALL SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  MIN(source), MAX(source) FROM documents
        |UNION ALL SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents""".stripMargin,
    "t4_accepted_values" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_type NOT IN ('view', 'click', 'signup', 'purchase')""".stripMargin,
    "t6_range_violations" ->
      "SELECT event_id, value FROM events WHERE value NOT BETWEEN 0 AND 100",
    "t8_length_violations" ->
      "SELECT doc_id, LENGTH(text) AS len FROM documents WHERE LENGTH(text) NOT BETWEEN 0 AND 300"
  )
}
