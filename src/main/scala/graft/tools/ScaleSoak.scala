package graft.tools

import graft.{Bench, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Scale-factor soak for the dedup/ANN, behavioral and fact-table
  * families: build an N× corpus with [[ScaleUp]] (disjoint key domains,
  * every document copy's tokens salted and every embedding copy's first
  * dimension nudged, so cross-copy exact and near duplicates don't exist
  * and true pair density stays constant — otherwise replicating
  * identical rows N× would inflate the genuine answer quadratically, not
  * the algorithm; events scale by user population with per-user history
  * fixed, the axis that grows at 100 TB), then time the soak queries at
  * 1× and N× and assert wall time grows at most ~linearly. The knn
  * probe/centroid sets are fixed (`vec_id < 10/16`), so corpus scaling
  * is the only variable — the claim under test is "per-probe cost ∝
  * bucket size, total ∝ corpus", i.e. the plans hold at 100 TB, measured
  * rather than argued from the plan shape. For the behavioral aggregates
  * the claim is "per-user state is bounded by per-user history, total ∝
  * users" — the funnel/sequence buffers merge by concatenation, so N×
  * users must not cost more than N× wall time.
  *
  * Each query runs on [[Bench.session]] under Bench's timing rule: built
  * and planned once, then [[Bench.warmThenRep]]; its time is the build
  * and planning seconds (where iterative and streaming queries do their
  * eager work) plus the median rep. Every query runs once untimed at
  * both scales before any is timed, so neither scale is timed on a
  * colder JVM.
  *
  * Usage: runMain graft.tools.ScaleSoak [baseSfDir] [factor] [scratchDir]
  * Prints one JSON line per scale plus a ratio line; exits nonzero if any
  * query grew superlinearly (ratio > 1.5 × factor).
  */
object ScaleSoak {

  val soakQueries: Seq[String] = Seq(
    "dedup_keep_first", "minhash_lsh_candidates", "jaccard_token_pairs",
    "knn_lsh_topk", "knn_ivf_topk",
    "funnel_signup_click_purchase", "funnel_levels_breakdown",
    "funnel_path_split", "sequence_match_dfa",
    // round 5: association stats (cells table is cardinality-bounded, so
    // only the one fact-table pass should scale), userDistribution
    // (per-user slot states, users are the scaling axis) and the
    // time-sorted delta aggregate (per-user history fixed).
    "assoc_crosstab_stats", "user_distribution_daily", "delta_sum_timestamp",
    // iterative: connected components over the near-dup pair graph —
    // rounds are diameter-bound (unchanged at N×), per-round cost ∝
    // edges, so wall-clock must stay ~linear in corpus size.
    "dedup_connected_components",
    // round 6: repeat-run funnel (per-user greedy scan, users are the
    // axis) and the vector-distance spellings (fixed probe set, corpus
    // side bounded by the equi-key join) — the r5 stragglers — plus the
    // new sessionization tuples (session_window state ∝ open sessions),
    // per-run path split (per-user buckets) and the multiSearch scan.
    "funnel_by_times", "vector_distance_pairs",
    "session_analysis_tuples", "funnel_path_split_by_times",
    "text_multisearch",
    // round 6 continuation: bucketed-rank AUC (state ∝ buckets, not
    // rows), the attribution fuse (state ∝ keys + per-user samples,
    // users are the axis) and countByGranularity (state ∝ NDV).
    // auc_reg_pairs is excluded: it runs on customer, which this soak
    // doesn't scale — a flat ratio would be meaningless.
    "auc_bucketed_family",
    "attribution_analysis_fuse", "count_by_granularity",
    // array-scan wave (per-order arrays bounded by TPC-H at 7 elements,
    // orders are the axis) and the MV rollup (build pass ∝ base rows,
    // rollup read ∝ group-key cross product — the whole query must stay
    // ~linear in the base).
    "array_scan_family", "mv_rewrite_rollup",
    // round 7: bitmap value algebra (roaring containers ∝ distinct users
    // per group; the fold tree is two-level so state never concentrates
    // on one task). dict_functions is excluded like auc_reg_pairs: it
    // runs on customer, which this soak doesn't scale.
    "bitmap_value_algebra",
    // round 7: a join-heavy TPC-DS representative — returns substituted
    // into the sales recompute via a (order, part) LEFT JOIN. Orders
    // are the axis (orderkey+custkey offset per copy, per-order line
    // sets and per-customer histories unchanged), so the three-way
    // sales⋈orders⋈rets join must stay ∝ lines at N×.
    "tpcds_q93_returns_substitution",
    // round 8: the streaming twins of the session/funnel family (the
    // paths the r7 NTZ drift killed). Claims under test: session_window
    // state ∝ OPEN sessions (watermark-evicted), funnel state ∝ users ×
    // in-window events — so N× users must stay ~linear. eventsStream
    // handles the soak scratch dirs' directory-layout events table.
    "stream_session_counts", "stream_funnel_levels")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else s"target/soak/x$factor"
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    ScaleUp.build(spark, base, out, factor)
    // One untimed pass over both scales before either is timed, so the 1×
    // pass does not run on a colder JVM than the N× pass after it.
    Seq(base, out).foreach(warm(spark, _))
    val t1 = timed(spark, base)
    val tN = timed(spark, out)
    def js(m: Map[String, Double]) =
      soakQueries.map(k => "\"" + k + "\":" + f"${m(k)}%.3f").mkString("{", ",", "}")
    println(s"""{"soak":"base","dir":"$base","sec":${js(t1)}}""")
    println(s"""{"soak":"x$factor","dir":"$out","sec":${js(tN)}}""")
    val ratios = soakQueries.map(n => n -> tN(n) / t1(n)).toMap
    println(s"""{"soak":"ratio","factor":$factor,"ratio":${js(ratios)}}""")
    val bad = ratios.filter(_._2 > 1.5 * factor)
    if (bad.nonEmpty) {
      System.err.println(s"[soak] SUPERLINEAR growth: $bad")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }

  /** Builds and runs every soak query once on the tables of `dir`. */
  private def warm(spark: SparkSession, dir: String): Unit = {
    val queries = SparkEntry.queries
    soakQueries.foreach { n =>
      spark.catalog.clearCache()
      Bench.consume(queries(n)(spark, dir))
    }
  }

  /** Every soak query's build and planning seconds plus its median
    * [[Bench.warmThenRep]] rep, on the tables of `dir`.
    */
  private def timed(spark: SparkSession, dir: String): Map[String, Double] = {
    val queries = SparkEntry.queries
    soakQueries.map { n =>
      val t0 = System.nanoTime()
      val df = queries(n)(spark, dir)
      df.queryExecution.executedPlan
      val plan = (System.nanoTime() - t0) / 1e9
      n -> (plan + Bench.median(Bench.warmThenRep(df, Bench.reps).map(_._1)))
    }.toMap
  }
}
