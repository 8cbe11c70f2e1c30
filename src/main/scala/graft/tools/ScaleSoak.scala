package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor soak for the dedup/ANN and behavioral families: build an
  * N× copy of the `documents` / `embeddings` / `events` tables (disjoint
  * id spaces; every document copy's tokens salted with a per-copy suffix
  * and every embedding copy's first dimension nudged by a per-copy
  * epsilon, so cross-copy exact and near duplicates don't exist and true
  * pair density stays constant — otherwise replicating identical rows N×
  * would inflate the genuine answer quadratically, not the algorithm;
  * events scale by user population with per-user history fixed, the axis
  * that grows at 100 TB), then time the headline queries at 1× and N× and
  * assert wall time grows at most ~linearly. The knn probe/centroid sets
  * are fixed (`vec_id < 10/16`), so corpus scaling is the only variable —
  * the claim under test is "per-probe cost ∝ bucket size, total ∝
  * corpus", i.e. the plans hold at 100 TB, measured rather than argued
  * from the plan shape. For the behavioral aggregates the claim is
  * "per-user state is bounded by per-user history, total ∝ users" — the
  * funnel/sequence buffers merge by concatenation, so N× users must not
  * cost more than N× wall time.
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(s"local[$cpus]", cpus.toInt, codegenCacheEntries = 2000)
    spark.sparkContext.setLogLevel("WARN")

    generate(spark, base, factor, out)
    val t1 = timed(spark, base)
    val tN = timed(spark, out)
    def js(m: Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
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

  /** N disjoint salted copies of the two corpora (skipped if present). */
  private def generate(spark: SparkSession, base: String, factor: Int, out: String): Unit = {
    // TPC-H fact copies (own guard: scratch dirs sealed before this table
    // joined the soak carry _SOAK_READY without it): orderkeys offset per
    // copy, so per-order line sets — the per-row array sizes — are
    // unchanged and orders are the scaling axis.
    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      (0 until factor).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 1000000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    }
    // Orders copies matching the lineitem orderkey offsets (own guard:
    // older scratch dirs were sealed before orders joined the soak);
    // custkeys offset by the same copy index, so per-customer order
    // histories are unchanged and customers scale with the corpus.
    if (!new java.io.File(s"$out/orders.parquet").exists()) {
      val od = spark.read.parquet(s"$base/orders.parquet")
      (0 until factor).map { i =>
        od.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * 1000000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
    }
    val done = new java.io.File(s"$out/_SOAK_READY")
    if (done.exists()) return
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docsN = (0 until factor).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000000L))
        // per-copy token salt: within-copy similarity structure intact,
        // cross-copy token overlap eliminated
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1~c$i"))
    }.reduce(_ unionByName _)
    docsN.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val embN = (0 until factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000000L))
        // per-copy vector nudge (first dimension only): kills cross-copy
        // exact duplicates so LSH/IVF bucket sizes stay ∝ corpus instead
        // of ×N identical collisions, without disturbing within-copy
        // neighborhood structure.
        .withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> CASE WHEN j = 0 " +
            s"THEN CAST(x + ${i}e-4 AS FLOAT) ELSE x END)"))
    }.reduce(_ unionByName _)
    embN.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/embeddings.parquet")
    // Via Tables: events.ts is TIMESTAMP(NANOS) parquet that the raw
    // reader rejects; the catalog layer normalizes it to µs.
    val ev = graft.Tables(spark, base, "events")
    val evN = (0 until factor).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000000L))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
    }.reduce(_ unionByName _)
    evN.repartition(32).write.mode(SaveMode.Overwrite).parquet(s"$out/events.parquet")
    done.getParentFile.mkdirs()
    done.createNewFile()
    ()
  }

  /** Untimed warmup pass, clear caches (Bench convention — stale persists
    * would silently no-op), then one timed steady-state run per query.
    */
  private def timed(spark: SparkSession, dir: String): Map[String, Double] = {
    val queries = SparkEntry.queries
    soakQueries.foreach { n =>
      queries(n)(spark, dir).write.mode("overwrite").format("noop").save()
    }
    spark.catalog.clearCache()
    soakQueries.map { n =>
      val t0 = System.nanoTime()
      queries(n)(spark, dir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache() // each timed run pays its own persists
      n -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }
}
