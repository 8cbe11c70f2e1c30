package graft

import graft.aggregates._
import org.apache.spark.sql.functions._

class AggregatorsSpec extends SparkSpec {
  import spark.implicits._

  test("-ForEach combinators: element-wise across ragged rows, null rows skipped") {
    val df = Seq(
      (1, Option(Seq(1.0, 2.0))),
      (1, Option(Seq(3.0))),
      (1, Option.empty[Seq[Double]]),
      (1, Option(Seq(0.5, -1.0, 4.25))),
      (2, Option(Seq(10.0)))
    ).toDF("g", "arr")
    val r = df.repartition(4) // force partial/final merge paths
      .groupBy($"g")
      .agg(ForEachAgg.sumForEach($"arr").as("s"),
           ForEachAgg.minForEach($"arr").as("mn"),
           ForEachAgg.maxForEach($"arr").as("mx"),
           ForEachAgg.avgForEach($"arr").as("av"),
           ForEachAgg.countForEach($"arr").as("c"))
      .collect().map(r => r.getInt(0) -> r).toMap
    // g=1: index0 over {1,3,0.5}, index1 over {2,-1}, index2 over {4.25}
    assert(r(1).getSeq[Double](1) === Seq(4.5, 1.0, 4.25))
    assert(r(1).getSeq[Double](2) === Seq(0.5, -1.0, 4.25))
    assert(r(1).getSeq[Double](3) === Seq(3.0, 2.0, 4.25))
    assert(r(1).getSeq[Double](4) === Seq(1.5, 0.5, 4.25))
    assert(r(1).getSeq[Long](5) === Seq(3L, 2L, 1L))
    assert(r(2).getSeq[Double](1) === Seq(10.0))
    assert(r(2).getSeq[Long](5) === Seq(1L))
  }

  test("-ForEach differential vs posexplode reference on random ragged data") {
    val rnd = new scala.util.Random(97)
    val rows = (1 to 2000).map { _ =>
      val g = rnd.nextInt(40)
      val arr =
        if (rnd.nextInt(20) == 0) null
        else Seq.fill(rnd.nextInt(6))(math.rint(rnd.nextDouble() * 2e6 - 1e6) / 1e6)
      (g, arr)
    }
    val df = rows.toDF("g", "arr").repartition(8)
    val mine = df.groupBy($"g")
      .agg(ForEachAgg.sumForEach($"arr").as("s"),
           ForEachAgg.minForEach($"arr").as("mn"),
           ForEachAgg.maxForEach($"arr").as("mx"),
           ForEachAgg.countForEach($"arr").as("c"))
      .collect().map(r => r.getInt(0) ->
        (r.getSeq[Double](1), r.getSeq[Double](2), r.getSeq[Double](3), r.getSeq[Long](4)))
      .toMap
    // Scala-side reference: explode by index, aggregate, regroup.
    val ref = rows.filter(_._2 != null)
      .flatMap { case (g, arr) => arr.zipWithIndex.map { case (v, i) => ((g, i), v) } }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val refByG = ref.keys.map(_._1).toSet
    refByG.foreach { g =>
      val width = ref.keys.filter(_._1 == g).map(_._2).max + 1
      val (s, mn, mx, c) = mine(g)
      (0 until width).foreach { i =>
        val vs = ref((g, i))
        val expSum = vs.map(v => math.rint(v * 1e6).toLong).sum / 1e6
        assert(s(i) === expSum, s"sum g=$g i=$i")
        assert(mn(i) === vs.min, s"min g=$g i=$i")
        assert(mx(i) === vs.max, s"max g=$g i=$i")
        assert(c(i) === vs.size.toLong, s"count g=$g i=$i")
      }
    }
    // groups whose rows were all null arrays produce empty result arrays
    mine.foreach { case (g, (s, _, _, c)) =>
      if (!refByG.contains(g)) { assert(s.isEmpty); assert(c.isEmpty) }
    }
  }

  test("windowFunnel: reference getEventLevel semantics with window limit") {
    // user 1: 1@10 → 2@20 → 3@30 full depth
    // user 2: step2 before step1 → depth 1
    // user 3: step2 beyond window of t1 → depth 1
    // user 4: equal timestamps ARE counted (non-strict default, sorted by
    //         (ts, step) so step1 is processed first)
    val df = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3),
      (2L, 20L, 2), (2L, 30L, 1),
      (3L, 10L, 1), (3L, 200L, 2),
      (4L, 10L, 1), (4L, 10L, 2)
    ).toDF("u", "us", "step")
    val funnel = WindowFunnelAgg.funnel(100L, 3) _
    val res = df.repartition(4) // force partial/final merge paths
      .groupBy($"u").agg(funnel($"us", $"step").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res === Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("windowFunnel: re-anchors on every step-1 event") {
    // ADVICE r1 example: window=50, step1@0, step1@90, step2@100 — the
    // level-0 slot is re-anchored at 90, so 100 <= 90+50 matches → depth 2.
    val df = Seq((1L, 0L, 1), (1L, 90L, 1), (1L, 100L, 2)).toDF("u", "us", "step")
    val funnel = WindowFunnelAgg.funnel(50L, 2) _
    val d = df.groupBy($"u").agg(funnel($"us", $"step").as("d")).collect()(0).getInt(1)
    assert(d === 2)

    // and the chain window is anchored at the chain's own step-1: a step2
    // inside the window of the earlier anchor still counts.
    val df2 = Seq((1L, 10L, 1), (1L, 40L, 1), (1L, 55L, 2)).toDF("u", "us", "step")
    val d2 = df2.groupBy($"u").agg(funnel($"us", $"step").as("d")).collect()(0).getInt(1)
    assert(d2 === 2)
  }

  test("windowFunnel: strict_increase rejects equal timestamps") {
    val df = Seq((1L, 10L, 1), (1L, 10L, 2), (2L, 10L, 1), (2L, 11L, 2))
      .toDF("u", "us", "step")
    val funnel = WindowFunnelAgg.funnel(100L, 2, strictDeduplication = false,
      strictOrder = false, strictIncrease = true) _
    val res = df.groupBy($"u").agg(funnel($"us", $"step").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res === Map(1L -> 1, 2L -> 2))
  }

  test("windowFunnel strict_order stops at intervening foreign events") {
    import graft.aggregates.FunnelCore
    // Reference doc: 'A->B->D->C' stops at D, max level 2. Foreign events
    // are fed as step 0.
    def lvl(evs: Seq[(Long, Int)], strictOrder: Boolean): Int = {
      val packed = evs.map { case (u, s) => FunnelCore.pack(u, s) }.toArray.sorted
      FunnelCore.eventLevel(packed, packed.length, 0L, 3, false, strictOrder, false)
    }
    val abdc = Seq((1L, 1), (2L, 2), (3L, 0), (4L, 3))
    assert(lvl(abdc, strictOrder = true) === 2)
    assert(lvl(abdc, strictOrder = false) === 3)
    // foreign event before the first step-1 is ignored
    assert(lvl(Seq((1L, 0), (2L, 1), (3L, 2), (4L, 3)), strictOrder = true) === 3)
  }

  test("windowFunnel strict_deduplication stops on a repeated level") {
    import graft.aggregates.FunnelCore
    def lvl(evs: Seq[(Long, Int)], dedup: Boolean): Int = {
      val packed = evs.map { case (u, s) => FunnelCore.pack(u, s) }.toArray.sorted
      FunnelCore.eventLevel(packed, packed.length, 0L, 3, dedup, false, false)
    }
    val repeat2 = Seq((1L, 1), (2L, 2), (3L, 2), (4L, 3))
    assert(lvl(repeat2, dedup = true) === 2)  // stops at the repeated 2
    assert(lvl(repeat2, dedup = false) === 3)
  }

  test("FunnelCore default semantics == brute-force chain search (800 random cases)") {
    import graft.aggregates.FunnelCore
    // Default windowFunnel semantics are equivalent to: depth >= d iff a
    // timestamp-non-decreasing chain of steps 1..d exists whose every
    // event is within `W` of the chain's own step-1 anchor (the anchor
    // slots are just the O(n) evaluation of that predicate).
    def brute(evs: Seq[(Long, Int)], w: Long, nSteps: Int): Int = {
      val byStep = (1 to nSteps).map(s => evs.filter(_._2 == s).map(_._1).sorted)
      def can(d: Int): Boolean = byStep(0).exists { a =>
        def go(level: Int, prev: Long): Boolean =
          level > d || byStep(level - 1).exists(u =>
            u >= prev && (w <= 0 || u <= a + w) && go(level + 1, u))
        go(2, a)
      }
      (nSteps to 1 by -1).find(d => byStep(0).nonEmpty && can(d)).getOrElse(0)
    }
    val rnd = new scala.util.Random(42)
    (1 to 800).foreach { i =>
      val n = 1 + rnd.nextInt(12)
      val evs = (1 to n).map(_ => (rnd.nextInt(20).toLong, 1 + rnd.nextInt(3)))
      val w = Seq(0L, 3L, 5L, 100L)(rnd.nextInt(4))
      val packed = evs.map { case (us, st) => FunnelCore.pack(us, st) }.toArray.sorted
      val got = FunnelCore.eventLevel(packed, packed.length, w, 3, false, false, false)
      val want = brute(evs, w, 3)
      assert(got === want, s"case $i: evs=$evs w=$w got=$got want=$want")
    }
  }

  // "The udaf form" is the per-user evaluation the retired udaf(Aggregator) did:
  // collect each user's events and run FunnelCore.eventLevel over them, here on
  // the driver.
  test("WindowFunnelAgg (TypedImperativeAggregate) matches the udaf form") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 60).flatMap { u =>
      (1 to 20).map(_ => (u.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(4)))
    }.filter(_._3 > 0)
    val df = rows.toDF("u", "us", "step").repartition(8)
    val native = WindowFunnelAgg.funnel(100L, 3) _
    val got = df.groupBy($"u").agg(native($"us", $"step").as("d"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = rows.groupBy(_._1).map { case (u, evs) =>
      val packed = evs.map { case (_, us, st) => FunnelCore.pack(us, st) }.toArray.sorted
      u -> FunnelCore.eventLevel(packed, packed.length, 100L, 3, false, false, false)
    }
    assert(want.values.toSet.size > 1) // the sample reaches several depths
    assert(got === want)
  }

  test("theta sketch distinct: near-exact at small NDV, merges across partitions") {
    import graft.aggregates.SketchAggregates
    val df = (1 to 5000).map(i => (i % 7, (i % 1200).toLong)).toDF("g", "v")
    val res = df.repartition(8) // force partial/merge path
      .groupBy($"g")
      .agg(SketchAggregates.thetaDistinct($"v").as("est"),
           countDistinct($"v").as("exact"))
      .collect()
    res.foreach { r =>
      val (est, exact) = (r.getDouble(1), r.getLong(2).toDouble)
      assert(math.abs(est - exact) / exact < 0.05, s"theta $est vs $exact")
    }
  }

  test("kll quantile: within normalized rank error of exact") {
    import graft.aggregates.SketchAggregates
    val df = (1 to 10000).map(i => ((i * 7919) % 10000).toDouble).toDF("v")
    val est = df.repartition(8)
      .agg(SketchAggregates.kllQuantile($"v", 0.5).as("p50"))
      .collect()(0).getDouble(0)
    // true p50 of 0..9999 permutation ~ 5000; k=200 → ~1.65% rank error
    assert(math.abs(est - 5000.0) < 400.0, s"kll p50 $est")
  }

  test("hll estimates within 5% of exact distinct, stable under repartitioning") {
    import org.apache.spark.sql.functions._
    val df = (1 to 40000).map(i => (i % 9777).toLong).toDF("x")
    val exact = 9777.0
    // Spark's HLL++ (the uniq/uniqHLL12 dialect aliases) and the
    // DataSketches HLL used by hll_sketch_users both must stay inside the
    // family's published error bound at this NDV.
    val appr = df.repartition(8).agg(approx_count_distinct($"x")).collect()(0).getLong(0)
    assert(math.abs(appr - exact) / exact < 0.05, s"HLL++ estimate $appr")
    val ds = df.repartition(8)
      .agg(hll_sketch_estimate(hll_sketch_agg($"x"))).collect()(0).getLong(0)
    assert(math.abs(ds - exact) / exact < 0.05, s"DataSketches HLL estimate $ds")
    // Merge path: per-partition sketches unioned == single-pass sketch.
    val merged = df.withColumn("p", $"x" % 4)
      .groupBy($"p").agg(hll_sketch_agg($"x").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk"))).collect()(0).getLong(0)
    assert(merged === ds, s"merged $merged vs single-pass $ds")
  }

  test("retention flags") {
    val df = Seq(
      (1L, "signup"), (1L, "purchase"),
      (2L, "purchase"),
      (3L, "signup"), (3L, "error")
    ).toDF("u", "et")
    val res = df.repartition(3).groupBy($"u")
      .agg(RetentionAgg.retention($"et" === "signup", $"et" === "purchase",
        $"et" === "error").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(res(1L) === Seq(1, 1, 0))
    assert(res(2L) === Seq(0, 0, 0)) // no signup → all zero
    assert(res(3L) === Seq(1, 0, 1))
  }

  test("topK: exact when capacity covers NDV; ties break by key") {
    val data = (1 to 50).flatMap(i => Seq.fill(i % 5 + 1)(i.toLong))
    val topk = TopK(3, capacity = 100)
    val res = data.toDF("x").repartition(4)
      .agg(topk($"x").as("t")).collect()(0).getSeq[Long](0)
    // counts: value i → (i%5)+1 occurrences; max count 5 for i%5==4 → ids 4,9,14
    assert(res === Seq(4L, 9L, 14L))
  }

  test("topK: bounded memory displacement keeps buffer at capacity") {
    val agg = new TopK(2, capacity = 3)
    val buf = (1L to 100L).foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    assert(buf.counts.size === 3)
  }

  test("topK: displacement matches linear-scan SpaceSaving reference") {
    // Differential check of the O(log n) count-indexed eviction against a
    // straightforward linear-scan implementation with the same
    // deterministic (min count, min key) eviction rule.
    val rnd = new scala.util.Random(7)
    val agg = new TopK(5, capacity = 8)
    var buf = agg.zero
    val ref = scala.collection.mutable.Map.empty[Long, Long]
    (1 to 2000).foreach { _ =>
      val x = rnd.nextInt(40).toLong
      buf = agg.reduce(buf, x)
      ref.get(x) match {
        case Some(c) => ref.update(x, c + 1)
        case None if ref.size < 8 => ref.update(x, 1L)
        case None =>
          val (mk, mc) = ref.toSeq.minBy { case (k, c) => (c, k) }
          ref.remove(mk)
          ref.update(x, mc + 1)
      }
    }
    import scala.jdk.CollectionConverters._
    assert(buf.counts.asScala.toMap === ref.toMap)
  }

  test("groupBitmap: set algebra cardinalities") {
    val a = BitmapAggregates.serialize {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      Seq(1L, 2L, 3L, 1L << 40).foreach(bm.addLong); bm
    }
    val b = BitmapAggregates.serialize {
      val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      Seq(2L, 3L, 4L).foreach(bm.addLong); bm
    }
    val df = Seq((a, b)).toDF("a", "b")
    val row = df.select(
      BitmapAggregates.bitmapAndCardinality($"a", $"b"),
      BitmapAggregates.bitmapOrCardinality($"a", $"b"),
      BitmapAggregates.bitmapAndnotCardinality($"a", $"b"),
      BitmapAggregates.bitmapContains($"a", lit(1L << 40))).collect()(0)
    assert(row.getLong(0) === 2)
    assert(row.getLong(1) === 5)
    assert(row.getLong(2) === 2)
    assert(row.getBoolean(3))
  }

  test("groupBitmap aggregate distributes and merges") {
    val df = (1 to 1000).map(i => (i % 7).toLong).toDF("x").repartition(5)
    val bytes = df.agg(BitmapAggregates.groupBitmap($"x").as("bm"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(BitmapAggregates.deserialize(bytes).getLongCardinality === 7)
  }

  test("finderFunnelByTimes counts repeat runs per slot (hand-traced reference cases)") {
    import graft.aggregates.FinderFunnelByTimesAgg.finderFunnelByTimes
    // grid: start 0, step 100us, 3 slots; window 50us; steps 1→2→3.
    val f = finderFunnelByTimes(0L, 100L, 3, 50L, 3) _
    def run(events: Seq[(Long, Int)]): Seq[Long] =
      events.toDF("t", "s").repartition(3)
        .agg(f($"t", $"s")).collect()(0).getSeq[Long](0)

    // one complete run in slot 0: total [1,1,1], slot0 [1,1,1]
    assert(run(Seq((10L, 1), (20L, 2), (30L, 3))) ===
      Seq(1L, 1L, 1L, 1L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L))
    // repeat conversion: depths 3 and 2 → total [2,2,1]
    assert(run(Seq((10L, 1), (20L, 2), (30L, 3), (40L, 1), (45L, 2))) ===
      Seq(2L, 2L, 1L, 2L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L))
    // A A B C: first run consumes B,C; restart at second A finds depth 1
    assert(run(Seq((10L, 1), (15L, 1), (20L, 2), (30L, 3))) ===
      Seq(2L, 1L, 1L, 2L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L))
    // window expiry cuts the run at depth 1
    assert(run(Seq((10L, 1), (80L, 2))) ===
      Seq(1L, 0L, 0L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // chain may complete across the slot boundary; only the anchor's
    // slot is credited
    assert(run(Seq((90L, 1), (110L, 2))) ===
      Seq(1L, 1L, 0L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
    // runs in different slots credit their own slots
    assert(run(Seq((10L, 1), (20L, 2), (130L, 1), (140L, 2), (150L, 3))) ===
      Seq(2L, 2L, 1L, 1L, 1L, 0L, 1L, 1L, 1L, 0L, 0L, 0L))
  }

  test("xirr: golden single-period case and NPV(root) ≈ 0 property") {
    // -100 at day 0, +110 at day 365 → exactly 10% annualized.
    val simple = Seq((0L, -100.0), (365L, 110.0)).toDF("t", "v")
    val r1 = simple.agg(TimeOrderedAggregates.xirr($"t", $"v")).collect()(0).getDouble(0)
    assert(math.abs(r1 - 0.10) < 1e-9)

    // Multi-flow case, shuffled input order: the root must zero the NPV.
    val flows = Seq((200L, 30.0), (0L, -120.0), (400L, 50.0), (100L, -30.0),
      (730L, 120.0)).map { case (t, v) => (t, v) }
    val df = flows.toDF("t", "v").repartition(4)
    val rate = df.agg(TimeOrderedAggregates.xirr($"t", $"v")).collect()(0).getDouble(0)
    assert(java.lang.Double.isFinite(rate))
    val npv = flows.sortBy(_._1).map { case (t, v) =>
      v / math.pow(1 + rate, t / 365.0)
    }.sum
    assert(math.abs(npv) < 1e-6, s"NPV at xirr root $rate was $npv")
  }

  test("deltaSumTimestamp sums positive deltas in time order, any input order") {
    // Time-ordered values 1, 3, 2, 5 → (3-1) + (5-2) = 5.
    val df = Seq((30L, 5.0), (0L, 1.0), (20L, 2.0), (10L, 3.0))
      .toDF("t", "v").repartition(3)
    val r = df.agg(TimeOrderedAggregates.deltaSumTimestamp($"t", $"v"))
      .collect()(0).getDouble(0)
    assert(r === 5.0)
  }
}
