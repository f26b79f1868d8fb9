package graft

import org.scalatest.funsuite.AnyFunSuite

/** Brute-force parity for the round-7 additions (§2.157 ks_drift,
  * §2.158 graph_kcore). */
class Round7OpsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("containment candidate joins stay pinned shuffle_hash (no stats-trap broadcast)") {
    // the rare-shingle posting, candidate self-join, and both gram
    // joins run over DATA-PROPORTIONAL narrow frames — if a future
    // edit drops the hints, small-SF stats would flip them to
    // broadcasts that cannot survive real scale (SURVEY §6 round 5)
    val plan = dedup.Dedup.containmentPairs(Tables.documents(spark, sf))
      .queryExecution.sparkPlan.toString
    val shj = "ShuffledHashJoin".r.findAllIn(plan).size
    assert(shj >= 4, s"expected >=4 pinned ShuffledHashJoins, got $shj:\n" +
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!plan.contains("BroadcastHashJoin"),
      "containment path must not broadcast a data-proportional frame")
  }

  test("ks_drift = brute-force binned two-sample KS per event_type") {
    val rows = Tables.events(spark, sf)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byType = rows.groupBy(_._1)
    val expected = byType.map { case (t, rs) =>
      val bins = rs.map { case (_, id, v) =>
        (math.floor(v / graft.dq.Drift.KsBinWidth).toLong, id % 2 == 0)
      }
      val na = bins.count(_._2).toDouble
      val nb = bins.count(!_._2).toDouble
      val grid = bins.map(_._1).distinct.sorted
      var (ca, cb, best) = (0L, 0L, 0.0)
      grid.foreach { g =>
        ca += bins.count(b => b._1 == g && b._2)
        cb += bins.count(b => b._1 == g && !b._2)
        best = math.max(best, math.abs(ca / na - cb / nb))
      }
      t -> (na.toLong, nb.toLong, math.rint(best * 1e6) / 1e6)
    }
    val got = graft.dq.Drift.ksDrift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === expected)
    // drift statistic is sane: D in [0, 1]
    got.values.foreach { case (_, _, d) => assert(d >= 0.0 && d <= 1.0) }
  }

  test("make_splits: leakage-free by construction, covers every doc, merges with clusters") {
    import org.apache.spark.sql.functions._
    val splits = pipeline.Splits.makeSplits(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    assert(splits.count() === nDocs)
    assert(splits.select("doc_id").distinct().count() === nDocs)
    // every near-dup pair lands in ONE split — the leakage class
    // split_leakage audits is structurally absent
    val pairs = dedup.Dedup.minhashPairs(Tables.documents(spark, sf))
    val straddle = pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle === 0L)
    // clusters are atomic: one split per cluster_id
    assert(splits.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count() === 0L)
    // all three splits materialize and train dominates at this SF
    val bySplit = splits.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    splits.unpersist()
  }

  test("hll_distinct: registers match a reference HLL; estimate within 5% here") {
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .select(col("event_type"),
        text.TextFunctions.hash64(col("user_id").cast("string")).as("h"),
        col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (t, rs) =>
      val regs = new Array[Byte](functions.HllSketch.M)
      rs.foreach { case (_, h, _) =>
        val bucket = (h & (functions.HllSketch.M - 1)).toInt
        val w = h >>> functions.HllSketch.P
        val rho = (if (w == 0L) functions.HllSketch.WindowBits + 1
          else functions.HllSketch.WindowBits + 1 -
            (64 - java.lang.Long.numberOfLeadingZeros(w))).toByte
        if (rho > regs(bucket)) regs(bucket) = rho
      }
      val exact = rs.map(_._3).distinct.size
      t -> (math.rint(functions.HllSketch.estimate(regs) * 1e4) / 1e4, exact)
    }
    val got = analytics.Queries.hllDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2).toInt)).toMap
    assert(got === expected)
    got.values.foreach { case (est, exact) =>
      assert(math.abs(est - exact) / exact < 0.05,
        s"estimate $est vs exact $exact drifted past 5%")
    }
  }

  test("anomaly_rolling = brute-force trailing z-scores; short windows unscored") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    val expected = daily.groupBy(_._1).flatMap { case (t, rs) =>
      val series = rs.sortBy(_._2.getTime)
      series.zipWithIndex.map { case ((_, day, x), i) =>
        val win = series.slice(math.max(0, i - analytics.Mining.AnomalyWindow), i).map(_._3)
        val z = if (win.size == analytics.Mining.AnomalyWindow) {
          val n = win.size.toDouble
          val s1 = win.sum
          val s2 = win.map(v => v * v).sum
          val mu = s1 / n
          val sd = math.sqrt((s2 - n * mu * mu) / (n - 1))
          if (sd > 0) Some(math.rint((x - mu) / sd * 1e4) / 1e4) else None
        } else None
        (t, day) -> (x, z, z.exists(v => math.abs(v) > analytics.Mining.AnomalyZ))
      }.toSeq
    }.toMap
    val got = analytics.Mining.anomalyRolling(spark, sf).collect().map { r =>
      (r.getString(0), r.getTimestamp(1)) ->
        (r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4))
    }.toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, v) => assert(v === expected(k), s"at $k") }
    // the first AnomalyWindow days of every series are unscored
    assert(got.count(_._2._2.isEmpty) >=
      expected.keys.map(_._1).toSeq.distinct.size * analytics.Mining.AnomalyWindow)
  }

  test("conversion_lag = brute-force first-click-to-first-purchase latencies") {
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        get_json_object(col("props"), "$.k").as("item"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val firstClick = rows.filter(_._1 == "click")
      .groupBy(r => (r._2, r._3)).map { case (k, rs) => k -> rs.map(_._4).min }
    val lags = rows.filter(_._1 == "purchase").flatMap { case (_, u, it, pus) =>
      firstClick.get((u, it)).filter(_ <= pus).map(c => ((u, it), pus))
    }.groupBy(_._1).map { case ((u, it), ps) =>
      (u, it) -> (ps.map(_._2).min - firstClick((u, it)))
    }
    def qDisc(xs: Seq[Long], q: Double): Double = {
      val s = xs.sorted
      s((math.ceil(q * s.size).toInt - 1).max(0)).toDouble
    }
    val expected = lags.groupBy(_._1._2).map { case (item, m) =>
      val ls = m.values.toSeq
      item -> (ls.size.toLong, qDisc(ls, 0.5), qDisc(ls, 0.9))
    }
    val got = analytics.Mining.conversionLag(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got === expected)
    // lags are sane: non-negative, p90 >= median
    got.values.foreach { case (_, med, p90) =>
      assert(med >= 0 && p90 >= med)
    }
  }

  // the undirected click graph, rebuilt independently of Graph
  private lazy val clickEdges: Seq[(String, String)] = {
    val uv = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .selectExpr("concat('u', cast(user_id as string)) AS u",
        "concat('i', get_json_object(props, '$.k')) AS v")
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    (uv.map(p => (p._1, p._2)) ++ uv.map(p => (p._2, p._1))).toSeq
  }
  private def degrees(surv: Set[String]): Map[String, Int] =
    clickEdges.filter(e => surv(e._1) && surv(e._2))
      .groupBy(_._1).map { case (n, es) => n -> es.size }
  /** The survivor sets of 0, 1, … brute synchronous peels. */
  private def peels(rounds: Int): Seq[Set[String]] =
    Iterator.iterate(clickEdges.map(_._1).toSet)(
      degrees(_).filter(_._2 >= graph.Graph.KcoreK).keySet).take(rounds + 1).toSeq
  /** What a `budget`-round peel reports: the last survivors' in-core
    * degrees, and the first round that removed nothing, else -1. */
  private def brute(budget: Int): (Map[String, Int], Int) = {
    val s = peels(budget)
    (degrees(s.last), (1 to budget).find(r => s(r) == s(r - 1)).getOrElse(-1))
  }
  private def kcore(budget: Int): (Map[String, Int], Int) = {
    val (deg, rounds) = graph.Graph.kcoreSurvivors(spark, sf, budget)
    (deg.collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap, rounds)
  }

  test("graph_kcore = brute-force fixed-round peeling; fixed point at this SF") {
    import graft.graph.Graph
    val surv = peels(Graph.KcoreRounds).last
    val expected = degrees(surv) // in-core degree of the survivor set
    val got = Graph.graphKcore(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got === expected)
    // the round budget converged here: one more peel removes nothing
    assert(degrees(surv).count(_._2 >= Graph.KcoreK) === surv.size ||
      expected.isEmpty)
  }

  test("k-core peels in round 1 and settles in round 2, as the brute peel does") {
    // round 1 peels nodes and round 2 removes none, so every budget
    // from 2 on reports 2 rounds and the degrees of the one peel
    assert(peels(1).distinct.size == 2 && degrees(peels(1).last).nonEmpty,
      "this SF no longer peels in round 1")
    for (budget <- Seq(2, graph.Graph.KcoreRounds)) {
      val (want, rounds) = brute(budget)
      assert(rounds == 2)
      assert(kcore(budget) === (want, rounds), s"budget $budget")
    }
  }

  test("k-core stopped by its round budget recomputes the last survivors' degrees") {
    val (want, rounds) = brute(1)
    assert(rounds == -1 && want != degrees(peels(0).last))
    assert(kcore(1) === (want, -1))
  }

  test("benford_check = brute first-digit histogram; z from binomial moments") {
    val li = Tables.lineitem(spark, sf).select("l_extendedprice").collect()
      .map(r => "lineitem.l_extendedprice" -> r.getDouble(0))
    val od = Tables.orders(spark, sf).select("o_totalprice").collect()
      .map(r => "orders.o_totalprice" -> r.getDouble(0))
    val counts = (li ++ od)
      .map { case (src, x) => (src, math.round(x * 100).toString.head - '0') }
      .filter(_._2 > 0)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val totals = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val got = dq.Benford.benfordCheck(spark, sf).collect()
    assert(got.length == counts.size)
    def r(x: Double, dp: Int) = BigDecimal(x)
      .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { row =>
      val (src, digit) = (row.getString(0), row.getInt(1))
      val n = counts((src, digit)); val nt = totals(src)
      val p = dq.Benford.P6(digit - 1)
      assert(row.getLong(2) == n && row.getLong(3) == nt)
      assert(row.getDouble(4) == r(n.toDouble / nt, 6), s"share $src $digit")
      assert(row.getDouble(5) == p)
      assert(row.getDouble(6) == r(n.toDouble / nt - p, 6))
      assert(math.abs(row.getDouble(7) -
        (n - nt * p) / math.sqrt(nt * p * (1 - p))) < 1e-3)
    }
    // the synthetic TPC-H-ish prices are near-uniform, NOT Benford —
    // the audit must say so loudly: digit-1 share below Benford's 30%
    got.filter(_.getInt(1) == 1).foreach(r0 =>
      assert(r0.getDouble(6) < 0, "digit-1 dev should be negative here"))
  }

  test("demand_curve = brute per-brand OLS of units on price cents") {
    val units = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getDouble(1).toLong).sum).toMap
    val parts = Tables.part(spark, sf)
      .select("p_partkey", "p_brand", "p_retailprice").collect()
      .map(r => (r.getString(1), math.round(r.getDouble(2) * 100),
        units.getOrElse(r.getLong(0), 0L)))
    val got = graft.analytics.Pricing.demandCurve(spark, sf).collect()
    assert(got.length == parts.map(_._1).distinct.length)
    got.foreach { row =>
      val b = row.getString(0)
      val pts = parts.filter(_._1 == b).map(p => (p._2.toDouble, p._3.toDouble))
      val n = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      assert(row.getLong(1) == pts.length.toLong)
      assert(row.getLong(2) == pts.map(_._2.toLong).sum)
      assert(math.abs(row.getDouble(3) -
        (n * sxy - sx * sy) / (n * sxx - sx * sx) * 100.0) < 1e-3, s"$b slope")
      assert(math.abs(row.getDouble(4) - (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) < 1e-4, s"$b r")
    }
  }

  test("slice_metrics = brute per-slice error rates; z from pooled rate") {
    val rows = Tables.events(spark, sf)
      .selectExpr("event_type", "ts", "get_json_object(props, '$.k')")
      .collect()
      .filter(!_.isNullAt(2))
      .map { r =>
        val ldt = r.getTimestamp(1).toLocalDateTime
        val dowSpark = ldt.getDayOfWeek.getValue % 7 + 1 // Sun=1..Sat=7
        (r.getString(0) == "error",
          Seq("dow" -> dowSpark.toString,
            "hour_band" -> s"h${ldt.getHour / 6 * 6}",
            "item_decile" -> (r.getString(2).toInt / 10).toString))
      }
    val counts = rows.flatMap { case (e, dims) => dims.map((_, e)) }
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.count(_._2).toLong)).toMap
    val nTot = rows.size.toLong
    val errTot = rows.count(_._1).toLong
    val p0 = errTot.toDouble / nTot
    val got = dq.Slices.sliceMetrics(spark, sf).collect()
    assert(got.length == counts.size)
    got.foreach { r =>
      val (n, ne) = counts((r.getString(0), r.getString(1)))
      assert(r.getLong(2) == n && r.getLong(3) == ne,
        s"${r.getString(0)}/${r.getString(1)}")
      val p = ne.toDouble / n
      assert(math.abs(r.getDouble(4) - p) < 1e-5)
      assert(math.abs(r.getDouble(5) - p0) < 1e-5)
      assert(math.abs(r.getDouble(6) - p / p0) < 1e-3)
      assert(math.abs(r.getDouble(7) -
        (p - p0) / math.sqrt(p0 * (1 - p0) / n)) < 1e-3)
    }
  }

  test("sq8_error_report = brute reconstruction error; errors within mx/254") {
    val vecs = Tables.embeddings(spark, sf)
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toIndexedSeq))
    def roundAway(x: Double) =
      if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
    val per = vecs.map { case (lbl, ed) =>
      val mx = ed.map(math.abs).max
      val sc = if (mx == 0) 0.0 else 127.0 / mx
      val q = ed.map(x => roundAway(x * sc))
      val errs = ed.zip(q).map { case (x, qi) => math.abs(x - qi * (mx / 127.0)) }
      // per-vector invariant: every component error within the
      // half-step bound mx/254 (+ tiny float slack)
      assert(errs.max <= mx / 254.0 + 1e-12)
      (lbl, ed.size.toLong, errs.max, mx / 254.0,
        q.count(v => math.abs(v) == 127.0).toLong)
    }
    val expected = per.groupBy(_._1).view.mapValues { rs =>
      (rs.size.toLong, rs.map(_._2).sum, rs.map(_._3).max, rs.map(_._4).max,
        rs.map(_._5).sum)
    }.toMap
    val got = ann.Sq8Report.sq8ErrorReport(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nv, nc, me, mb, sat) = expected(r.getInt(0))
      assert(r.getLong(1) == nv && r.getLong(2) == nc)
      assert(math.abs(r.getDouble(3) - me) < 1e-6, s"label ${r.getInt(0)} err")
      assert(math.abs(r.getDouble(4) - mb) < 1e-6)
      assert(r.getLong(5) == sat)
      assert(math.abs(r.getDouble(6) - sat.toDouble / nc) < 1e-5)
    }
  }

  test("source_overlap = brute pairwise shingle-set overlap; bounds hold") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val bySource = dedup.Dedup
      .shingleHashes(docs.select(col("doc_id"), col("text")))
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("source", "sh").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.flatMap(_.getSeq[Long](1)).toSet).toMap
    val got = graft.pipeline.Overlap.sourceOverlap(spark, sf).collect()
    val srcs = bySource.keys.toSeq.sorted
    val withShared = for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      inter = (bySource(srcs(i)) & bySource(srcs(j))).size
      if inter > 0
    } yield ((srcs(i), srcs(j)), inter)
    assert(got.length == withShared.length)
    val gotMap = got.map(r => ((r.getString(1), r.getString(0)), r)).toMap ++
      got.map(r => ((r.getString(0), r.getString(1)), r)).toMap
    withShared.foreach { case ((a, b), inter) =>
      val r = gotMap((a, b))
      val (na, nb) = (bySource(a).size.toLong, bySource(b).size.toLong)
      assert(r.getLong(2) == inter.toLong, s"$a-$b inter")
      assert(math.abs(r.getDouble(5) -
        inter.toDouble / (na + nb - inter)) < 1e-5)
      assert(math.abs(r.getDouble(6) -
        inter.toDouble / math.min(na, nb)) < 1e-5)
      // containment >= jaccard always
      assert(r.getDouble(6) >= r.getDouble(5) - 1e-9)
    }
  }

  test("did_estimate = brute 2x2 cell replay; DiD identity") {
    import org.apache.spark.sql.functions.{col, to_date}
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDate(2).toLocalDate))
    val d0 = rows.map(_._3).min
    val half = (java.time.temporal.ChronoUnit.DAYS
      .between(d0, rows.map(_._3).max) / 2).toInt
    def cell(arm: String, period: String) = {
      val rs = rows.filter { case (u, _, d) =>
        (if (u % 2 == 0) "A" else "B") == arm &&
          (if (java.time.temporal.ChronoUnit.DAYS.between(d0, d) < half)
            "pre" else "post") == period
      }
      (rs.length.toLong, rs.count(_._2 == "purchase").toLong)
    }
    val r = graft.analytics.Stats.didEstimate(spark, sf).collect().head
    val cells = Seq(("A", "pre", 0), ("A", "post", 1),
      ("B", "pre", 2), ("B", "post", 3))
    val rates = cells.map { case (a, p, i) =>
      val (n, pu) = cell(a, p)
      val rate = pu.toDouble / n
      assert(math.abs(r.getDouble(i) - rate) < 1e-5, s"$a $p")
      (rate, n)
    }
    val did = (rates(1)._1 - rates(0)._1) - (rates(3)._1 - rates(2)._1)
    assert(math.abs(r.getDouble(4) - did) < 1e-5)
    val se = math.sqrt(rates.map { case (p, n) => p * (1 - p) / n }.sum)
    assert(math.abs(r.getDouble(5) - se) < 1e-5)
    assert(math.abs(r.getDouble(6) - did / se) < 1e-3)
    assert(r.getBoolean(7) == (math.abs(did / se) > 1.96))
  }

  test("revenue_deciles = brute Lorenz table; cum_share ends at 1") {
    import org.apache.spark.sql.functions.col
    val perCust = Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => math.round(r.getDouble(1) * 100)).sum)
      .toSeq.sortBy { case (k, c) => (c, k) }
    val n = perCust.size
    // ntile semantics: first (n mod 10) tiles get ceil(n/10)
    val base = n / 10; val extra = n % 10
    val sizes = (1 to 10).map(i => if (i <= extra) base + 1 else base)
    val bounds = sizes.scanLeft(0)(_ + _)
    val expected = (1 to 10).map { i =>
      val slice = perCust.slice(bounds(i - 1), bounds(i))
      (i.toLong, slice.size.toLong, slice.map(_._2).sum)
    }
    val total = expected.map(_._3).sum.toDouble
    val got = graft.analytics.Stats.revenueDeciles(spark, sf).collect()
    assert(got.length == 10)
    var cum = 0L
    got.zip(expected).foreach { case (r, (d, nc, cents)) =>
      assert(r.getLong(0) == d && r.getLong(1) == nc && r.getLong(2) == cents,
        s"decile $d")
      cum += cents
      assert(math.abs(r.getDouble(3) - cents / total) < 1e-5)
      assert(math.abs(r.getDouble(4) - cum / total) < 1e-5)
    }
    assert(math.abs(got.last.getDouble(4) - 1.0) < 1e-9)
    // Lorenz convexity: shares non-decreasing across deciles
    got.map(_.getDouble(3)).sliding(2).foreach {
      case Array(a, b) => assert(b >= a - 1e-9); case _ => ()
    }
  }

  test("text_readability = brute pooled Flesch per language") {
    val docs = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).view.mapValues { rs =>
      val w = rs.map(d => "[a-z0-9]+".r.findAllIn(d._2.toLowerCase).size.toLong).sum
      val s = rs.map(d => math.max("[.!?]+".r.findAllIn(d._2).size, 1).toLong).sum
      val v = rs.map(d => "[aeiouy]+".r.findAllIn(d._2.toLowerCase).size.toLong).sum
      (rs.size.toLong, w, s, v)
    }.toMap
    val got = text.Readability.textReadability(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { row =>
      val (nd, w, s, v) = expected(row.getString(0))
      assert(row.getLong(1) == nd && row.getLong(2) == w &&
        row.getLong(3) == s && row.getLong(4) == v, row.getString(0))
      assert(math.abs(row.getDouble(5) - w.toDouble / s) < 1e-3)
      assert(math.abs(row.getDouble(6) - v.toDouble / w) < 1e-3)
      assert(math.abs(row.getDouble(7) - (206.835 - 1.015 * w.toDouble / s
        - 84.6 * v.toDouble / w)) < 1e-3)
    }
  }
}
