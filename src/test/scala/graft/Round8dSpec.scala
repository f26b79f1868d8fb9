package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Brute-force replays for the round-8 fourth-push operators:
  * power_analysis, mm_shard_plan, logrank_test, mrr_eval,
  * degree_dist, split_balance, bpe_fertility.
  */
class Round8dSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("power_analysis = brute n-per-arm replay; n monotone in MDE") {
    val sf = SparkTestSession.sf
    val cents = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("c"),
        col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = cents.length.toLong
    val s = cents.map(_._1).sum
    val s2 = cents.map(c => BigInt(c._1) * BigInt(c._1)).sum
    val mean = s.toDouble / n
    val variance = (s2.toDouble - s.toDouble * s.toDouble / n) / (n - 1)
    val nA = cents.count(_._2 % 2 == 0).toLong
    val nB = n - nA
    val got = graft.analytics.Stats.powerAnalysis(spark, sf).collect()
    assert(got.map(_.getLong(0)).toSeq ==
      graft.analytics.Stats.MdePcts.map(_.toLong))
    got.foreach { r =>
      val mde = r.getLong(0)
      val delta = mean * mde / 100.0
      val want = math.ceil(2.0 * (1.96 + 0.8416) * (1.96 + 0.8416) *
        variance / (delta * delta)).toLong
      assert(r.getLong(3) == want, s"n_per_arm mde=$mde")
      assert(r.getLong(4) == want * 2, s"n_total mde=$mde")
      assert(r.getBoolean(5) == (math.min(nA, nB) >= want),
        s"powered_now mde=$mde")
    }
    // larger MDE -> smaller required n (variance fixed)
    val ns = got.map(_.getLong(3))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "n monotone")
  }

  test("mm_shard_plan = brute greedy tar packing; shards contiguous") {
    val sf = SparkTestSession.sf
    val target = graft.multimodal.Multimodal.MmShardTargetBytes
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        octet_length(encode(col("text"), "utf-8")).cast("long").as("nb"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).toSeq.map { case (_, id, nb) =>
        val tar = 512 + 512 * ((nb + 511) / 512)
        cum += tar
        (src, (cum - 1) / target, id, nb, tar)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((src, sid), ms) =>
      ((src, sid),
        (ms.size.toLong, ms.map(_._4).sum,
          ms.map(_._5).sum + 1024L, ms.map(_._3).min, ms.map(_._3).max))
    }
    val got = graft.multimodal.Multimodal.mmShardPlan(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      val (nm, pay, arc, fst, lst) = want(k)
      assert(r.getLong(2) == nm && r.getLong(3) == pay &&
        r.getLong(4) == arc && r.getLong(5) == fst && r.getLong(6) == lst,
        s"shard $k")
    }
    // shard ids contiguous from 0 per source; doc ranges non-overlapping
    got.groupBy(_.getString(0)).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ==
        (0L until sorted.length.toLong).toSeq, s"$src contiguous ids")
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a.getLong(6) < b.getLong(5),
          s"$src ranges ordered")
        case _ =>
      }
    }
  }

  test("logrank_test = brute O/E/V replay; identities hold") {
    val sf = SparkTestSession.sf
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDate(3).toLocalDate.toEpochDay))
    val horizon = ev.map(_._4).max
    val lives = ev.groupBy(_._1).map { case (u, rows) =>
      val first = rows.map(_._4).min
      val conv = rows.filter(r => r._2 == "purchase" &&
        r._3 > graft.analytics.Survival.ConvValueMin).map(_._4)
      val (dur, event) =
        if (conv.nonEmpty) (conv.min - first, 1L) else (horizon - first, 0L)
      (u % 2, dur, event)
    }.toSeq
    // per event-time O/E/V (micro-int carry like the engine)
    val durs = lives.map(_._2).distinct.sorted
    var em = 0L; var vm = 0L; var oa = 0L; var ob = 0L
    durs.foreach { t =>
      val na = lives.count(l => l._1 == 0 && l._2 >= t).toLong
      val nb = lives.count(l => l._1 == 1 && l._2 >= t).toLong
      val da = lives.count(l => l._1 == 0 && l._2 == t && l._3 == 1L).toLong
      val db = lives.count(l => l._1 == 1 && l._2 == t && l._3 == 1L).toLong
      val d = da + db; val nn = na + nb
      if (d > 0) {
        oa += da; ob += db
        em += math.round(d.toDouble * na / nn * 1000000)
        if (nn > 1)
          vm += math.round(d.toDouble * na / nn * nb / nn * (nn - d) /
            (nn - 1) * 1000000)
      }
    }
    val r = graft.analytics.Survival.logrankTest(spark, sf).collect().head
    assert(r.getLong(0) == lives.count(_._1 == 0).toLong, "n_users_a")
    assert(r.getLong(1) == lives.count(_._1 == 1).toLong, "n_users_b")
    assert(r.getLong(2) == oa && r.getLong(3) == ob, "observed")
    assert(math.abs(r.getDouble(4) - em / 1000000.0) < 1e-6, "exp_a")
    assert(math.abs(r.getDouble(6) - vm / 1000000.0) < 1e-6, "variance")
    val z = (oa - em / 1000000.0) / math.sqrt(vm / 1000000.0)
    assert(math.abs(r.getDouble(7) - z) < 1e-5, "z")
    assert(math.abs(r.getDouble(8) - z * z) < 1e-4, "chi2 = z^2")
    // conservation: exp_a + exp_b = obs_a + obs_b (expected sums to observed)
    assert(math.abs(r.getDouble(4) + r.getDouble(5) - (oa + ob)) < 1e-5)
    assert(r.getBoolean(9) == (math.abs(z) > 1.96), "significant")
  }

  test("mrr_eval = brute first-hit replay; hit ladder monotone") {
    val sf = SparkTestSession.sf
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("item"))
      .filter(col("item").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val views = ev.filter(_._2 == "view").map(t => (t._1, t._3)).distinct
    val pop = ev.filter(_._2 == "click").groupBy(_._3)
      .map { case (i, g) => i -> g.size.toLong }
    val purch = ev.filter(_._2 == "purchase").map(t => (t._1, t._3)).toSet
    val perUser = views.groupBy(_._1).flatMap { case (u, vs) =>
      val ranked = vs.map(_._2).sortBy(i => (-pop.getOrElse(i, 0L), i))
        .zipWithIndex.map { case (i, ix) => (i, ix + 1) }
      val nRel = ranked.count(p => purch((u, p._1)))
      if (nRel == 0) None
      else Some(ranked.filter(p => p._2 <= 10 && purch((u, p._1)))
        .map(_._2).minOption)
    }.toSeq
    val nUsers = perUser.size.toLong
    val hits = perUser.flatten
    val rrMicro = graft.analytics.Eval.RrMicro
    val mrr = hits.map(h => rrMicro(h - 1)).sum / 1000000.0 / nUsers
    val r = graft.analytics.Eval.mrrEval(spark, sf).collect().head
    assert(r.getLong(0) == nUsers, "n_users")
    assert(r.getLong(1) == hits.size.toLong, "n_hit")
    assert(r.getLong(3) == hits.count(_ <= 1).toLong, "hits_at_1")
    assert(r.getLong(4) == hits.count(_ <= 3).toLong, "hits_at_3")
    assert(r.getLong(5) == hits.count(_ <= 5).toLong, "hits_at_5")
    assert(math.abs(r.getDouble(6) - mrr) < 1e-6, "mrr")
    assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(5) &&
      r.getLong(5) <= r.getLong(1) && r.getLong(1) <= r.getLong(0),
      "hit ladder")
  }

  test("degree_dist = brute histogram replay; ccdf anchored at 1") {
    val sf = SparkTestSession.sf
    val uv = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(concat(lit("u"), col("user_id")).as("u"),
        concat(lit("i"), get_json_object(col("props"), "$.k")).as("v"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val deg = (uv.map(_._1) ++ uv.map(_._2)).groupBy(identity)
      .map { case (n, g) => n -> g.size.toLong }
    val cells = deg.toSeq.map { case (n, d) => (n.substring(0, 1), d) }
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val got = graft.graph.Graph.degreeDist(spark, sf).collect()
    assert(got.length == cells.size)
    got.foreach { r =>
      assert(r.getLong(2) == cells((r.getString(0), r.getLong(1))),
        s"cell ${r.getString(0)}/${r.getLong(1)}")
    }
    Seq("u", "i").foreach { k =>
      val rows = got.filter(_.getString(0) == k).sortBy(_.getLong(1))
      assert(rows.nonEmpty, s"kind $k present")
      assert(math.abs(rows.head.getDouble(4) - 1.0) < 1e-9,
        s"$k ccdf starts at 1")
      val nges = rows.map(_.getLong(3))
      assert(nges.zip(nges.tail).forall { case (a, b) => a > b },
        s"$k n_ge strictly decreasing")
      val total = rows.map(_.getLong(2)).sum
      assert(rows.head.getLong(3) == total, s"$k n_ge anchors at total")
    }
  }

  test("split_balance = brute chi2 replay; margins conserve") {
    val sf = SparkTestSession.sf
    val splits = graft.pipeline.Splits.makeSplits(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val src = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cells = src.map { case (id, s) => (splits(id), s) }
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val n = src.length.toLong
    val rowT = cells.groupBy(_._1._1).map { case (k, g) => k -> g.values.sum }
    val colT = cells.groupBy(_._1._2).map { case (k, g) => k -> g.values.sum }
    val got = graft.pipeline.Splits.splitBalance(spark, sf).collect()
    // every split x source pair, an empty one at 0
    assert(got.length == rowT.size * colT.size)
    var chi2 = 0.0
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val o = cells.getOrElse(k, 0L)
      val e = rowT(k._1).toDouble * colT(k._2) / n
      assert(r.getLong(2) == o, s"n_docs $k")
      assert(math.abs(r.getDouble(3) - e) < 1e-4, s"expected $k")
      assert(math.abs(r.getDouble(4) - (o - e) / math.sqrt(e)) < 1e-4,
        s"std_residual $k")
      chi2 += math.round((o - e) * (o - e) / e * 1000000) / 1000000.0
    }
    assert(math.abs(got.head.getDouble(5) - chi2) < 1e-4, "chi2_total")
    val df = (rowT.size - 1).toLong * (colT.size - 1)
    assert(got.forall(_.getLong(6) == df), "df")
    assert(got.map(_.getLong(2)).sum == n, "cells partition the corpus")
  }

  test("bpe_fertility totals = bpe_encode rollup by lang; fertility >= 1") {
    val sf = SparkTestSession.sf
    val enc = graft.text.TextQueries.bpeEncode(spark, sf)
    val langs = Tables.documents(spark, sf).select("doc_id", "lang")
    val want = enc.join(langs, "doc_id").groupBy("lang")
      .agg(sum("n_tokens").as("w"), sum("n_chars").as("c"),
        sum("n_symbols").as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = graft.text.TextQueries.bpeFertility(spark, sf).collect()
    assert(got.map(_.getString(0)).toSet == want.keySet)
    got.foreach { r =>
      val (w, c, s) = want(r.getString(0))
      assert(r.getLong(1) == w && r.getLong(2) == c && r.getLong(3) == s,
        s"totals ${r.getString(0)}")
      assert(r.getDouble(4) >= 1.0, s"fertility >= 1 ${r.getString(0)}")
      assert(math.abs(r.getDouble(4) - s.toDouble / w) < 1e-6, "fertility")
    }
  }
}
