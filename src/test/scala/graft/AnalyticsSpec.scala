package graft

import org.apache.spark.sql.functions._

/** Round-6 analytics wave: attribution, weighted median, z-score
  * anomalies, linear interpolation, point-in-time SCD2 lookup.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  // --------------------------------------------------- attribution

  test("events_attribution credits the latest in-window click") {
    val out = ops.Analytics.eventsAttribution(spark, dir).collect()
    assert(out.nonEmpty)
    // brute-force ground truth: for each purchase, the max-(ts, id)
    // click at-or-before it within 7 days
    val ev = io.Readers.table(spark, dir, "events")
      .select("event_id", "user_id", "ts", "event_type")
    val clicks = ev.filter(col("event_type") === "click")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
      .groupBy(_._2)
    val purchases = ev.filter(col("event_type") === "purchase")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
    val truth = purchases.flatMap { case (pid, u, pts, _) =>
      clicks.getOrElse(u, Array.empty)
        .filter { case (_, _, cts, _) =>
          !cts.after(pts) && cts.getTime >= pts.getTime - 7L * 86400 * 1000 }
        .sortBy { case (cid, _, cts, _) => (cts.getTime, cid) }
        .lastOption.map { case (cid, _, _, _) => pid -> cid }
    }.toMap
    assert(out.map(r => r.getLong(0) -> r.getLong(3)).toMap == truth)
  }

  // ------------------------------------------------ weighted median

  test("agg_weighted_median splits the weight mass at the pivot") {
    val out = ops.Analytics.aggWeightedMedian(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rows = io.Readers.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_quantity")
      .as[(String, Double, Double)].collect().groupBy(_._1)
    rows.foreach { case (f, xs) =>
      val m = out(f)
      val tot = xs.map(_._3).sum
      val below = xs.filter(_._2 < m).map(_._3).sum
      val atOrBelow = xs.filter(_._2 <= m).map(_._3).sum
      // weighted-median definition: < half the mass strictly below,
      // ≥ half at-or-below
      assert(below * 2 < tot + 1e-6, s"$f: too much mass below $m")
      assert(atOrBelow * 2 >= tot - 1e-6, s"$f: pivot $m too small")
    }
  }

  // --------------------------------------------- bucketed quantiles

  test("agg_quantiles_bucketed equals naive sorted-rank quantiles") {
    val out = ops.Analytics.aggQuantilesBucketed(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val rows = io.Readers.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice")
      .as[(String, Double)].collect().groupBy(_._1)
    rows.foreach { case (f, xs) =>
      val sorted = xs.map(x => BigDecimal(x._2).setScale(2)).sorted
      val n = sorted.length
      Seq(25, 50, 75, 90).foreach { q =>
        // type-1: smallest value whose 1-based rank r has 100r >= qn
        val idx = sorted.indices.find(i => (i + 1) * 100 >= q * n).get
        assert(out((f, q)) == sorted(idx).toDouble, s"flag=$f q=$q")
      }
    }
  }

  // -------------------------------------------------- z-score flags

  test("anomaly_zscore flags exactly the >3-sigma events") {
    val out = ops.Analytics.anomalyZscore(spark, dir).collect()
    val ev = io.Readers.table(spark, dir, "events")
      .select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect()
    val truth = ev.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      val n = xs.length
      val mean = xs.map(_._3).sum / n
      val std = math.sqrt(xs.map(v => (v._3 - mean) * (v._3 - mean)).sum / (n - 1))
      xs.filter(v => math.abs((v._3 - mean) / std) > 3.0).map(_._1).toSeq
    }.toSet
    assert(out.map(_.getLong(0)).toSet == truth)
    // flagged z values really exceed the threshold after rounding
    assert(out.forall(r => math.abs(r.getDouble(3)) > 2.999))
  }

  // ------------------------------------------------- interpolation

  test("time_series_interpolate covers the spine and is exact on observed hours") {
    val out = ops.Analytics.timeSeriesInterpolate(spark, dir)
    val rows = out.collect()
    // spine density: per type, rows == hours between first and last + 1
    val perType = rows.groupBy(_.getString(0))
    perType.foreach { case (_, rs) =>
      val hrs = rs.map(_.getTimestamp(1).getTime).sorted
      assert(hrs.distinct.length == hrs.length)
      assert((hrs.last - hrs.head) / 3600000 + 1 == hrs.length)
    }
    // interpolated points sit within [min(neighbors), max(neighbors)]
    perType.foreach { case (_, rs) =>
      val seq = rs.sortBy(_.getTimestamp(1).getTime)
      seq.zipWithIndex.filter(_._1.getBoolean(3)).foreach { case (r, i) =>
        val prevObs = seq.take(i).reverse.find(!_.getBoolean(3)).get.getDouble(2)
        val nextObs = seq.drop(i + 1).find(!_.getBoolean(3)).get.getDouble(2)
        val v = r.getDouble(2)
        assert(v >= math.min(prevObs, nextObs) - 1e-6 &&
          v <= math.max(prevObs, nextObs) + 1e-6)
      }
    }
    // no observed hour is marked filled
    assert(rows.filter(_.getBoolean(3)).forall(_ != null))
  }

  // --------------------------------------- paths, Markov, EWMA

  test("events_path_analysis triples come from real consecutive events") {
    val out = ops.Analytics.eventsPathAnalysis(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    // counts are non-increasing in output order
    val cnts = out.map(_.getLong(3))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    // recompute triples brute force
    val ev = io.Readers.table(spark, dir, "events")
      .select("user_id", "ts", "event_id", "event_type")
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val truth = ev.groupBy(_._1).values.toSeq.flatMap { xs =>
      val s = xs.sortBy(x => (x._2.getTime, x._3)).map(_._4).toSeq
      s.sliding(3).filter(_.length == 3).map(t => (t(0), t(1), t(2))).toSeq
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    out.foreach { r =>
      assert(truth((r.getString(0), r.getString(1), r.getString(2))) == r.getLong(3))
    }
    // top-20 really is the top: any excluded triple count <= last included
    val included = out.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    truth.filterNot { case (k, _) => included(k) }
      .foreach { case (_, c) => assert(c <= cnts.last) }
  }

  test("events_markov_transition rows sum to the per-state total and p_ppm is exact") {
    val out = ops.Analytics.eventsMarkovTransition(spark, dir).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val total = rs.map(_.getLong(2)).sum
      rs.foreach { r =>
        assert(r.getLong(3) == r.getLong(2) * 1000000L / total)
      }
      // ppm sums to ~1e6 (floor loss < |rows|)
      val ppm = rs.map(_.getLong(3)).sum
      assert(ppm <= 1000000L && ppm > 1000000L - rs.length)
    }
  }

  test("win_ewma_user equals the driver-side fold") {
    val out = ops.Analytics.winEwmaUser(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val ev = io.Readers.table(spark, dir, "events")
      .select("user_id", "ts", "event_id", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
    ev.groupBy(_._1).foreach { case (u, xs) =>
      val vals = xs.sortBy(x => (x._2.getTime, x._3, x._4)).map(_._4)
      val expect = vals.tail.foldLeft(vals.head)((e, v) => 0.25 * v + 0.75 * e)
      assert(out(u)._1 == vals.length)
      // bitwise: the operator's fold must be the same IEEE sequence
      assert(java.lang.Double.doubleToLongBits(out(u)._2) ==
        java.lang.Double.doubleToLongBits(expect), s"user $u")
    }
  }

  test("events_time_to_convert: latency is the exact first-signup/first-after-purchase gap") {
    val out = ops.Analytics.eventsTimeToConvert(spark, dir).collect()
    assert(out.nonEmpty)
    val ev = io.Readers.table(spark, dir, "events")
      .select("user_id", "ts", "event_type")
      .as[(Long, java.sql.Timestamp, String)].collect()
    val byUser = ev.groupBy(_._1)
    val truth = byUser.flatMap { case (u, xs) =>
      val signups = xs.filter(_._3 == "signup").map(_._2.getTime)
      if (signups.isEmpty) None else {
        val s = signups.min
        val after = xs.filter(x => x._3 == "purchase" && x._2.getTime >= s)
          .map(_._2.getTime)
        after.minOption.map(p => u -> (s, p))
      }
    }
    assert(out.map(_.getLong(0)).toSet == truth.keySet)
    out.foreach { r =>
      val (s, p) = truth(r.getLong(0))
      assert(r.getTimestamp(1).getTime == s && r.getTimestamp(2).getTime == p)
      assert(r.getLong(3) == math.floorDiv(p, 1000) - math.floorDiv(s, 1000))
    }
  }

  test("events_rfm: metrics recompute and quintiles are balanced") {
    val out = ops.Analytics.eventsRfm(spark, dir).collect()
    assert(out.nonEmpty)
    val p = io.Readers.table(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)].collect()
    val byUser = p.groupBy(_._1)
    assert(out.map(_.getLong(0)).toSet == byUser.keySet)
    out.foreach { r =>
      val xs = byUser(r.getLong(0))
      assert(r.getLong(2) == xs.length, s"freq of user ${r.getLong(0)}")
      val mon = xs.map(x => BigDecimal(x._3).setScale(2)).sum.toDouble
      assert(r.getDouble(3) == mon, s"monetary of user ${r.getLong(0)}")
    }
    // quintiles split the population evenly (sizes differ by at most 1)
    Seq(4, 5, 6).foreach { c =>
      val sizes = out.groupBy(_.getInt(c)).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"unbalanced quintile col $c")
    }
    // exact ntile(5) parity: the bucketed boundary-rank shape must
    // reproduce ntile under each (metric, user_id) total order
    // (reference model shared via SparkSpec.ntile5)
    val rq = ntile5(out.map(r => (r.getInt(1).toDouble, r.getLong(0))))
    val fq = ntile5(out.map(r => (-r.getLong(2).toDouble, r.getLong(0))))
    val mq = ntile5(out.map(r => (-r.getDouble(3), r.getLong(0))))
    out.foreach { r =>
      val u = r.getLong(0)
      assert(r.getInt(4) == rq(u), s"r_quintile of user $u")
      assert(r.getInt(5) == fq(u), s"f_quintile of user $u")
      assert(r.getInt(6) == mq(u), s"m_quintile of user $u")
    }
  }

  test("win_topk_with_ties keeps every row tied with the k-th") {
    val out = ops.Analytics.winTopkWithTies(spark, dir).collect()
    val rows = io.Readers.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice")
      .as[(String, Double)].collect().groupBy(_._1)
    rows.foreach { case (f, xs) =>
      val prices = xs.map(x => BigDecimal(x._2).setScale(2)).sortBy(-_)
      // rank ≤ 3 ⟺ value ≥ the 3rd row's value in descending order
      val kthRankValue = prices(math.min(2, prices.length - 1))
      val expect = prices.filter(_ >= kthRankValue)
      val got = out.filter(_.getString(0) == f).map(r => BigDecimal(r.getDouble(2)).setScale(2))
      assert(got.sorted.toSeq == expect.sorted.toSeq, s"group $f")
    }
  }

  // -------------------------------------------- point-in-time SCD2

  test("join_scd2_pointintime equals the interval theta-join") {
    val got = ops.Analytics.joinScd2Pointintime(spark, dir)
    // naive interval join over the same version relation
    val ev = io.Readers.table(spark, dir, "events")
      .select("user_id", "ts", "event_id", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val vers = ev.filter(col("event_id") % 10 =!= 0)
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
    val probes = ev.filter(col("event_id") % 10 === 0)
      .select(col("event_id").as("probe_id"), col("user_id").as("pu"),
        col("ts").as("probe_ts"))
    val truth = probes.join(vers,
        col("pu") === col("user_id") && col("ts") <= col("probe_ts") &&
          (col("valid_to").isNull || col("probe_ts") < col("valid_to")))
      .select(col("probe_id"), col("user_id"), col("probe_ts"),
        col("version"), col("value").as("dim_value"))
    assert(got.exceptAll(truth).isEmpty && truth.exceptAll(got).isEmpty)
  }

  // --------------------------------------------- group regression

  test("stat_linreg_group equals the exact-rational OLS closed form") {
    val got = ops.Stats.statLinregGroup(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val rows = io.Readers.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice")
      .as[(String, Double, Double)].collect()
    val truth = rows.groupBy(_._1).view.mapValues { xs =>
      // exact rationals: x integral, y has <= 2 decimals
      val n = BigInt(xs.length)
      val sx = xs.map(t => BigInt(t._2.toLong)).sum
      val sy = xs.map(t => BigInt(math.round(t._3 * 100))).sum // cents
      val sxy = xs.map(t => BigInt(t._2.toLong) * BigInt(math.round(t._3 * 100))).sum
      val sxx = xs.map(t => BigInt(t._2.toLong).pow(2)).sum
      // slope = (n*sxy - sx*sy) / (n*sxx - sx^2), y in cents -> /100
      val num = (n * sxy - sx * sy)
      val den = (n * sxx - sx * sx) * 100
      num.toDouble / den.toDouble
    }.toMap
    got.foreach { case (flag, n, slope, intercept) =>
      // the operator's double chain is IEEE-exact per engine; the
      // BigInt reference rounds differently only in the last ULPs
      assert(math.abs(slope - truth(flag)) < 1e-9 * math.abs(truth(flag)),
        s"$flag slope $slope vs ${truth(flag)}")
      assert(n == rows.count(_._1 == flag).toLong)
      assert(!intercept.isNaN)
    }
    assert(got.length == 3)
  }

  // ----------------------------------------------- market basket

  test("orders_market_basket matches brute-force pair support and lift") {
    val got = ops.Analytics.ordersMarketBasket(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val li = io.Readers.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val baskets = li.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = baskets.size.toLong
    val supp = baskets.values.toSeq.flatten.groupBy(identity)
      .map { case (i, xs) => i -> xs.size.toLong }
    val pairCnt = baskets.values.toSeq.flatMap { items =>
      items.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) }
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val qualified = pairCnt.filter(_._2 >= 3L).map { case ((a, b), c) =>
      (a, b, c, (c * n).toDouble / (supp(a) * supp(b)))
    }.toSeq
    val truth = qualified.sortBy { case (a, b, _, l) => (-l, a, b) }.take(20)
    assert(got.toSeq == truth)
    assert(got.nonEmpty)
    // lift > 1 means genuinely co-bought more than chance — the
    // fixture should surface at least one such pair
    assert(got.head._4 > 1.0)
  }

  // -------------------------------------------- sequence patterns

  test("events_pattern_match finds exactly the consecutive view→click→purchase runs") {
    val out = ops.Analytics.eventsPatternMatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: per user, time-ordered scan for strict adjacency
    val ev = io.Readers.table(spark, dir, "events")
      .select("user_id", "event_id", "ts", "event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
    // .toSeq before flatMap: flatMapping a Map with a tuple-valued fn
    // rebuilds a Map keyed by user_id, collapsing multi-match users
    val truth = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val seq = rows.sortBy { case (_, id, ts, _) => (ts.getTime, id) }
      seq.sliding(3).collect {
        case Array((_, id, _, "view"), (_, _, _, "click"), (_, _, _, "purchase")) =>
          (u, id)
      }
    }.toSet
    assert(truth.nonEmpty, "corpus should contain at least one match")
    assert(out == truth)
  }

  test("orders_association_rules: counts, ppm ratios and lift match the driver-side reference") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Analytics.ordersAssociationRules(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getDouble(8))).toMap
    assert(got.nonEmpty)

    val li = io.Readers.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
    val brandOf = io.Readers.table(spark, dir, "part")
      .select("p_partkey", "p_brand").as[(Long, String)].collect().toMap
    val baskets = li.map { case (o, p) => (o, brandOf(p)) }.distinct
      .groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2).toSet }
    val n = baskets.size.toLong
    val cnt = baskets.values.flatten.groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val pairCnt = baskets.values.flatMap { bs =>
      bs.toSeq.sorted.combinations(2).map { case Seq(a, b) => (a, b) }
    }.groupBy(identity).map { case (p, g) => p -> g.size.toLong }

    // every emitted rule matches the reference exactly
    got.foreach { case ((a, b), (pc, ca, cb, supPpm, confAb, confBa, lift)) =>
      assert(pairCnt((a, b)) === pc, s"pair ($a,$b)")
      assert(cnt(a) === ca && cnt(b) === cb)
      assert(supPpm === pc * 1000000L / n)
      assert(confAb === pc * 1000000L / ca)
      assert(confBa === pc * 1000000L / cb)
      assert(math.abs(lift - pc.toDouble * n / ca / cb) < 1e-12)
    }
    // exactly the rules at/above the 0.1% support floor are emitted
    val want = pairCnt.filter { case (_, pc) => pc * 1000000L / n >= 1000L }.keySet
    assert(got.keySet === want)
  }

  test("events_seasonality_hourly: cells partition each type's events; dow arithmetic is correct") {
    val sfDir = "/root/testdata/sf0.001"
    val got = ops.Analytics.eventsSeasonalityHourly(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (_, dow, hr, _, _) =>
      assert(dow >= 0 && dow <= 6 && hr >= 0 && hr <= 23)
    }
    // per type: cell counts partition the type's event total
    val totals = io.Readers.table(spark, sfDir, "events")
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotTotals = got.groupBy(_._1).map { case (t, g) => t -> g.map(_._4).sum }
    assert(gotTotals === totals)
    // shares are floor-ppm of the cell ratio and sum to ~1e6 per type
    got.groupBy(_._1).foreach { case (t, g) =>
      val tot = totals(t)
      g.foreach { case (_, _, _, cnt, ppm) => assert(ppm === cnt * 1000000L / tot) }
      val s = g.map(_._5).sum
      assert(s <= 1000000L && s > 1000000L - g.length, s"$t share sum $s")
    }
    // dow reference: JDK LocalDate day-of-week on a sampled event
    val sample = io.Readers.table(spark, sfDir, "events")
      .select(to_date(col("ts")).as("d"),
        ((unix_date(to_date(col("ts"))) + 4) % 7).as("dow"))
      .limit(50).as[(java.sql.Date, Int)].collect()
    sample.foreach { case (d, dow) =>
      val want = d.toLocalDate.getDayOfWeek.getValue % 7 // java: Mon=1..Sun=7 -> Sun=0
      assert(dow === want, s"$d")
    }
  }

  test("time_series_autocorr equals the driver-side Pearson over lagged daily counts") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Analytics.timeSeriesAutocorr(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val ev = io.Readers.table(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"))
      .as[(String, java.sql.Date)].collect()
    val daily = ev.groupBy(identity).map { case ((t, d), g) => (t, d.toLocalDate) -> g.length.toLong }
    val series = daily.groupBy(_._1._1).map { case (t, m) =>
      t -> m.toSeq.map { case ((_, d), c) => (d, c) }.sortBy(_._1.toEpochDay).map(_._2).toVector
    }
    for ((t, xs) <- series; k <- Seq(1, 2, 3, 7) if xs.length > k) {
      val pairs = xs.dropRight(k).zip(xs.drop(k))
      val n = pairs.length.toDouble
      val sx = pairs.map(_._1).sum.toDouble; val sy = pairs.map(_._2).sum.toDouble
      val sxy = pairs.map(p => p._1 * p._2).sum.toDouble
      val sxx = pairs.map(p => p._1 * p._1).sum.toDouble
      val syy = pairs.map(p => p._2 * p._2).sum.toDouble
      val vx = n * sxx - sx * sx; val vy = n * syy - sy * sy
      if (vx > 0 && vy > 0) {
        val r = (n * sxy - sx * sy) / math.sqrt(vx) / math.sqrt(vy)
        val (gn, gr) = got((t, k.toLong))
        assert(gn === pairs.length.toLong, s"($t,$k)")
        assert(math.abs(gr - r) < 1e-12, s"($t,$k): $gr vs $r")
        assert(gr >= -1.0 - 1e-9 && gr <= 1.0 + 1e-9)
      }
    }
  }

  test("stat_winsorize: bounds are exact nearest-rank order statistics; clipped mean matches") {
    val dir = "/root/testdata/sf0.001"
    val got = ops.Stats.statWinsorize(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))).toMap

    val cust = io.Readers.table(spark, dir, "customer")
      .select("c_mktsegment", "c_acctbal").as[(String, Double)].collect()
    val bySeg = cust.groupBy(_._1).map { case (seg, xs) =>
      seg -> xs.map(x => BigDecimal(x._2).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sorted.toVector
    }
    assert(got.keySet === bySeg.keySet)
    bySeg.foreach { case (seg, vals) =>
      val n = vals.length
      val lo = vals(((n - 1) * 5 / 100 + 1) - 1)
      val hi = vals(((n - 1) * 95 / 100 + 1) - 1)
      val clipped = vals.map(v => if (v < lo) lo else if (v > hi) hi else v)
      val mean = (clipped.sum / n).toDouble
      val (gn, glo, ghi, gmean, gClipLo, gClipHi) = got(seg)
      assert(gn === n.toLong, seg)
      assert(glo === lo.toDouble && ghi === hi.toDouble, seg)
      assert(math.abs(gmean - mean) < 1e-9, s"$seg: $gmean vs $mean")
      assert(gClipLo === vals.count(_ < lo).toLong, seg)
      assert(gClipHi === vals.count(_ > hi).toLong, seg)
      // winsorization pulled the mean toward the median vs the raw mean
      assert(lo <= hi)
    }
  }

  test("time_series_stl_cells: exact decomposition identity; residuals sum to zero per dow group") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = ops.Analytics.timeSeriesStlCells(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    // identity c = tsum/7 + s_num/(7n) + r_num/(7n), over the common
    // denominator 7n: 7n·c = n·tsum + s_num + r_num — exact integers
    rows.foreach { case (t, d, c, tsum, dow, sNum, nDow, rNum) =>
      assert(7 * nDow * c === nDow * tsum + sNum + rNum, s"identity $t/$d")
      assert(dow === java.lang.Math.floorMod(d, 7L))
    }
    // per (type, dow): Σ r_num = 0 exactly (the seasonal mean removes it)
    rows.groupBy(r => (r._1, r._5)).foreach { case (k, g) =>
      assert(g.map(_._8).sum === 0L, s"residual sum $k")
    }
    // trend replay: tsum equals the literal ±3-day window sum
    val daily = io.Readers.table(spark, dir, "events")
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    rows.foreach { case (t, d, _, tsum, _, _, _, _) =>
      val win = (d - 3 to d + 3).flatMap(dd => daily.get((t, dd)))
      assert(win.size === 7, s"interior day $t/$d must have a full frame")
      assert(tsum === win.sum, s"trend $t/$d")
    }
  }

  test("time_series_rolling_median: literal-frame replay; spike-robustness vs the mean") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val daily = io.Readers.table(spark, dir, "events")
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val got = ops.Analytics.timeSeriesRollingMedian(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
    assert(got.length === daily.size)
    got.foreach { case ((t, d), (c, nF, med)) =>
      assert(c === daily((t, d)))
      val frame = (d - 6 to d).flatMap(dd => daily.get((t, dd))).sorted
      assert(nF === frame.length.toLong, s"frame size $t/$d")
      assert(med === frame((frame.length + 1) / 2 - 1), s"median $t/$d")
    }
  }

  test("events_anomaly_stl: denominator-aware MAD replay; gate decides by cross-multiplication") {
    val dir = "/root/testdata/sf0.001"
    val cells = ops.Analytics.timeSeriesStlCells(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(7), r.getLong(6)))
    // (type, day, r_num, n_dow)
    val got = ops.Analytics.eventsAnomalyStl(spark, dir).collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got.size === cells.length)
    cells.groupBy(_._1).foreach { case (t, g) =>
      val sorted = g.sortBy { case (_, d, r, n) =>
        (math.abs(r).toDouble / n.toDouble, d) }
      val med = sorted((sorted.length + 1) / 2 - 1)
      val (madNum, madDen) = (math.abs(med._3), med._4)
      g.foreach { case (_, d, r, n) =>
        val (rG, nG, mN, mD, flag) = got((t, d))
        assert(rG === r && nG === n)
        assert(mN === madNum && mD === madDen, s"MAD $t")
        val want = if (math.abs(r) * madDen > 5 * madNum * n) 1L else 0L
        assert(flag === want, s"gate $t/$d")
      }
    }
  }
}
