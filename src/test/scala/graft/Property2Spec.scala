package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Round-6 property invariants: the bucketed-pivot quantile family,
  * the EWMA fold, and the integer-ppm Markov table, each exercised
  * through the REAL oracle'd operator over generated parquet tables
  * (the operators read `{dir}/{table}.parquet`, so a temp dir with a
  * generated table IS a valid corpus) and compared against a plain
  * driver-side recomputation.
  */
class Property2Spec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap { i =>
      gen(Gen.Parameters.default.withSize(20 + i * 20), Seed(4242L + i))
    }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"prop2_$tag").toString

  // 2-decimal money values, 3 groups
  private val liGen: Gen[List[(String, Double, Double)]] =
    Gen.nonEmptyListOf(for {
      f <- Gen.oneOf("A", "N", "R")
      price <- Gen.choose(100, 2000000).map(_ / 100.0)
      qty <- Gen.choose(1, 5000).map(_ / 100.0)
    } yield (f, price, qty))

  test("agg_weighted_median: bucketed pivot == naive definition on random corpora") {
    for ((rows, i) <- samples(liGen, 4).zipWithIndex) {
      val dir = tmpDir(s"wm$i")
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = ops.Analytics.aggWeightedMedian(spark, dir).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      rows.groupBy(_._1).foreach { case (f, xs) =>
        val sorted = xs.map(x => (BigDecimal(x._2).setScale(2), BigDecimal(x._3).setScale(2)))
          .sortBy(_._1)
        val tot = sorted.map(_._2).sum
        var cum = BigDecimal(0)
        // RANGE-frame semantics: ties share one cumulative value
        val byPrice = sorted.groupBy(_._1).toSeq.sortBy(_._1)
        var expect: Option[BigDecimal] = None
        for ((p, ps) <- byPrice if expect.isEmpty) {
          cum += ps.map(_._2).sum
          if (cum * 2 >= tot) expect = Some(p)
        }
        assert(got(f) == expect.get.toDouble, s"case $i group $f")
      }
      // several weighted quantiles through the kernel itself, on the
      // same corpus and the same exact-decimal projection as the key
      val qs = Seq(25, 50, 75, 90)
      val gotQ = ops.SpineRank.exactQuantiles(
          graft.io.Readers.table(spark, dir, "lineitem")
            .select(col("l_returnflag"),
              Determinism.dec(col("l_extendedprice")).as("price"),
              Determinism.dec(col("l_quantity")).as("qty")),
          Seq("l_returnflag"), "price", col("qty"), qs)
        .collect().map(r => (r.getString(0), r.getInt(1)) -> BigDecimal(r.getDecimal(2)))
        .toMap
      rows.groupBy(_._1).foreach { case (f, xs) =>
        // the same naive definition at each q: ties share one cumulative
        val byPrice = xs.map(x => (BigDecimal(x._2).setScale(2), BigDecimal(x._3).setScale(2)))
          .groupBy(_._1).toSeq.sortBy(_._1).map { case (p, ps) => (p, ps.map(_._2).sum) }
        val cums = byPrice.map(_._2).scanLeft(BigDecimal(0))(_ + _).tail
        val tot = cums.last
        qs.foreach { q =>
          val expect = byPrice.zip(cums).find { case (_, cum) => cum * 100 >= tot * q }.get._1._1
          assert(gotQ((f, q)) == expect, s"case $i group $f weighted q$q")
        }
      }
    }
  }

  test("agg_quantiles_bucketed: pivot quantiles == sorted-rank definition on random corpora") {
    for ((rows, i) <- samples(liGen, 4).zipWithIndex) {
      val dir = tmpDir(s"q$i")
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val got = ops.Analytics.aggQuantilesBucketed(spark, dir).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      rows.groupBy(_._1).foreach { case (f, xs) =>
        val sorted = xs.map(x => BigDecimal(x._2).setScale(2)).sorted
        val n = sorted.length
        Seq(25, 50, 75, 90).foreach { q =>
          val idx = sorted.indices.find(j => (j + 1) * 100 >= q * n).get
          assert(got((f, q)) == sorted(idx).toDouble, s"case $i group $f q$q")
        }
      }
    }
  }

  test("quantile family handles degenerate distributions (all-equal, two-point, hot bucket)") {
    val cases = Seq(
      // all mass on one value → every quantile and the median ARE it
      List.fill(500)(("A", 1234.56, 1.0)),
      // two-point straddle: value chosen by exact rank arithmetic
      List.fill(300)(("A", 10.0, 1.0)) ++ List.fill(200)(("A", 99999.99, 1.0)),
      // everything inside ONE price bucket (bucket width 1000)
      (1 to 400).map(i => ("A", 500.0 + i * 0.01, (i % 5 + 1).toDouble)).toList)
    cases.zipWithIndex.foreach { case (rows, i) =>
      val dir = tmpDir(s"deg$i")
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val qs = ops.Analytics.aggQuantilesBucketed(spark, dir).collect()
        .map(r => r.getInt(1) -> r.getDouble(2)).toMap
      val sorted = rows.map(x => BigDecimal(x._2).setScale(2)).sorted
      val n = sorted.length
      Seq(25, 50, 75, 90).foreach { q =>
        val idx = sorted.indices.find(j => (j + 1) * 100 >= q * n).get
        assert(qs(q) == sorted(idx).toDouble, s"case $i q$q")
      }
      val med = ops.Analytics.aggWeightedMedian(spark, dir).collect()
      assert(med.length == 1, s"case $i median rows")
    }
  }

  private val evGen: Gen[List[(Long, Long, Long, Double, String)]] =
    Gen.nonEmptyListOf(for {
      id <- Gen.choose(1L, 100000L)
      user <- Gen.choose(1L, 8L)
      tsNanos <- Gen.choose(0L, 86400L * 30).map(s => 1704067200000000000L + s * 1000000000L)
      v <- Gen.choose(0, 49000).map(_ / 100.0)
      typ <- Gen.oneOf("click", "view", "purchase", "signup", "error")
    } yield (id, user, tsNanos, v, typ))

  private def writeEvents(rows: List[(Long, Long, Long, Double, String)], dir: String): Unit =
    rows.map { case (id, u, ts, v, t) => (id, ts, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("win_ewma_user: operator fold is bitwise-equal to the driver fold on random corpora") {
    for ((rows0, i) <- samples(evGen, 4).zipWithIndex) {
      val rows = rows0.distinctBy(r => (r._3, r._1)) // unique (ts, id) order keys
      val dir = tmpDir(s"ewma$i")
      writeEvents(rows, dir)
      val got = ops.Analytics.winEwmaUser(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      rows.groupBy(_._2).foreach { case (u, xs) =>
        val vals = xs.sortBy(x => (x._3, x._1, x._4)).map(_._4)
        val expect = vals.tail.foldLeft(vals.head)((e, v) => 0.25 * v + 0.75 * e)
        assert(java.lang.Double.doubleToLongBits(got(u)) ==
          java.lang.Double.doubleToLongBits(expect), s"case $i user $u")
      }
    }
  }

  test("events_rfm: bucketed quintiles reproduce ntile(5) on random, tiny, and all-tied corpora") {
    // reference model shared via SparkSpec.ntile5
    def check(rows: List[(Long, Long, Long, Double, String)], tag: String): Unit = {
      val dir = tmpDir(tag)
      writeEvents(rows, dir)
      val out = ops.Analytics.eventsRfm(spark, dir).collect()
      val nPurch = rows.filter(_._5 == "purchase").map(_._2).distinct.size
      assert(out.length == nPurch, s"$tag: one row per purchasing user")
      if (out.nonEmpty) {
        val rq = ntile5(out.map(r => (r.getInt(1).toDouble, r.getLong(0))))
        val fq = ntile5(out.map(r => (-r.getLong(2).toDouble, r.getLong(0))))
        val mq = ntile5(out.map(r => (-r.getDouble(3), r.getLong(0))))
        out.foreach { r =>
          val u = r.getLong(0)
          assert(r.getInt(4) == rq(u) && r.getInt(5) == fq(u) && r.getInt(6) == mq(u),
            s"$tag user $u")
        }
      }
    }
    // random corpora: evGen's 8-user universe means the purchasing
    // population is TINY (≤8 < 5 buckets in some draws) — the ntile
    // boundary-rank arithmetic's partial-bucket edge paths
    for ((rows0, i) <- samples(evGen, 4).zipWithIndex)
      check(rows0.distinctBy(r => (r._3, r._1)), s"rfm$i")
    // all-tied: 40 users, identical single purchase each — every
    // metric ties across the whole population, so quintiles are
    // decided purely by the user_id tiebreak
    val tied = (1 to 40).map(u =>
      (u.toLong, u.toLong, 1704067200000000000L, 5.00, "purchase")).toList
    check(tied, "rfmtied")
  }

  test("events_dau_wau: trailing distinct equals the set-union definition on random corpora") {
    for ((rows0, i) <- samples(evGen, 4).zipWithIndex) {
      val rows = rows0.distinctBy(r => (r._3, r._1))
      val dir = tmpDir(s"dau$i")
      writeEvents(rows, dir)
      val out = ops.Aggregations.eventsDauWau(spark, dir).collect()
        .map(r => r.getDate(0).toLocalDate -> (r.getLong(1), r.getLong(2))).toMap
      // driver truth: per-day user sets in UTC, unions over trailing 7
      val byDay = rows.groupBy { r =>
        java.time.Instant.ofEpochSecond(r._3 / 1000000000L)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
      }.view.mapValues(_.map(_._2).toSet).toMap
      assert(out.keySet == byDay.keySet)
      byDay.foreach { case (d, users) =>
        val wau = (0 to 6).flatMap(k => byDay.getOrElse(d.minusDays(k), Set.empty)).toSet
        assert(out(d) == (users.size.toLong, wau.size.toLong), s"case $i day $d")
      }
    }
  }

  test("events_funnel_windowed: counts equal the chained first-qualifying definition on random corpora") {
    for ((rows0, i) <- samples(evGen, 4).zipWithIndex) {
      val rows = rows0.distinctBy(r => (r._3, r._1))
      val dir = tmpDir(s"fw$i")
      writeEvents(rows, dir)
      val Array(nS, nC, nP) = ops.Aggregations.eventsFunnelWindowed(spark, dir)
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val week = 7L * 86400 * 1000000000L
      val byUser = rows.groupBy(_._2)
      var (es, ec, ep) = (0L, 0L, 0L)
      byUser.foreach { case (_, xs) =>
        val sig = xs.filter(_._5 == "signup").map(_._3).minOption
        sig.foreach { s =>
          es += 1
          val clk = xs.filter(x => x._5 == "click" && x._3 >= s && x._3 <= s + week)
            .map(_._3).minOption
          clk.foreach { c =>
            ec += 1
            val pur = xs.filter(x => x._5 == "purchase" && x._3 >= c && x._3 <= c + week)
              .map(_._3).minOption
            pur.foreach(_ => ep += 1)
          }
        }
      }
      assert((nS, nC, nP) == ((es, ec, ep)), s"case $i")
    }
  }

  test("events_markov_transition: ppm rows are exact integer shares on random corpora") {
    for ((rows0, i) <- samples(evGen, 4).zipWithIndex) {
      val rows = rows0.distinctBy(r => (r._3, r._1))
      val dir = tmpDir(s"mkv$i")
      writeEvents(rows, dir)
      val out = ops.Analytics.eventsMarkovTransition(spark, dir).collect()
      // driver recomputation of the transition counts
      val truth = rows.groupBy(_._2).values.toSeq.flatMap { xs =>
        val s = xs.sortBy(x => (x._3, x._1)).map(_._5)
        s.zip(s.drop(1))
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap == truth)
      out.groupBy(_.getString(0)).foreach { case (_, rs) =>
        val tot = rs.map(_.getLong(2)).sum
        rs.foreach(r => assert(r.getLong(3) == r.getLong(2) * 1000000L / tot))
      }
    }
  }
}
