package graft

/** ops.Analytics.interpolateSeries — the keyed (unbounded-cardinality)
  * interpolation form, on a generated 200-series fixture with random
  * gaps: exactness vs a driver-side recomputation, spine coverage,
  * and the one-shuffle plan shape.
  */
class InterpolateSeriesSpec extends SparkSpec {
  import spark.implicits._

  private val hourMs = 3600L * 1000

  // 200 series, each with a deterministic pseudo-random subset of a
  // 48-hour spine observed (always including both endpoints)
  private def fixture(): Seq[(Long, java.sql.Timestamp, Double)] = {
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    (0 until 200).flatMap { s =>
      val span = 10 + (s * 7) % 38
      (0 to span).flatMap { h =>
        val keep = h == 0 || h == span || ((h * 2654435761L + s * 97L) % 10) < 6
        if (keep) Some((s.toLong,
          new java.sql.Timestamp(base + h * hourMs), (s * 100 + h * 3).toDouble / 4))
        else None
      }
    }
  }

  test("keyed interpolation is exact per series and covers every spine hour") {
    val rows = fixture()
    val df = rows.toDF("series_id", "hr", "v")
    val out = ops.Analytics.interpolateSeries(df).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2), r.getBoolean(3)))
    val bySeries = rows.groupBy(_._1)
    val outBySeries = out.groupBy(_._1)
    assert(outBySeries.keySet == bySeries.keySet)
    bySeries.foreach { case (s, obs0) =>
      val obs = obs0.map(o => o._2.getTime -> o._3).sortBy(_._1)
      val lo = obs.head._1
      val hi = obs.last._1
      val got = outBySeries(s).sortBy(_._2)
      // spine: every hour between the series' own endpoints, exactly once
      assert(got.map(_._2).toSeq == (lo to hi by hourMs).toSeq, s"spine of series $s")
      val obsMap = obs.toMap
      got.foreach { case (_, t, v, filled) =>
        obsMap.get(t) match {
          case Some(ov) =>
            assert(!filled && v == ov, s"series $s observed hour $t")
          case None =>
            assert(filled, s"series $s hour $t must be marked filled")
            val (pt, pv) = obs.filter(_._1 < t).last
            val (nt, nv) = obs.filter(_._1 > t).head
            val expect = pv + (nv - pv) *
              ((t - pt) / 1000).toDouble / ((nt - pt) / 1000).toDouble
            assert(java.lang.Double.doubleToLongBits(v) ==
              java.lang.Double.doubleToLongBits(expect), s"series $s hour $t")
        }
      }
    }
  }

  test("all windows partition on series_id (no global window, one series shuffle)") {
    val df = fixture().toDF("series_id", "hr", "v")
    val q = ops.Analytics.interpolateSeries(df)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"no global window allowed:\n$plan")
    val windows = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("series_id")), windows.mkString("\n"))
  }
}
