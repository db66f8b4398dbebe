package graft

import org.apache.spark.sql.functions._

/** Round-6 operator specs: Misra–Gries heavy hitters (the no-false-
  * negative guarantee on a planted skew the tiny lorem vocabulary
  * cannot exercise), Z-order layout (bijectivity + the bounding-box
  * shrink that IS the point of the curve), banded interval overlap
  * (equality with the naive theta join), and chunking coverage
  * invariants.
  */
class Round6OpsSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------- Misra–Gries

  test("MisraGries candidates contain every item above N/k on a planted skew") {
    import spark.implicits._
    // 40% hot token + 4 warm tokens at ~4% + a 10k-distinct uniform tail:
    // a bounded summary must surface hot+warm; the tail must not evict them
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to 40000).foreach(_ => rows += "hot")
    (0 until 4).foreach(w => (1 to 4000).foreach(_ => rows += s"warm$w"))
    (0 until 10000).foreach(t => (1 to 4).foreach(_ => rows += s"tail$t"))
    val df = rows.toSeq.toDF("tok").repartition(8) // adversarial: hot spread over partitions
    val n = rows.size.toLong
    val k = 20
    val cands = ops.Udx.mgCandidates(df, k).toSet
    val exact = df.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") * k > n).select("tok").as[String].collect().toSet
    assert(exact.nonEmpty, "fixture must plant real heavy hitters")
    assert(exact.subsetOf(cands), s"MG missed ${exact -- cands}")
    assert(cands.size <= k - 1, "summary must stay bounded")
  }

  test("agg_heavy_hitters equals the exact GROUP BY ... HAVING result") {
    val hh = ops.Udx.aggHeavyHitters(spark, sf)
    val toks = split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
    val tok = io.Readers.table(spark, sf, "documents")
      .filter(trim(col("text")) =!= "")
      .select(explode(toks).as("tok")).filter(col("tok") =!= "")
    val n = tok.count()
    val exact = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") * 50 > n).orderBy("tok")
    assert(hh.collect().toSeq == exact.collect().toSeq)
  }

  // ---------------------------------------------------- Z-order

  test("zorder16 interleaves bits exactly (matches a scalar reference)") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      (0 until 16).foreach { i =>
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val rng = new scala.util.Random(42)
    val pts = Seq.fill(500)((rng.nextInt(65536).toLong, rng.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ops.Layout.zorder16(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == ref(x, y), s"($x,$y)") }
  }

  test("Z-sort prunes chunks for filters on EITHER column; lex sort cannot prune the second") {
    import spark.implicits._
    // uniform 2-D points; chunk = a simulated 512-row parquet row group.
    // The pruning metric that matters: for a selective single-column
    // filter, how many chunks' min/max ranges contain the probe value?
    // A lexicographic sort makes x-chunks thin but every chunk spans the
    // FULL y range (zero y pruning); the Z-curve bounds both extents.
    val rng = new scala.util.Random(7)
    val pts = Seq.fill(16384)((rng.nextInt(65536).toLong, rng.nextInt(65536).toLong, rng.nextLong()))
    def chunkRanges(sorted: Seq[(Long, Long)], dim: ((Long, Long)) => Long): Seq[(Long, Long)] =
      sorted.grouped(512).map { g => (g.map(dim).min, g.map(dim).max) }.toSeq
    def avgHits(ranges: Seq[(Long, Long)]): Double = {
      val probes = Seq.fill(200)(rng.nextInt(65536).toLong)
      probes.map(p => ranges.count { case (lo, hi) => lo <= p && p <= hi }).sum / 200.0
    }
    val df = pts.toDF("x", "y", "tb")
    val zSorted = df.withColumn("z", ops.Layout.zorder16(col("x"), col("y")))
      .orderBy("z", "tb").select("x", "y").as[(Long, Long)].collect().toSeq
    val lexSorted = df.orderBy("x", "tb").select("x", "y").as[(Long, Long)].collect().toSeq
    val zYHits = avgHits(chunkRanges(zSorted, _._2))
    val lexYHits = avgHits(chunkRanges(lexSorted, _._2))
    val zXHits = avgHits(chunkRanges(zSorted, _._1))
    // lex: every chunk spans all of y → a y probe hits ~all 32 chunks.
    // z: chunk y-extents are ~1/4 of the domain → a y probe hits ~8.
    assert(zYHits * 2 < lexYHits, s"zY=$zYHits lexY=$lexYHits")
    // and the Z-sort still prunes on x too (not perfectly, but far from
    // nothing — assert it beats the no-pruning bound of 32)
    assert(zXHits < 16, s"zX=$zXHits")
  }

  // ------------------------------------------- interval overlap join

  test("banded interval overlap equals the naive theta join") {
    val banded = ops.Relational.joinIntervalOverlap(spark, sf)
    val ord = io.Readers.table(spark, sf, "orders")
    def side(prio: String, id: String, st: String) = ord
      .filter(col("o_orderpriority") === prio &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey").as(id),
        unix_date(col("o_orderdate").cast("date")).cast("long").as(st))
    val naive = side("1-URGENT", "a_id", "a_s")
      .crossJoin(side("5-LOW", "b_id", "b_s"))
      .filter(col("a_s") <= col("b_s") + 9 && col("b_s") <= col("a_s") + 9)
      .withColumn("overlap_days",
        least(col("a_s") + 9, col("b_s") + 9) - greatest(col("a_s"), col("b_s")) + 1)
      .groupBy(col("a_id").as("a_orderkey"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("overlap_days")).as("sum_overlap_days"))
      .orderBy("a_orderkey")
    assert(banded.collect().toSeq == naive.collect().toSeq)
    assert(banded.count() > 0, "fixture must produce overlaps")
  }

  // ------------------------------------------------------ chunking

  test("text_chunk_overlap covers every token and respects the chunk size") {
    import spark.implicits._
    val chunks = ops.Curation.textChunkOverlap(spark, sf)
      .select("doc_id", "chunk_id", "n_toks").as[(Long, Int, Int)].collect()
    val nToks = io.Readers.table(spark, sf, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        size(split(regexp_replace(trim(col("text")), "\\s+", " "), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = nToks(doc)
      // chunk c covers [24*c, 24*c + n_toks); union must cover [0, n)
      val covered = cs.flatMap { case (_, cid, nt) => (24 * cid) until (24 * cid + nt) }.toSet
      assert(covered == (0 until n).toSet, s"doc $doc coverage hole")
      cs.foreach { case (_, _, nt) => assert(nt >= 1 && nt <= 32) }
      // consecutive chunks overlap by exactly chunk−stride except the tail
      val byId = cs.sortBy(_._2)
      byId.sliding(2).foreach {
        case Array((_, c1, n1), (_, c2, _)) if c2 == c1 + 1 =>
          assert(24 * c1 + n1 >= 24 * c2, s"doc $doc gap between chunks $c1,$c2")
        case _ =>
      }
    }
  }

  // --------------------------------------------------- sessionize

  test("events_sessionize: sessions partition each user's events with >30min gaps between sessions") {
    import spark.implicits._
    val sess = ops.Windows.eventsSessionize(spark, sf)
      .select("user_id", "session_seq", "n_events", "t_start", "t_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
    val byUser = sess.groupBy(_._1)
    byUser.foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, "dense session ids")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // gap between consecutive sessions must exceed 30 minutes
          assert(b._4.getTime - a._5.getTime > 30 * 60 * 1000L)
        case _ =>
      }
    }
    val total = byUser.values.map(_.map(_._3).sum).sum
    val nEvents = io.Readers.table(spark, sf, "events").count()
    assert(total == nEvents, "sessions must partition all events")
  }

  test("set_ops_bag: multiplicities equal the min/diff multiset replay") {
    val o = io.Readers.table(spark, sf, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val c96 = o.filter(_._2 == 1996).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val c97 = o.filter(_._2 == 1997).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val want = (c96.keySet ++ c97.keySet).flatMap { k =>
      val a = c96.getOrElse(k, 0L); val b = c97.getOrElse(k, 0L)
      val inter = math.min(a, b); val exc = math.max(0L, a - b)
      if (inter > 0 || exc > 0) Some(k -> (inter, exc)) else None
    }.toMap
    val got = ops.SetSort.setOpsBag(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
  }
}
