package graft.tools

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Sessions

/** sf1 corpus generator (round 14 — r13 verdict item 3: convert the
  * heavy families' 100×-scale claims from argument to measurement).
  *
  * Generates a 10×-sf0.1 corpus (6M lineitem / 1.5M orders / 150k
  * customers / 200k parts / 1M events / 50k documents / 20k
  * embeddings — the driver's cross-SF scaling rules read off
  * TESTDATA.md row counts) with the SAME distributional shape the
  * driver's tables carry (profiled via DuckDB: ~4.07 lines/order as
  * independent (orderkey, linenumber) draws with duplicates, 25
  * brands, 31-word near-uniform document vocabulary at 10–100
  * words/doc with a ~0.5% exact-duplicate block structure, 5 langs
  * at the 40/15×4 split, 64-dim unit-normalized embeddings, 15k
  * event users over 30 days). Values are NOT the driver's values —
  * no oracle runs at sf1; this corpus exists to measure scaling
  * exponents of the in-suite keys.
  *
  * Fully DISTRIBUTED generation: every column is a pure function of
  * `spark.range` ids through salted xxhash64 uniforms — no driver
  * RNG, no collect; the generator itself is the 100 TB shape.
  *
  * Usage: `sbt "Test/runMain graft.tools.Gen [outDir] [mult]"`
  * (default /tmp/sf1, mult 1.0 = sf1).
  */
object Gen {

  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(1000000L)).cast("double") / 1e6

  private def pick(salt: Int, vals: String*): Column =
    element_at(array(vals.map(lit): _*),
      (pmod(xxhash64(col("id"), lit(salt)), lit(vals.size.toLong)) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val mult = args.drop(1).headOption.map(_.toDouble).getOrElse(1.0)
    val spark = Sessions.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nCust = (150000 * mult).toLong
    val nOrd = (1500000 * mult).toLong
    val nLine = (6000000 * mult).toLong
    val nPart = (200000 * mult).toLong
    val nSupp = (10000 * mult).toLong
    val nEvent = (1000000 * mult).toLong
    val nUser = (15000 * mult).toLong
    val nDoc = math.max(500L, (50000 * mult).toLong)
    val nEmb = math.max(500L, (20000 * mult).toLong)

    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sf1gen] wrote $name")
    }

    write("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id")).as("r_name")))

    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))

    write("customer", spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(11)), lit(25L)).cast("int").as("c_nationkey"),
      round(u(12) * 11000 - 1000, 2).as("c_acctbal"),
      pick(13, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment")))

    write("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(21)), lit(25L)).cast("int").as("s_nationkey"),
      round(u(22) * 10000, 2).as("s_acctbal")))

    write("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(31, "large", "hot", "blue", "red", "small", "dark", "light",
        "green", "cold", "round"), lit(" "),
        pick(32, "ring", "bolt", "case", "drum", "plate", "wheel", "rod",
          "cap", "tube", "disk")).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(33)), lit(25L)) + 1).cast("string"))
        .as("p_brand"),
      pick(34, "LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
        .as("p_type"),
      (pmod(xxhash64(col("id"), lit(35)), lit(50L)) + 1).cast("int").as("p_size"),
      round(u(36) * 1900 + 100, 2).as("p_retailprice")))

    val epoch95 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime / 1000
    write("orders", spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(41)), lit(nCust)).as("o_custkey"),
      pick(42, "O", "P", "F").as("o_orderstatus"),
      round(u(43) * 200000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(epoch95) +
        (pmod(xxhash64(col("id"), lit(44)), lit(2405L)) * 86400L)).as("o_orderdate"),
      pick(45, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority")))

    write("lineitem", spark.range(nLine).select(
      pmod(xxhash64(col("id"), lit(51)), lit(nOrd)).as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(52)), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("id"), lit(53)), lit(nSupp)).as("l_suppkey"),
      (pmod(xxhash64(col("id"), lit(54)), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(xxhash64(col("id"), lit(55)), lit(50L)) + 1).cast("double").as("l_quantity"),
      round(u(56) * 104099.23 + 900.68, 2).as("l_extendedprice"),
      (pmod(xxhash64(col("id"), lit(57)), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("id"), lit(58)), lit(9L)).cast("double") / 100.0).as("l_tax"),
      pick(59, "A", "N", "R").as("l_returnflag"),
      pick(60, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(epoch95) + 86400L +
        (pmod(xxhash64(col("id"), lit(61)), lit(2495L)) * 86400L)).as("l_shipdate")))

    val epoch24 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    write("events", spark.range(nEvent).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(epoch24).cast("double") +
        u(71) * (30.0 * 86400.0)).cast("timestamp").as("ts"),
      pmod(xxhash64(col("id"), lit(72)), lit(nUser)).as("user_id"),
      pick(73, "click", "view", "signup", "purchase", "error").as("event_type"),
      round(u(74) * u(75) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(76)), lit(100L)), lit("}")).as("props")))

    // documents: 31-word near-uniform vocab, 10–100 words, ~0.5%
    // exact-dup groups (seed_id collapses a run of 50 ids onto its
    // block head — identical text, the dedup keys' fuel)
    val vocab = Seq("spark", "window", "merge", "table", "column", "sort",
      "fast", "batch", "group", "agg", "value", "filter", "query", "key",
      "row", "part", "line", "order", "small", "big", "slow", "hash",
      "scan", "stream", "data", "vector", "a", "the", "join", "index",
      "cache")
    val docs = spark.range(nDoc)
      .withColumn("seed_id",
        when(pmod(xxhash64(col("id"), lit(81)), lit(200L)) < 1,
          (col("id") / 50).cast("long") * 50).otherwise(col("id")))
      .withColumn("n_words",
        (pmod(xxhash64(col("seed_id"), lit(82)), lit(91L)) + 10).cast("int"))
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), col("n_words") - 1),
          i => element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(col("seed_id"), i, lit(83)), lit(vocab.size.toLong)) + 1)
              .cast("int"))), " ").as("text"),
        element_at(array(lit("en"), lit("en"), lit("de"), lit("zh"),
          lit("fr"), lit("es")),
          (pmod(xxhash64(col("id"), lit(84)), lit(6L)) + 1).cast("int")).as("lang"),
        concat(lit("src"),
          pmod(xxhash64(col("id"), lit(85)), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)

    // embeddings: 64-dim, unit-normalized, 10 labels with per-label
    // centroid structure (label pulls each component toward a
    // label-specific offset so ANN/centroid keys have real clusters)
    val emb = spark.range(nEmb)
      .withColumn("label", pmod(xxhash64(col("id"), lit(91)), lit(10L)).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i, lit(92)), lit(1000000L)).cast("double") / 5e5
          - 1.0) * 0.7 +
          (pmod(xxhash64(col("label"), i, lit(93)), lit(1000000L)).cast("double") / 5e5
            - 1.0) * 0.3))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0d),
        (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label"))
    write("embeddings", emb)

    println(s"[sf1gen] done -> $out (mult $mult)")
    spark.stop()
  }
}
