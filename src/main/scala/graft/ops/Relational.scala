package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Determinism._
import graft.io.Readers.table

/** Relational core: scans, projection/filter, joins, aggregation,
  * sort/limit/set ops (SURVEY §2.1–§2.4, §2.6).
  *
  * Every query is a pure plan builder `(SparkSession, sfDir) => DataFrame`
  * — no actions, no state. Determinism discipline per SURVEY §7.4: every
  * result ends ORDER BY a unique column set (or by ALL output columns
  * when rows can be fully identical — identical rows make tie order
  * irrelevant to byte equality), and money aggregates go through
  * `Determinism.dec/dsum` (exact decimal, final double).
  *
  * Scale posture (100 TB): filters sit directly on scans so Catalyst
  * pushes them into parquet row-group skipping; small dims (region,
  * nation, part, supplier) are broadcast explicitly; large⋈large joins
  * shuffle on their natural keys and rely on AQE for skew/coalesce.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- §2.1

  /** Full lineitem scan, count-preserving projection. */
  val scanParquet: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .transform(orderedByAll)

  /** Reads exactly 2 of lineitem's 11 columns — column pruning must
    * reach the parquet scan (ReadSchema shows only these two).
    */
  val scanParquetPruned: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .select("l_partkey", "l_extendedprice")
      .transform(orderedByAll)

  // ---------------------------------------------------------------- §2.2

  /** Select + alias + cast: double→decimal(18,2), timestamp→date.
    * The decimal is emitted as its canonical string: the driver's
    * comparator reads Spark parquet via pandas (decimal.Decimal
    * objects) but DuckDB results via .df() (float64), so a raw
    * DECIMAL column can never hash-match — strings do (r01 fix).
    */
  val projectRenameCast: Q = (s, dir) =>
    table(s, dir, "orders")
      .select(
        col("o_orderkey").as("orderkey"),
        col("o_totalprice").cast(Money).cast("string").as("totalprice_dec"),
        col("o_orderdate").cast("date").as("orderdate"),
        upper(col("o_orderpriority")).as("priority"))
      .orderBy("orderkey")

  /** Compound predicate: ship-date range AND discount band AND NOT flag. */
  val filterCompound: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) &&
        !(col("l_returnflag") === "R"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount", "l_returnflag")
      .transform(orderedByAll)

  /** IN-list, LIKE prefix, BETWEEN on part. */
  val filterInLikeBetween: Q = (s, dir) =>
    table(s, dir, "part")
      .filter(
        col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        col("p_name").like("%bolt%") &&
        col("p_size").between(5, 25))
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .orderBy("p_partkey")

  /** Three-valued logic over injected NULLs: IS [NOT] NULL and null-safe
    * equality. NULLs are derived (nullif) since source data has none.
    */
  val filterNullSemantics: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        nullif(col("l_returnflag"), lit("N")).as("flag_n"),
        nullif(col("l_discount"), lit(0.0)).as("disc_n"))
      .filter(col("flag_n").isNull || col("disc_n").isNotNull)
      .withColumn("flag_is_a", col("flag_n") <=> lit("A"))
      .transform(orderedByAll)

  /** CASE WHEN price bands → labels (211-style categorical standardization). */
  val caseWhenBucketing: Q = (s, dir) =>
    table(s, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .when(col("o_totalprice") < 300000, "large")
          .otherwise("jumbo").as("price_band"))
      .groupBy("price_band")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("price_band")

  // ---------------------------------------------------------------- §2.3

  /** lineitem ⋈ part — small dimension broadcast explicitly. */
  val joinBroadcastInner: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .join(broadcast(table(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_name", "p_brand", "l_quantity", "p_retailprice")
      .transform(orderedByAll)

  /** orders ⋈ lineitem — both large, shuffle (sort-merge) on orderkey.
    * At 100 TB both sides are fact-scale; no broadcast hint on purpose.
    */
  val joinShuffleInner: Q = (s, dir) =>
    table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "l_linenumber", "o_custkey", "o_totalprice", "l_extendedprice")
      .transform(orderedByAll)

  /** customer ⟕ orders: order count per customer including zeros. */
  val joinLeftOuter: Q = (s, dir) =>
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Full outer on key domains with gaps: event users vs customers. */
  val joinFullOuter: Q = (s, dir) => {
    val eventUsers = table(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val custOrders = table(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    eventUsers
      .join(custOrders, col("user_id") === col("o_custkey"), "full")
      .select(
        coalesce(col("user_id"), col("o_custkey")).as("ukey"),
        col("n_events"), col("n_orders"))
      .orderBy("ukey")
  }

  /** Customers having ≥1 order (EXISTS). */
  val joinLeftSemi: Q = (s, dir) =>
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Customers with no orders (NOT EXISTS). */
  val joinLeftAnti: Q = (s, dir) =>
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** Null-safe equi-join (`<=>` / SQL `IS NOT DISTINCT FROM`) — the
    * join surface ordinary `=` cannot express: NULL keys MATCH each
    * other instead of dropping out. The classic need is joining on a
    * nullable dimension attribute where "unknown" is itself a
    * category (here: customers to suppliers on nation, with one
    * nation's key nulled by `nullif` to model the unknown bucket —
    * every null-nation customer pairs with every null-nation
    * supplier, exactly what three-valued `=` silently refuses).
    *
    * Scale: `<=>` is a plannable equi-join key (Spark hashes the
    * null bucket like any value; the plan is a plain hash equi-join,
    * NOT a nested loop — the null-match semantics cost nothing).
    * The null bucket concentrates on one partition like any other
    * single key value — the standard skew note applies if "unknown"
    * dominates.
    */
  val joinNullSafe: Q = (s, dir) => {
    val c = table(s, dir, "customer")
      .select(col("c_custkey"), nullif(col("c_nationkey"), lit(3)).as("c_nk"))
    val sup = table(s, dir, "supplier")
      .select(col("s_suppkey"), nullif(col("s_nationkey"), lit(3)).as("s_nk"))
    c.join(broadcast(sup), col("c_nk") <=> col("s_nk"))
      .select(col("c_custkey"), col("s_suppkey"),
        coalesce(col("c_nk"), lit(-1L)).as("nk_or_unknown"))
      .orderBy("c_custkey", "s_suppkey")
  }

  /** region × nation cross join (tiny × tiny) with post-filter. */
  val joinCross: Q = (s, dir) =>
    table(s, dir, "region")
      .crossJoin(table(s, dir, "nation"))
      .filter(col("r_regionkey") =!= col("n_regionkey"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** Non-equi theta join on a filtered slice → broadcast nested loop.
    * Inputs are pre-filtered small so the quadratic stays bounded; at
    * scale this is the pattern: never BNLJ two unfiltered fact tables.
    */
  val joinThetaRange: Q = (s, dir) => {
    val li = table(s, dir, "lineitem")
      .filter(col("l_quantity") >= 49 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val p = table(s, dir, "part")
      .filter(col("p_size") === 1)
      .select("p_partkey", "p_retailprice")
    li.join(broadcast(p),
        col("p_retailprice") >= col("l_extendedprice") * 0.009 &&
        col("p_retailprice") <= col("l_extendedprice") * 0.011)
      .select("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice", "p_retailprice")
      .transform(orderedByAll)
  }

  /** Multiway star rollup (TPC-H Q5 shape): region⋈nation⋈customer⋈
    * orders⋈lineitem revenue per (region, nation) for 1996–1997 orders.
    * Dims broadcast; orders⋈lineitem shuffles on orderkey; AQE handles
    * runtime sizing. This is also the flagship `SparkEntry.entry`.
    */
  val joinMultiwayStar: Q = (s, dir) => {
    val o = table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = table(s, dir, "lineitem")
    val c = table(s, dir, "customer")
    val n = broadcast(table(s, dir, "nation"))
    val r = broadcast(table(s, dir, "region"))
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsumProduct(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Self-join pair generation: same-user event pairs within 1 hour.
    * Equi on user_id (shuffle once) + time-band condition; id ordering
    * avoids mirrored pairs. At scale: the equi key carries the shuffle,
    * the band is evaluated post-match — never a pure theta self-join.
    */
  val joinSelfDedup: Q = (s, dir) => {
    val e = table(s, dir, "events").select("event_id", "ts", "user_id")
    val a = e.select(col("event_id").as("a_id"), col("ts").as("a_ts"), col("user_id"))
    val b = e.select(col("event_id").as("b_id"), col("ts").as("b_ts"), col("user_id").as("b_user"))
    a.join(b,
        col("user_id") === col("b_user") &&
        col("a_id") < col("b_id") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("a_id"), col("b_id"), col("a_ts"), col("b_ts"))
      .orderBy("user_id", "a_id", "b_id")
  }

  /** As-of join: for each event, the latest order of the same user with
    * o_orderdate <= ts. The equi key (user) carries the shuffle; the
    * time inequality is applied post-match and latest-wins resolves via
    * row_number with a unique orderkey tiebreak. Tie semantics are
    * pinned explicitly because DuckDB's native ASOF JOIN leaves
    * equal-timestamp winners unspecified — the oracle mirrors this
    * window formulation instead (SURVEY §7.3.4).
    */
  val joinAsof: Q = (s, dir) => {
    // Union + carry-forward window, not join + row_number: the range
    // join would materialize every (event × earlier-order) pair per
    // user before ranking — a per-key multiplicative intermediate that
    // dies on active keys at scale. Instead both tables union into one
    // (user, time)-sorted stream (one linear shuffle) and each event
    // reads the latest order seen so far via last(ignoreNulls) over
    // rows-unbounded-preceding. Sort order encodes the semantics:
    // orders sort BEFORE events at equal timestamps (src 0 < 1) so the
    // as-of bound is ≤, and orders at equal dates sort by ascending
    // key so the carried value is the (date, key)-max — identical to
    // the oracle's row_number() over (date DESC, key DESC) = 1.
    val e = table(s, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("src"),
        col("event_id"), lit(null).cast("long").as("ok"),
        lit(null).cast("timestamp").as("od"))
    val o = table(s, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("src"),
        lit(null).cast("long").as("event_id"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("od"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("src").asc, col("ok").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("asof_orderkey", last(col("ok"), ignoreNulls = true).over(w))
      .withColumn("asof_orderdate", last(col("od"), ignoreNulls = true).over(w))
      .filter(col("src") === 1 && col("asof_orderkey").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        col("asof_orderkey"), col("asof_orderdate"))
      .orderBy("event_id")
  }

  /** Same range-predicate semantics as [[joinThetaRange]], executed as
    * a banded EQUI-join — the shape that survives 100 TB, where a
    * broadcast-nested-loop over an unfiltered build side cannot. Each
    * build row lands in exactly one price bucket (⌊price/W⌋); each
    * probe row explodes to the few buckets its ±10 % window overlaps
    * (`sequence`); the equi-join on bucket routes both through an
    * ordinary shuffle/broadcast hash join and the exact predicate is
    * re-applied as a residual filter. No duplicate pairs arise because
    * the build row's single bucket meets each probe at most once.
    * Bucket width trades fan-out (probe rows × buckets) against
    * selectivity (rows sharing a bucket); at scale, W is tuned so the
    * per-bucket row count stays bounded and AQE handles stragglers —
    * this is the standard interval/range-join binning from the
    * published literature (e.g. the DBSP/interval-join family), not a
    * nested loop.
    */
  val joinRangeBucketed: Q = (s, dir) => {
    val W = 100.0
    val li = table(s, dir, "lineitem")
      .filter(col("l_quantity") >= 49 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("bkt", explode(sequence(
        floor(col("l_extendedprice") * 0.009 / W).cast("long"),
        floor(col("l_extendedprice") * 0.011 / W).cast("long"))))
    val p = table(s, dir, "part")
      .filter(col("p_size") === 1)
      .select("p_partkey", "p_retailprice")
      .withColumn("bkt", floor(col("p_retailprice") / W).cast("long"))
    li.join(p, "bkt")
      .filter(
        col("p_retailprice") >= col("l_extendedprice") * 0.009 &&
        col("p_retailprice") <= col("l_extendedprice") * 0.011)
      .select("l_orderkey", "l_linenumber", "p_partkey", "l_extendedprice", "p_retailprice")
      .transform(orderedByAll)
  }

  /** Interval×interval OVERLAP join (round 6), banded and dedup-free.
    * Two interval sets (urgent vs low-priority order windows, each
    * `[o_orderdate, +9 days]` closed, one 1996 slice) are paired when
    * their windows intersect; the result is a per-left-interval
    * overlap rollup. This is the shape `join_range_bucketed` (point in
    * range) cannot express: BOTH sides are extents.
    *
    * Scale shape: both sides explode onto the fixed 16-day bucket grid
    * their interval spans (fan-out ≤ span/W + 1 = 2 rows per
    * interval, a constant), the pair join is a plain bucket equi-join
    * (shuffles on the bucket id — never a nested loop), and each
    * overlapping pair is emitted EXACTLY once without any distinct:
    * the pair is kept only in the bucket that contains
    * `greatest(a_start, b_start)`, which both sides provably span when
    * they overlap. No dedup exchange, no pair materialized twice —
    * the standard trick that makes banded interval joins linear in
    * true pairs at 100 TB.
    */
  val joinIntervalOverlap: Q = (s, dir) => {
    val W = 16L // bucket width (days); span/W + 1 = 2 buckets per interval
    val len = 9L // closed interval [start, start + 9]
    def side(prio: String, id: String, st: String) =
      table(s, dir, "orders")
        .filter(col("o_orderpriority") === prio &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey").as(id),
          unix_date(col("o_orderdate").cast("date")).cast("long").as(st))
    val a = side("1-URGENT", "a_id", "a_s")
      .withColumn("bkt", explode(sequence(
        expr(s"a_s div $W"), expr(s"(a_s + $len) div $W"))))
    val b = side("5-LOW", "b_id", "b_s")
      .withColumn("bkt", explode(sequence(
        expr(s"b_s div $W"), expr(s"(b_s + $len) div $W"))))
    a.join(b, Seq("bkt"))
      .filter(col("a_s") <= col("b_s") + len && col("b_s") <= col("a_s") + len)
      // exactly-once emission: keep the pair only in max(start)'s bucket
      .filter(col("bkt") === expr(s"greatest(a_s, b_s) div $W"))
      .withColumn("overlap_days",
        least(col("a_s") + len, col("b_s") + len) - greatest(col("a_s"), col("b_s")) + 1)
      .groupBy(col("a_id").as("a_orderkey"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("overlap_days")).as("sum_overlap_days"))
      .orderBy("a_orderkey")
  }

  /** Wide→long reshape via the native unpivot operator (ANSI UNPIVOT):
    * the four lineitem measures become (metric, value) rows keyed by
    * (orderkey, linenumber). Purely row-local — no shuffle beyond the
    * final presentation sort.
    */
  val reshapeUnpivot: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"),
        col("l_discount").as("discount"), col("l_tax").as("tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("qty"), col("price"), col("discount"), col("tax")),
        "metric", "value")
      .transform(orderedByAll)

  /** The SQL entry path (SURVEY §3.4): the TPC-H Q3 shape expressed as
    * SQL TEXT over registered temp views — parse → analyze → the same
    * Catalyst pipeline as the DataFrame API, and the identical
    * determinism discipline (decimal-exact revenue, unique tiebreak).
    * Exists so the engine's `spark.sql(...)` surface is exercised and
    * oracle-checked, not just the fluent API.
    */
  val sqlTpchQ3: Q = (s, dir) => {
    table(s, dir, "customer").createOrReplaceTempView("customer")
    table(s, dir, "orders").createOrReplaceTempView("orders")
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l_orderkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")
  }

  /** TPC-H Q5 ("local supplier volume") over SQL text — the 6-way
    * join-ORDERING showcase: region → nation is a 5×25-row dim chain,
    * customer and supplier both constrain nationkey (the
    * c_nationkey = s_nationkey equality makes the join graph cyclic),
    * and lineitem is the fact. Catalyst's job here is to broadcast
    * every dim (region, nation, supplier — and customer at this SF)
    * and leave exactly one shuffle pair for orders ⋈ lineitem; the
    * o_orderdate year predicate must reach the orders scan as a
    * pushed filter. Revenue per the house decimal-exact discipline.
    * At 100 TB customer stops broadcasting and becomes a shuffle join
    * on custkey — the plan degrades join-by-join, never re-shapes.
    */
  val sqlTpchQ5: Q = (s, dir) => {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
    s.sql("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")
  }

  /** TPC-H Q10 over SQL text (round 12, second session) — the
    * returned-item revenue report: which customers returned the most
    * value in a quarter? Completes the TPC-H trio (Q3 shipping
    * priority, Q5 six-way cyclic join, Q10 wide-payload top-k): the
    * distinguishing shape is a GROUP BY over a WIDE payload
    * (every carried customer column rides the aggregation key —
    * the fixture's customer table is narrower than stock TPC-H, so
    * the payload here is 4 columns + nation) followed by
    * a top-20 — the planner must keep the payload columns OUT of the
    * join/shuffle until the aggregate (Catalyst prunes then re-joins
    * nothing — all live in the grouping key, the classic Q10
    * cardinality bet that |customers with returns in the quarter| is
    * small) and the top-20 must be TakeOrdered, not a global sort.
    * Revenue is the exact decimal product-sum cast once to double
    * (the house Q5 discipline); ties broken by c_custkey.
    *
    * Scale: lineitem⋈orders is the one big shuffle pair (the quarter
    * + returnflag predicates prune the fact scans); customer joins
    * shuffle at 100 TB (payload too wide to broadcast — degrades
    * join-by-join, never re-shapes); nation broadcasts forever.
    */
  val sqlTpchQ10: Q = (s, dir) => {
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
    s.sql("""
      SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
             c_acctbal, c_mktsegment, n_name
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, c_mktsegment, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")
  }

  /** TPC-H Q18 over SQL text (round 12, third session) — the
    * large-volume-customer report: orders whose total lineitem
    * quantity clears a threshold, with their customers, top-100 by
    * order value. The distinguishing shape this adds to the Q3/Q5/Q10
    * set is the AGGREGATE-THEN-SEMI-JOIN: the IN (GROUP BY … HAVING)
    * subquery must decorrelate to a semi join against the aggregated
    * fact (plan-gated LeftSemi — a per-row re-aggregation would be
    * quadratic), and lineitem is read TWICE with different shapes
    * (filtered rollup vs detail join) — Catalyst keeps the scans
    * independent, each with its own pruning. Threshold 180 sits in
    * the fixture's per-order Σqty tail (max 458 @ sf0.01). Quantities
    * are integral doubles cast to BIGINT in both engines (never
    * summed as float); top-100 is TakeOrdered, tie-broken by
    * o_orderkey.
    *
    * Scale: both lineitem passes shuffle on orderkey (AQE can reuse
    * the exchange); the HAVING rollup is map-side combined; customer
    * attaches per the Q10 degradation argument.
    */
  val sqlTpchQ18: Q = (s, dir) => {
    Seq("customer", "orders", "lineitem")
      .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
    s.sql("""
      SELECT c_custkey, c_name, o_orderkey,
             CAST(o_orderdate AS DATE) AS o_date,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS totalprice_cents,
             sum(CAST(l_quantity AS BIGINT)) AS sum_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS BIGINT)) > 180)
      GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
      ORDER BY totalprice_cents DESC, o_orderkey
      LIMIT 100""")
  }

  /** TPC-H Q1 over SQL text (round 12, fourth session) — the pricing
    * summary report, the benchmark's canonical SCAN-AGGREGATE shape:
    * one fact pass, a 4-cell grouping (returnflag × linestatus), and
    * the discount/tax product chain. All money math is INTEGER —
    * cents via the house decimal-cast-then-scale idiom, the
    * disc_price and charge products carried at 10⁴/10⁶ fixed scales
    * (sum_charge_e6 ≲ 10¹¹ per row → int64-safe past 10⁷ rows/cell;
    * at 100 TB switch the two product sums to DECIMAL(38,0), the
    * ANOVA digit-string discipline) — so no decimal-precision
    * reduction ever rounds differently across engines (a triple
    * DECIMAL product would exceed Spark's 38-digit cap and
    * round; the stock-TPC-H averages are omitted for the same
    * reason — consumers divide the emitted sums in their own float
    * regime). The shipdate predicate must reach the scan pushed.
    *
    * Scale: THE map-side-combine showcase — 4 grouping cells mean
    * the exchange carries 4·partitions rows regardless of fact size;
    * everything else is codegen'd row math on the scan.
    */
  val sqlTpchQ1: Q = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sum_base_cents,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS sum_disc_e4,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
                 * (100 + CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT))) AS sum_charge_e6,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  }

  /** TPC-H Q6 over SQL text (round 12, fourth session) — the
    * forecasting-revenue-change query, the benchmark's pure
    * PREDICATE-PUSHDOWN showcase: no join, no grouping — a
    * three-predicate scan (year range, discount band, quantity cap)
    * into a single revenue cell. Pushdown discipline (plan-checked):
    * shipdate range and quantity cap push to the parquet scan as-is;
    * the discount band is TWO-LAYERED — a pushable raw-double range
    * with boundaries 0.045/0.075 (midpoints between the fixture's
    * 0.01-granular values, so the float comparison can never sit on
    * a data point) does the row-group skipping, and the DEFINITIVE
    * band evaluates on the exact integer percent post-scan (a bare
    * double BETWEEN 0.05 AND 0.07 would be a float-boundary hazard —
    * those constants are not exactly representable; a bare CAST band
    * would not push at all). Revenue = Σ cents·disc_pct at fixed
    * scale 10⁴, exact; row count rides along as the audit cell.
    */
  val sqlTpchQ6: Q = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS revenue_e4,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount > 0.045 AND l_discount < 0.075
        AND CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) BETWEEN 5 AND 7
        AND l_quantity < 24""")
  }

  /** TPC-H Q14 over SQL text (round 12, fourth session) — the
    * promotion-effect monitor: what fraction of a month's discounted
    * revenue came from PROMO-type parts? The shape this adds to the
    * set is CONDITIONAL AGGREGATION OVER A JOIN — one fact⋈dim join,
    * two sums from the same rows (CASE inside the agg, never two
    * passes). Money on the Q1 integer discipline (disc_e4 exact);
    * the share is the single IEEE division of two exact longs. The
    * fixture's p_type is the category head ('PROMO', not
    * 'PROMO BURNISHED…'), so the predicate is equality rather than
    * LIKE — same semantics, exactly indexable.
    *
    * Scale: shipdate month pushed to the fact scan; part broadcast
    * (shuffle at 100 TB part counts — degrades, never re-shapes);
    * the agg is one map-side-combined single cell.
    */
  val sqlTpchQ14: Q = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(s, dir, "part").createOrReplaceTempView("part")
    s.sql("""
      SELECT sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
                 ELSE 0 END) AS promo_e4,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS total_e4,
             count(*) AS n_rows,
             CAST(sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                           * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
                      ELSE 0 END) AS DOUBLE)
               / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                          * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS DOUBLE)
               AS promo_share
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")
  }

  /** TPC-H Q19 over SQL text (round 12, fourth session; adapted —
    * the fixture's part table has no p_container, so the disjuncts
    * band on (brand, size, quantity) instead; the SHAPE is the
    * point): discounted revenue under an OR-OF-ANDS predicate that
    * mixes columns from BOTH join sides — the query that
    * historically knocked planners into nested loops. The contract
    * plan-gated here: the l_partkey = p_partkey equi-join must stay
    * a HASH join (the OR evaluates as a post-join filter /
    * residual), never a BroadcastNestedLoopJoin; quantity bounds and
    * the all-disjunct size upper bound still push to the scans.
    * Money on the Q1 integer discipline.
    */
  val sqlTpchQ19: Q = (s, dir) => {
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    table(s, dir, "part").createOrReplaceTempView("part")
    s.sql("""
      SELECT sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS revenue_e4,
             count(*) AS n_rows
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)""")
  }

  /** Correlated EXISTS / NOT EXISTS over SQL text — the subquery
    * surface a SQL engine must DECORRELATE to survive scale: Catalyst
    * rewrites both into semi/anti hash joins (asserted in PlanSpec; a
    * per-row re-execution of the inner query would be O(n·m)).
    * Customers with ≥1 high-value open order, minus those with any
    * returned lineitem — two correlation shapes in one query.
    */
  val sqlExistsSubquery: Q = (s, dir) => {
    table(s, dir, "customer").createOrReplaceTempView("customer")
    table(s, dir, "orders").createOrReplaceTempView("orders")
    table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
        AND NOT EXISTS (
              SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
      ORDER BY c_custkey""")
  }

  /** Correlated LATERAL derived table (round 7): per-customer top-2
    * orders through a lateral ORDER BY … LIMIT subquery — the "for
    * each row, run this parameterized query" SQL surface. Catalyst
    * decorrelates the lateral into a ranked window join (no per-row
    * re-execution — same guarantee PlanSpec pins for the other
    * subquery keys); DuckDB runs its own lateral unnesting, and the
    * oracle pins both to identical rows. The lateral's internal
    * order is a TOTAL order (price desc, orderkey) so the chosen
    * rows are a pure function of the data.
    */
  val sqlLateralJoin: Q = (s, dir) => {
    table(s, dir, "customer").createOrReplaceTempView("customer")
    table(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_custkey, c_mktsegment, o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM customer c,
           LATERAL (SELECT o_orderkey, o_totalprice
                    FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey
                    LIMIT 2) t
      ORDER BY c_custkey, o_orderkey""")
  }

  /** Correlated SCALAR subquery in the projection — decorrelated by
    * Catalyst into a left-outer aggregate join (one aggregation over
    * orders, never a per-customer re-scan). NULL for customers with no
    * orders rides the outer join.
    */
  val sqlScalarSubquery: Q = (s, dir) => {
    table(s, dir, "customer").createOrReplaceTempView("customer")
    table(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_custkey,
             (SELECT CAST(max(o_totalprice) AS DOUBLE) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS max_order_price,
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer c
      ORDER BY c_custkey""")
  }

  // ---------------------------------------------------------------- §2.4

  /** TPC-H Q1 shape: exact decimal sums, deterministic averages. */
  val aggGroupbyBasic: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProduct(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
        dsumProduct(col("l_extendedprice"),
          (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ------------------------------------------------------------- exports

  /** As-of join with a STALENESS TOLERANCE (round 7): each event
    * reads its latest at-or-before order, but only if that order is
    * recent enough — the sensor-fusion/market-data variant where an
    * arbitrarily old match is worse than no match. Same union +
    * carry-forward shape as [[joinAsof]] (no pair set ever forms);
    * the tolerance is one extra filter on the carried timestamp,
    * which is equivalent to bounding the join range BEFORE the
    * latest-row rank (the latest order is in range iff it passes the
    * filter — there is nothing newer to fall back to), so the oracle
    * can state it either way. The 8400-day bound is corpus-tuned to
    * discriminate (the [[graft.ops.Curation2]] threshold convention):
    * this synthetic corpus puts events in 2024 and orders in
    * 1995–2001, so per-pick staleness spans ~8200–8800 days; a
    * realistic 30-day bound would keep zero rows and prove nothing.
    */
  val joinAsofTolerance: Q = (s, dir) => {
    val e = table(s, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("src"),
        col("event_id"), lit(null).cast("long").as("ok"),
        lit(null).cast("timestamp").as("od"))
    val o = table(s, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("src"),
        lit(null).cast("long").as("event_id"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("od"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("src").asc, col("ok").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("asof_orderkey", last(col("ok"), ignoreNulls = true).over(w))
      .withColumn("asof_orderdate", last(col("od"), ignoreNulls = true).over(w))
      .filter(col("src") === 1 && col("asof_orderkey").isNotNull &&
        col("asof_orderdate") >= col("t") - expr("INTERVAL 8400 DAYS"))
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        col("asof_orderkey"), col("asof_orderdate"))
      .orderBy("event_id")
  }

  /** NEAREST-neighbor as-of join (round 7): each event pairs with
    * the order closest in time in EITHER direction — the
    * sensor-alignment variant ([[joinAsof]] is backward-only).
    * Two carry passes over ONE union + ONE user partitioning: the
    * ascending pass carries the latest order at-or-before each
    * event (ties at equal date → max key, as in [[joinAsof]]); the
    * descending pass carries the earliest order strictly after it
    * (same-date orders sort behind the event there, so distance-0
    * matches belong to the backward side; ties → min key). The
    * winner is picked row-locally on EXACT microsecond distances
    * (`unix_micros` / `epoch_us` — fractional-second epochs would
    * round differently across engines), equidistant → backward.
    * Still no event×order pair set anywhere.
    */
  val joinAsofNearest: Q = (s, dir) => {
    val e = table(s, dir, "events")
      .select(col("user_id").as("k"), col("ts").as("t"), lit(1).as("src"),
        col("event_id"), lit(null).cast("long").as("ok"),
        lit(null).cast("timestamp").as("od"))
    val o = table(s, dir, "orders")
      .select(col("o_custkey").as("k"), col("o_orderdate").as("t"), lit(0).as("src"),
        lit(null).cast("long").as("event_id"), col("o_orderkey").as("ok"),
        col("o_orderdate").as("od"))
    val wBack = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("src").asc, col("ok").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("k"))
      .orderBy(col("t").desc, col("src").desc, col("ok").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val both = e.unionByName(o)
      .withColumn("bk", last(col("ok"), ignoreNulls = true).over(wBack))
      .withColumn("bd", last(col("od"), ignoreNulls = true).over(wBack))
      .withColumn("fk", last(col("ok"), ignoreNulls = true).over(wFwd))
      .withColumn("fd", last(col("od"), ignoreNulls = true).over(wFwd))
      .filter(col("src") === 1 &&
        (col("bk").isNotNull || col("fk").isNotNull))
    val distB = unix_micros(col("t")) - unix_micros(col("bd"))
    val distF = unix_micros(col("fd")) - unix_micros(col("t"))
    both
      .withColumn("use_fwd",
        col("bd").isNull || (col("fd").isNotNull && distF < distB))
      .select(col("event_id"), col("k").as("user_id"), col("t").as("ts"),
        when(col("use_fwd"), col("fk")).otherwise(col("bk")).as("nearest_orderkey"),
        when(col("use_fwd"), col("fd")).otherwise(col("bd")).as("nearest_orderdate"))
      .orderBy("event_id")
  }

  val queries: Map[String, Q] = Map(
    "scan_parquet" -> scanParquet,
    "scan_parquet_pruned" -> scanParquetPruned,
    "project_rename_cast" -> projectRenameCast,
    "filter_compound" -> filterCompound,
    "filter_in_like_between" -> filterInLikeBetween,
    "filter_null_semantics" -> filterNullSemantics,
    "case_when_bucketing" -> caseWhenBucketing,
    "join_broadcast_inner" -> joinBroadcastInner,
    "join_shuffle_inner" -> joinShuffleInner,
    "join_left_outer" -> joinLeftOuter,
    "join_full_outer" -> joinFullOuter,
    "join_left_semi" -> joinLeftSemi,
    "join_left_anti" -> joinLeftAnti,
    "join_cross" -> joinCross,
    "join_null_safe" -> joinNullSafe,
    "join_theta_range" -> joinThetaRange,
    "join_range_bucketed" -> joinRangeBucketed,
    "join_interval_overlap" -> joinIntervalOverlap,
    "reshape_unpivot" -> reshapeUnpivot,
    "sql_tpch_q1" -> sqlTpchQ1,
    "sql_tpch_q3" -> sqlTpchQ3,
    "sql_tpch_q5" -> sqlTpchQ5,
    "sql_tpch_q6" -> sqlTpchQ6,
    "sql_tpch_q10" -> sqlTpchQ10,
    "sql_tpch_q14" -> sqlTpchQ14,
    "sql_tpch_q19" -> sqlTpchQ19,
    "sql_tpch_q18" -> sqlTpchQ18,
    "sql_exists_subquery" -> sqlExistsSubquery,
    "sql_scalar_subquery" -> sqlScalarSubquery,
    "sql_lateral_join" -> sqlLateralJoin,
    "join_multiway_star" -> joinMultiwayStar,
    "join_self_dedup" -> joinSelfDedup,
    "join_asof" -> joinAsof,
    "join_asof_tolerance" -> joinAsofTolerance,
    "join_asof_nearest" -> joinAsofNearest,
    "agg_groupby_basic" -> aggGroupbyBasic,
  )
}
