package graft

/** ops.SessionCache — the session-scoped derived-relation cache
  * behind the Graph/EventsBase/Bipartite/PairJoins sharing (round
  * 14). Contract under test: build-at-most-once per (session, dir,
  * kind), NESTED builds allowed (the Recursive update regression the
  * first r14 gate run caught), and the invalidation hooks actually
  * force a rebuild.
  */
class SessionCacheSpec extends SparkSpec {

  import spark.implicits._

  test("builds once per key, serves the checkpoint after; invalidate(dir) forces a rebuild") {
    val blocks = new RddBlocks
    spark.sparkContext.addSparkListener(blocks)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def rel() = ops.SessionCache.of(spark, "/cache-spec-dirA", "k1") {
      builds.incrementAndGet()
      Seq((1, "a"), (2, "b")).toDF("id", "v")
    }
    assert(rel().count() === 2L)
    assert(rel().collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2))
    assert(builds.get() === 1, "second caller must hit the checkpoint")
    // a different kind under the same dir builds separately
    ops.SessionCache.of(spark, "/cache-spec-dirA", "k2") {
      builds.incrementAndGet(); Seq(3).toDF("id")
    }
    assert(builds.get() === 2)
    // invalidate the dir: both kinds rebuild on next access
    ops.SessionCache.invalidate("/cache-spec-dirA")
    assert(rel().count() === 2L)
    assert(builds.get() === 3, "invalidate must force a rebuild")
    ops.SessionCache.invalidate("/cache-spec-dirA")
    // every dropped entry's checkpoint is freed with it, not at some GC
    try blocks.assertNoneLive()
    finally spark.sparkContext.removeSparkListener(blocks)
  }

  test("nested builds work (the computeIfAbsent 'Recursive update' regression)") {
    val order = scala.collection.mutable.ListBuffer.empty[String]
    def inner() = ops.SessionCache.of(spark, "/cache-spec-dirB", "inner") {
      order += "inner"
      Seq((1L, 10L)).toDF("id", "x")
    }
    // outer's build calls inner's — the Bipartite clusterLabels ←
    // profiles shape; the old computeIfAbsent form threw
    // IllegalStateException("Recursive update") here
    val outer = ops.SessionCache.of(spark, "/cache-spec-dirB", "outer") {
      order += "outer"
      inner().select((org.apache.spark.sql.functions.col("x") * 2).as("y"))
    }
    assert(outer.collect().map(_.getLong(0)).toSeq === Seq(20L))
    assert(order.toList === List("outer", "inner"))
    // both are cached independently now
    val again = ops.SessionCache.of(spark, "/cache-spec-dirB", "inner") {
      order += "inner2"; Seq((9L, 9L)).toDF("id", "x")
    }
    assert(again.collect().map(_.getLong(1)).toSeq === Seq(10L),
      "inner must serve the first build")
    assert(order.toList === List("outer", "inner"))
    ops.SessionCache.invalidate("/cache-spec-dirB")
  }
}
