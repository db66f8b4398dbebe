package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Round 18 — the deterministic checkpoint-reclamation primitive's
  * contract, pinned directly (every other exercise of it is implicit
  * through the loop drivers / curateBatch / the composite):
  * free() reclaims at the call; freeing is FINAL (no recompute path);
  * the semantic is LEAF-SET (a derived frame frees every checkpoint
  * it reads); pin() returns a handle unchanged; each pin belongs to
  * the innermost owner — scoped() frees its pins on every path,
  * detached() hands its handle to no scope; non-checkpoint frames are
  * safe no-ops.
  */
class CheckpointsSpec extends SparkSpec {

  private def leafRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  test("free reclaims the handle's blocks at the call; the freed frame is unreadable (reclamation is final)") {
    val ck = ops.Checkpoints.pin(spark.range(0, 10000).toDF("id"))
    assert(ops.Checkpoints.pin(ck) eq ck, "a handle is pinned in place")
    val Seq(rdd) = leafRdds(ck)
    assert(rdd.getStorageLevel != StorageLevel.NONE,
      "a localCheckpoint's blocks are its storage — it must be persisted")
    assert(ck.count() === 10000L)
    ops.Checkpoints.free(ck)
    assert(rdd.getStorageLevel === StorageLevel.NONE,
      "free must unpersist at the call, not at some later GC")
    // lineage was truncated, so there is no recompute path: reading a
    // freed checkpoint FAILS — which is why the discipline is
    // free-after-last-consumer, and why mistakes surface loudly
    // instead of as silent recompute cost
    intercept[Exception] { ck.count() }
  }

  test("leaf-set semantic: freeing a derived frame frees every checkpoint it reads") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v").localCheckpoint()
    val b = Seq((1L, 10L), (2L, 20L)).toDF("id", "w").localCheckpoint()
    val derived = a.join(b, "id")
    val pinned = ops.Checkpoints.pin(derived)
    assert(!(pinned eq derived), "a join is not a bare handle: pin materializes it")
    ops.Checkpoints.free(pinned)
    assert(derived.count() === 2L)
    ops.Checkpoints.free(derived)
    assert((leafRdds(a) ++ leafRdds(b))
      .forall(_.getStorageLevel === StorageLevel.NONE),
      "both input checkpoints must be freed through the derived frame")
  }

  test("scoped frees every pin when its body returns, and when it throws") {
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def callee(n: Long): DataFrame = ops.Checkpoints.pin(spark.range(0, n).toDF("id"))
    val n = ops.Checkpoints.scoped {
      pins += ops.Checkpoints.pin(spark.range(0, 100).toDF("id"))
      pins += callee(50) // a callee pins into its caller's scope
      pins.map(_.count()).sum
    }
    assert(n === 150L, "the body reads its pins before the scope ends")
    assert(pins.flatMap(leafRdds).forall(_.getStorageLevel === StorageLevel.NONE),
      "a returning body's pins are freed")
    pins.clear()
    intercept[IllegalStateException] {
      ops.Checkpoints.scoped {
        pins += ops.Checkpoints.pin(spark.range(0, 10).toDF("id"))
        throw new IllegalStateException("boom")
      }
    }
    assert(pins.size === 1 &&
      pins.flatMap(leafRdds).forall(_.getStorageLevel === StorageLevel.NONE),
      "a throwing body's pins are freed")
  }

  test("each pin belongs to the innermost owner; detached hands its handle to none; unowned pins stay") {
    def live(df: DataFrame) = leafRdds(df).forall(_.getStorageLevel != StorageLevel.NONE)
    val unowned = ops.Checkpoints.pin(spark.range(0, 7).toDF("id"))
    val (outerPin, innerPin, entry, buildPin) = ops.Checkpoints.scoped {
      val outerPin = ops.Checkpoints.pin(spark.range(0, 5).toDF("id"))
      val innerPin = ops.Checkpoints.scoped {
        val p = ops.Checkpoints.pin(spark.range(0, 3).toDF("id"))
        assert(ops.Checkpoints.pin(outerPin) eq outerPin,
          "re-pinning an outer handle must not hand it to the inner scope")
        p
      }
      assert(!live(innerPin) && live(outerPin),
        "closing the inner scope frees its pins only")
      var buildPin: DataFrame = null
      val entry = ops.Checkpoints.detached {
        buildPin = ops.Checkpoints.pin(spark.range(0, 4).toDF("id"))
        buildPin.select((col("id") * 2).as("id"))
      }
      assert(!live(buildPin) && live(entry), "the build's pins are freed once the entry materialized")
      (outerPin, innerPin, entry, buildPin)
    }
    assert(!live(outerPin) && !live(innerPin) && !live(buildPin))
    assert(live(entry) && entry.count() === 4L, "a detached handle outlives every scope")
    // a handle the build returns itself moves out of the build's scope
    val own = ops.Checkpoints.scoped(ops.Checkpoints.detached(
      ops.Checkpoints.pin(spark.range(0, 6).toDF("id"))))
    assert(live(own) && own.count() === 6L)
    assert(live(unowned) && unowned.count() === 7L, "a pin made outside every owner is not freed")
    Seq(unowned, entry, own).foreach(ops.Checkpoints.free)
  }

  test("non-checkpoint frames are safe no-ops: scans, local relations, rdd-backed frames") {
    import spark.implicits._
    val local = Seq((1L, "a")).toDF("id", "v")
    val pinnedLocal = ops.Checkpoints.pin(local)
    assert(!(pinnedLocal eq local), "a local relation is not a bare handle: pin materializes it")
    ops.Checkpoints.free(pinnedLocal)
    ops.Checkpoints.free(local) // LocalRelation: no LogicalRDD leaf
    assert(local.count() === 1L)
    val scan = io.Readers.table(spark, "/root/testdata/sf0.001", "region")
    ops.Checkpoints.free(scan) // file scan: no LogicalRDD leaf
    assert(scan.count() > 0L)
    // createDataFrame(rdd) HAS a LogicalRDD leaf but it was never
    // persisted — free unpersists nothing and the frame stays readable
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      new org.apache.spark.sql.types.StructType().add("id", "long"))
    assert(leafRdds(rddBacked).forall(_.getStorageLevel === StorageLevel.NONE))
    ops.Checkpoints.free(rddBacked)
    assert(rddBacked.count() === 1L,
      "an unpersisted rdd-backed frame recomputes fine after free")
    // ... and is not a handle: pin materializes it
    val pinned = ops.Checkpoints.pin(rddBacked)
    assert(!(pinned eq rddBacked) && pinned.count() === 1L)
    ops.Checkpoints.free(pinned)
  }
}
