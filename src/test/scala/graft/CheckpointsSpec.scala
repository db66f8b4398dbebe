package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Round 18 — the deterministic checkpoint-reclamation primitive's
  * contract, pinned directly (every other exercise of it is implicit
  * through the loop drivers / curateBatch / the composite):
  * free() reclaims at the call; freeing is FINAL (no recompute path);
  * the semantic is LEAF-SET (a derived frame frees every checkpoint
  * it reads); scoped() frees its pins on every path; non-checkpoint
  * frames are safe no-ops; isHandle distinguishes the bare handle.
  */
class CheckpointsSpec extends SparkSpec {

  private def leafRdds(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  test("free reclaims the handle's blocks at the call; the freed frame is unreadable (reclamation is final)") {
    val ck = spark.range(0, 10000).toDF("id").localCheckpoint()
    assert(ops.Checkpoints.isHandle(ck))
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
    assert(!ops.Checkpoints.isHandle(derived), "a join is not a bare handle")
    assert(derived.count() === 2L)
    ops.Checkpoints.free(derived)
    assert((leafRdds(a) ++ leafRdds(b))
      .forall(_.getStorageLevel === StorageLevel.NONE),
      "both input checkpoints must be freed through the derived frame")
  }

  test("scoped frees every pin when its body returns, and when it throws") {
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val n = ops.Checkpoints.scoped { pin =>
      pins += pin(spark.range(0, 100).toDF("id"))
      pins += pin(spark.range(0, 50).toDF("id"))
      assert(pins.forall(ops.Checkpoints.isHandle))
      pins.map(_.count()).sum
    }
    assert(n === 150L, "the body reads its pins before the scope ends")
    assert(pins.flatMap(leafRdds).forall(_.getStorageLevel === StorageLevel.NONE),
      "a returning body's pins are freed")
    pins.clear()
    intercept[IllegalStateException] {
      ops.Checkpoints.scoped { pin =>
        pins += pin(spark.range(0, 10).toDF("id"))
        throw new IllegalStateException("boom")
      }
    }
    assert(pins.size === 1 &&
      pins.flatMap(leafRdds).forall(_.getStorageLevel === StorageLevel.NONE),
      "a throwing body's pins are freed")
  }

  test("non-checkpoint frames are safe no-ops: scans, local relations, rdd-backed frames") {
    import spark.implicits._
    val local = Seq((1L, "a")).toDF("id", "v")
    assert(!ops.Checkpoints.isHandle(local))
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
    assert(!ops.Checkpoints.isHandle(rddBacked) ||
      leafRdds(rddBacked).forall(_.getStorageLevel === StorageLevel.NONE))
    ops.Checkpoints.free(rddBacked)
    assert(rddBacked.count() === 1L,
      "an unpersisted rdd-backed frame recomputes fine after free")
  }
}
