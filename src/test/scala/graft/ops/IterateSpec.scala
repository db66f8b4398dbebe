package graft
package ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Iterate.untilFixpoint frees each superseded round state, and only
  * those: `pin` returns a handle unchanged, so a caller's handle
  * passed as `init`, and a state that `step` returns unchanged, are
  * the same frame as the state the loop would otherwise free.
  */
class IterateSpec extends SparkSpec {

  private def live(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .forall(_.getStorageLevel != StorageLevel.NONE)

  test("untilFixpoint frees neither the caller's init handle nor a state step returns unchanged") {
    val init = Checkpoints.pin(spark.range(0, 8).toDF("id"))
    val states = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // 8 rows → 4 → 2, then `step` returns its input unchanged
    val fp = Iterate.untilFixpoint(init, _.count(), 0L, 10) { s =>
      val n = s.count()
      if (n <= 2) s
      else {
        val next = Checkpoints.pin(s.filter(col("id") < n / 2))
        states += next
        next
      }
    }((m, _, m2) => m2 == m)
    assert(fp.converged && fp.measure === 2L && fp.rounds === 3)
    assert(live(init) && init.count() === 8L, "the caller's handle is not the loop's to free")
    assert(live(fp.state) && fp.state.count() === 2L, "the returned state stays readable")
    assert(!live(states.head), "a superseded round state is freed")
    (states.toSeq :+ init).foreach(Checkpoints.free)
  }
}
