package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per `sbt test` fork). */
object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** ntile(5)'s exact bucket-size arithmetic over a tie-free
    * (orderKey, id) relation — the ONE driver-side reference model
    * the rfm quintile specs validate against (duplicating it risks
    * the two specs asserting divergent semantics).
    */
  def ntile5(order: Array[(Double, Long)]): Map[Long, Int] = {
    val n = order.length; val q = n / 5; val r = n % 5
    order.sorted.zipWithIndex.map { case ((_, uid), i) =>
      val b = if (i < r * (q + 1)) i / (q + 1) else r + (i - r * (q + 1)) / q
      uid -> (b + 1)
    }.toMap
  }
}
