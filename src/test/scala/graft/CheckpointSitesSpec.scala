package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: `ops.Checkpoints.pin` is the engine's only
  * materialization call, so the reliable-checkpoint swap its scaladoc
  * names stays a one-line change. A `localCheckpoint(` or
  * `.checkpoint(` anywhere else in `src/main` fails the build.
  */
class CheckpointSitesSpec extends AnyFunSuite {

  private val mainDir: java.io.File =
    Iterator.iterate(new java.io.File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .map(new java.io.File(_, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail(s"no src/main/scala above ${sys.props("user.dir")}"))

  private def sources(d: java.io.File): Seq[java.io.File] =
    d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("localCheckpoint( and .checkpoint( appear only in ops/Checkpoints.scala") {
    val owner = new java.io.File(mainDir, "graft/ops/Checkpoints.scala").getCanonicalFile
    val files = sources(mainDir)
    assert(files.exists(_.getCanonicalFile == owner), s"missing $owner")
    val hits = for {
      f <- files if f.getCanonicalFile != owner
      (line, i) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toList).zipWithIndex
      if line.contains("localCheckpoint(") || line.contains(".checkpoint(")
    } yield s"${mainDir.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("materialize through Checkpoints.pin:\n", "\n", ""))
  }
}
