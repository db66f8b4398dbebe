package graft.io

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-pointer commit for the streaming upsert snapshot — the
  * minimal form of the Delta/Iceberg transaction shape: data files
  * are IMMUTABLE once written (each micro-batch writes its merged
  * buckets into a fresh `v{batchId}/bucket=N` directory), and the
  * only mutable object in the store is one small `MANIFEST` file
  * mapping bucket id → current data directory. Committing a batch is
  * a single ATOMIC rename of the new manifest over the old one, so a
  * writer killed at ANY point before that rename leaves readers on
  * the previous snapshot in full — there is no window in which some
  * buckets are new and some old. Readers resolve the manifest first
  * and then read only directories it references, never a live write
  * path.
  *
  * The manifest is tab-separated `bucket\trelativeDir` lines — small
  * (nBuckets entries), rewritten wholesale each commit, renamed with
  * `Options.Rename.OVERWRITE` via [[FileContext]] (atomic on POSIX
  * and HDFS; object stores substitute their own atomic-put here, as
  * every table format's committer does).
  *
  * `vacuum` runs AFTER the commit rename and deletes the version
  * directories neither this manifest nor the previous one references.
  */
object Manifest {

  val FileName = "MANIFEST"

  /** Current bucket → relative-dir map; empty if no commit yet. */
  def read(fs: FileSystem, root: Path): Map[Int, String] = {
    val mf = new Path(root, FileName)
    if (!fs.exists(mf)) Map.empty
    else {
      val in = fs.open(mf)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty)
          .map { line =>
            val Array(b, rel) = line.split("\t", 2)
            b.toInt -> rel
          }.toMap
      } finally in.close()
    }
  }

  /** Write + atomically publish a new manifest. The rename IS the
    * commit point: everything before it is invisible to readers.
    *
    * The staging file is ATTEMPT-UNIQUE (uuid suffix): writers are
    * single-writer by contract (see [[graft.ops.Streaming
    * .foreachBatchUpsert]] — concurrent committers would lose updates
    * in the read-modify-write regardless; real table formats add a
    * CAS/conditional commit here), but a crashed attempt's leftover
    * tmp can never be clobbered mid-write by the recovery attempt
    * re-using the same fixed name.
    */
  def write(fs: FileSystem, root: Path, entries: Map[Int, String]): Unit = {
    val tmp = new Path(root, s"$FileName.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val body = entries.toSeq.sorted
        .map { case (b, rel) => s"$b\t$rel" }.mkString("", "\n", "\n")
      out.write(body.getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    val fc = FileContext.getFileContext(root.toUri, fs.getConf)
    fc.rename(tmp, new Path(root, FileName), Options.Rename.OVERWRITE)
  }

  /** Drop version directories the given manifest no longer
    * references, EXCEPT those in `retain` — the retention grace
    * window: [[graft.ops.Streaming.foreachBatchUpsert]] passes the
    * previous manifest's referenced dirs, so a reader that resolved
    * the pre-commit manifest keeps intact files for one full batch
    * interval after the commit that superseded it (zero retention
    * could delete a lazily-scanned snapshot mid-read — r7 ADVICE).
    */
  def vacuum(fs: FileSystem, root: Path, live: Map[Int, String],
      retain: Set[String] = Set.empty): Unit = {
    val referenced = live.values.map(_.split("/", 2)(0)).toSet ++ retain
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith("v") && !referenced(name))
          fs.delete(st.getPath, true)
        // attempt-unique staging files from crashed commit attempts
        // accumulate forever without this (each crash leaves a fresh
        // uuid name); any tmp present after a successful commit is
        // garbage — the writer is single-writer by contract
        else if (!st.isDirectory && name.startsWith(s"$FileName.tmp-"))
          fs.delete(st.getPath, false)
      }
  }

  /** Read the committed snapshot through the manifest: exactly the
    * directories it references, as ONE relation ([[readBuckets]]: one
    * listing, one schema read) with `bucket` restored from the path.
    * A concurrent writer's in-progress version directories are never
    * listed or read.
    */
  def readSnapshot(spark: SparkSession, snapshotPath: String): DataFrame = {
    val root = new Path(snapshotPath)
    // FS from the path, not the session default: the snapshot may
    // live on a scheme other than fs.defaultFS
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = read(fs, root)
    require(entries.nonEmpty, s"no committed snapshot at $snapshotPath")
    readBuckets(spark, root, entries.values.toSeq)
  }

  /** Manifest entries `dirs` (each `vdir/bucket=N` under `root`) as
    * ONE Parquet relation — one listing, one schema read and one scan,
    * not one of each per bucket. Each entry is a read root, so
    * partition discovery finds no `bucket`; it comes from each file's
    * `bucket=N` parent directory, the bucket by construction.
    */
  def readBuckets(spark: SparkSession, root: Path, dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs.map(rel => new Path(root, rel).toString): _*)
      .withColumn("bucket", regexp_extract(col("_metadata.file_path"),
        "/bucket=(-?[0-9]+)/[^/]*$", 1).cast("int"))
}
