package graft.io

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Manifest-pointer commit for the CATALOG-TABLE indexes and services
  * — the same transaction shape [[Manifest]] gives the streaming
  * upsert snapshot (r7), extended to tables whose read path must keep
  * CATALOG metadata (bucket specs, partition columns): physical data
  * lives in IMMUTABLE versioned tables `name__v{N}` (plus
  * `_`-suffixed sidecars such as the IVF centroid table or a ledger),
  * and the only mutable object is one tiny pointer file naming the
  * current version. Every version becomes current through ONE
  * protocol, [[publish]] (its scaladoc names the steps and the users);
  * [[compact]] is publish over the current version's own rows.
  *
  * Versioning through TABLES rather than raw paths is what preserves
  * the indexes' scale contracts: a bucketed physical table keeps its
  * catalog bucket spec, so the probe joins stay shuffle-free on the
  * index side; a cell-partitioned one keeps its partition columns, so
  * static cell pruning keeps working — both re-asserted on executed
  * plans in the index specs after compaction through this path.
  *
  * The pointer also records a SCHEMA VERSION (r7 ADVICE: appending to
  * or probing an index persisted under an older row layout must fail
  * fast, not silently mismatch columns) — [[resolve]] rejects a
  * pointer whose schema version differs from what the calling build
  * expects.
  *
  * [[vacuum]] drops version tables older than `current − retain`
  * (default retain = 1): the previous version outlives its
  * replacement by one full compaction cycle, so a reader that
  * resolved the pointer just before a commit finishes its lazy scan
  * on intact files — the retention window the r7 ADVICE asked the
  * upsert sink's zero-retention vacuum to grow. Writers are
  * single-writer by contract (append/compact are not mutually
  * concurrent-safe), exactly as in [[Manifest]]; readers need no
  * coordination at all.
  */
object TableManifest {

  val PointerFile = "CURRENT"

  /** `appliedBatch` is the streaming sinks' replay ledger (r12
    * ADVICE): the highest ENGINE batch id folded into this table,
    * recorded explicitly in the same atomic pointer rename as the
    * version — version-number inference (`version >= batchId + 1`)
    * silently drops live batches once a manual build/merge/compact
    * inflates the version past the stream's. None on tables no
    * stream has ever written (manual-only) and on legacy pointers.
    */
  final case class Pointer(version: Long, schemaVersion: Int,
      appliedBatch: Option[Long] = None)

  /** Physical table of logical index `name` at `version`. Catalog
    * identifiers are lowercase; normalize here so pointer, catalog and
    * vacuum agree on the name.
    */
  def physicalName(name: String, version: Long): String =
    s"${name.toLowerCase}__v$version"

  /** Pointer-file directory: a `__meta` sibling of the version tables
    * under the session warehouse.
    */
  def metaRoot(spark: SparkSession, name: String): Path =
    new Path(spark.sessionState.conf.warehousePath, s"${name.toLowerCase}__meta")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readPointer(spark: SparkSession, name: String): Option[Pointer] = {
    val root = metaRoot(spark, name)
    val fs = fsOf(spark, root)
    val pf = new Path(root, PointerFile)
    if (!fs.exists(pf)) None
    else {
      val in = fs.open(pf)
      try {
        val parts = scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next().split("\t", 3)
        Some(Pointer(parts(0).toLong, parts(1).toInt,
          if (parts.length > 2) Some(parts(2).toLong) else None))
      } finally in.close()
    }
  }

  /** Atomically publish `version` as current. Staged to an
    * attempt-unique tmp file (two crashed attempts can never collide
    * on a fixed tmp name — the [[Manifest.write]] discipline), then
    * renamed over [[PointerFile]]: the rename IS the commit point.
    *
    * `appliedBatch` (a streaming sink folding engine batch N passes
    * Some(N)) rides the SAME rename — the applied marker and the data
    * version can never disagree. When None (every manual path), the
    * CURRENT pointer's marker carries forward: a manual merge or
    * compaction between stream batches must not erase the stream's
    * replay ledger.
    */
  def commit(spark: SparkSession, name: String, version: Long,
      schemaVersion: Int, appliedBatch: Option[Long] = None): Unit = {
    val root = metaRoot(spark, name)
    val fs = fsOf(spark, root)
    fs.mkdirs(root)
    val applied = appliedBatch.orElse(readPointer(spark, name).flatMap(_.appliedBatch))
    val tmp = new Path(root, s"$PointerFile.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val tail = applied.map(b => s"\t$b").getOrElse("")
      out.write(s"$version\t$schemaVersion$tail\n".getBytes("UTF-8"))
      out.hsync()
    } finally out.close()
    val fc = FileContext.getFileContext(root.toUri, fs.getConf)
    fc.rename(tmp, new Path(root, PointerFile), Options.Rename.OVERWRITE)
  }

  /** Current physical table for reads/appends — fails fast on a
    * missing commit and on a schema-version mismatch (an index
    * persisted by an older layout needs a rebuild, not a silent
    * column mismatch).
    */
  def resolve(spark: SparkSession, name: String, expectSchema: Int): String = {
    val p = readPointer(spark, name).getOrElse(throw new IllegalStateException(
      s"no committed index at '$name' — run buildIndex first"))
    if (p.schemaVersion != expectSchema) throw new IllegalStateException(
      s"index '$name' was persisted with schema v${p.schemaVersion}; this build " +
        s"expects v$expectSchema — rebuild the index")
    physicalName(name, p.version)
  }

  /** Publish a fresh version of `name` — THE protocol every
    * manifest-committed table becomes current through:
    *  1. take the next free version `v` (current + 1, or 0);
    *  2. drop every leftover table of `v` — the data table and each
    *     `_`-suffixed sidecar a crashed earlier attempt staged (found
    *     by the version pattern, so no caller lists its sidecars);
    *     nothing references them: only a commit makes `v` visible;
    *  3. `write(physical)` stages the data table (and any sidecars,
    *     named `physical + suffix`) durably;
    *  4. `beforeCommit()`, the [[commit]] rename — THE commit point —
    *     then `afterCommit()` (the specs' crash-injection seams; no-ops
    *     in production);
    *  5. [[vacuum]].
    * A writer killed at ANY point before the rename leaves every
    * reader on the previous version in full; the next publish drops
    * its staging. `appliedBatch` rides the commit (see [[commit]]).
    *
    * Users: [[compact]]; [[LedgerTable.publish]] (which adds the
    * ledger sidecar) and through it [[graft.ops.PostingIndex]],
    * [[graft.ops.VocabService]], [[graft.ops.BigramService]],
    * [[graft.ops.GramService]] and [[graft.ops.CentroidService]];
    * [[graft.ops.QuantileService]], [[graft.ops.CardinalityService]],
    * [[graft.ops.AdjacencyIndex]]; the `buildIndex`/`buildHashIndex`
    * of [[graft.ops.IncrementalCuration]], [[graft.ops.IncrementalDedup]],
    * [[graft.ops.SubstringIndex]], [[graft.ops.ProfileIndex]] and
    * [[graft.ops.IvfIndex]]. The one exception is
    * [[graft.ops.ClusterMaintenance]]'s label table, whose version
    * number is its stream's replay guard.
    */
  def publish(spark: SparkSession, name: String, schemaVersion: Int,
      appliedBatch: Option[Long] = None,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => ())(write: String => Unit): Unit = {
    val v = readPointer(spark, name).map(_.version + 1).getOrElse(0L)
    allVersionTables(spark, name).foreach { case (t, tv) =>
      if (tv == v) spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    val physical = physicalName(name, v)
    write(physical)
    beforeCommit()
    commit(spark, name, v, schemaVersion, appliedBatch)
    afterCommit()
    vacuum(spark, name)
  }

  private def versionPattern(name: String) =
    (java.util.regex.Pattern.quote(name.toLowerCase) + "__v(\\d+)(_.+)?").r

  private def allVersionTables(spark: SparkSession, name: String): Seq[(String, Long)] = {
    val pat = versionPattern(name)
    // current database, not a literal: saveAsTable writes versions
    // wherever the session points, and vacuum/drop must look there too
    val db = spark.sessionState.catalog.getCurrentDatabase
    spark.sessionState.catalog.listTables(db).flatMap { ti =>
      ti.table match {
        case pat(v, _) => Some(ti.table -> v.toLong)
        case _ => None
      }
    }
  }

  /** Drop all but the `retain` HIGHEST version tables strictly below
    * current (data and `_`-suffixed sidecars). Retention is by RANK,
    * not numeric distance: committed version numbers can jump by more
    * than one ([[graft.ops.ClusterMaintenance.ingestCommitted]]
    * commits label version b+1 for engine batch b and skips empty
    * batches), and `v < current − retain` would then
    * delete the immediately-previous version and violate the one-cycle
    * grace window for in-flight readers. retain = 1 keeps the newest
    * superseded version alive one extra cycle; retain = 0 reclaims
    * everything but current immediately (maintenance-only). Also
    * reclaims stale pointer-staging tmp files from crashed commit
    * attempts (they are attempt-unique, so they otherwise accumulate
    * forever; any tmp present here is garbage — the writer is
    * single-writer by contract and its own commit already renamed).
    */
  def vacuum(spark: SparkSession, name: String, retain: Int = 1): Unit = {
    readPointer(spark, name).foreach { p =>
      val tables = allVersionTables(spark, name)
      val keep = tables.map(_._2).distinct.filter(_ < p.version)
        .sorted(Ordering[Long].reverse).take(retain).toSet + p.version
      tables.foreach { case (t, v) =>
        if (!keep(v)) spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
    val root = metaRoot(spark, name)
    val fs = fsOf(spark, root)
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (!st.isDirectory && st.getPath.getName.startsWith(s"$PointerFile.tmp-"))
          fs.delete(st.getPath, false)
      }
  }

  /** Remove the whole index: every version table, every sidecar, the
    * pointer directory (decommission / test teardown).
    */
  def drop(spark: SparkSession, name: String): Unit = {
    allVersionTables(spark, name).foreach { case (t, _) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    val root = metaRoot(spark, name)
    fsOf(spark, root).delete(root, true)
  }

  /** The catalog bucket spec of a physical table as (bucket column,
    * bucket count); None when the table is not bucketed. The one
    * reader of the layout an append or a compaction must replicate —
    * a caller-supplied spec could silently relayout the table. Every
    * writer here buckets on one column; a multi-column spec fails
    * fast rather than being half-replicated.
    */
  def bucketSpecOf(spark: SparkSession, physical: String): Option[(String, Int)] =
    metadata(spark, physical).bucketSpec.map { spec =>
      spec.bucketColumnNames match {
        case Seq(k) => k -> spec.numBuckets
        case cols => throw new IllegalArgumentException(
          s"$physical is bucketed on $cols; only single-column specs are supported")
      }
    }

  private def metadata(spark: SparkSession, physical: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(physical))

  /** The rows of physical table `physical` as a rewrite must read
    * them. A BUCKETED table is read by PATH: a catalog read of a
    * same-spec bucketed table makes the planner elide the aligned
    * repartition and disable the bucketed scan, leaving tasks×buckets
    * files (same observation as Sinks). Any other table is refreshed
    * first — appends from OTHER sessions (a streaming query's cloned
    * session) invalidate only their own relation cache — and read
    * from the catalog, so its partition columns stay in the schema.
    */
  def rewriteSource(spark: SparkSession, physical: String): DataFrame =
    if (bucketSpecOf(spark, physical).isDefined)
      spark.read.parquet(metadata(spark, physical).location.toString)
    else {
      spark.catalog.refreshTable(physical)
      spark.table(physical)
    }

  /** Append `rows` to physical table `physical` in its committed
    * layout — the bucket spec ([[bucketSpecOf]]) or the partition
    * columns, both read from the catalog: an append must replicate
    * the layout exactly or the bucketed scan lies. Parquet append
    * adds files per bucket or per touched partition directory, never
    * rewrites; any repartition is the caller's.
    */
  def append(spark: SparkSession, physical: String, rows: DataFrame): Unit = {
    val parts = metadata(spark, physical).partitionColumnNames
    val w = rows.write.mode("append").format("parquet").partitionBy(parts: _*)
    bucketSpecOf(spark, physical)
      .fold(w) { case (key, buckets) => w.bucketBy(buckets, key).sortBy(key) }
      .saveAsTable(physical)
  }

  /** Compact the current version of `name` into a fresh version,
    * through [[publish]]. The layout comes from the current version's
    * catalog entry: a bucketed table is rewritten with
    * [[Sinks.writeBucketed]] under its own spec, a partitioned one
    * with one writer per partition value (`repartition` +
    * `partitionBy`). `transform` applies to the rows on the way (a
    * dedup); the current version's `_`-suffixed sidecars (the IVF
    * centroid quantizer) are carried verbatim, so a resolved version
    * is always self-contained.
    */
  def compact(spark: SparkSession, name: String, schemaVersion: Int,
      beforeCommit: () => Unit = () => (),
      afterCommit: () => Unit = () => (),
      transform: DataFrame => DataFrame = identity): Unit = {
    val cur = resolve(spark, name, schemaVersion)
    val sidecars = allVersionTables(spark, name).map(_._1)
      .filter(_.startsWith(cur + "_")).map(_.stripPrefix(cur))
    val rows = transform(rewriteSource(spark, cur))
    publish(spark, name, schemaVersion, None, beforeCommit, afterCommit) { next =>
      bucketSpecOf(spark, cur) match {
        case Some((key, buckets)) => Sinks.writeBucketed(rows, next, key, buckets)
        case None =>
          val parts = metadata(spark, cur).partitionColumnNames
          rows.repartition(parts.map(col): _*)
            .write.mode("overwrite").format("parquet").partitionBy(parts: _*)
            .saveAsTable(next)
      }
      sidecars.foreach { sfx =>
        spark.table(cur + sfx)
          .write.mode("overwrite").format("parquet").saveAsTable(next + sfx)
      }
    }
  }
}
