package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.io.{LedgerTable, TableManifest}

/** Persisted second-moment SERVICE — the Gram-matrix sibling of
  * [[VocabService]] (token counts) and [[CardinalityService]]
  * (distinct keys): each ingest batch folds its embedding vectors
  * ONCE through the [[Embeddings.GramAgg]] accumulator into a
  * d(d+1)/2-cell integer partial, partials append under the manifest
  * pointer, and the served Gram cells ([[cellsOver]]) are the exact
  * SUM of committed partials — row-identical to
  * [[Embeddings.embedGramCells]] recomputed over the concatenated
  * corpus (spec-asserted), because integer Gram cells are ADDITIVE
  * across any corpus split. PCA / whitening / collapse monitors over
  * a growing embedding corpus read KB-sized stored partials, never
  * re-scan vectors.
  *
  * Exactly-once under streaming replay: the [[graft.io.LedgerTable]]
  * protocol — partials carry `batch_id`, the `_stats` ledger (one row
  * per committed batch: batch_id, n_vecs, d) is written LAST, the
  * replay guard skips a batch at or under the ledger high water, and
  * because a batch's partial is DETERMINISTIC (integer folds) serving
  * collapses replay duplicates exactly via max over (pos, batch_id).
  * Manual ingests take descending negative ids (two same-content
  * manual appends must stay distinct batches — counts are additive).
  *
  * 100 TB: a batch's fold is the Aggregator's one-buffer-per-
  * partition shape (the only exchange of the ingest); the stored
  * table is O(cells · batches-since-compaction) rows — independent of
  * corpus size — and [[compact]] collapses batch growth. Serving
  * cost is the stored-table scan: KBs.
  */
object GramService {

  /** Bump when the stored row layout changes. */
  val SchemaVersion = 1

  def resolveTable(spark: SparkSession, name: String): String =
    TableManifest.resolve(spark, name, SchemaVersion)

  /** One batch's partial: the raw GramAgg buffer as (pos, g,
    * batch_id) rows — pos 0 carries the batch's vector count, pos
    * k ≥ 1 the (k−1)-th upper-triangle cell. An empty batch yields
    * zero rows (the empty buffer), which serves as an exact zero.
    */
  private def partial(emb: DataFrame, batchId: Long): DataFrame =
    emb
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * lit(Embeddings.GramScale)).cast("long")).as("q"))
      .agg(udaf(new Embeddings.GramAgg, ExpressionEncoder[Array[Long]]())(col("q")).as("b"))
      .select(posexplode(col("b")).as(Seq("pos", "g")))
      .select(col("pos").cast("long").as("pos"), col("g"),
        lit(batchId).as("batch_id"))

  /** Ledger row of an embeddings batch: batch id, vector count, and
    * the dimension (0 for an empty batch — [[stats]] takes the max
    * over the ledger). Shared with [[CentroidService]], whose ledger
    * is the same label-free row.
    */
  private[ops] def vecLedgerRow(emb: DataFrame, batchId: Long): DataFrame = {
    val d = emb.select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0).toLong).getOrElse(0L)
    emb.agg(count(lit(1)).as("n_vecs"))
      .select(lit(batchId).as("batch_id"), col("n_vecs"), lit(d).as("d"))
  }

  /** The single ledger row a compaction of a vector ledger collapses
    * to, at the high water `hw`.
    */
  private[ops] def vecLedgerCollapsed(ledger: DataFrame, hw: Long): DataFrame =
    ledger
      .agg(sum(col("n_vecs")).as("n_vecs"),
        coalesce(max(col("d")), lit(0L)).as("d"))
      .select(lit(hw).as("batch_id"), col("n_vecs"), col("d"))

  /** Corpus totals from a vector ledger alone: (batches, vectors, dim). */
  private[ops] def vecStats(ledger: DataFrame): (Long, Long, Int) = {
    val r = ledger
      .agg(count(lit(1)), sum(col("n_vecs")), coalesce(max(col("d")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2).toInt)
  }

  /** Fold + persist an embeddings table as a fresh manifest version
    * (batch id −1).
    */
  def build(spark: SparkSession, name: String, emb: DataFrame): Unit =
    LedgerTable.publish(spark, name, SchemaVersion, partial(emb, -1L), None)(
      _ => vecLedgerRow(emb, -1L))

  /** Manual append of new vectors (additive — the same vector
    * appended twice counts twice, as corpus concatenation would).
    * Descending manual ids keep repeated same-content appends
    * distinct; the id is reserved durably BEFORE partials land
    * ([[graft.io.LedgerTable.appendManual]]: a colliding reuse after
    * a crashed append would make the max-collapse merge two unrelated
    * partials' pos cells). `afterPartialsAppend` is the spec's
    * crash-injection seam.
    */
  def appendVecs(emb: DataFrame, name: String,
      afterPartialsAppend: () => Unit = () => ()): Unit =
    LedgerTable.appendManual(emb.sparkSession, name, SchemaVersion,
      afterPartialsAppend)(partial(emb, _))((_, id) => vecLedgerRow(emb, id))

  /** Exactly-once-guarded streaming ingest of one engine batch —
    * partials FIRST, ledger row LAST (see the scaladoc top for the
    * crash-window argument). Returns true if applied.
    */
  private[graft] def appendBatch(emb: DataFrame, batchId: Long,
      name: String,
      afterPartialsAppend: () => Unit = () => ()): Boolean =
    LedgerTable.appendBatch(emb.sparkSession, name, SchemaVersion, batchId,
      afterPartialsAppend)(partial(emb, _))((_, id) => vecLedgerRow(emb, id))

  /** The exact effective buffer relation (pos, g) — the ledger's
    * max → semi-join → sum collapse ([[graft.io.LedgerTable.effective]]).
    */
  private def effective(spark: SparkSession, physical: String): DataFrame =
    LedgerTable.effective(spark.table(physical), physical, Seq("pos"), "g")

  /** The served Gram relation (i, j, n_vecs, g) — row-identical to
    * [[Embeddings.embedGramCells]] over the concatenated ingested
    * corpus (spec-asserted; additivity of integer cells is the whole
    * proof). Empty service → empty relation.
    */
  def cellsOver(spark: SparkSession, name: String): DataFrame = {
    val t = LedgerTable.current(spark, name, SchemaVersion)
    val d = vecStats(LedgerTable.ledger(spark, t))._3
    val idx = spark.createDataFrame(
      (for { i <- 0 until d; j <- i until d } yield (i, j)).zipWithIndex
        .map { case ((i, j), k) => (k.toLong + 1L, i.toLong, j.toLong) })
      .toDF("pos", "i", "j")
    val eff = effective(spark, t)
    val n = eff.filter(col("pos") === 0L).select(col("g").as("n_vecs"))
    eff.join(broadcast(idx), "pos")
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"), col("n_vecs"), col("g"))
      .orderBy("i", "j")
  }

  /** Collapse batch growth into one partial at the ledger high water
    * (fresh version, atomic publish — [[graft.io.LedgerTable.compact]]:
    * the high-water id keeps the replay guard sound after compaction).
    */
  def compact(spark: SparkSession, name: String): Unit =
    LedgerTable.compact(spark, name, SchemaVersion)(
      (t, hw) => effective(spark, t).withColumn("batch_id", lit(hw)),
      (t, hw) => vecLedgerCollapsed(LedgerTable.ledger(spark, t), hw))

  /** Corpus totals from the ledger alone: (batches, vectors, dim). */
  def stats(spark: SparkSession, name: String): (Long, Long, Int) =
    vecStats(LedgerTable.ledger(spark, LedgerTable.current(spark, name, SchemaVersion)))
}
