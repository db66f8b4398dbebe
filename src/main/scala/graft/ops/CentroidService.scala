package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._

import graft.io.{LedgerTable, TableManifest}

/** Persisted PER-LABEL first-moment service — the keyed sibling of
  * [[GramService]] (§8.r13 item 13, decided FOR against the measured
  * consumer pair): each ingest batch folds its labeled embedding
  * vectors ONCE through [[Embeddings.CentroidAgg]] into per-label
  * (d+1)-cell integer partials; partials append under the manifest
  * pointer, and the served relations are exact sums of committed
  * partials:
  *
  *  - [[centroidOver]] — row-identical to the batch key
  *    `embed_centroid_cells` over the concatenated corpus (per-label
  *    counts and component sums are additive across any corpus
  *    split);
  *  - [[affinityOver]] — the label-affinity matrix COMPOSED ON THE
  *    STORED CELLS via [[Embeddings.affinityOfCells]], row-identical
  *    to `embed_label_affinity` — the class-confusability monitor
  *    over a growing labeled corpus without ever re-scanning vectors.
  *
  * The keyed layout follows the [[CardinalityService]] keyed-variant
  * precedent: partial rows carry the label, the ledger stays
  * label-free (batch_id, n_vecs, d) — replay guards and compaction
  * are corpus-level concerns, not per-label ones.
  *
  * Exactly-once under streaming replay: the [[graft.io.LedgerTable]]
  * protocol (partials-first ledger-last; high-water guard; replay
  * duplicates collapse exactly via max over (label, pos, batch_id)
  * because a batch's fold is deterministic). Crash-injected in
  * CentroidServiceSpec at the post-partials/pre-ledger window.
  *
  * 100 TB: the ingest fold's exchange carries |labels|·partitions
  * buffers, never vectors; the stored table is
  * O(|labels|·d · batches-since-compaction) rows — corpus-size
  * independent; serving reads KBs. Measured (BASELINE.md
  * r12 fifth-session CentroidService row): serve cost flat while the
  * re-fold grows with the corpus, and the aggregator fold beats the
  * posexplode fold by a margin that grows with corpus size — the
  * Gram lesson transferred to the first moment.
  */
object CentroidService {

  /** Bump when the stored row layout changes. */
  val SchemaVersion = 1

  def resolveTable(spark: SparkSession, name: String): String =
    TableManifest.resolve(spark, name, SchemaVersion)

  /** One batch's per-label partials: (label, pos, v, batch_id) — pos 0
    * carries the label's vector count, pos k ≥ 1 the Σq of component
    * k−1. An empty batch yields zero rows.
    */
  private def partial(emb: DataFrame, batchId: Long): DataFrame =
    emb
      .select(col("label"), transform(col("embedding"),
        x => floor(x.cast("double") * lit(Embeddings.GramScale)).cast("long")).as("q"))
      .groupBy(col("label"))
      .agg(udaf(new Embeddings.CentroidAgg, ExpressionEncoder[Array[Long]]())(col("q")).as("b"))
      .select(col("label"), posexplode(col("b")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("pos"), col("v"),
        lit(batchId).as("batch_id"))

  /** Fold + persist a labeled embeddings table as a fresh manifest
    * version (batch id −1).
    */
  def build(spark: SparkSession, name: String, emb: DataFrame): Unit =
    LedgerTable.publish(spark, name, SchemaVersion, partial(emb, -1L), None)(
      _ => GramService.vecLedgerRow(emb, -1L))

  /** Manual append (additive; descending manual ids keep repeated
    * same-content appends distinct — the [[GramService]] contract,
    * with the id reserved durably before partials land
    * ([[graft.io.LedgerTable.appendManual]]); `afterPartialsAppend`
    * is the crash-injection seam).
    */
  def appendVecs(emb: DataFrame, name: String,
      afterPartialsAppend: () => Unit = () => ()): Unit =
    LedgerTable.appendManual(emb.sparkSession, name, SchemaVersion,
      afterPartialsAppend)(partial(emb, _))((_, id) => GramService.vecLedgerRow(emb, id))

  /** Exactly-once-guarded streaming ingest of one engine batch —
    * partials FIRST, ledger row LAST. Returns true if applied.
    */
  private[graft] def appendBatch(emb: DataFrame, batchId: Long,
      name: String,
      afterPartialsAppend: () => Unit = () => ()): Boolean =
    LedgerTable.appendBatch(emb.sparkSession, name, SchemaVersion, batchId,
      afterPartialsAppend)(partial(emb, _))((_, id) => GramService.vecLedgerRow(emb, id))

  /** Exact effective relation (label, pos, v) — the ledger's
    * max → semi-join → sum collapse ([[graft.io.LedgerTable.effective]]).
    */
  private def effective(spark: SparkSession, physical: String): DataFrame =
    LedgerTable.effective(spark.table(physical), physical, Seq("label", "pos"), "v")

  /** Served per-label centroid cells (label, dim, n_vecs, s_q) —
    * row-identical to `embed_centroid_cells` over the concatenated
    * ingested corpus (spec-asserted).
    */
  def centroidOver(spark: SparkSession, name: String): DataFrame = {
    val eff = effective(spark, LedgerTable.current(spark, name, SchemaVersion))
    val n = eff.filter(col("pos") === 0L)
      .select(col("label"), col("v").as("n_vecs"))
    eff.filter(col("pos") >= 1L)
      .select(col("label"), (col("pos") - 1L).as("dim"), col("v").as("s_q"))
      .join(n, "label")
      .select(col("label"), col("dim"), col("n_vecs"), col("s_q"))
      .orderBy("label", "dim")
  }

  /** Served label-affinity matrix — [[Embeddings.affinityOfCells]]
    * over the stored cells; row-identical to `embed_label_affinity`
    * (spec-asserted). The whole point of the keyed service: the
    * |labels|² confusability screen refreshes from KB-scale partials
    * after every ingest, never from vectors.
    */
  def affinityOver(spark: SparkSession, name: String): DataFrame =
    Embeddings.affinityOfCells(centroidOver(spark, name))

  /** Collapse batch growth at the ledger high water (fresh version,
    * atomic publish; the high-water id keeps the replay guard sound).
    */
  def compact(spark: SparkSession, name: String): Unit =
    LedgerTable.compact(spark, name, SchemaVersion)(
      (t, hw) => effective(spark, t).withColumn("batch_id", lit(hw)),
      (t, hw) => GramService.vecLedgerCollapsed(LedgerTable.ledger(spark, t), hw))

  /** Corpus totals from the ledger alone: (batches, vectors, dim). */
  def stats(spark: SparkSession, name: String): (Long, Long, Int) =
    GramService.vecStats(LedgerTable.ledger(spark,
      LedgerTable.current(spark, name, SchemaVersion)))
}
