package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{LedgerTable, TableManifest}

/** Persisted bigram-TYPE service — the distinct-set sibling of
  * [[VocabService]] (additive counts) and the exact contrast to the
  * HLL services: the stored relation is the SET of adjacency types
  * (lang, prev, tok) seen so far, and set union is IDEMPOTENT — so
  * unlike every other ingest in the shelf, streaming replay needs NO
  * ledger for correctness: re-appending a batch's pair types changes
  * nothing after the serve-time distinct. (A tiny `_stats` ledger
  * still rides along — it lets [[appendBatch]] SKIP a committed
  * replay instead of rewriting rows, and carries doc/batch totals —
  * but it is an optimization, not the correctness mechanism; the spec
  * drops a batch's ledger row and shows serving unchanged.)
  *
  * What it serves: the diversity statistics that are NOT additive and
  * so cannot live in [[VocabService]] — continuation counts N₁₊(•w)
  * (distinct left neighbors), fertility N₁₊(w•), bigram type totals —
  * exactly the cells of the `text_kn_continuation` key. The full KN
  * relation needs raw unigram counts too, so [[knOver]] COMPOSES the
  * two services (bigram types here, counts from a [[VocabService]]
  * table) and is row-identical to the batch key over the same corpus
  * (spec-asserted).
  *
  * 100 TB: each ingest tokenizes only its docs and contributes its
  * batch's DISTINCT pair types (map-side distinct); the stored table
  * is the corpus bigram-type relation — vocabulary², Heaps-sublinear
  * in practice, far smaller than instances. [[compact]] dedups
  * append growth. Bucketed+sorted by `tok` (the right-word key) so a
  * per-word continuation probe prunes buckets.
  */
object BigramService {

  /** Bump when the stored row layout changes. */
  val SchemaVersion = 1

  def resolveTable(spark: SparkSession, name: String): String =
    TableManifest.resolve(spark, name, SchemaVersion)

  /** A documents batch's DISTINCT (lang, prev, tok) adjacency types —
    * the [[InfoTheory.textCondEntropyBigram]] extraction.
    */
  private[graft] def pairTypes(docs: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " "))
          .as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("prev", lag(col("tok"), 1).over(wDoc))
      .filter(col("prev").isNotNull)
      .select(col("lang"), col("prev"), col("tok"))
      .distinct()
  }

  /** Ledger row: batch id and document count. */
  private def ledgerRow(docs: DataFrame, batchId: Long): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"))
      .select(lit(batchId).as("batch_id"), col("n_docs"))

  def build(spark: SparkSession, name: String, docs: DataFrame,
      buckets: Int = 8): Unit =
    LedgerTable.publish(spark, name, SchemaVersion, pairTypes(docs),
      Some("tok" -> buckets))(_ => ledgerRow(docs, -1L))

  /** Append a batch's pair types. Idempotent by construction — the
    * ledger check only avoids a pointless rewrite on replay (set
    * union absorbs duplicates at serve time either way). Returns true
    * if rows were appended.
    */
  def appendBatch(docs: DataFrame, batchId: Long, name: String): Boolean =
    LedgerTable.appendBatch(docs.sparkSession, name, SchemaVersion, batchId,
      () => ())(_ => pairTypes(docs))((_, id) => ledgerRow(docs, id))

  /** Manual append (no engine batch id): always appends; serve-time
    * distinct absorbs any overlap with history — appending the same
    * docs twice is a NO-OP for every served statistic, the exact
    * opposite of [[VocabService.appendDocs]]' additive contract (both
    * documented; pick the service that matches the statistic).
    *
    * It takes the shared manual path
    * ([[graft.io.LedgerTable.appendManual]]), whose durable id
    * reservation this service does not need for correctness: its data
    * rows carry no batch id and merge by DISTINCT, which is
    * idempotent — so a crashed append's orphan rows are repaired (not
    * corrupted) by retrying the append, and an id collision could not
    * merge unrelated counts because nothing here is a count.
    */
  def appendDocs(docs: DataFrame, name: String): Unit =
    LedgerTable.appendManual(docs.sparkSession, name, SchemaVersion,
      () => ())(_ => pairTypes(docs))((_, id) => ledgerRow(docs, id))

  /** Dedup append growth into a fresh version; the collapsed ledger
    * row carries the high-water batch id (the house compaction
    * discipline — here it protects only the rewrite-skip, never
    * correctness).
    */
  def compact(spark: SparkSession, name: String): Unit =
    LedgerTable.compact(spark, name, SchemaVersion)(
      (t, _) => spark.table(t).distinct(),
      (t, hw) => LedgerTable.ledger(spark, t).agg(sum(col("n_docs")).as("n_docs"))
        .select(lit(hw).as("batch_id"), col("n_docs")))

  /** The served pair-type relation (exact; replay/overlap-safe by
    * distinct).
    */
  def typesOver(spark: SparkSession, name: String): DataFrame =
    spark.table(LedgerTable.current(spark, name, SchemaVersion)).distinct()

  /** The `text_kn_continuation` relation served from THIS service's
    * pair types + a [[VocabService]]'s unigram counts — row-identical
    * to the batch key when both services ingested the same corpus.
    */
  def knOver(spark: SparkSession, name: String, vocabName: String,
      k: Int = 20): DataFrame = {
    val big = typesOver(spark, name)
    val uni = VocabService.countsOver(spark, vocabName)
    val cont = big.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cont_types"))
    val fert = big.groupBy(col("lang"), col("prev"))
      .agg(count(lit(1)).as("fert_types"))
      .withColumnRenamed("prev", "tok")
    val bt = big.groupBy(col("lang")).agg(count(lit(1)).as("bigram_types"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("cont_types").desc, col("tok"))
    uni.join(cont, Seq("lang", "tok"), "left_outer")
      .join(fert, Seq("lang", "tok"), "left_outer")
      .select(col("lang"), col("tok"), col("cnt"),
        coalesce(col("cont_types"), lit(0L)).as("cont_types"),
        coalesce(col("fert_types"), lit(0L)).as("fert_types"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .join(broadcast(bt), Seq("lang"))
      .select(col("lang"), col("rn"), col("tok"), col("cnt"),
        col("cont_types"), col("fert_types"), col("bigram_types"))
      .orderBy("lang", "rn")
  }

  /** Continuation/fertility cells for a literal word set — the
    * bucket-pruned probe on the right-word key (continuation), with
    * fertility from a second, unpruned pass only when needed.
    */
  def continuationCounts(spark: SparkSession, name: String,
      words: Seq[String]): DataFrame = {
    spark.table(LedgerTable.current(spark, name, SchemaVersion))
      .filter(col("tok").isin(words.distinct: _*))
      .distinct()
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cont_types"))
      .orderBy("lang", "tok")
  }
}
