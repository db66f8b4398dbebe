package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-scoped derived-relation cache behind [[Graph]]'s edge
  * relations, [[EventsBase.dailyCounts]], and [[Bipartite]]'s cluster
  * labels (round 14 — one home for the pattern the r13 ADVICE asked
  * to document and make resettable).
  *
  * CONTRACT — immutable inputs: entries are keyed by
  * (session, dir, kind) and built ONCE per session; the cached
  * `localCheckpoint` serves every later caller. This assumes the
  * parquet tables under `dir` do not change within the session —
  * exactly the bench/verify drivers' discipline (the driver writes
  * testdata once, then runs queries), and the warehouse analogue of
  * reading a fixed snapshot. A deployment whose inputs mutate
  * in-session must call [[invalidate]] (everything under a dir) or
  * [[reset]] (everything) at the mutation boundary, or it will read
  * the pre-mutation rollup — the staleness the ADVICE entry names.
  *
  * LIFECYCLE: entries pin checkpoint blocks ([[Checkpoints.detached]]:
  * an entry belongs to the cache even when first built inside a
  * key's scope, and its build's own pins are freed once it has
  * materialized) and the building SparkSession. A `SparkListener`
  * registered per session drops that
  * session's entries on application end, so a long-lived JVM that
  * cycles sessions (tests, notebook restarts) does not accumulate
  * dead references.
  *
  * Two entry classes live here (round 15 clarification — the second
  * predates it via the r14 ngram inverted index):
  *  - SMALL derived rollups (edge sets, daily counts, label
  *    relations, the trained BPE model) — orders of magnitude under
  *    their source tables; cacheable at any scale.
  *  - TOKENIZED-CORPUS intermediates (the ngram inverted index, the
  *    token spine and its bigram/count rollups) — corpus-sized. At
  *    100 TB these are NOT session-cache material: they are the
  *    relations a deployment materializes ONCE as durable tables
  *    (the [[VocabService]]/[[GramService]]/[[PostingIndex]] tier)
  *    and every query reads. The session cache is the single-JVM
  *    bench/verify analogue of that materialization — build once,
  *    serve every consumer — not a claim that executors hold the
  *    corpus in block-manager memory at scale.
  */
object SessionCache {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Build-once checkpoint of a derived relation. `build` runs at
    * most once per (session, dir, kind) in the common single-driver
    * path; all consumers must be row-order independent (the relations
    * are SETS — every caller aggregates, joins, or re-sorts).
    *
    * NOT computeIfAbsent: cached builds NEST ([[Bipartite]]'s cluster
    * labels build from its cached profiles), and ConcurrentHashMap
    * forbids mutating the map inside a mapping function ("Recursive
    * update" IllegalStateException — caught live in round 14's first
    * gate run). get-then-putIfAbsent allows nesting; the benign race
    * is two concurrent first-callers building twice, with one result
    * discarded (driver-side query issue is effectively sequential).
    */
  def of(s: SparkSession, dir: String, kind: String)(build: => DataFrame): DataFrame = {
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cache.keySet.removeIf(_._1 eq s)
          hooked.remove(s)
        }
      })
    }
    val key = (s, dir, kind)
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val built = Checkpoints.detached(build)
      val prev = cache.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Drop every cached relation derived from `dir` — the hook for an
    * in-session input mutation (tests, long-lived ingest sessions).
    */
  def invalidate(dir: String): Unit = drop(_._2 == dir)

  /** Drop everything (test teardown / full reset). */
  def reset(): Unit = drop(_ => true)

  /** Remove the matching entries and free their blocks at once rather
    * than at some later GC. An entry is a bare `localCheckpoint`
    * handle, so [[Checkpoints.free]] frees exactly that entry; a
    * caller still holding a dropped entry must not read it again.
    */
  private def drop(matches: ((SparkSession, String, String)) => Boolean): Unit =
    cache.keySet.forEach { k =>
      if (matches(k)) Option(cache.remove(k)).foreach(Checkpoints.free)
    }
}
