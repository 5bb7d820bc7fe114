package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-query cache for corpus-wide intermediates that a FAMILY of
  * operators rebuilds identically within one run — the dedup family's
  * shingle table, the ANN family's normed vector corpus. One suite run
  * scans and prepares each corpus once; every family member reuses the
  * persisted set (the production shape: a materialized intermediate table
  * feeding every pass over the same immutable corpus).
  *
  * Lifecycle: entries persist (MEMORY_AND_DISK — spills, never OOMs)
  * until [[release]], which Bench and the curation benchmark call at
  * attribution boundaries and a long-lived service calls when the corpus
  * changes. Footprints are bounded by construction: token-count-sized for
  * the shingle set, corpus-row-sized for vectors — never candidate-join-
  * sized. Keyed per (session, corpus dir, intermediate) so concurrent
  * sessions never share plans.
  */
private[operators] object FamilyCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Stable per-session cache id (sessionUUID is private[sql]; an
    * identityHashCode can be reused after GC). Weak keys: a dropped
    * session releases its id.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[operators] def sessionKey(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Persist-once accessor. The `build` thunk must not itself call back
    * into FamilyCache (ConcurrentHashMap.computeIfAbsent is not
    * re-entrant) — callers resolve their inputs first.
    */
  def get(s: SparkSession, dir: String, key: String)
         (build: => DataFrame): DataFrame =
    cache.computeIfAbsent(sessionKey(s) + "|" + dir + "|" + key,
      _ => build.persist())

  /** Driver-side family state that is not a single DataFrame (e.g. the
    * BPE trainer's (rules, corpus-before, corpus-after) triple, whose
    * frames are localCheckpointed). Same lifecycle as [[get]]: first
    * toucher builds, the family reuses, [[release]] drops everything at
    * attribution boundaries.
    */
  private val sideState =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def side[T <: AnyRef](s: SparkSession, dir: String, key: String)
          (build: => T): T =
    sideState.computeIfAbsent(sessionKey(s) + "|" + dir + "|" + key,
      _ => build).asInstanceOf[T]

  /** Unpersist and drop every cached intermediate. */
  def release(): Unit = {
    cache.values().forEach(_.unpersist(false))
    cache.clear()
    sideState.clear()
  }
}
