package graft.ops

import org.apache.spark.sql.DataFrame

import scala.collection.mutable

/** Explicit ownership for operator-INTERNAL caches.
  *
  * Several operators persist an intermediate frame that their lazily
  * returned result reads from: [[DedupOps.withIngestOrdinalFrom]]'s keyed
  * frame, [[graft.operators.DedupOperators]]' band/batch indexes and
  * dedupCorpus exact frame, [[graft.operators.SetSimJoin]]'s set/prefix
  * streams, [[graft.operators.ContainmentJoin]]'s postings,
  * [[graft.operators.MarketBasket]]'s basket basis, [[PrefixSumOps]]'
  * input/ranged frames, and the outputs of [[graft.pipeline.PuaPipeline]]
  * and [[graft.pipeline.CpaPipeline]], which both sinks of a run read.
  * The operator cannot unpersist before returning — the cache must
  * outlive the caller's first materialization of the result — so each
  * such persist is registered with the implicit [[CacheScope]] in effect.
  * (Iterative operators that materialize per-round and free their own
  * frames — GraphOps, clusterPairs — keep their explicit internal
  * unpersists; nothing of theirs outlives the returned result's
  * materialization.)
  *
  *   - the default [[CacheScope.session]] scope tracks nothing: internal
  *     caches live until `spark.catalog.clearCache()` (the Verify/Bench
  *     per-query hygiene) or LRU eviction under memory pressure;
  *   - a long-lived session composing operators wraps each unit of work in
  *     [[CacheScope.using]], MATERIALIZES results inside the scope
  *     (count/collect/write), and every operator-internal persist made in
  *     the scope is freed when the body returns — pinned executor memory
  *     is a real failure mode at warehouse scale, and this is the bounded
  *     alternative to a whole-session clearCache.
  *
  * A frame still lazy when its scope closes loses the cache and silently
  * recomputes from source on next use — correct, just slower.
  */
final class CacheScope private[graft] (track: Boolean) {
  private val owned = mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` and, in a tracking scope, register it for release when
    * the scope closes. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist()
    if (track) synchronized { owned += p }
    p
  }

  private[graft] def closeScope(): Unit = synchronized {
    owned.foreach(_.unpersist(blocking = false))
    owned.clear()
  }
}

object CacheScope {
  /** Default when no scope is passed: session-lifetime internal caches
    * (round-8/9 behavior), freed by `clearCache()` / LRU only. */
  implicit val session: CacheScope = new CacheScope(track = false)

  /** Run `body` with a tracking scope; free every operator-internal
    * persist registered inside it when the body returns. Materialize
    * anything you intend to keep before it does. */
  def using[T](body: CacheScope => T): T = {
    val scope = new CacheScope(track = true)
    try body(scope)
    finally scope.closeScope()
  }
}
