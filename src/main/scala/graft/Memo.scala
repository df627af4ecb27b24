package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

/** A compute-once map: the one memo discipline for every process-wide cache
  * in the engine (schemas, relations, view registrations, fixtures, shared
  * artifacts).
  *
  * CONTRACT — write-once. The value built for a key is served for the life
  * of the Memo; nothing is ever invalidated. A key must therefore name
  * something that cannot change while the Memo lives: a write-once path, a
  * session, a Spark application id. A caller that rewrites a path with
  * different content in-process must put what distinguishes the versions in
  * the key, or not use a Memo.
  *
  * Concurrency, on the per-key-future design:
  *  - concurrent first callers of one key wait for a single build;
  *  - distinct keys never block each other, not even while a build runs;
  *  - a build that throws is evicted before its waiters are released, so
  *    they (and every later caller) see the exception once and the next
  *    call retries instead of being served a poisoned key.
  *
  * A build must not ask its own Memo for its own key (it would wait on
  * itself). */
final class Memo[K, V] {
  private val futures = new ConcurrentHashMap[K, CompletableFuture[V]]()

  def apply(key: K)(build: => V): V = {
    val fresh = new CompletableFuture[V]()
    val prior = futures.putIfAbsent(key, fresh)
    if (prior != null) {
      try prior.get()
      catch { case e: ExecutionException => throw e.getCause }
    } else {
      try {
        val v = build
        fresh.complete(v)
        v
      } catch {
        case e: Throwable =>
          futures.remove(key, fresh)
          fresh.completeExceptionally(e)
          throw e
      }
    }
  }
}
