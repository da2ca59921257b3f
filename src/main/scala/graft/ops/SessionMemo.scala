package graft.ops

import org.apache.spark.sql.SparkSession

/** A per-SparkContext memo: the one home of the session-scoped artifact
  * idiom every gate/bench entry with a build-once step uses (persisted
  * indexes, baselines, checkpointed pair frames). Entries are keyed by
  * (context, key) — a frame or path built under one SparkContext is only
  * valid within it, so a key-only memo would hand a later session in the
  * same JVM the blocks of a stopped context. Entries of dead contexts are
  * reaped on every lookup, so the map is bounded by live (context, key)
  * combinations. A memoized frame is additionally bound to the session
  * that built it: callers assume one session per context.
  */
private[graft] final class SessionMemo[K, V] {
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, K), V]()

  def apply(s: SparkSession, key: K)(build: => V): V = {
    val ctx = SessionMemo.contextId(s)
    memo.keySet.removeIf(_._1 != ctx)
    memo.computeIfAbsent((ctx, key), _ => build)
  }

  /** [[apply]] for a value whose source can change under its key: a held
    * value that `valid` rejects is rebuilt in place, so the key keeps one
    * generation at a time. A build that throws leaves the held value.
    */
  def fresh(s: SparkSession, key: K)(valid: V => Boolean)(build: => V): V = {
    val ctx = SessionMemo.contextId(s)
    memo.keySet.removeIf(_._1 != ctx)
    memo.compute((ctx, key), (_, held) =>
      if (held != null && valid(held)) held else build)
  }
}

private[graft] object SessionMemo {
  private def contextId(s: SparkSession): String =
    s.sparkContext.applicationId + "/" + s.sparkContext.startTime

  /** tmpdir scratch path unique to (session, prefix, corpus dir) — the
    * one scheme behind every session-memoized on-disk artifact; fix path
    * hygiene (cleanup, isolation, collision policy) HERE, not at the call
    * sites.
    */
  def scratchPath(s: SparkSession, prefix: String, dir: String): String =
    System.getProperty("java.io.tmpdir") + "/" + prefix + "_" +
      java.lang.Integer.toHexString((contextId(s) + "|" + dir).hashCode)
}
