package graft

/** Bounded `computeIfAbsent` for the per-(session, dataset) trained-
  * artifact caches (centroid scores, BPE/unigram models, signal frames,
  * …): overflow clears the whole map — every value is reproducible, so a
  * cold retrain is correct, just slower — and a JVM that cycles
  * SparkSessions cannot pin dead sessions' checkpointed frames forever.
  * The one bounded-memo policy: the query-side stores and the memoized
  * SQL table-function results ([[graft.plans.DeferredResult.memoized]])
  * all go through [[get]].
  */
object ArtifactCache {
  val Cap = 64
  def get[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V], k: K)(
      build: => V): V = {
    if (m.size > Cap) {
      // Evicted values are often localCheckpoint(true) frames whose
      // persisted RDD blocks are NOT freed by dropping the reference —
      // best-effort unpersist them so an overflow does not leak blocks for
      // the JVM lifetime (round-10 advice). The size check and clear are
      // deliberately not atomic with computeIfAbsent: a racing builder's
      // fresh entry can be dropped and rebuilt once — benign, every value
      // is reproducible.
      val it = m.values().iterator()
      while (it.hasNext) {
        it.next() match {
          case df: org.apache.spark.sql.Dataset[_] =>
            try df.queryExecution.optimizedPlan match {
              case lr: org.apache.spark.sql.execution.LogicalRDD =>
                lr.rdd.unpersist(false); ()
              case _ => ()
            } catch { case scala.util.control.NonFatal(_) => () }
          case _ => ()
        }
      }
      m.clear()
    }
    m.computeIfAbsent(k, _ => build)
  }
}
