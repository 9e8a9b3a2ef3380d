package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Bounded broadcast registry for long sessions.
  *
  * Entry points that broadcast a model/weights per CALL (slice queries, the
  * full-corpus kg queries) would otherwise leak one broadcast per invocation
  * — a repeated-invocation session (Bench's interleaved passes, a notebook)
  * accumulates hundreds of multi-MB broadcast blocks that `clearCache()`
  * does not touch. This registry keys a broadcast on a logical SLOT plus a
  * content signature ([[Derived.Memo]]); re-invocations get the SAME
  * broadcast back, and a new signature for a slot (corpus regenerated in
  * place, new Spark app) destroys the superseded entry on the way in — so a
  * session holds at most one live broadcast per slot (EvalSpec pins this).
  *
  * Tradeoff: a lazy DataFrame built against a superseded broadcast fails
  * after eviction instead of silently using stale weights —
  * regeneration-in-place mid-plan is loud, not wrong.
  */
object BcRegistry {

  private val cache = new Derived.Memo[Broadcast[_]](_.destroy())

  /** get-or-create the broadcast for (slot, signature) in this Spark app;
    * the superseded broadcast of the same slot (other signature or app) is
    * destroyed best-effort
    */
  def of[T: scala.reflect.ClassTag](spark: SparkSession, slot: String, sig: String)
                                   (build: => T): Broadcast[T] =
    cache.get(slot, s"$sig@${spark.sparkContext.applicationId}")(
      spark.sparkContext.broadcast(build)).asInstanceOf[Broadcast[T]]

  /** number of live registered broadcasts — the boundedness spec hook */
  def liveCount: Int = cache.size
}
