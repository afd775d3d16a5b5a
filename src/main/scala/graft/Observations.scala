package graft

import scala.concurrent.duration.FiniteDuration
import org.apache.spark.sql.Observation

/** Reading `observe()` metrics that ride a write job (the ingest runner's
  * row count and watermark, the streaming batch log's emptiness test). */
object Observations {

  // Observation.getOrEmpty is the documented non-blocking read of delivered
  // metrics, but its Scala signature is `private[sql]` — the JVM method is
  // public, so a one-time reflective handle bridges the access gap without
  // a detached blocked thread.
  private val getOrEmptyMethod = classOf[Observation].getMethod("getOrEmpty")

  /** Bounded wait on an Observation: its metrics only ever arrive if the
    * observed node was part of an executed plan — a `transform` that does
    * not derive its output from its input would otherwise hang `get`
    * forever. Polls the non-blocking `getOrEmpty` (no detached blocked
    * thread to leak on timeout); `None` on timeout sends the caller to its
    * separate-scan fallback.
    */
  def getWithin(obs: Observation, timeout: FiniteDuration): Option[Map[String, Any]] = {
    val deadline = System.nanoTime() + timeout.toNanos
    var m = getOrEmptyMethod.invoke(obs).asInstanceOf[Map[String, Any]]
    while (m.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      m = getOrEmptyMethod.invoke(obs).asInstanceOf[Map[String, Any]]
    }
    if (m.isEmpty) None else Some(m)
  }
}
