package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sinks.KvSink

/** T8 — liveness telemetry: every micro-batch progress event refreshes
  * a per-query heartbeat key `"1"` with a TTL, so consumers detect a
  * dead pipeline by key absence — the reference's container heartbeat
  * contract (helper/redis_utility.py:10-35: value "1" every 60 s,
  * TTL 180 s; docker healthchecks grep the key). Termination with an
  * exception writes the dead-letter-style flag instead of silently
  * expiring — on the SAME key the heartbeats refresh: the termination
  * event carries only the query id, so the name seen at start is
  * remembered per id (unnamed queries key by id throughout). */
final class HealthListener(
    kv: KvSink,
    ttlSeconds: Long = 180) extends StreamingQueryListener {

  // start is delivered on the query's thread, progress and termination
  // on the listener bus thread
  private val names = new ConcurrentHashMap[UUID, String]()

  private def key(name: String) = s"health:heartbeat:$name"

  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    val name = Option(event.name).getOrElse(event.id.toString)
    names.put(event.id, name)
    kv.set(key(name), "1", Some(ttlSeconds))
  }

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val name = Option(event.progress.name).getOrElse(event.progress.id.toString)
    kv.set(key(name), "1", Some(ttlSeconds))
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    val name = Option(names.remove(event.id)).getOrElse(event.id.toString)
    if (event.exception.isDefined)
      kv.set(key(name), "0", Some(ttlSeconds))
  }
}
