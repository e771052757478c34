package graft.observability

import java.net.{DatagramPacket, DatagramSocket, InetAddress}
import java.nio.charset.StandardCharsets

import graft.model.JobStatus

/**
 * Zero-dependency statsd emitter — the engine's analog of the reference's
 * `StatsTracker` (`incremental/StatsTracker.java:36-66`), which pushes
 * per-status job-count gauges and the lag gauge to a statsd daemon on a
 * fixed cadence. Plain UDP datagrams in the statsd line protocol
 * (`name:value|g` / `name:value|c`), fire-and-forget: emission must never
 * block or fail the replication path, so send errors are swallowed.
 */
final class StatsdReporter(host: String, port: Int, prefix: String = "graft")
    extends AutoCloseable {

  private val socket = new DatagramSocket()
  private val addr = InetAddress.getByName(host)

  def gauge(name: String, value: Long): Unit = send(s"$prefix.$name:$value|g")
  def counter(name: String, value: Long = 1L): Unit = send(s"$prefix.$name:$value|c")

  /** One rollup emission: per-status job counts + lag, the reference's
    * gauge set. Wired to the same cached rollup the HTTP endpoint serves,
    * so emitting is O(1) driver work between batches. */
  def emitJobStats(countsByStatus: Map[String, Long],
      lagSeconds: Option[Long]): Unit = {
    JobStatus.All.foreach(s =>
      gauge(s"jobs.${s.toLowerCase}", countsByStatus.getOrElse(s, 0L)))
    lagSeconds.foreach(gauge("jobs.lag_seconds", _))
  }

  private def send(payload: String): Unit =
    try {
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      socket.send(new DatagramPacket(bytes, bytes.length, addr, port))
    } catch { case _: Throwable => () } // metrics must never fail the job

  override def close(): Unit = socket.close()
}
