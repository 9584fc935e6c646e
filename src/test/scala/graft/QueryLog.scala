package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Records every query one session executes, in completion order, for
  * asserts over the plans of a command's actions. Give it a session of
  * its own (`spark.newSession()`): suites share the root session, and a
  * session's listeners hear only its own queries.
  *
  * Listener delivery is asynchronous. [[drain]] runs a marker query and
  * waits for its event; the bus delivers in order, so every query that
  * finished before the marker has been recorded by then. */
final class QueryLog(session: SparkSession) extends QueryExecutionListener {
  private val Marker = "query_log_marker"
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  session.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    seen.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    seen.add(qe)

  private def isMarker(qe: QueryExecution): Boolean =
    qe.analyzed.output.map(_.name) == Seq(Marker)

  /** The queries executed since this log was made, the marker excluded;
    * stops recording. */
  def drain(): Seq[QueryExecution] = {
    session.range(1).toDF(Marker).collect()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10L)
    session.listenerManager.unregister(this)
    assert(seen.asScala.exists(isMarker), "the marker query was never delivered")
    seen.asScala.toSeq.filterNot(isMarker)
  }
}
