package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions.assert

/** Wraps a run-once stream harness call and asserts it left nothing
  * behind: the entries under the stream scratch base and the session's
  * temp views are the same after the call as before it. */
object StreamLeftovers {
  private def snapshot(s: SparkSession): (Set[String], Set[String]) = (
    Option(new java.io.File(graft.streaming.HourlyStream.scratchBase)
      .listFiles()).map(_.map(_.getName).toSet).getOrElse(Set.empty),
    s.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet)

  def apply[T](s: SparkSession)(call: => T): T = {
    val (files, views) = snapshot(s)
    val out = call
    val (filesAfter, viewsAfter) = snapshot(s)
    assert(filesAfter == files && viewsAfter == views,
      s"harness left scratch entries ${filesAfter -- files} and temp " +
        s"views ${viewsAfter -- views} behind")
    out
  }
}
