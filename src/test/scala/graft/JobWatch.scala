package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block submits, told apart from any other job in the
  * session by a job tag set around the block. The listener bus delivers
  * job starts in order, so a fence job run after the block marks the end
  * of the window. Returns each job's local properties, which carry the
  * session's SQL confs as the job saw them. */
object JobWatch {
  def during[T](spark: SparkSession, tag: String)(
      f: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val fence = s"$tag-fence"
    val seen = new ConcurrentLinkedQueue[Properties]()
    @volatile var fenced = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties)
          .map(_.getProperty("spark.job.tags", "")).getOrElse("")
          .split(",").toSet
        if (tags(tag)) seen.add(e.properties)
        if (tags(fence)) fenced = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try f finally sc.removeJobTag(tag)
      sc.addJobTag(fence)
      try spark.range(1).collect() finally sc.removeJobTag(fence)
      val deadline = System.currentTimeMillis() + 10000
      while (!fenced && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      require(fenced, s"the fence job of '$tag' was never seen")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
