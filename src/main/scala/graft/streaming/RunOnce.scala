package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one run-once driver behind every synchronous `run*Once` harness.
  * A harness call is `RunOnce(s, prefix) { run => ... }`: the body stages
  * its inputs, runs its stream through [[Run.memory]] or
  * [[Run.foreachBatch]] (start, await, `stop()` on every path), and
  * returns its result. The driver then materializes that result
  * (`localCheckpoint`), drops the memory-sink view and reaps the call's
  * scratch root, on success and on failure alike: a harness leaves no
  * file, view or running query behind. */
private[graft] object RunOnce {

  /** One harness call: a fresh scratch root under
    * [[HourlyStream.scratchBase]] with `drop/` (staged source files),
    * `wh/` (sink warehouse) and `ckpt/` (checkpoint) beneath it. */
  final class Run private[RunOnce] (s: SparkSession, val root: String) {
    val drop = s"$root/drop"
    val wh = s"$root/wh"
    val ckpt = s"$root/ckpt"
    private[RunOnce] val sink = "graft_stream_" +
      java.util.UUID.randomUUID.toString.replace("-", "")

    /** Run `df` into a memory sink and return the sink's table, which
      * stays readable until the harness call returns. */
    def memory(df: DataFrame, mode: String,
        stateful: Boolean = false): DataFrame = {
      start(df.writeStream.format("memory").queryName(sink), mode, ckpt,
        stateful)
      s.table(sink)
    }

    /** Run `df` through `f`, one call per micro-batch. The checkpoint
      * goes under the scratch root unless the caller passes a durable
      * `checkpointDir`, which is never reaped. */
    def foreachBatch(df: DataFrame, mode: String = "append",
        stateful: Boolean = false, checkpointDir: Option[String] = None)
        (f: (DataFrame, Long) => Unit): Unit =
      start(df.writeStream.foreachBatch(f), mode,
        checkpointDir.getOrElse(ckpt), stateful)

    private def start(w: DataStreamWriter[Row], mode: String,
        checkpoint: String, stateful: Boolean): Unit = {
      val pins = if (stateful) StatefulConfs else Nil
      val prev = pins.map { case (k, _) => k -> s.conf.getOption(k) }
      pins.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val q = w.outputMode(mode)
          .option("checkpointLocation", checkpoint)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  /** Run one harness call and return its materialized result. */
  def apply(s: SparkSession, prefix: String)(body: Run => DataFrame)
      : DataFrame = {
    val run = new Run(s, HourlyStream.scratchDir(prefix))
    try body(run).localCheckpoint(true)
    finally {
      s.catalog.dropTempView(run.sink)
      HourlyStream.reapScratch(run.root)
    }
  }

  /** Stateful runs pin the state partition count to a constant 4 (the
    * first checkpoint fixes it; per-partition state-store commits are
    * the fixed cost of a micro-batch, and 4 covers the group-bounded
    * state at every bundled scale) and keep the trailing no-data
    * micro-batch on: that batch persists the advanced watermark, and a
    * restarted stream without it stops dropping data it should drop.
    * Both confs are restored only after the stream stops, since the
    * micro-batch thread reads them asynchronously. */
  private val StatefulConfs = Seq(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")
}
