package graft.operators

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions inside one operator (guide §2.6:
  * "Overlap independent jobs — Spark's scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because your driver code calls them sequentially").
  *
  * The lifecycle gates run pairs of independent actions back to back —
  * a stored-index probe and its in-memory reference lane, or two
  * staged writes of disjoint outputs. Each such action is a short fan
  * of small tasks that leaves most cores idle on its tail; running the
  * pair concurrently lets the second job's tasks back-fill the first
  * job's stragglers. Results are identical by construction (the two
  * sides share no mutable state — that independence is the caller's
  * contract), and at a LOW core count the scheduler simply interleaves
  * the two jobs FIFO, so scaling measurements stay honest.
  *
  * One extra thread per call (daemon, named, unpooled): these run a
  * handful of times per query, never per row. The side thread inherits
  * the caller's Spark local properties (so job attribution by the
  * caller's properties is unchanged) and adds one fresh job tag, with
  * interrupt-on-cancel set. Exceptions from either side propagate to
  * the caller — the helper unwraps the ExecutionException so failure
  * behavior matches sequential code.
  *
  * If the caller-thread side `a` throws, the helper interrupts `b`'s
  * thread, cancels every Spark job carrying `b`'s tag (their running
  * tasks are interrupted, so a staged write aborts instead of landing
  * later), and waits a bounded moment for the side thread to stop
  * BEFORE rethrowing: callers run cleanup in their failure handlers
  * (staging-dir deletes, lease release), and that cleanup must not race
  * a still-running `b` writing into the directories being removed. The
  * tag is cancelled once more after the join, for a job `b` submitted
  * while it was being interrupted. The join is bounded so a side stuck
  * in non-interruptible driver-side I/O cannot convert one failure into
  * a hang; a segment such a side stages afterwards is referenced by no
  * manifest and is reaped by the store's vacuum, as for a crashed
  * process. Without an active SparkSession no job is tagged. */
private[graft] object Par {

  def two[A, B](a: => A, b: => B): (A, B) = {
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = "graft-par-" + java.util.UUID.randomUUID()
    val fb = new java.util.concurrent.FutureTask[B](() => {
      sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
      b
    })
    val t = new Thread(fb, "graft-par")
    t.setDaemon(true)
    t.start()
    def cancelB(): Unit =
      sc.foreach(_.cancelJobsWithTag(tag, "the other side of Par.two failed"))
    val ra =
      try a // caller's thread does the first side
      catch {
        case e: Throwable =>
          fb.cancel(true) // interrupt b's thread
          cancelB() // and kill the jobs it already submitted
          t.join(30000L) // bounded: don't trade a failure for a hang
          cancelB()
          throw e
      }
    val rb =
      try fb.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    (ra, rb)
  }
}
