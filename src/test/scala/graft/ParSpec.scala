package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[graft.operators.Par.two]] — the §2.6 overlap helper's contract:
  * both results returned; side-thread failures propagate unwrapped;
  * and a caller-side failure CANCELS the side task — its thread and
  * the Spark jobs it submitted — and waits for it to stop before
  * rethrowing, so caller cleanup (staging deletes, lease release) never
  * races a still-running side job. */
class ParSpec extends AnyFunSuite {

  test("two returns both sides' results") {
    assert(Par.two(1 + 1, "b") === ((2, "b")))
  }

  test("a side-thread exception propagates unwrapped") {
    val boom = intercept[IllegalStateException] {
      Par.two({ Thread.sleep(50); 1 },
        throw new IllegalStateException("side"))
    }
    assert(boom.getMessage === "side")
  }

  test("caller-side failure interrupts the side task and joins it " +
      "before rethrowing") {
    val started = new CountDownLatch(1)
    val sawInterrupt = new AtomicBoolean(false)
    val sideDone = new CountDownLatch(1)
    val boom = intercept[IllegalArgumentException] {
      Par.two(
        {
          // fail only once the side task is definitely running
          assert(started.await(5, TimeUnit.SECONDS))
          throw new IllegalArgumentException("caller")
        },
        try {
          started.countDown()
          Thread.sleep(30000) // far longer than the helper's join bound
          "never"
        } catch {
          case _: InterruptedException =>
            sawInterrupt.set(true)
            sideDone.countDown()
            throw new RuntimeException("side interrupted")
        })
    }
    assert(boom.getMessage === "caller")
    // two() must not return before the cancelled side stopped: the
    // interrupt flag is already visible HERE, without any extra wait
    assert(sideDone.await(1, TimeUnit.SECONDS))
    assert(sawInterrupt.get())
  }

  test("caller-side failure cancels the side's Spark jobs: a slow " +
      "parquet write in the side never lands after the rethrow") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    import org.apache.spark.sql.functions.{col, udf}
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("graft_par_")
    val started = new CountDownLatch(1)
    val active = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.parspec") == "side") {
          active.add(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val _ = active.remove(e.jobId)
      }
    }
    // 2 tasks x 12 rows x 250 ms: the write needs ~3 s to commit
    val slow = udf { (x: Long) => Thread.sleep(250); x }
    spark.sparkContext.addSparkListener(l)
    try {
      val boom = intercept[IllegalArgumentException] {
        Par.two(
          {
            assert(started.await(30, TimeUnit.SECONDS))
            throw new IllegalArgumentException("caller")
          },
          {
            spark.sparkContext.setLocalProperty("graft.parspec", "side")
            spark.range(0, 24, 1, 2).select(slow(col("id")).as("id"))
              .write.parquet(out.resolve("w").toString)
          })
      }
      assert(boom.getMessage === "caller")
      // the job-end event reaches the listener bus asynchronously; a
      // cancelled job ends at once, an uncancelled one only after ~3 s
      val deadline = System.nanoTime() + 1500L * 1000000L
      while (!active.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(active.isEmpty,
        "the side's write job must be cancelled, not left running")
      Thread.sleep(3500) // past the time the write needs to commit
      import scala.jdk.CollectionConverters._
      val landed = java.nio.file.Files.walk(out).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq
      assert(landed.isEmpty,
        s"a cancelled write must leave no data file: ${landed.mkString(",")}")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
