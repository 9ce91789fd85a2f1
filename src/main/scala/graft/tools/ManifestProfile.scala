package graft.tools

import org.apache.spark.sql.SparkSession

import graft.store.ManifestStore

/** DRIVER-PHASE profile of the manifest-store maintenance lanes: per-rep
  * walls plus per-phase driver nanos from
  * [[graft.store.ManifestStore.phaseHook]] ("lease", "manifestRead",
  * "keyCollect", "stageWrite", "publish" — stageWrite contains the
  * staged Spark write job; the others are pure driver metadata work),
  * i.e. the per-commit driver overhead task metrics cannot see.
  *
  * Run:  SPARK_GRAFT_SF_DIR=<sf0.1 data dir> \
  *       java -cp ... graft.tools.ManifestProfile [reps]
  * Earlier results are recorded in BASELINE.md ("Manifest-lane
  * driver-side commit cost" section). */
object ManifestProfile {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val s = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val phases = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    ManifestStore.phaseHook = (p, ns) => phases.synchronized {
      phases(p) += ns
    }

    def runOnce(name: String, rep: String): Double = {
      phases.synchronized(phases.clear())
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(s, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val ph = phases.synchronized(phases.toMap).toSeq.sortBy(_._1)
        .map { case (p, ns) => f"$p=${ns / 1e9}%.3f" }.mkString(" ")
      println(f"[prof] $name $rep wall=$sec%.2fs $ph")
      System.gc()
      sec
    }

    // untimed warmup (codegen/scan init)
    runOnce("ann_ivf_compact_mf", "warm")
    Seq("ann_ivf_compact_mf", "ann_lsh_compact_mf").foreach { q =>
      val walls = (1 to reps).map(i => runOnce(q, s"rep$i"))
      val med = walls.sorted.apply(walls.size / 2)
      println(f"[prof] SUMMARY $q median=$med%.2fs best=${walls.min}%.2fs")
    }
    ManifestStore.phaseHook = (_, _) => ()
    s.stop()
  }
}
