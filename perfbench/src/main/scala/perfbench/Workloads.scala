package perfbench

import java.io.File

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ingest.WeatherIngest
import graft.operators.{Dedup, Similarity}
import graft.pipeline.WeatherPipeline

/** The checked outcome of one operation. `digest` fingerprints its output,
  * so two runs of one seed can be compared. */
final case class Checked(ok: Boolean, rows: Long, digest: String,
    recall: Option[Double] = None, note: String = "")

/** One closed-loop operation. `run` is the timed call; it returns the
  * untimed check of its own output. */
final case class Op(kind: String, label: String, run: () => () => Checked)

/** Counters one round adds up; per-commit and per-call values are sums
  * here and divided by their counts when reported. */
final class RoundStats {
  val sums = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  var storeBytes = 0L
  var inputBytes = 0L
}

trait Workload {
  /** Writes the seeded inputs under `dir` and computes the references. */
  def prepare(s: SparkSession, dir: String, seed: Long): Unit
  /** Computes, without the library, the references the checks need;
    * called once after the set-ups, on the last one's inputs. */
  def references(s: SparkSession, dir: String): Unit = ()
  /** Warm-up pass, part of set-up: one operation of each kind. */
  def warmup(s: SparkSession, dir: String, tracer: Tracer): Seq[Op]
  /** Nominal seconds of one round on a 4-core host. It fixes the round
    * count of a run from `--seconds` alone. */
  def roundSeconds: Double
  /** The fixed sequence of one round, on fresh state under `dir`. */
  def round(s: SparkSession, dir: String, tracer: Tracer,
      stats: RoundStats): Seq[Op]
  /** Called after the round's last op: fills the store counters. */
  def finish(s: SparkSession, dir: String, stats: RoundStats): Unit
}

object Workload {
  def apply(name: String, tiny: Boolean): Workload = name match {
    case "warehouse" => new Warehouse(tiny)
    case "ann_churn" => new AnnChurn(tiny)
    case "corpus_dedup" => new CorpusDedup(tiny)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("warehouse", "ann_churn", "corpus_dedup")

  def digest(rows: Seq[Row]): String = Inputs.md5(rows.map(_.toString).mkString("\n"))

  /** Every file under a directory, with its size in bytes. */
  def files(dir: String): Map[String, Long] = {
    val root = new File(dir)
    if (!root.exists()) Map.empty
    else {
      val out = mutable.Map[String, Long]()
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
        else out(f.getPath) = f.length()
      walk(root); out.toMap
    }
  }

  def bytes(dir: String): Long = files(dir).values.sum

  /** Rows equal value by value: numbers as doubles within a relative
    * 1e-9, dates and midnight timestamps as their day, the rest exactly. */
  def same(a: Row, b: Row): Boolean = {
    def norm(v: Any): Any = v match {
      case n: java.lang.Number => n.doubleValue
      case n: scala.math.BigDecimal => n.toDouble
      case d: java.sql.Date => d.toLocalDate.toString
      case d: java.time.LocalDate => d.toString
      case t: java.sql.Timestamp => norm(t.toLocalDateTime)
      case t: java.time.LocalDateTime =>
        if (t.toLocalTime == java.time.LocalTime.MIDNIGHT) t.toLocalDate.toString
        else t.toString
      case t: java.time.Instant => norm(java.time.LocalDateTime.ofInstant(t,
        java.time.ZoneOffset.UTC))
      case other => other
    }
    a.size == b.size && (0 until a.size).forall { i =>
      (norm(a.get(i)), norm(b.get(i))) match {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    }
  }

  def delete(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(dir))
  }
}

/** Hourly weather cycles next to TPC-H-shaped contract queries. */
final class Warehouse(tiny: Boolean) extends Workload {
  private val queryNames =
    Seq("q1_pricing", "q3_shipping", "q5_region", "q6_forecast", "q18_large_orders")
  private val lineitems = if (tiny) 6000L else 300000L
  private val commitsPerRound = 6
  private val locations = 2
  private val tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val roundSeconds = 10.0

  private var tpch = ""
  private var schedule = Seq.empty[Inputs.Delivery]
  private var order = Seq.empty[(String, Int)] // ("commit", i) | (query, _)
  /** Expected daily mart of the delivery's location after each delivery. */
  private var expected = Seq.empty[Seq[(String, Double, Double, Double, Double)]]
  /** Each query's rows from its ANSI SQL oracle, run by Spark SQL. */
  private val reference = mutable.Map[String, Seq[Row]]()
  private lazy val queries = SparkEntry.queries

  def prepare(s: SparkSession, dir: String, seed: Long): Unit = {
    tpch = s"$dir/tpch"
    Inputs.writeTpch(s, tpch, seed, lineitems, 4)
    Inputs.writeTpch(s, s"$dir/tpch-warmup", seed, lineitems / 100, 4)
    schedule = Inputs.deliveries(seed, commitsPerRound, locations)
    val state = mutable.Map[(Int, java.time.LocalDate), Inputs.Delivery]()
    expected = schedule.map { d =>
      state((d.loc, d.day)) = d
      state.toSeq.filter(_._1._1 == d.loc).sortBy(_._1._2).map { case ((_, day), x) =>
        (day.toString, x.temps.sum / 24, x.temps.max, x.temps.min, x.rhs.sum / 24)
      }
    }
    val r = Inputs.rng(seed, 202)
    // queries land in seeded positions; commits keep their schedule order
    val commitNo = Iterator.from(0)
    order = shuffle(r, Seq.fill(commitsPerRound)("commit") ++ queryNames).map {
      case "commit" => ("commit", commitNo.next())
      case q => (q, 0)
    }
  }

  private def shuffle[T: scala.reflect.ClassTag](r: java.util.SplittableRandom,
      xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  private def queryOp(s: SparkSession, q: String, tracer: Tracer): Op =
    Op("query", q, () => {
      val rows = tracer.span("operators.relational", "operators.relational.query") {
        queries(q)(s, tpch).collect().toSeq
      }
      () => {
        val ref = reference(q)
        // q1 groups every line item, so its counts must add up to the table
        val q1ok = q != "q1_pricing" ||
          rows.map(_.getAs[Long]("count_order")).sum == lineitems
        val ok = rows.size == ref.size && rows.zip(ref).forall {
          case (g, e) => Workload.same(g, e) } && q1ok
        Checked(ok, rows.size.toLong, Workload.digest(rows), Some(if (ok) 1.0 else 0.0),
          if (ok) "" else s"$q returned ${rows.take(3)}, oracle ${ref.take(3)}")
      }
    })

  private def commitOp(s: SparkSession, wh: String, i: Int, tracer: Tracer,
      stats: Option[RoundStats]): Op =
    Op("commit", s"cycle$i", () => {
      val d = schedule(i)
      val path = s"$wh/loc${d.loc}"
      if (tracer.enabled)
        tracer.span("ingest", "ingest.parse") {
          WeatherIngest.fromPayloads(s, Seq(d.payload)).collect()
        }
      val before = if (tracer.enabled) Workload.files(path) else Map.empty[String, Long]
      val res = tracer.span("pipeline", "pipeline.run") {
        WeatherPipeline.run(s, d.payload, path)
      }
      stats.filter(_ => tracer.enabled).foreach { st =>
        val after = Workload.files(path)
        st.add("store.upsert_files_written",
          after.count { case (f, n) => !before.get(f).contains(n) }.toDouble)
      }
      val mart = tracer.span("models", "models.mart") {
        WeatherPipeline.dailyMart(s, path).collect().toSeq
      }
      () => {
        val exp = expected(i)
        val got = mart.map(r => (r.getDate(0).toString, r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        def near(a: Double, b: Double) = math.abs(a - b) <= 1e-9
        val ok = res.rows == 24 && got.size == exp.size && got.zip(exp).forall {
          case (g, e) => g._1 == e._1 && near(g._2, e._2) && g._3 == e._3 &&
            g._4 == e._4 && near(g._5, e._5)
        }
        Checked(ok, got.size.toLong, Workload.digest(mart), None,
          if (ok) "" else s"mart of loc${d.loc} after cycle $i: $got, expected $exp")
      }
    })

  override def references(s: SparkSession, dir: String): Unit = {
    tables.foreach(t => s.read.parquet(s"$tpch/$t.parquet").createOrReplaceTempView(t))
    val refs = queryNames.map(q => q -> Future(s.sql(SparkEntry.oracleSql(q)).collect().toSeq))
    refs.foreach { case (q, f) => reference(q) = Await.result(f, Duration.Inf) }
  }

  /** One commit, and each query on tables of a hundredth the size: the same
    * code paths at a fraction of the cost. The query outputs are not
    * checked. */
  def warmup(s: SparkSession, dir: String, tracer: Tracer): Seq[Op] =
    commitOp(s, s"$dir/wh-warmup", 0, tracer, None) +: queryNames.map { q =>
      Op("query", s"warm-up $q", () => {
        queries(q)(s, s"$dir/tpch-warmup").collect()
        () => Checked(true, 0L, "")
      })
    }

  def round(s: SparkSession, dir: String, tracer: Tracer,
      stats: RoundStats): Seq[Op] = {
    val wh = s"$dir/wh"
    Workload.delete(wh)
    order.map {
      case ("commit", i) => commitOp(s, wh, i, tracer, Some(stats))
      case (q, _) => queryOp(s, q, tracer)
    }
  }

  def finish(s: SparkSession, dir: String, stats: RoundStats): Unit = {
    stats.storeBytes = Workload.bytes(s"$dir/wh")
    stats.inputBytes = schedule.map(_.payload.getBytes("UTF-8").length.toLong).sum
  }
}

/** An LSH index lifecycle: one build, then commits of arriving batches
  * alternating with probes checked against exact search. */
final class AnnChurn(tiny: Boolean) extends Workload {
  private val base = if (tiny) 600 else 8000
  private val commits = 2
  private val batch = if (tiny) 40 else 400
  private val redelivered = if (tiny) 5 else 10
  private val probeQueries = if (tiny) 10 else 50
  private val k = 10
  private val bands = 8
  val roundSeconds = 13.0

  private var inputs = ""
  private var vectors = Map.empty[Long, Array[Float]]
  /** Per commit: (query id -> query vector, query id -> exact top-10 ids). */
  private var probes = Seq.empty[(Map[Long, Array[Float]], Map[Long, Set[Long]])]
  private var liveAfter = Seq.empty[Set[Long]]
  private var deliveredBytes = 0L

  private val schema = StructType(Seq(StructField("set", StringType, false),
    StructField("vec_id", LongType, false),
    StructField("embedding", ArrayType(FloatType, false), false)))

  def prepare(s: SparkSession, dir: String, seed: Long): Unit = {
    inputs = s"$dir/vectors"
    // every input set goes to one file, as (set, vec_id, embedding) rows
    val sets = mutable.Buffer[Row]()
    def write(rows: Seq[(Long, Array[Float])], set: String): Unit =
      sets ++= rows.map { case (id, v) => Row(set, id, v.toSeq) }
    val r = Inputs.rng(seed, 303)
    val cs = Inputs.centres(r, 12)
    val baseRows = Inputs.vectors(r, cs, base, 0L, 0.08)
    write(baseRows, "base")
    write(baseRows.take(base / 10), "warm")
    val all = mutable.LinkedHashMap[Long, Array[Float]](baseRows: _*)
    val live = mutable.Buffer[Set[Long]]()
    val ps = mutable.Buffer[(Map[Long, Array[Float]], Map[Long, Set[Long]])]()
    var delivered = baseRows.size.toLong
    for (c <- 0 until commits) {
      val fresh = Inputs.vectors(r, cs, batch, base.toLong + c * batch, 0.08)
      val ids = all.keys.toIndexedSeq
      val again = Seq.fill(redelivered)(ids(r.nextInt(ids.size))).distinct
        .map(id => (id, all(id)))
      write(fresh ++ again, s"batch$c")
      delivered += fresh.size + again.size
      all ++= fresh
      live += all.keySet.toSet
      val liveIds = all.keys.toIndexedSeq
      val qs = Seq.tabulate(probeQueries) { j =>
        val src = all(liveIds(r.nextInt(liveIds.size)))
        (900000000L + c * 1000L + j,
          src.map(x => (x + 0.03 * Inputs.gaussian(r)).toFloat))
      }
      write(qs, s"queries$c")
      if (c == 0) {
        write(fresh.take(2) ++ again.take(1), "warm-batch")
        write(qs.take(5), "warm-queries")
      }
      val exact = qs.map { case (q, qv) =>
        q -> all.toSeq.map { case (id, v) => (id, Inputs.cosineT6(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
      }.toMap
      ps += ((qs.toMap, exact))
    }
    s.createDataFrame(s.sparkContext.parallelize(sets.toSeq, 1), schema)
      .write.mode("overwrite").parquet(inputs)
    vectors = all.toMap
    liveAfter = live.toSeq
    probes = ps.toSeq
    deliveredBytes = delivered * (8L + 4L * Inputs.Dim)
  }

  private def read(s: SparkSession, set: String): DataFrame =
    s.read.parquet(inputs).filter(col("set") === set).drop("set")

  private def buildOp(s: SparkSession, root: String, tracer: Tracer): Op =
    Op("build", "build", () => {
      Workload.delete(root)
      tracer.span("operators.similarity", "operators.similarity.build") {
        Similarity.buildLshIndex(s, read(s, "base"), root)
      }
      () => Checked(new File(root).exists(), 0L, "")
    })

  private def commitOp(s: SparkSession, root: String, c: Int, tracer: Tracer,
      stats: Option[RoundStats]): Op =
    Op("commit", s"commit$c", () => {
      val before = if (tracer.enabled) Workload.files(root) else Map.empty[String, Long]
      val touched = tracer.span("operators.similarity", "operators.similarity.maintain") {
        Similarity.maintainLshIndex(s, root, read(s, s"batch$c"), upsertById = true)
      }
      stats.filter(_ => tracer.enabled).foreach { st =>
        val fresh = Workload.files(root).filter { case (f, n) => !before.get(f).contains(n) }
        st.add("store.files_per_commit", fresh.size.toDouble)
        st.add("store.bytes_written_per_commit", fresh.values.sum.toDouble)
        st.add("store.touched_partitions_per_commit", touched.size.toDouble)
      }
      () => {
        val problems = mutable.Buffer[String]()
        if (touched.isEmpty || !touched.forall { case (b, k) =>
            b >= 0 && b < bands && k >= 0 && k < 16 })
          problems += s"touched $touched"
        // the arriving batch is in, re-delivered ids are not duplicated,
        // and every live vector has exactly one posting per band
        val live = liveAfter(c)
        val ids = storedIds(s, root, "vectors")
        if (ids.size != ids.distinct.size)
          problems += s"${ids.size - ids.distinct.size} duplicate vector rows"
        if (ids.toSet != live)
          problems += s"vectors: ${(live -- ids).size} missing, ${(ids.toSet -- live).size} extra"
        val postings = storedIds(s, root, "postings").groupBy(identity)
        val wrong = live.filter(id => postings.get(id).map(_.size) != Some(bands))
        if (wrong.nonEmpty || postings.size != live.size)
          problems += s"postings: ${wrong.size} live ids without $bands postings, " +
            s"${postings.size} ids posted, ${live.size} live"
        Checked(problems.isEmpty, touched.size.toLong, Inputs.md5(touched.mkString(",")),
          None, problems.mkString("; "))
      }
    })

  /** The directories the index's current manifest lists for `table`. */
  private def entryDirs(s: SparkSession, root: String, table: String): Seq[String] =
    graft.store.ManifestStore.tableEntries(s, root, table)
      .map(e => if (new File(e.dir).isAbsolute) e.dir else s"$root/${e.dir}")

  /** The vec_id of every row in the files the index's current manifest
    * lists for `table`, read from those files without the library. */
  private def storedIds(s: SparkSession, root: String, table: String): Seq[Long] = {
    val dirs = entryDirs(s, root, table)
    if (dirs.isEmpty) Nil
    else s.read.option("recursiveFileLookup", "true").parquet(dirs: _*)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
  }

  private def probeOp(s: SparkSession, root: String, c: Int, tracer: Tracer,
      stats: Option[RoundStats]): Op =
    Op("query", s"probe$c", () => {
      val rows = tracer.span("operators.similarity", "operators.similarity.probe") {
        probe(s, root, s"queries$c")
      }
      stats.foreach(_.add("probe.result_rows", rows.size.toDouble))
      () => check(c, rows)
    })

  private def probe(s: SparkSession, root: String, set: String): Seq[Row] =
    Similarity.probeLshIndex(s, root, read(s, set)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), k)
      .collect().toSeq

  /** Every returned row must be a live vector with its exact cosine, at
    * most `k` distinct ids per query in rank order; recall is measured
    * against exact top-`k` search over the live vectors. */
  private def check(c: Int, rows: Seq[Row]): Checked = {
    val (qs, exact) = probes(c)
    val live = liveAfter(c)
    val byQ = rows.groupBy(_.getLong(0))
    val problems = mutable.Buffer[String]()
    val recalls = qs.keys.toSeq.sorted.map { q =>
      val got = byQ.getOrElse(q, Nil).sortBy(_.getInt(3))
      val ids = got.map(_.getLong(1))
      if (got.size > k || ids.distinct.size != ids.size)
        problems += s"query $q: ${ids.size} rows, ${ids.distinct.size} distinct"
      if (got.map(_.getInt(3)) != (1 to got.size))
        problems += s"query $q: ranks ${got.map(_.getInt(3))}"
      got.foreach { r =>
        val id = r.getLong(1)
        if (!live(id)) problems += s"query $q: $id is not live"
        else if (r.getDouble(2) != Inputs.cosineT6(qs(q), vectors(id)))
          problems += s"query $q: cosine of $id is ${r.getDouble(2)}"
      }
      val cos = got.map(_.getDouble(2))
      if (cos != cos.sorted(Ordering[Double].reverse))
        problems += s"query $q: results out of order"
      (ids.toSet intersect exact(q)).size.toDouble / k
    }
    val recall = recalls.sum / recalls.size
    if (recall < 0.5) problems += f"recall $recall%.3f below 0.5"
    Checked(problems.isEmpty, rows.size.toLong, Workload.digest(rows),
      Some(recall), problems.take(3).mkString("; "))
  }

  /** One call of each kind on a small index (a tenth of the base vectors,
    * a commit of 3, one of them re-delivered, and a probe of 5): the code
    * paths warm up at a fraction of the cost. Its outputs are not checked. */
  def warmup(s: SparkSession, dir: String, tracer: Tracer): Seq[Op] = {
    val root = s"$dir/ann-warmup"
    def op(kind: String)(call: => Any) =
      Op(kind, s"warm-up $kind", () => { call; () => Checked(true, 0L, "") })
    Seq(op("build")(Similarity.buildLshIndex(s, read(s, "warm"), root)),
      op("commit")(Similarity.maintainLshIndex(s, root, read(s, "warm-batch"),
        upsertById = true)),
      op("query")(probe(s, root, "warm-queries")))
  }

  def round(s: SparkSession, dir: String, tracer: Tracer,
      stats: RoundStats): Seq[Op] = {
    val root = s"$dir/ann"
    buildOp(s, root, tracer) +: (0 until commits).flatMap(c =>
      Seq(commitOp(s, root, c, tracer, Some(stats)),
        probeOp(s, root, c, tracer, Some(stats))))
  }

  def finish(s: SparkSession, dir: String, stats: RoundStats): Unit = {
    val root = s"$dir/ann"
    stats.storeBytes = Workload.bytes(root)
    stats.inputBytes = deliveredBytes
    val live = Seq("postings", "vectors").flatMap(t => entryDirs(s, root, t))
    stats.add("store.live_files", live.map { d =>
      Workload.files(d.stripPrefix("file:")).keys.count(_.endsWith(".parquet"))
    }.sum.toDouble)
  }
}

/** Near-duplicate and boilerplate removal over seeded corpus shards. */
final class CorpusDedup(tiny: Boolean) extends Workload {
  private val shards = if (tiny) 2 else 3
  private val docsPerShard = if (tiny) 150 else 400
  private val exactCopies = if (tiny) 4 else 15
  private val nearCopies = if (tiny) 4 else 15
  private val boilerplate = if (tiny) 3 else 10
  private val threshold = 0.8
  private val gram = 8
  val roundSeconds = 7.0

  private var inputs = ""
  private var texts = Seq.empty[Map[Long, Array[String]]]
  private var planted = Seq.empty[Seq[(Long, Long)]]
  private var scrubRef = Seq.empty[Map[Long, (Long, Long, Long, String)]]
  private var textBytes = 0L

  def prepare(s: SparkSession, dir: String, seed: Long): Unit = {
    inputs = s"$dir/shards"
    val vocab = Inputs.vocabulary(seed, 3000)
    // shard number `shards` is the warm-up's small shard
    val generated = (0 until shards).map(i => Inputs.shard(seed, i, docsPerShard,
      vocab, exactCopies, nearCopies, boilerplate)) :+
      Inputs.shard(seed, shards, docsPerShard / 8, vocab, 2, 2, 2)
    import s.implicits._
    generated.zipWithIndex.foreach { case (sh, i) =>
      sh.docs.toDF("doc_id", "text").repartition(4)
        .write.mode("overwrite").parquet(s"$inputs/s$i")
    }
    texts = generated.map(_.docs.map { case (id, t) => id -> Inputs.tokens(t) }.toMap)
    planted = generated.map(_.plantedPairs)
    scrubRef = generated.map(sh => Inputs.spanScrub(sh.docs, gram))
    textBytes = generated.take(shards).map(_.textBytes).sum
  }

  private def shardDf(s: SparkSession, i: Int): DataFrame =
    s.read.parquet(s"$inputs/s$i")

  /** The ids a verified pair marks as the duplicate copy. */
  private val dropped = mutable.Map[Int, Seq[Long]]()

  private def queryOp(s: SparkSession, i: Int, tracer: Tracer,
      stats: Option[RoundStats]): Op =
    Op("query", s"dedup$i", () => {
      val docs = shardDf(s, i)
      val pairs = tracer.span("operators.dedup", "operators.dedup.minhash") {
        Dedup.minhashPairsOn(docs, threshold).collect().toSeq
      }
      val scrub = tracer.span("operators.dedup", "operators.dedup.span_scrub") {
        Dedup.spanScrubOn(docs, gram).collect().toSeq
      }
      stats.foreach(_.add("dedup.verified_pairs", pairs.size.toDouble))
      dropped(i) = pairs.map(_.getLong(1)).distinct
      () => check(i, pairs, scrub)
    })

  private def check(i: Int, pairs: Seq[Row], scrub: Seq[Row]): Checked = {
    val t = texts(i)
    val problems = mutable.Buffer[String]()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = planted(i).filterNot(found)
    if (missing.nonEmpty) problems += s"planted pairs not found: ${missing.take(3)}"
    if (found.size != pairs.size) problems += "duplicate pairs"
    pairs.foreach { r =>
      val j = Inputs.jaccardT6(t(r.getLong(0)), t(r.getLong(1)))
      if (r.getDouble(2) != j || j < threshold)
        problems += s"pair ${r.getLong(0)},${r.getLong(1)}: jaccard ${r.getDouble(2)}, exact $j"
    }
    val ref = scrubRef(i)
    val got = scrub.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4))).toMap
    if (got != ref) {
      val bad = ref.keys.toSeq.sorted.filter(id => got.get(id) != ref.get(id))
      problems += s"span scrub differs on ${bad.size} docs, e.g. ${bad.take(2).map(id =>
        (id, got.get(id), ref(id)))}"
    }
    val found1 = if (planted(i).isEmpty) 1.0 else
      planted(i).count(found).toDouble / planted(i).size
    Checked(problems.isEmpty, pairs.size.toLong + scrub.size,
      Inputs.md5(Workload.digest(pairs) + Workload.digest(scrub)),
      Some(found1), problems.take(3).mkString("; "))
  }

  /** Persist the curated shard: every document that is not the later copy
    * of a verified pair. */
  private def commitOp(s: SparkSession, out: String, i: Int, tracer: Tracer): Op =
    Op("commit", s"curated$i", () => {
      import s.implicits._
      val drop = dropped.getOrElse(i, Nil)
      tracer.span("client", "write_curated") {
        shardDf(s, i).join(drop.toDF("doc_id"), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$out/s$i")
      }
      () => {
        val written = s.read.parquet(s"$out/s$i").count()
        val expected = texts(i).size - drop.size
        Checked(written == expected, written, written.toString, None,
          if (written == expected) "" else s"shard $i wrote $written of $expected")
      }
    })

  /** The query and the commit on a small shard of its own, checked. */
  def warmup(s: SparkSession, dir: String, tracer: Tracer): Seq[Op] =
    Seq(queryOp(s, shards, tracer, None),
      commitOp(s, s"$dir/curated-warmup", shards, tracer))

  def round(s: SparkSession, dir: String, tracer: Tracer,
      stats: RoundStats): Seq[Op] = {
    val out = s"$dir/curated"
    Workload.delete(out)
    (0 until shards).flatMap(i =>
      Seq(queryOp(s, i, tracer, Some(stats)), commitOp(s, out, i, tracer)))
  }

  def finish(s: SparkSession, dir: String, stats: RoundStats): Unit = {
    stats.storeBytes = Workload.bytes(s"$dir/curated")
    stats.inputBytes = textBytes
  }

  /** Candidate pairs banding proposes per shard, before verification. */
  def candidates(s: SparkSession, tracer: Tracer): Long =
    (0 until shards).map(i => tracer.span("operators.dedup", "operators.dedup.candidates") {
      Dedup.minhashCandidates(shardDf(s, i)).count()
    }).sum
}
