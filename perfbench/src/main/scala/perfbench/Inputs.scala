package perfbench

import java.util.SplittableRandom

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed and scale give the same inputs,
  * byte for byte; the program under test sees only what is written here. */
object Inputs {

  /** A random stream for one purpose of one seed. */
  def rng(seed: Long, tag: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag * 0xC2B2AE3D27D4EB4FL)

  // ---- TPC-H-shaped tables ----

  /** Uniform integer in [0, n) from a hash of (seed, tag, id): independent
    * of partitioning, so the tables are the same at any parallelism. */
  private def uni(seed: Long, tag: Int, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(tag), col("id")), lit(n))

  private def pick(seed: Long, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (uni(seed, tag, values.size.toLong) + 1).cast("int"))

  private def day(seed: Long, tag: Int): Column =
    date_add(to_date(lit("1992-01-01")), uni(seed, tag, 3650L).cast("int"))
      .cast("timestamp")

  private def money(seed: Long, tag: Int, cents: Long): Column =
    uni(seed, tag, cents).cast("double") / 100.0

  /** Writes region, nation, customer, supplier, part, orders and lineitem
    * as `<dir>/<table>.parquet` with `lineitems` rows in lineitem. */
  def writeTpch(s: SparkSession, dir: String, seed: Long, lineitems: Long,
      files: Int): Unit = {
    val nOrders = math.max(lineitems / 4, 10L)
    val nCust = math.max(lineitems / 40, 50L)
    val nSupp = math.max(lineitems / 600, 10L)
    val nPart = math.max(lineitems / 30, 100L)
    // the tables are independent: write them as concurrent jobs
    val writes = scala.collection.mutable.Buffer[Future[Unit]]()
    def write(name: String, rows: Long, cols: Column*): Unit =
      writes += Future(s.range(0L, rows, 1L, files).select(cols: _*)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    val id = col("id")
    write("region", 5L, id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name"))
    write("nation", 25L, id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    write("customer", nCust, id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      uni(seed, 1, 25L).cast("int").as("c_nationkey"),
      money(seed, 2, 1000000L).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    write("supplier", nSupp, id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      uni(seed, 4, 25L).cast("int").as("s_nationkey"),
      money(seed, 5, 1000000L).as("s_acctbal"))
    write("part", nPart, id.as("p_partkey"),
      concat(lit("part "), id.cast("string")).as("p_name"),
      concat(lit("Brand#"), (uni(seed, 6, 5L) + 1).cast("string")).as("p_brand"),
      pick(seed, 7, Seq("STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
        "MEDIUM POLISHED STEEL", "LARGE ANODIZED BRASS",
        "ECONOMY BURNISHED NICKEL")).as("p_type"),
      (uni(seed, 8, 50L) + 1).cast("int").as("p_size"),
      money(seed, 9, 200000L).as("p_retailprice"))
    write("orders", nOrders, id.as("o_orderkey"),
      uni(seed, 10, nCust).as("o_custkey"),
      pick(seed, 11, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 12, 50000000L).as("o_totalprice"),
      day(seed, 13).as("o_orderdate"),
      pick(seed, 14, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    write("lineitem", lineitems,
      uni(seed, 15, nOrders).as("l_orderkey"),
      uni(seed, 16, nPart).as("l_partkey"),
      uni(seed, 17, nSupp).as("l_suppkey"),
      (uni(seed, 18, 7L) + 1).cast("int").as("l_linenumber"),
      (uni(seed, 19, 50L) + 1).cast("double").as("l_quantity"),
      money(seed, 20, 10500000L).as("l_extendedprice"),
      (uni(seed, 21, 11L).cast("double") / 100.0).as("l_discount"),
      (uni(seed, 22, 9L).cast("double") / 100.0).as("l_tax"),
      pick(seed, 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 24, Seq("F", "O")).as("l_linestatus"),
      day(seed, 25).as("l_shipdate"))
    Await.result(Future.sequence(writes.toSeq), Duration.Inf)
  }

  // ---- hourly weather payloads ----

  /** One delivery: a day of hourly readings for one location. */
  final case class Delivery(loc: Int, day: java.time.LocalDate,
      temps: Seq[Double], rhs: Seq[Double], payload: String)

  /** The commit schedule: `n` deliveries that take turns over `locs`
    * locations. A third of them, at seeded positions after each location's
    * first day, re-deliver a revised copy of a day their location already
    * loaded; the others deliver the location's next day. */
  def deliveries(seed: Long, n: Int, locs: Int): Seq[Delivery] = {
    val r = rng(seed, 101)
    val start = java.time.LocalDate.of(2025, 1, 1).plusDays(r.nextInt(300))
    val loaded = Array.fill(locs)(Vector.empty[java.time.LocalDate])
    val coords = Seq.tabulate(locs)(i =>
      (f"${-30.0 + r.nextInt(6000) / 100.0}%.2f", f"${-60.0 + r.nextInt(12000) / 100.0}%.2f"))
    val later = (locs until n).toArray
    for (i <- later.indices.reverse) {
      val j = r.nextInt(i + 1); val t = later(i); later(i) = later(j); later(j) = t
    }
    val again = later.take(n / 3).toSet
    Seq.tabulate(n) { i =>
      val loc = i % locs
      val day =
        if (again(i)) loaded(loc)(r.nextInt(loaded(loc).size))
        else {
          val d = start.plusDays(loaded(loc).size.toLong)
          loaded(loc) = loaded(loc) :+ d; d
        }
      val temps = Seq.fill(24)((r.nextInt(500) - 150) / 10.0)
      val rhs = Seq.fill(24)(r.nextInt(201) / 2.0)
      val (lat, lon) = coords(loc)
      val times = (0 until 24).map(h => f"\"${day}T$h%02d:00\"").mkString(", ")
      val ingested = s"${day.plusDays(1)}T00:${"%02d".format(i % 60)}:00Z"
      val payload =
        s"""{"latitude": $lat, "longitude": $lon, "hourly": {"time": [$times], """ +
          s""""temperature_2m": [${temps.mkString(", ")}], """ +
          s""""relative_humidity_2m": [${rhs.mkString(", ")}]}, """ +
          s""""_meta": {"lat": "$lat", "lon": "$lon", "ingested_at": "$ingested"}}"""
      Delivery(loc, day, temps, rhs, payload)
    }
  }

  // ---- vectors ----

  val Dim = 64

  /** `n` vectors, each a random centre plus Gaussian noise, with ids from
    * `firstId`. */
  def vectors(r: SplittableRandom, centres: Array[Array[Float]], n: Int,
      firstId: Long, noise: Double): Seq[(Long, Array[Float])] =
    Seq.tabulate(n) { i =>
      val c = centres(r.nextInt(centres.length))
      (firstId + i, Array.tabulate(Dim)(d =>
        (c(d) + noise * gaussian(r)).toFloat))
    }

  def centres(r: SplittableRandom, k: Int): Array[Array[Float]] =
    Array.fill(k)(Array.fill(Dim)((gaussian(r) * 0.15).toFloat))

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller: one normal from two uniforms
    val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** The library's cosine, bit for bit: float elements widened to double,
    * accumulated in index order, then truncated to six decimals. */
  def cosineT6(a: Array[Float], b: Array[Float]): Double = {
    var xy = 0.0; var xx = 0.0; var yy = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      xy += x * y; xx += x * x; yy += y * y; i += 1
    }
    t6(xy / (math.sqrt(xx) * math.sqrt(yy)))
  }

  def t6(v: Double): Double = math.floor(v * 1000000.0) / 1000000.0

  // ---- text shards ----

  final case class Shard(docs: Seq[(Long, String)],
      plantedPairs: Seq[(Long, Long)], textBytes: Long)

  /** A shard of `n` resampled documents plus planted duplicates: exact
    * copies, near copies (one word replaced) and shared boilerplate spans
    * of twelve words inserted into several documents. */
  def shard(seed: Long, shardNo: Int, n: Int, vocab: IndexedSeq[String],
      exact: Int, near: Int, spans: Int): Shard = {
    val r = rng(seed, 1000 + shardNo)
    def word(): String = {
      val u = r.nextDouble(); vocab((u * u * vocab.size).toInt)
    }
    val base = Array.tabulate(n)(_ => Array.fill(60 + r.nextInt(60))(word()))
    for (_ <- 0 until spans) {
      val span = Array.fill(12)(word())
      for (_ <- 0 until 4) {
        val d = r.nextInt(n); val at = r.nextInt(base(d).length)
        base(d) = base(d).take(at) ++ span ++ base(d).drop(at)
      }
    }
    val first = shardNo.toLong * 10000000L
    val planted = Seq.tabulate(exact + near) { j =>
      val src = r.nextInt(n)
      val toks = base(src).clone()
      if (j >= exact) toks(r.nextInt(toks.length)) = word() + "x"
      (first + src, first + n + j, toks)
    }
    val docs = base.zipWithIndex.map { case (t, i) => (first + i, t.mkString(" ")) }.toSeq ++
      planted.map { case (_, id, t) => (id, t.mkString(" ")) }
    Shard(docs, planted.map(p => (p._1, p._2)),
      docs.map(_._2.getBytes("UTF-8").length.toLong).sum)
  }

  def vocabulary(seed: Long, size: Int): IndexedSeq[String] = {
    val r = rng(seed, 7)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < size)
      seen += String.valueOf(Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar))
    seen.toIndexedSeq
  }

  /** Word shingles of three, as the library builds them. */
  def shingles(toks: Array[String]): Set[String] =
    if (toks.isEmpty) Set("")
    else if (toks.length <= 3) Set(toks.mkString(" "))
    else toks.sliding(3).map(_.mkString(" ")).toSet

  def jaccardT6(a: Array[String], b: Array[String]): Double = {
    val sa = shingles(a); val sb = shingles(b)
    val uni = (sa ++ sb).size
    if (uni == 0) 1.0 else t6((sa intersect sb).size.toDouble / uni)
  }

  def tokens(text: String): Array[String] =
    text.trim.split("\\s+").filter(_.nonEmpty)

  /** Reference span scrub (Lee et al. '22): each repeated `n`-gram keeps
    * its first occurrence by (doc_id, position); every other occurrence
    * removes its `n` words. Per document: (words, removed, kept, md5 of
    * the kept words joined by spaces, or null when none are kept). */
  def spanScrub(docs: Seq[(Long, String)], n: Int)
      : Map[Long, (Long, Long, Long, String)] = {
    val toks = docs.map { case (id, t) => id -> tokens(t) }.sortBy(_._1)
    val seen = scala.collection.mutable.HashSet[Seq[String]]()
    toks.map { case (id, w) =>
      val covered = scala.collection.mutable.BitSet()
      if (w.length >= n)
        for (p <- 0 to w.length - n) {
          val g = w.slice(p, p + n).toSeq
          if (!seen.add(g)) (p until p + n).foreach(covered += _)
        }
      val kept = w.indices.filterNot(covered.contains).map(w(_))
      val hash = if (kept.isEmpty) null else md5(kept.mkString(" "))
      id -> (w.length.toLong, covered.size.toLong, kept.size.toLong, hash)
    }.toMap
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
