package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants. */
class ContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows on sf0.001 (driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("oracle SQL aliases match the Spark result columns (hash contract)") {
    // The driver sorts columns by name before hashing, so names must align.
    // Verified end-to-end by tools/verify_local.py; here we just pin that
    // every query runs and yields a schema on the smallest SF.
    ContractSweep.records.foreach { case (name, r) =>
      assert(r.columns.nonEmpty, name)
    }
  }

  test("the contract sweep covers every query and builds each exactly " +
      "once per test JVM") {
    assert(ContractSweep.records.keySet == SparkEntry.queries.keySet)
    val counts = ContractSweep.buildCounts
    assert(counts.keySet == SparkEntry.queries.keySet)
    val rebuilt = counts.filter(_._2 != 1)
    assert(rebuilt.isEmpty, s"built more than once: $rebuilt")
  }

  test("README's query and oracle counts match the contract") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val nQueries = SparkEntry.queries.size
    val nOracle = SparkEntry.oracleSql.size
    def counts(re: String) = re.r.findAllMatchIn(readme)
      .map(_.subgroups.map(_.toInt)).toSeq
    assert(counts("""(\d+) named queries""") == Seq(Seq(nQueries)))
    assert(counts("""(\d+) of (\d+) queries are oracle-checked""") ==
      Seq(Seq(nOracle, nQueries)))
    assert(counts("""The (\d+) that are not""") ==
      Seq(Seq(nQueries - nOracle)))
  }

  test("queries are deterministic: two runs, identical results (sample)") {
    for (name <- Seq("q1_pricing", "minhash_pairs", "top10_per_day",
        "ann_brute_topk", "fingerprints", "ann_ivf_topk", "asof_join",
        "embed_neardup_pairs", "mm_resize",
        "decontaminate", "pack_sequences", "repetition_scores",
        "entropy_scores", "dedup_clusters_planted")) {
      val fn = SparkEntry.queries(name)
      val a = fn(spark, TestSpark.sf).collect()
      val b = fn(spark, TestSpark.sf).collect()
      assert(a.toSeq === b.toSeq, name)
    }
  }
}
