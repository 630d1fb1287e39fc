package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog
import graft.xml.SparkTestSession

class SparkEntrySuite extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("stateShufflePartitions sizes plain paths and file: URIs alike") {
    // 200 MiB at ~64 MiB per state partition is 4, under the cap of 8.
    // The file is sparse, so it takes no disk space.
    val dir = Files.createTempDirectory("graft-state-sizing")
    val f = dir.resolve("part-00000.xml")
    val raf = new RandomAccessFile(f.toFile, "rw")
    try raf.setLength(200L << 20) finally raf.close()
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try {
      assert(SparkEntry.stateShufflePartitions(spark, Seq(dir.toString)) === 4)
      assert(SparkEntry.stateShufflePartitions(spark, Seq(dir.toUri.toString)) === 4)
    } finally {
      spark.conf.set(key, prev)
      Files.delete(f)
      Files.delete(dir)
    }
  }

  test("queries and oracleSql name the same 255 queries") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 255)
    val malformed = SparkEntry.queries.keys.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(malformed.isEmpty, s"names not of the form q<n>_<words>: $malformed")
  }

  test("every oracle text is non-empty") {
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracle SQL: $empty")
  }

  test("entry's query q01_pricing_summary is in the catalog") {
    assert(SparkEntry.queries.contains("q01_pricing_summary"))
    assert(SparkEntry.oracleSql.contains("q01_pricing_summary"))
  }

  test("a catalog that declares a name twice fails, naming it") {
    val specs = Catalog.specs.values.toSeq
    val e = intercept[IllegalArgumentException](
      Catalog.index(specs :+ Catalog.specs("q142_pagerank_redistribute")))
    assert(e.getMessage.contains("q142_pagerank_redistribute"))
    assert(Catalog.index(specs).size === 255)
  }

  test("query selection: every query when unset, the listed ones, a failure naming unknowns") {
    assert(Catalog.select(SparkEntry.queries, None).keySet === SparkEntry.queries.keySet)
    assert(Catalog.select(SparkEntry.queries, Some(" q01_pricing_summary,q05_rollup_counts ,"))
      .keySet === Set("q01_pricing_summary", "q05_rollup_counts"))
    val e = intercept[IllegalArgumentException](Catalog.select(SparkEntry.oracleSql,
      Some("q01_pricing_summary,q01_pricing_sumary,q999_missing")))
    assert(e.getMessage.contains("q01_pricing_sumary, q999_missing"))
    assert(!e.getMessage.contains("q01_pricing_summary,"))
  }
}
