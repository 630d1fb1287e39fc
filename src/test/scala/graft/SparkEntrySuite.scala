package graft

import java.io.RandomAccessFile
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

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
}
