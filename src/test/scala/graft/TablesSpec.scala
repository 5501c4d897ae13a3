package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression

class TablesSpec extends SparkSpec {

  private def file(p: Path, bytes: Long): Path = {
    Files.createDirectories(p.getParent)
    val f = new java.io.RandomAccessFile(p.toFile, "rw")
    try f.setLength(bytes) finally f.close() // sparse: no disk use
    p
  }

  test("fanOut sizes a table by its data files: _SUCCESS, .crc, _temporary skipped") {
    val big = spark.sparkContext.defaultParallelism * 16L * 1024 * 1024
    val dir = Files.createTempDirectory("graft-tables")
    try check(dir, big)
    finally {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  private def check(dir: Path, big: Long): Unit = {
    file(dir.resolve("part-00000.parquet"), 1000)
    file(dir.resolve("sub/part-00001.parquet"), 500)
    file(dir.resolve("_SUCCESS"), big)
    file(dir.resolve(".part-00000.parquet.crc"), big)
    file(dir.resolve("_temporary/0/part-00002.parquet"), big)
    file(dir.resolve(".hidden/part-00003.parquet"), big)
    assert(Tables.dataBytes(dir.toString) === 1500L)
    assert(Tables.dataBytes(dir.resolve("part-00000.parquet").toString) === 1000L)
    assert(Tables.dataBytes(dir.resolve("missing").toString) === Long.MaxValue)

    // small data + large hidden files: still fanned out
    val df = spark.range(10).toDF("k")
    assert(Tables.fanOut(spark, dir.toString, df, "k").queryExecution.logical
      .isInstanceOf[RepartitionByExpression])
    // large data: identity
    file(dir.resolve("part-00004.parquet"), big)
    assert(Tables.fanOut(spark, dir.toString, df, "k") eq df)
  }
}
