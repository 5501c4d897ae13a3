package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r13 md5-lookup kernel: the [[ObjectTables.Md5Mod100]] constant
  * table and the [[ObjectTables.md5Mod100]] column must agree with Spark's
  * own `md5()` over the ENTIRE 0..99 domain — the objects/dht fixture hash
  * is a pure lookup of it, and every catalog oracle (DuckDB computes real
  * md5) depends on that identity. */
class ObjectTablesSpec extends SparkSpec {

  test("Md5Mod100 lookup equals md5() for the whole residue domain") {
    val df = spark.range(0, 100)
      .select(col("id"),
        ObjectTables.md5Mod100(col("id") % 100).as("lookup"),
        md5((col("id") % 100).cast("string")).as("direct"))
    assert(df.filter(col("lookup") =!= col("direct")).count() === 0)
    // and the constant table itself
    val direct = df.select(col("id"), col("direct")).collect()
      .map(r => r.getLong(0).toInt -> r.getString(1)).toMap
    (0 until 100).foreach { i =>
      assert(ObjectTables.Md5Mod100(i) === direct(i), s"residue $i")
    }
  }

  test("objects fixture hash column matches the direct md5 formulation") {
    // hash must equal md5 of the SAME residue it derives from, over the
    // real lineitem rows (covers the cast/nullability path end-to-end)
    val l = graft.Tables.lineitem(spark, sf0001)
    val check = l.select(
      ObjectTables.md5Mod100(col("l_partkey") % 100).as("lookup"),
      md5((col("l_partkey") % 100).cast("string")).as("direct"))
    assert(check.filter(col("lookup") =!= col("direct")).count() === 0)
  }

  test("md5Mod100 raises on residues outside 0..99, passes null through") {
    def lookup(r: Long) = spark.range(r, r + 1)
      .select(ObjectTables.md5Mod100(col("id"))).collect()
    Seq(-5L, -1L, 100L, 123L).foreach { r =>
      val e = intercept[Exception](lookup(r))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains(s"residue out of 0..99: $r")), s"residue $r: $e")
    }
    assert(spark.range(1).select(ObjectTables.md5Mod100(lit(null).cast("long")))
      .head().isNullAt(0))
  }
}
