package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The driver-local graph helper: the row cap, the single evaluation, the
  * key gate and the result frame. */
class LocalGraphSpec extends SparkSpec {

  test("collect: exactly cap rows gives Some, cap + 1 rows gives None") {
    val df = spark.range(0, 10, 1, 3).toDF("x")
    assert(LocalGraph.collect(df, 10).map(_.map(_.getLong(0)).toSet)
      .contains((0L until 10L).toSet))
    assert(LocalGraph.collect(df, 9).isEmpty)
    assert(LocalGraph.collect(df.filter(col("x") < 0), 0).exists(_.isEmpty))
  }

  test("collect evaluates its input once") {
    // a filter UDF, so no column pruning can skip it: every evaluation of
    // an input row bumps the accumulator exactly once
    val evaluated = spark.sparkContext.longAccumulator("rows evaluated")
    val touch = udf { (_: Long) => evaluated.add(1); true }
    val df = spark.range(0, 50, 1, 4).toDF("x").filter(touch(col("x")))
    assert(LocalGraph.collect(df, LocalGraph.MaxEdges).map(_.length).contains(50))
    assert(evaluated.value == 50L, s"input evaluated ${evaluated.value} times for 50 rows")
  }

  test("interner: Long/Int/String keys only") {
    Seq(LongType, IntegerType, StringType).foreach(t =>
      assert(LocalGraph.interner(t).isDefined, t))
    Seq(DecimalType(20, 0), DoubleType, DateType, BinaryType).foreach(t =>
      assert(LocalGraph.interner(t).isEmpty, t))
  }

  test("interner: dense first-seen ids, endpoints interned row by row") {
    val keys = LocalGraph.interner(LongType).get
    val Some((xs, ys)) = keys.edges(Array(Row(7L, 5L), Row(5L, 9L), Row(7L, 7L)))
    assert(xs.toSeq == Seq(0, 1, 0) && ys.toSeq == Seq(1, 2, 0))
    assert((0 until keys.size).map(keys.key) == Seq(7L, 5L, 9L))
    // a node list shares the id space; new keys get new ids
    assert(keys.nodes(Array(Row(9L), Row(3L))).map(_.toSeq).contains(Seq(2, 3)))
  }

  test("interner: a null endpoint gives None") {
    assert(LocalGraph.interner(LongType).get.edges(Array(Row(1L, 2L), Row(3L, null))).isEmpty)
    assert(LocalGraph.interner(StringType).get.edges(Array(Row(null, "a"))).isEmpty)
    assert(LocalGraph.interner(LongType).get.nodes(Array(Row(1L), Row(null))).isEmpty)
  }

  test("adjacency: every out-edge of a node is on its list, once") {
    val src = Array(0, 2, 0, 1, 0)
    val (first, next) = LocalGraph.adjacency(4, src)
    def out(u: Int) = Iterator.iterate(first(u))(next(_)).takeWhile(_ >= 0).toSet
    assert(out(0) == Set(0, 2, 4) && out(1) == Set(3) && out(2) == Set(1) && out(3).isEmpty)
  }

  test("frame keeps the explicit schema, nullability included") {
    val schema = StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("d", IntegerType, nullable = true)))
    val df = LocalGraph.frame(spark, Seq(Row(1L, 2), Row(3L, null)), schema)
    assert(df.schema == schema)
    assert(df.collect().toSeq == Seq(Row(1L, 2), Row(3L, null)))
  }

  test("the local paths keep their output schemas") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val nonNull = (t: DataType) => StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("d", t, nullable = false)))
    assert(Graphs.bfsHops(edges, seeds, 2).schema == nonNull(IntegerType))
    assert(Graphs.shortestPaths(edges, seeds, 2).schema == nonNull(LongType))
    assert(graft.dedup.Dedup.dedupComponents(Seq((1L, 2L)).toDF("a", "b")).schema ==
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("canonical_id", LongType, nullable = false))))
    assert(graft.sparql.PathCompiler.closure(Seq(("a", "b")).toDF("s", "o")).schema ==
      StructType(Seq(StructField("s", StringType), StructField("o", StringType))))
  }
}
