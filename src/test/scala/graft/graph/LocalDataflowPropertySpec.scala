package graft.graph

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sparql.PathCompiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The driver-local graph algorithms equal their dataflow rounds on
  * generated small edge lists (cycles, self-loops, duplicate edges,
  * isolated seeds, negative weights). The dataflow side is reached without
  * any test-only switch: `decimal(20,0)` keys fail the local key gate, and
  * the closure's own `localMaxEdges = 0` skips its local path. */
class LocalDataflowPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, base: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(base + i)))

  private val node = Gen.choose(0L, 7L)
  private val edgeList = for {
    m <- Gen.choose(0, 14)
    es <- Gen.listOfN(m, for (a <- node; b <- node; w <- Gen.choose(-3L, 5L)) yield (a, b, w))
  } yield es
  // seeds 8 and 9 are never edge endpoints
  private val seedList = Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0L, 9L)))

  private val Dec = "decimal(20,0)"
  private def dec(df: DataFrame, cs: String*): DataFrame =
    cs.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(Dec)))
  private def rows(df: DataFrame): Set[Seq[Any]] = {
    val out = df.collect().map(_.toSeq).toSet
    graft.Caches.release()
    out
  }

  test("bfsHops: local = dataflow") {
    samples(for (es <- edgeList; ss <- seedList; k <- Gen.choose(0, 4)) yield (es, ss, k),
        12, 1000L).foreach { case (es, ss, k) =>
      val edges = es.map(e => (e._1, e._2)).toDF("src", "dst")
      val seeds = ss.toDF("node")
      val local = rows(Graphs.bfsHops(edges, seeds, k))
      val flow = rows(Graphs.bfsHops(dec(edges, "src", "dst"), dec(seeds, "node"), k)
        .select(col("node").cast("long"), col("d")))
      assert(local == flow, s"edges $es seeds $ss depth $k")
    }
  }

  test("shortestPaths: local = dataflow, negative weights included") {
    samples(for (es <- edgeList; ss <- seedList; k <- Gen.choose(0, 4)) yield (es, ss, k),
        12, 2000L).foreach { case (es, ss, k) =>
      val edges = es.toDF("src", "dst", "w")
      val seeds = ss.toDF("node")
      val local = rows(Graphs.shortestPaths(edges, seeds, k))
      val flow = rows(Graphs.shortestPaths(dec(edges, "src", "dst"), dec(seeds, "node"), k)
        .select(col("node").cast("long"), col("d")))
      assert(local == flow, s"edges $es seeds $ss rounds $k")
    }
  }

  test("dedupComponents: local = dataflow") {
    samples(edgeList, 12, 3000L).foreach { es =>
      val pairs = es.map(e => (e._1, e._2)).toDF("a", "b")
      val local = rows(Dedup.dedupComponents(pairs))
      val flow = rows(Dedup.dedupComponents(dec(pairs, "a", "b"))
        .select(col("doc_id").cast("long"), col("canonical_id").cast("long")))
      assert(local == flow, s"pairs $es")
    }
  }

  test("closure: local = dataflow") {
    samples(edgeList, 12, 4000L).foreach { es =>
      val edges = es.map(e => (s"n${e._1}", s"n${e._2}")).toDF("s", "o")
      val local = rows(PathCompiler.closure(edges))
      val flow = rows(PathCompiler.closure(edges, localMaxEdges = 0))
      assert(local == flow, s"edges $es")
    }
  }
}
