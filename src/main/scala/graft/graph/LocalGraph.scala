package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The one driver-local path of the small-graph algorithms: BFS hops and
  * Bellman–Ford ([[Graphs]]), connected components
  * ([[graft.dedup.Dedup.dedupComponents]]) and path closure
  * ([[graft.sparql.PathCompiler.closure]]).
  *
  * A distributed round costs a few Spark jobs of pure scheduling overhead;
  * a graph of a few million edges walks in milliseconds as int arrays on
  * the driver. So each algorithm first tries its input here and falls back
  * to its dataflow rounds — the shape that scales — when the helper says
  * None.
  *
  * Driver-memory contract: [[collect]] evaluates its frame ONCE and decodes
  * at most `cap + 1` rows on the driver, whatever the lineage does; above
  * `cap` it answers None. No algorithm collects its input any other way.
  * Outputs bounded by the node count (≤ 2 · edges) need no further cap;
  * the closure's output is not bounded by its input and carries its own
  * output cap. Keys other than Long/Int/String, and null endpoints, also
  * answer None ([[Interner]]). */
object LocalGraph {

  /** Input cap, in edges, of the driver-local graph algorithms. */
  val MaxEdges = 2000000L

  /** The rows of `df` on the driver, or None when it has more than `cap`.
    * One evaluation through `limit(cap + 1)`: the scan stops at `cap + 1`
    * rows, so deciding "too big" never ships more than that. */
  def collect(df: DataFrame, cap: Long): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"cap out of range: $cap")
    val rows = df.limit(cap.toInt + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** Dense ids 0, 1, … for graph keys, in first-seen order. */
  final class Interner private[LocalGraph] () {
    private val ids = new java.util.HashMap[Any, Integer]()
    private val keys = ArrayBuffer.empty[Any]

    def size: Int = keys.length
    def key(id: Int): Any = keys(id)

    private def id(v: Any): Int = {
      val got = ids.get(v)
      if (got != null) got.intValue()
      else { val i = keys.length; ids.put(v, i); keys += v; i }
    }

    /** Ids of columns 0 and 1 (an edge's endpoints), interned row by row;
      * None on a null endpoint. */
    def edges(rows: Array[Row]): Option[(Array[Int], Array[Int])] = {
      val xs = new Array[Int](rows.length)
      val ys = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        if (r.isNullAt(0) || r.isNullAt(1)) return None
        xs(i) = id(r.get(0))
        ys(i) = id(r.get(1))
        i += 1
      }
      Some((xs, ys))
    }

    /** Ids of column 0 (a node list); None on a null. */
    def nodes(rows: Array[Row]): Option[Array[Int]] = {
      val out = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        if (rows(i).isNullAt(0)) return None
        out(i) = id(rows(i).get(0))
        i += 1
      }
      Some(out)
    }
  }

  /** An interner for keys of type `dt`; None for any type but Long, Int and
    * String, whose driver-side values hash and compare as Spark groups. */
  def interner(dt: DataType): Option[Interner] = dt match {
    case LongType | IntegerType | StringType => Some(new Interner)
    case _ => None
  }

  /** Out-edge lists of a graph on `n` nodes with edge sources `src`, as
    * linked arrays: `first(u)` is u's first out-edge, `next(e)` the one
    * after edge e, -1 ends a list. */
  def adjacency(n: Int, src: Array[Int]): (Array[Int], Array[Int]) = {
    val first = Array.fill(n)(-1)
    val next = new Array[Int](src.length)
    var e = 0
    while (e < src.length) { next(e) = first(src(e)); first(src(e)) = e; e += 1 }
    (first, next)
  }

  /** A frame over driver-side result rows with an explicit schema. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}
