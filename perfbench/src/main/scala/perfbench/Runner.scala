package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Caches, SparkEntry, Store}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

/** Closed-loop, one-client runner behind `perfbench/run.py`.
  *
  *   Runner oracles <out.json> <op>...      oracle SQL of the named ops
  *   Runner run <dataDir> <plan> <out.jsonl>
  *
  * `run` reads a plan written by run.py (cores, the Store layouts to build,
  * window length, round size, trace flag and the seeded op sequence) and
  * writes raw records, one JSON object per line; run.py does all the
  * arithmetic.
  *
  * One operation = one `SparkEntry.queries` call (construct), `executedPlan`
  * of its result (plan), `collect()` of every output column (exec) and the
  * `Caches.release()` drain the next caller would otherwise pay (release).
  * The canonical content digest of the collected rows is computed after the
  * op's clock stops. With trace on, each phase tags its Spark jobs through a
  * local property and a listener attributes jobs and stages to the phase.
  */
object Runner {

  val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: ops => dumpOracles(out, ops)
    case "run" :: data :: plan :: out :: Nil => run(data, plan, out)
    case _ =>
      System.err.println("usage: Runner oracles <out> <op>... | Runner run <dataDir> <plan> <out>")
      sys.exit(2)
  }

  def dumpOracles(out: String, ops: Seq[String]): Unit = {
    val missing = ops.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")
    val sql = SparkEntry.oracleSql
    val body = ops.map(op => s"${Json.str(op)}: ${sql.get(op).map(Json.str).getOrElse("null")}")
    Files.write(Paths.get(out), body.mkString("{", ",\n", "}\n").getBytes(UTF_8))
  }

  // ---- the session, with Bench's settings, and the drift check ----

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "16384")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The settings Bench runs with; a run whose session differs is refused. */
  def expectedConf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.optimizer.windowGroupLimitThreshold" -> "16384",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  def checkConf(spark: SparkSession, cores: Int): Unit = {
    val drift = expectedConf(cores).collect {
      case (k, v) if spark.conf.getOption(k).getOrElse(spark.sparkContext.getConf.get(k, "")) != v =>
        s"$k=${spark.conf.getOption(k).orNull} (want $v)"
    }
    require(drift.isEmpty, s"Spark conf drifts from Bench's settings: ${drift.mkString(", ")}")
  }

  // ---- Store layouts built in setup ----

  def buildStore(spark: SparkSession, data: String, t: String): Unit = t match {
    case "quads" => Store.quads(spark, data)
    case "triples" => Store.triples(spark, data)
    case "triples_bucketed" => Store.triplesBucketed(spark, data)
    case "postings" => Store.postings(spark, data)
    case "iri_index" => Store.iriIndex(spark, data)
    case other => throw new IllegalArgumentException(s"unknown Store layout $other")
  }

  /** Store writes its layouts under `<java.io.tmpdir>/graft-store-*`. */
  def storeEntries(): Set[File] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles).toSeq.flatten.filter(_.getName.startsWith("graft-store-"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten).toSet
  }

  /** Build the layouts in order; (layout, build ns, on-disk bytes) each. */
  def buildStores(spark: SparkSession, data: String, ts: Seq[String]): Seq[(String, Long, Long)] =
    ts.map { t =>
      val before = storeEntries()
      val t0 = System.nanoTime()
      buildStore(spark, data, t)
      val ns = System.nanoTime() - t0
      (t, ns, (storeEntries() -- before).toSeq.map(bytes).sum)
    }

  def storeRecord(kind: String, stores: Seq[(String, Long, Long)], extra: (String, Any)*): String =
    Json.obj(Seq("kind" -> kind) ++ extra ++ Seq(
      "store_ns" -> Json.raw(Json.obj(stores.map(s => s._1 -> s._2): _*)),
      "store_bytes" -> Json.raw(Json.obj(stores.map(s => s._1 -> s._3): _*))): _*)

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length

  // ---- host speed ----

  /** A random cyclic permutation of 2^21 slots (8 MB: past the per-core L2,
    * inside the L3 the VM shares with other tenants). */
  lazy val ring: Array[Int] = {
    val n = 1 << 21
    val a = Array.tabulate(n)(identity)
    val rnd = new scala.util.Random(42)
    var i = n - 1
    while (i > 0) { // Sattolo's shuffle: one cycle through every slot
      val j = rnd.nextInt(i); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }
  @volatile var calibSink = 0L // keeps the JIT from dropping the kernels' loops

  /** Times two fixed single-threaded kernels: a chain of 10M dependent
    * multiply-adds (about 15 ms) and 200k dependent loads around `ring`
    * (about 25 ms). The VM shares its cores and caches with other tenants,
    * and its speed drifts by tens of percent from one minute to the next;
    * run.py scales end-to-end times by these probes, timed before every
    * call, so that the drift cancels. Returns (cpu ns, memory ns). */
  def calibrate(): (Long, Long) = {
    val t0 = System.nanoTime()
    var x = 1L
    var k = 0
    while (k < 10000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
    val t1 = System.nanoTime()
    var j = 0
    k = 0
    while (k < 200000) { j = ring(j); k += 1 }
    val t2 = System.nanoTime()
    calibSink ^= x + j
    (t1 - t0, t2 - t1)
  }

  // ---- one operation ----

  final case class Call(i: Int, phase: String, op: String, calib: (Long, Long), startMs: Long, construct: Long,
      plan: Long, exec: Long, release: Long, wall: Long, rows: Long, digest: String, error: String,
      finalPlan: Option[SparkPlan])

  def call(spark: SparkSession, data: String, i: Int, phase: String, op: String,
      traced: Boolean): Call = {
    val calib = calibrate()
    val sc = spark.sparkContext
    def tag(p: String): Unit = if (traced) sc.setLocalProperty(SpanKey, s"$i:$p")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val marks = mutable.ArrayBuffer(t0)
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error: String = null
    try {
      tag("construct"); df = SparkEntry.queries(op)(spark, data); marks += System.nanoTime()
      tag("plan"); df.queryExecution.executedPlan; marks += System.nanoTime()
      tag("exec"); rows = df.collect(); marks += System.nanoTime()
    } catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        while (marks.size < 4) marks += System.nanoTime()
    }
    tag("release"); Caches.release(); marks += System.nanoTime()
    if (traced) sc.setLocalProperty(SpanKey, null)
    val t4 = System.nanoTime()
    val d = marks.zip(marks.tail).map { case (a, b) => b - a }
    val digest = if (rows == null) "" else Digest.of(df.columns.toIndexedSeq, rows)
    val fin = if (traced && df != null && error == null) Some(df.queryExecution.executedPlan) else None
    Call(i, phase, op, calib, startMs, d(0), d(1), d(2), d(3), t4 - t0,
      if (rows == null) -1L else rows.length.toLong, digest, error, fin)
  }

  /** Nodes of a physical plan, through AQE query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  // ---- the traced run's listener ----

  final class Tracer extends SparkListener {
    val records = new ConcurrentLinkedQueue[String]()
    private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def span(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))

    override def onJobStart(e: SparkListenerJobStart): Unit = span(e.properties).foreach { s =>
      jobSpan.put(e.jobId, s)
      records.add(Json.obj("kind" -> "job_start", "span" -> s, "job" -> e.jobId, "t" -> e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobSpan.remove(e.jobId)).foreach { s =>
      records.add(Json.obj("kind" -> "job_end", "span" -> s, "job" -> e.jobId, "t" -> e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      span(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
        val si = e.stageInfo
        val m = si.taskMetrics
        records.add(Json.obj("kind" -> "stage", "span" -> s, "stage" -> si.stageId,
          "submit" -> si.submissionTime.getOrElse(0L), "done" -> si.completionTime.getOrElse(0L),
          "tasks" -> si.numTasks, "input" -> m.inputMetrics.bytesRead,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "cpu_ns" -> m.executorCpuTime, "run_ms" -> m.executorRunTime))
      }
  }

  // ---- the run ----

  final case class Plan(cores: Int, stores: Seq[String], extraStores: Seq[String], seconds: Double,
      round: Int, warmup: Int, trace: Boolean, sequence: IndexedSeq[String])

  def readPlan(path: String): Plan = {
    val kv = Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val parts = l.split("\\s+").toIndexedSeq
        parts.head -> parts.tail
      }.toMap
    Plan(kv("cores").head.toInt, kv.getOrElse("stores", Nil), kv.getOrElse("extra_stores", Nil),
      kv("seconds").head.toDouble, kv("round").head.toInt, kv("warmup").head.toInt, kv("trace").head == "1",
      kv("sequence"))
  }

  def run(data: String, planPath: String, outPath: String): Unit = {
    val plan = readPlan(planPath)
    val unknown = plan.sequence.distinct.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val out = new PrintWriter(Files.newBufferedWriter(Paths.get(outPath), UTF_8))
    def emit(s: String): Unit = { out.println(s); out.flush() }

    // set-up: session start + the Store layouts this workload reads
    val storesBefore = storeEntries()
    val t0 = System.nanoTime()
    val spark = session(plan.cores)
    checkConf(spark, plan.cores)
    // set-up ends with jobs run: without a layout to build, a first job
    // (parquet scan, codegen, shuffle) pays Spark's one-time job set-up here
    // instead of in whichever op happens to come first
    if (plan.stores.isEmpty)
      graft.Tables.documents(spark, data).groupBy(pmod(length(col("text")), lit(7))).count().collect()
    val sessionNs = System.nanoTime() - t0
    emit(storeRecord("setup", buildStores(spark, data, plan.stores), "session_ns" -> sessionNs))
    emit(Json.obj("kind" -> "conf", "conf" -> Json.raw(Json.obj(
      spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) => k -> v }: _*))))

    val tracer = new Tracer
    def record(c: Call): Unit = {
      emit(Json.obj("kind" -> "call", "i" -> c.i, "phase" -> c.phase, "op" -> c.op,
        "calib_cpu" -> c.calib._1, "calib_mem" -> c.calib._2,
        "start_ms" -> c.startMs, "construct" -> c.construct, "plan" -> c.plan, "exec" -> c.exec, "release" -> c.release,
        "wall" -> c.wall, "rows" -> c.rows, "digest" -> c.digest, "error" -> c.error))
      c.finalPlan.foreach { p =>
        val ns = nodes(p)
        emit(Json.obj("kind" -> "plan", "i" -> c.i,
          "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
          "broadcast_exchanges" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
          "bnlj" -> ns.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])))
      }
    }
    // closed loop: one client, next op issued when the previous one returned.
    // The sequence is whole rounds, each op once per round; the first round
    // is the cold pass (every op's first call in this session), the next
    // `warmup` rounds are untimed.
    var pos = 0
    def next(phase: String, traced: Boolean): Unit = {
      record(call(spark, data, pos, phase, plan.sequence(pos % plan.sequence.size), traced))
      pos += 1
    }
    (1 to plan.round).foreach(_ => next("cold", traced = false))
    (1 to plan.warmup * plan.round).foreach(_ => next("warmup", traced = false))
    // The timed window runs whole rounds until `seconds` have passed. With
    // trace on it alternates untraced and traced rounds (the listener ignores
    // untagged jobs), so both kinds see the same JIT state and their
    // throughput ratio is the tracing overhead.
    val phases = if (plan.trace) Seq("warm", "traced") else Seq("warm")
    if (plan.trace) spark.sparkContext.addSparkListener(tracer)
    val w0 = System.nanoTime()
    var rounds = 0
    while (rounds % phases.size != 0 || System.nanoTime() - w0 < (plan.seconds * 1e9).toLong) {
      val phase = phases(rounds % phases.size)
      (1 to plan.round).foreach(_ => next(phase, traced = phase == "traced"))
      rounds += 1
    }
    // Store footprint of the serving session: setup layouts plus the ones ops built
    emit(Json.obj("kind" -> "footprint", "bytes" -> (storeEntries() -- storesBefore).toSeq.map(bytes).sum))

    if (plan.trace) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      tracer.records.asScala.foreach(emit)
      kernels(spark, data).foreach(emit)
      // the layouts this workload's setup does not read, timed on the warm JVM
      emit(storeRecord("store_extra", buildStores(spark, data, plan.extraStores)))
    }
    emit(Json.obj("kind" -> "end"))
    out.close()
    spark.stop()
  }

  /** ns per row of the three native kernels the batch gates sit on, over
    * `documents` repeated to at least `KernelRows` rows so the kernel, not
    * the job's fixed cost, dominates each sample. */
  val KernelRows = 200000L

  def kernels(spark: SparkSession, data: String): Seq[String] = {
    val base = graft.Tables.documents(spark, data).select("text")
    val copies = math.max(1L, KernelRows / math.max(1L, base.count()))
    val docs = base.crossJoin(spark.range(copies)).select("text").repartition(spark.sparkContext.defaultParallelism).cache()
    val n = docs.count()
    val ks: Seq[(String, Column)] = Seq(
      "ascii_tokens" -> graft.functions.AsciiTokens(col("text")),
      "minhash_sigs" -> graft.functions.MinhashSigs(graft.dedup.Dedup.shingles(col("text"), 3), 16),
      "winnow_fps" -> graft.functions.WinnowFps(col("text"), 16, 8))
    val out = ks.map { case (name, k) =>
      val q = docs.select(sum(size(k)))
      q.collect() // warm codegen
      val samples = (1 to 7).map { _ =>
        val t0 = System.nanoTime(); q.collect(); System.nanoTime() - t0
      }
      Json.obj("kind" -> "kernel", "name" -> name, "rows" -> n, "ns" -> Json.raw(samples.mkString("[", ",", "]")))
    }
    docs.unpersist(blocking = true)
    out
  }
}

/** Minimal JSON writer for the runner's records (values: strings, numbers,
  * booleans, null, or pre-rendered JSON via [[Json.raw]]). */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
