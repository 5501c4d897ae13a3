package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the runner mains and the test suite, so
  * Bench, Verify, ProfileGate and Explain plan and run with the same
  * settings. */
object Sessions {

  /** Cores of the runner mains: `SPARK_GRAFT_CPUS`, default 32 (the driver
    * contract is `local[32]`; the override exists for dev runs). */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A `local[cores]` session (or the active one) with the engine's
    * settings and extensions. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // rank-limit windows (heads, pages, queue probes) must rewrite to
      // map-side WindowGroupLimits; the default threshold (1000) is below
      // the 8192 queue-probe scan cap (QueueLag.PageSize*PageLimit)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "16384")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
