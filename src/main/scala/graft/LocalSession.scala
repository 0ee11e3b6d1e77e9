package graft

import org.apache.spark.sql.SparkSession

/** The one local session the query-surface mains run in — [[Bench]],
  * [[Verify]], `tools.SubsetVerify`, `tools.AbProbe`,
  * `tools.DeterminismProbe` and `tools.ExplainDump` — so a timing, a
  * correctness check and a plan dump see the same conf. `local[N]`
  * with N shuffle partitions, N from
  * `SPARK_GRAFT_CPUS` (default 32, the documented measurement host;
  * set it to the host's cores elsewhere, or the session oversubscribes
  * them).
  */
object LocalSession {
  /** N: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE may right-size CACHED plan output too (default false):
      // without this every cached intermediate materializes at the
      // static shuffle partition count — q75's KB-sized admission
      // frames each cost 32-64 near-empty task launches per consumer
      // stage, which amplified occasional JIT-cold windows into
      // 15-40 s outliers (round-7 table in SCALE.md; probe: see git rev e579ea9)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // the measured host is local[32] with RAM far beyond the sf0.1
      // working set: columnar-cache compression only burns CPU inside
      // the persist builds the CF/holdout chains pay per run
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
