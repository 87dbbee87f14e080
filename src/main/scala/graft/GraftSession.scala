package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Bench, Verify, the MCP
  * server, every tool and the test suite get the same extensions and
  * SQL keys from here, so the plans a spec, the server or a profiler
  * runs are the plans Bench times and Verify checks.
  *
  * Env, read once: `SPARK_GRAFT_MASTER` (default `local[cpus]`),
  * `SPARK_GRAFT_CPUS` (core count and shuffle width, default 32) and
  * the AQE A/B toggles `SPARK_GRAFT_PARALLELISM_FIRST` /
  * `SPARK_GRAFT_CACHED_PLAN_AQE`.
  */
object GraftSession {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  private val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** Every key a session carries besides master and shuffle width. */
  val conf: Seq[(String, String)] = Seq(
    // Scale-adaptive post-shuffle sizing: with parallelismFirst (Spark's
    // default) AQE refuses to coalesce below the core count, so every
    // exchange over KB-scale frames launches `cpus` tasks whose
    // scheduling dwarfs their work; `false` sizes partitions by bytes
    // (advisoryPartitionSizeInBytes), which is the behaviour that
    // scales: tiny inputs collapse to one task, TB inputs still fan out.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "false"),
    // let AQE re-size shuffles inside cached plans too: the graph tier
    // pins index-sized intermediates via CacheSlot, and with this off
    // every cached subtree keeps the full static shuffle width (measured
    // 32x the tasks and 8x the executor time on q315/q327)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" ->
      sys.env.getOrElse("SPARK_GRAFT_CACHED_PLAN_AQE", "true"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // events.ts is parquet TIMESTAMP(NANOS), which Spark 4 refuses by
    // default; read it as epoch-nanos long (Tables.events re-derives a
    // TimestampType column)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The session; `cores` pins a fixed local width (the test suite's 4)
    * in place of the env's master and core count.
    */
  def apply(cores: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(cores.fold(master)(n => s"local[$n]"))
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.getOrElse(cpus).toLong)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
