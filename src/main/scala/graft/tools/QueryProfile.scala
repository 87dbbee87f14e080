package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The per-query profiler (not part of the Bench/Verify contract; run
  * manually while optimizing): executes named SparkEntry queries in the
  * [[graft.GraftSession]] session Bench times and reports wall seconds,
  * Spark JOB and stage counts, and executor task seconds. The job count
  * is the load-bearing number for the eager gates (lake maintenance,
  * streaming foreachBatch): their work is dozens of tiny driver-issued
  * jobs that `.explain` on the returned frame cannot show. `k=v`
  * arguments override session confs for an A/B at identical code.
  *
  * Usage: `runMain graft.tools.QueryProfile <sfDir> [q1,q2,...] [k=v ...]`,
  * e.g. the graph-ANN build family: `q304_knn_diversify,
  * q305_graph_search_diversified,q315_delta_knn_diversify,
  * q327_delete_knn_diversify,q316_hnsw_ladder_structured`.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.partition(_.contains("="))
    require(rest.nonEmpty, "usage: QueryProfile <sfDir> [q1,q2,...] [k=v ...]")
    val sfDir = rest.head
    val names = rest.lift(1).map(_.split(',').toSeq)
      .getOrElse(Seq("q316_hnsw_ladder_structured"))
    val spark = graft.GraftSession()
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var taskMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = {
        stages += 1
        taskMs += st.stageInfo.taskMetrics.executorRunTime
      }
    })

    def run(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      jobs = 0; stages = 0; taskMs = 0L
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      Thread.sleep(300)
      println(f"[qprof] $name%-32s wall=$wall%7.2fs jobs=$jobs%4d " +
        f"stages=$stages%4d taskSec=${taskMs / 1e3}%8.2f")
      spark.catalog.clearCache()
    }
    // one warm pass (codegen compile) then the measured pass, per query
    names.foreach { n => run(n); run(n) }
    spark.stop()
  }
}
