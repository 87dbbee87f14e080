package perfbench.trace;

import java.util.Map;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerBlockUpdated;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.SparkListenerUnpersistRDD;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.storage.BlockUpdatedInfo;

/** Records jobs, tasks, cache block updates and SQL planning phases into
  * {@link Trace}. Registered by `-Dspark.extraListeners` and
  * `-Dspark.sql.queryExecutionListeners`. Block updates and unpersists are
  * recorded even while tracing is off, so cache residency stays known.
  */
public final class Listener extends SparkListener implements QueryExecutionListener {

  @Override
  public void onJobStart(SparkListenerJobStart e) {
    if (!Trace.on) return;
    Trace.emit("{\"k\":\"job0\",\"id\":" + e.jobId() + ",\"t\":" + e.time() + "}");
  }

  @Override
  public void onJobEnd(SparkListenerJobEnd e) {
    if (!Trace.on) return;
    Trace.emit("{\"k\":\"job1\",\"id\":" + e.jobId() + ",\"t\":" + e.time() + "}");
  }

  @Override
  public void onTaskEnd(SparkListenerTaskEnd e) {
    if (!Trace.on) return;
    TaskInfo i = e.taskInfo();
    TaskMetrics m = e.taskMetrics();
    StringBuilder b = new StringBuilder("{\"k\":\"task\",\"stage\":").append(e.stageId())
        .append(",\"launch\":").append(i.launchTime()).append(",\"finish\":").append(i.finishTime())
        .append(",\"ok\":").append(i.successful())
        .append(",\"getres\":").append(i.gettingResultTime() > 0
            ? i.finishTime() - i.gettingResultTime() : 0);
    if (m != null) {
      b.append(",\"run\":").append(m.executorRunTime())
          .append(",\"cpu\":").append(m.executorCpuTime())
          .append(",\"gc\":").append(m.jvmGCTime())
          .append(",\"deser\":").append(m.executorDeserializeTime())
          .append(",\"ser\":").append(m.resultSerializationTime())
          .append(",\"shw\":").append(m.shuffleWriteMetrics().bytesWritten())
          .append(",\"shr\":").append(m.shuffleReadMetrics().totalBytesRead())
          .append(",\"spill\":").append(m.memoryBytesSpilled() + m.diskBytesSpilled());
    }
    Trace.emit(b.append("}").toString());
  }

  @Override
  public void onBlockUpdated(SparkListenerBlockUpdated e) {
    BlockUpdatedInfo i = e.blockUpdatedInfo();
    if (!i.blockId().isRDD()) return;
    Trace.emit("{\"k\":\"block\",\"id\":\"" + i.blockId().name() + "\",\"t\":"
        + System.currentTimeMillis() + ",\"valid\":" + i.storageLevel().isValid()
        + ",\"bytes\":" + (i.memSize() + i.diskSize()) + "}");
  }

  /** Unpersisted RDD blocks are dropped without a block update. */
  @Override
  public void onUnpersistRDD(SparkListenerUnpersistRDD e) {
    Trace.emit("{\"k\":\"unpersist\",\"rdd\":" + e.rddId() + ",\"t\":"
        + System.currentTimeMillis() + "}");
  }

  private static void sql(QueryExecution qe, boolean ok) {
    if (!Trace.on) return;
    long plan = 0;
    long end = 0;
    for (Map.Entry<String, QueryPlanningTracker.PhaseSummary> p
        : scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases()).entrySet()) {
      if (!p.getKey().equals("parsing")) plan += p.getValue().durationMs();
      end = Math.max(end, p.getValue().endTimeMs());
    }
    Trace.emit("{\"k\":\"sql\",\"t\":" + end + ",\"plan\":" + plan + ",\"ok\":" + ok + "}");
  }

  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    sql(qe, true);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception error) {
    sql(qe, false);
  }
}
