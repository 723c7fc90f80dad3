/*
 * Per-run I/O accounting for the fan-out runner, kept inside the driver
 * JVM: the analog of the reference's MonitoredFileSystem, which counts
 * every read of an S3 handle and merges each task's stats under a mutex
 * (lanl-ocs/ocs-duckdb-runner runner.cc:75-172, runner.cc:288-307).
 *
 * The runner registers a run token with begin(token) and runs object idx
 * under job group "token:idx". At onJobStart a job of such a group maps
 * its stages to (run, idx); onTaskEnd sums each mapped stage's input
 * bytes, input records and successful tasks. take(token) returns the
 * run's sums per idx in one call and forgets the run, so its cost
 * depends on this run alone, not on the session's age.
 *
 * Sums follow the monitoring REST API's stage records: a stage counts
 * once it completed without failure, and its tasks count only where it
 * read bytes.
 */
package org.ocsspark;

import java.util.HashMap;
import java.util.Iterator;
import java.util.Map;
import java.util.TreeMap;

import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.StorageStatistics;
import org.apache.spark.Success$;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;

public class FanoutIOListener extends SparkListener {
  /** One stage of one object of one run. */
  private static final class Stage {
    final int idx;
    long bytes;
    long records;
    long tasks;
    boolean complete;

    Stage(int idx) {
      this.idx = idx;
    }
  }

  // open run token -> its stages by id; stage id -> stage, for task ends
  private final Map<String, Map<Integer, Stage>> runs = new HashMap<>();
  private final Map<Integer, Stage> stages = new HashMap<>();

  /** Start accounting for the jobs of groups "token:idx". */
  public synchronized void begin(String token) {
    runs.putIfAbsent(token, new HashMap<>());
  }

  /**
   * The run's sums, one line "idx bytes records tasks" per object that
   * ran a completed stage, and forget the run.
   */
  public synchronized String take(String token) {
    Map<Integer, Stage> run = runs.remove(token);
    if (run == null) {
      return "";
    }
    Map<Integer, long[]> byIdx = new TreeMap<>();
    for (Map.Entry<Integer, Stage> e : run.entrySet()) {
      stages.remove(e.getKey());
      Stage s = e.getValue();
      if (!s.complete) {
        continue;
      }
      long[] t = byIdx.computeIfAbsent(s.idx, k -> new long[3]);
      t[0] += s.bytes;
      t[1] += s.records;
      t[2] += s.bytes > 0 ? s.tasks : 0;
    }
    StringBuilder out = new StringBuilder();
    for (Map.Entry<Integer, long[]> e : byIdx.entrySet()) {
      long[] t = e.getValue();
      out.append(e.getKey()).append(' ').append(t[0]).append(' ')
          .append(t[1]).append(' ').append(t[2]).append('\n');
    }
    return out.toString();
  }

  /** Open runs plus tracked stages: 0 once every run was taken. */
  public synchronized int heldState() {
    return runs.size() + stages.size();
  }

  /**
   * Read operations counted so far by every Hadoop FileSystem scheme in
   * this JVM: the analog of the reference's per-handle ranged-read
   * counter (runner.cc:89,109-117). In local mode the executors share the
   * driver's JVM, so the counters cover every task of a run.
   */
  public static long readOps() {
    long total = 0;
    Iterator<StorageStatistics> it =
        FileSystem.getGlobalStorageStatistics().iterator();
    while (it.hasNext()) {
      Long v = it.next().getLong("readOps");
      total += v == null ? 0 : v;
    }
    return total;
  }

  @Override
  public synchronized void onJobStart(SparkListenerJobStart job) {
    if (job.properties() == null) {
      return;
    }
    String group = job.properties().getProperty("spark.jobGroup.id");
    int colon = group == null ? -1 : group.lastIndexOf(':');
    if (colon < 0) {
      return;
    }
    Map<Integer, Stage> run = runs.get(group.substring(0, colon));
    if (run == null) {
      return;
    }
    int idx;
    try {
      idx = Integer.parseInt(group.substring(colon + 1));
    } catch (NumberFormatException e) {
      return;
    }
    for (Object id : scala.jdk.javaapi.CollectionConverters.asJava(job.stageIds())) {
      stages.put((Integer) id, run.computeIfAbsent((Integer) id, k -> new Stage(idx)));
    }
  }

  @Override
  public synchronized void onTaskEnd(SparkListenerTaskEnd task) {
    Stage s = stages.get(task.stageId());
    if (s == null) {
      return;
    }
    TaskMetrics m = task.taskMetrics();
    if (m != null) {
      s.bytes += m.inputMetrics().bytesRead();
      s.records += m.inputMetrics().recordsRead();
    }
    if (task.reason() == Success$.MODULE$) {
      s.tasks++;
    }
  }

  @Override
  public synchronized void onStageCompleted(SparkListenerStageCompleted done) {
    StageInfo info = done.stageInfo();
    Stage s = stages.get(info.stageId());
    if (s != null && info.failureReason().isEmpty()) {
      s.complete = true;
    }
  }
}
