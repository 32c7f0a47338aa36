package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Times and counts are per sample
  * input batch (so runs compare directly); peaks, ratios and checkpoint
  * sizes are as named. */
object Layers {
  type Out = mutable.LinkedHashMap[String, (Double, String)]

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def custom(p: StreamingQueryProgress, k: String): Double =
    p.stateOperators.iterator.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  def microbatch(out: Out, ps: Seq[StreamingQueryProgress], inputBatches: Int): Unit = {
    val n = inputBatches.toDouble
    def per(k: String) = ps.map(dur(_, k)).sum / n
    out("microbatch.input_batches") = (n, "count")
    out("microbatch.data_batches") = (ps.count(_.numInputRows > 0).toDouble, "count")
    out("microbatch.no_data_batches") = (ps.count(_.numInputRows == 0).toDouble, "count")
    out("microbatch.trigger_ms") = (per("triggerExecution"), "ms/batch")
    out("microbatch.add_batch_ms") = (per("addBatch"), "ms/batch")
    out("microbatch.query_planning_ms") = (per("queryPlanning"), "ms/batch")
    out("microbatch.wal_commit_ms") = (per("walCommit"), "ms/batch")
    out("microbatch.commit_offsets_ms") = (per("commitOffsets"), "ms/batch")
    out("microbatch.latest_offset_ms") = (per("latestOffset"), "ms/batch")
    out("microbatch.get_batch_ms") = (per("getBatch"), "ms/batch")
    val trig = ps.map(dur(_, "triggerExecution")).sum
    out("microbatch.overhead_share") = ((trig - ps.map(dur(_, "addBatch")).sum) / math.max(trig, 1.0), "share")
  }

  /** `restarted` is the timed query's full progress: its first data batch
    * is the one that loaded the state from the checkpoint. */
  def state(out: Out, ps: Seq[StreamingQueryProgress], inputBatches: Int, rowsPerLiveKey: Double,
      ckptBytes: Long, ckptFiles: Long, restarted: Seq[StreamingQueryProgress], events: Long): Unit = {
    val n = inputBatches.toDouble
    val ops = ps.flatMap(_.stateOperators)
    def per(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f(_).toDouble).sum / n
    def perCustom(k: String) = ps.map(custom(_, k)).sum / n
    out("streaming.update_ms") = (per(_.allUpdatesTimeMs), "ms/batch")
    out("streaming.removal_ms") = (per(_.allRemovalsTimeMs), "ms/batch")
    out("streaming.rows_updated") = (per(_.numRowsUpdated), "rows/batch")
    out("streaming.rows_removed") = (per(_.numRowsRemoved), "rows/batch")
    out("streaming.rows_late_dropped") = (ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
    out("streaming.timers_registered") = (perCustom("numRegisteredTimers"), "count/batch")
    out("streaming.timers_deleted") = (perCustom("numDeletedTimers"), "count/batch")
    out("streaming.timers_expired") = (perCustom("numExpiredTimers"), "count/batch")
    out("streaming.timer_ms") = (perCustom("timerProcessingTimeMs"), "ms/batch")
    out("state.commit_ms") = (per(_.commitTimeMs), "ms/batch")
    out("state.rows_per_live_key") = (rowsPerLiveKey, "ratio")
    out("state.memory_bytes_peak") = (ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes")
    out("state.checkpoint_bytes") = (ckptBytes.toDouble, "bytes")
    out("state.checkpoint_files") = (ckptFiles.toDouble, "count")
    // the restart batch's state work beyond a steady batch's: loading
    // the store from the checkpoint is the difference
    val firstAdd = restarted.find(_.numInputRows > 0).map(dur(_, "addBatch")).getOrElse(0.0)
    val steadyAdd = Stats.median(ps.filter(_.numInputRows > 0).map(dur(_, "addBatch")))
    out("state.load_ms") = (math.max(0.0, firstAdd - steadyAdd), "ms")
    out("state.hdfs_cache_miss") = (perCustom("loadedMapCacheMissCount"), "count/batch")
    val gets = ps.map(custom(_, "rocksdbGetCount")).sum
    out("state.rocksdb_get_count") = (gets / n, "count/batch")
    out("state.rocksdb_put_count") = (perCustom("rocksdbPutCount"), "count/batch")
    out("state.rocksdb_gets_per_row") = (gets / math.max(events.toDouble, 1.0), "ratio")
    out("state.rocksdb_get_ms") = (perCustom("rocksdbGetLatency"), "ms/batch")
    out("state.rocksdb_put_ms") = (perCustom("rocksdbPutLatency"), "ms/batch")
    out("state.rocksdb_fsync_ms") = (perCustom("rocksdbCommitFileSyncLatencyMs"), "ms/batch")
    out("state.rocksdb_flush_ms") = (perCustom("rocksdbCommitFlushLatency"), "ms/batch")
    out("state.rocksdb_bytes_written") = (perCustom("rocksdbTotalBytesWritten"), "bytes/batch")
  }

  /** `jobs` are the jobs of the traced samples; `wallMs` is the summed
    * span of those batches. */
  def exec(out: Out, jobs: Seq[(TaskLedger.Job, Seq[TaskLedger.Stage])], inputBatches: Int, wallMs: Double): Unit = {
    val n = inputBatches.toDouble
    val stages = jobs.flatMap(_._2).distinctBy(s => (s.id, s.attempt))
    def per(f: TaskLedger.Stage => Double) = stages.map(f).sum / n
    out("exec.jobs") = (jobs.size / n, "count/batch")
    out("exec.stages") = (stages.size / n, "count/batch")
    out("exec.tasks") = (per(_.taskMs.size.toDouble), "count/batch")
    out("exec.task_ms") = (per(_.taskMs.sum.toDouble), "ms/batch")
    out("exec.cpu_ms") = (per(_.cpuNs / 1e6), "ms/batch")
    out("exec.gc_ms") = (per(_.gcMs.toDouble), "ms/batch")
    out("exec.shuffle_write_bytes") = (per(_.shuffleWrite.toDouble), "bytes/batch")
    out("exec.shuffle_read_bytes") = (per(_.shuffleRead.toDouble), "bytes/batch")
    out("exec.fetch_wait_ms") = (per(_.fetchWaitMs.toDouble), "ms/batch")
    out("exec.spill_bytes") = (per(_.spill.toDouble), "bytes/batch")
    out("exec.stage_skew") = (stages.filter(_.taskMs.size >= 2).map(_.skew).maxOption.getOrElse(1.0), "ratio")
    out("exec.core_busy_share") = (
      stages.map(_.taskMs.sum.toDouble).sum / math.max(wallMs * Main.Cores, 1.0), "share")
  }

  def plan(out: Out, ledgers: Seq[(PlanLedger, Double)], inputBatches: Int): Unit = {
    val n = inputBatches.toDouble
    Seq("analysis", "optimization", "planning").foreach { ph =>
      out(s"plan.${ph}_ms") = (ledgers.map { case (l, since) => l.ms(ph, since) }.sum / n, "ms/batch")
    }
  }

  /** Self time of each span layer, and the share of the timed wall time
    * that no layer accounts for: the self time of the structural spans
    * (the run, the benchmark's input batch, Spark's trigger). */
  def spans(out: Out, traces: Seq[Spans], inputBatches: Int): Unit = {
    val n = inputBatches.toDouble
    val self = traces.map(_.selfMs).foldLeft(Map.empty[String, Double]) { (a, m) =>
      m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) }
    }
    Seq("input_batch", "microbatch", "phase", "job", "stage").foreach { l =>
      out(s"trace.${l}_self_ms") = (self.getOrElse(l, 0.0) / n, "ms/batch")
    }
    val wall = traces.flatMap(_.all.filter(_.layer == "workload")).map(s => s.end - s.start).sum
    val loose = Seq("workload", "input_batch", "microbatch").map(self.getOrElse(_, 0.0)).sum
    out("trace.unaccounted_share") = (loose / math.max(wall, 1.0), "share")
  }
}
