package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Every progress report of every query, read through the listener:
  * `recentProgress` keeps only the last 100 and would silently drop the
  * rest of a long run. */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  /** The executed micro-batches of one query run, in batch order. A
    * trigger that found nothing to do carries no `addBatch` phase (the
    * idle first trigger of a fresh query reports sink rows -1); it is
    * not a batch and is dropped here. */
  def batches(runId: java.util.UUID): Vector[StreamingQueryProgress] =
    all.asScala.filter(p => p.runId == runId && p.durationMs.containsKey("addBatch"))
      .toVector.sortBy(_.batchId)
}

/** Task, stage and job accounting from Spark's own listener events
  * (traced runs only). Times are epoch ms, as the events carry them. */
final class TaskLedger extends SparkListener {
  import TaskLedger._
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, e.time, -1, batch, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.start = i.submissionTime.getOrElse(-1L); s.end = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      s.taskMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
    }
  }

  /** Finished jobs that started at or after `sinceMs`, with their stages. */
  def since(sinceMs: Double): Seq[(Job, Seq[Stage])] = synchronized {
    jobs.values.filter(j => j.start >= sinceMs && j.end >= 0).toSeq.map { j =>
      j -> stages.values.filter(s => j.stages.contains(s.id) && s.end >= 0).toSeq
    }
  }
}

object TaskLedger {
  final case class Job(id: Int, start: Long, var end: Long, batchId: Option[Long], stages: Seq[Int])
  final class Stage(val id: Int, val attempt: Int) {
    var start = -1L; var end = -1L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spill = 0L
    /** Max over median task time. */
    def skew: Double = {
      val t = taskMs.sorted
      t.last.toDouble / math.max(Stats.median(t.map(_.toDouble).toSeq), 1.0)
    }
  }
}

/** Catalyst phase times of every executed query (traced runs only). */
final class PlanLedger extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  /** Total ms of a phase over the queries planned at or after `sinceMs`. */
  def ms(phase: String, sinceMs: Double): Double = synchronized {
    phases.iterator.filter(p => p._1 == phase && p._2 >= sinceMs).map(p => (p._3 - p._2).toDouble).sum
  }
}

/** In-memory spans of a traced run: name, start, end (epoch ms) and the
  * span that caused it. Written out once, when the benchmark ends. */
final class Spans {
  import Spans.Span
  val all = mutable.ArrayBuffer.empty[Span]
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** A `System.nanoTime` reading as epoch ms, the clock Spark's events use. */
  def at(nanoTime: Long): Double = epochMs0 + (nanoTime - nano0) / 1e6

  def add(parent: Int, layer: String, name: String, start: Double, end: Double): Int = {
    all += Span(all.size, parent, layer, name, start, end)
    all.size - 1
  }

  /** Attach Spark's micro-batch phases (from the progress reports) under
    * the input batch whose span holds the trigger, and each job (with its
    * stages) under the `addBatch` phase of its micro-batch. The reports
    * give phase durations but not their starts, so the phases are laid
    * out in the order the engine runs them. */
  def attach(progress: Seq[StreamingQueryProgress], jobs: Seq[(TaskLedger.Job, Seq[TaskLedger.Stage])],
      holders: Seq[Int]): Unit = {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val addBatchOf = mutable.Map.empty[Long, Int]
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      holders.find(h => all(h).start - 1 <= start && start <= all(h).end + 1).foreach { parent =>
        val trig = add(parent, "microbatch", s"batch ${p.batchId}", start, start + d.getOrElse("triggerExecution", 0.0))
        var t = start
        order.foreach { ph =>
          d.get(ph).foreach { ms =>
            val id = add(trig, "phase", ph, t, t + ms)
            if (ph == "addBatch") addBatchOf(p.batchId) = id
            t += ms
          }
        }
      }
    }
    for ((j, stages) <- jobs; pid <- j.batchId.flatMap(addBatchOf.get)) {
      val jid = add(pid, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
      stages.foreach(s => add(jid, "stage", s"stage ${s.id}.${s.attempt}", s.start.toDouble, s.end.toDouble))
    }
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * children cover. */
  def selfMs: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, spans) =>
      layer -> spans.map { s =>
        val covered = Stats.union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(c => c._2 > c._1).toSeq)
        math.max(0.0, s.end - s.start - covered)
      }.sum
    }
  }

  def json: String = all.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}","start":${s.start},"end":${s.end}}""")
    .mkString("[\n", ",\n", "\n]")
}

object Spans {
  final case class Span(id: Int, parent: Int, layer: String, name: String, start: Double, end: Double)
}

object Ledger {
  /** Register the listeners of a traced run. */
  def trace(spark: SparkSession): (TaskLedger, PlanLedger) = {
    val t = new TaskLedger; val p = new PlanLedger
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(p)
    (t, p)
  }
  def untrace(spark: SparkSession, t: TaskLedger, p: PlanLedger): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(p)
  }
}
