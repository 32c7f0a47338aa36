package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The flagship benchmark: a seeded churn feed through the library's
  * keyed-TTL state operators, every batch checked against [[Model]],
  * timed from outside the library.
  *
  * {{{
  * Main --workload churn|churn_tws --seed N --seconds S --trace 0|1 --work DIR [--host-cpus N]
  * Main --selfcheck --work DIR
  * }}}
  *
  * The last stdout line is the result: {"correct", "attempted", "failed",
  * "metrics"}; with --trace 0 it carries the end-to-end metrics, with
  * --trace 1 the per-layer ones. The line before it is the run shape. */
object Main {
  val HdfsProvider = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDbProvider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  /** Fixed, not derived from the host: task slots and state partitioning
    * are part of the method. run.py pins the JVM to Cores + 1 CPUs. Spread
    * over every vCPU of a shared 4-vCPU host, the JVM waited on the
    * hypervisor at thread hand-offs, and its batch times followed the
    * host's CPU steal (medians 20-30 % apart between runs). */
  val Cores = 2
  val StatePartitions = 2
  /** Percentile reported beside the median; it needs 40 samples (ten beyond it). */
  val Tail = 0.75

  /** A stream workload: the state API ("ttl" is MapWithStateTTL over
    * flatMapGroupsWithState, "tws" is MapWithStateTWS over
    * transformWithState) and the store it runs on. */
  final case class Workload(name: String, api: String, provider: String)

  val workloads: Map[String, Workload] = Seq(
    Workload("churn", "ttl", HdfsProvider),
    Workload("churn_tws", "tws", RocksDbProvider),
  ).map(w => w.name -> w).toMap

  /** Both workloads share one feed: about 20k keys live within the TTL.
    * A fill batch of 80k events (~83 event-minutes) brings the state close
    * to its steady size; each later batch of 4000 events (~4 event-minutes)
    * inserts new keys and, through its no-data batch, evicts old ones. The
    * feed holds more batches than a run on 4 cores takes. */
  val LiveKeys = 20000
  val Shape = Feed.Shape(fillRows = 80000, batches = 140, batchRows = 4000)
  /** Warm-up batches after the restart (class loading, compilation, state
    * store caches). With C1 only (see run.py), batch times were flat after
    * about 15. */
  val WarmBatches = 15
  /** Samples: at least this many input batches, and at least `--seconds`
    * of them; a traced run turns its listeners on halfway. */
  val MinSamples = 40

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 20,
      trace: Boolean = false, work: File = new File("."), selfcheck: Boolean = false, hostCpus: Int = 0)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, a.copy(work = new File(v)))
    case "--selfcheck" :: rest => parse(rest, a.copy(selfcheck = true))
    case "--host-cpus" :: v :: rest => parse(rest, a.copy(hostCpus = v.toInt))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def session(work: File, provider: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", StatePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.sql.streaming.stateStore.providerClass", provider)
      // background maintenance (snapshots, cleanup) runs on a timer; in a
      // run of under a minute it would fire at an arbitrary batch or not
      // at all, so it is held off and every restart replays the same files
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10m")
      // the status store keeps a few recent executions, jobs and stages
      // only, so the heap reading does not grow with the number of batches
      // a run fits into its seconds
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      // checkpoint files through Hadoop's local file system without its
      // per-file process forks (see LocalFs.scala)
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    a.work.mkdirs()
    val code =
      if (a.selfcheck) SelfCheck.run(a.work)
      else stream(workloads.getOrElse(a.workload, throw new IllegalArgumentException(
        s"unknown workload '${a.workload}'; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")), a)
    sys.exit(code)
  }

  private def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def stream(w: Workload, a: Args): Int = {
    val g0 = System.nanoTime()
    val feed = Feed.churn(a.seed, LiveKeys, Shape)
    val model = new Model(feed, evictAtDeadline = w.api == "tws")
    val genS = (System.nanoTime() - g0) / 1e9
    val run = new File(a.work, s"${w.name}-${a.seed}-${ProcessHandle.current.pid}")
    val spark = session(run, w.provider)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val runner = new StreamRunner(spark, w.api, feed, model, log)

    // the fill batch brings the state to its steady size on a fresh
    // checkpoint; the timed query restarts from a copy of it, so its first
    // batch is the restart (state.restart_s), the next WarmBatches finish the
    // warm-up (codegen, class loading, state store init: setup_s ends
    // there) and the rest are the samples
    val base = new File(run, "base")
    val sessionS = uptimeS
    val fill = runner.run(base, 0, 1)
    val fillS = uptimeS - sessionS
    val (ckptBytes, ckptFiles) = Dirs.size(base)
    val dir = new File(run, "timed")
    Dirs.copy(base, dir)
    val firstSample = 2 + WarmBatches
    var setupS = 0.0
    val samples = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var ledgers = Option.empty[(TaskLedger, PlanLedger, Spans)]
    val timed = try runner.run(dir, 1, feed.batches, { (b, s, e) =>
      if (b == firstSample - 1) setupS = uptimeS
      if (b >= firstSample) samples += ((b, s, e))
      if (a.trace && samples.size == MinSamples / 2 && ledgers.isEmpty) {
        val (t, p) = Ledger.trace(spark)
        ledgers = Some((t, p, new Spans))
      }
      samples.size < MinSamples || samples.map(x => x._3 - x._2).sum < a.seconds * 1e9
    }) finally ledgers.foreach { case (t, p, _) => Ledger.untrace(spark, t, p) }
    spark.streams.removeListener(log)
    System.err.println(f"perfbench: ${w.name} seed ${a.seed}: feed and model $genS%.1f s, session at $sessionS%.1f s, fill $fillS%.1f s, set-up $setupS%.1f s, " +
      f"restart ${timed.firstMs}%.0f ms, ${samples.size} samples, at $uptimeS%.1f s")

    def spanMs(x: (Int, Long, Long)) = (x._3 - x._2) / 1e6
    def eps(xs: Seq[(Int, Long, Long)]) = xs.map(x => feed.batchRows(x._1)).sum / (xs.map(spanMs).sum / 1000)
    val (plain, traced) = samples.toVector.splitAt(if (a.trace) MinSamples / 2 else samples.size)
    val ms = plain.map(spanMs)
    val sampleProgress = fromInput(timed.progress, firstSample - 1)
    val rowsPeak = sampleProgress.map(_.stateOperators.head.numRowsTotal).max
    (fill.failures ++ timed.failures).take(20).foreach(f => System.err.println(s"MISMATCH ${w.name}: ${f._2}"))
    val attempted = 1 + timed.batchMs.size
    val failed = fill.failedBatches + timed.failedBatches
    val shape = runShape(spark, w, a, feed, samples.size)
    spark.stop()
    Dirs.delete(run)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("events_per_s") = (eps(plain), "1/s")
      metrics("batch_ms_p50") = (Stats.median(ms), "ms")
      metrics("batch_ms_p75") = (Stats.percentile(ms, Tail), "ms")
      metrics("state_rows_peak") = (rowsPeak.toDouble, "count")
      metrics("heap_peak_mb") = (timed.heapAfterGcMb, "MB")
    } else {
      val (tasks, plans, spans) = ledgers.get
      val since = spans.at(traced.head._2)
      val root = spans.add(-1, "workload", w.name, since, spans.at(traced.last._3))
      val holders = traced.map { case (b, s, e) => spans.add(root, "input_batch", s"input batch $b", spans.at(s), spans.at(e)) }
      val jobs = tasks.since(since)
      spans.attach(fromInput(timed.progress, traced.head._1 - 1), jobs, holders)
      val sampleBatches = samples.size
      Layers.microbatch(metrics, sampleProgress, sampleBatches)
      Layers.state(metrics, sampleProgress, sampleBatches,
        rowsPeak.toDouble / model.maxLiveKeys(firstSample, firstSample + sampleBatches),
        ckptBytes, ckptFiles, timed.progress, samples.map(x => feed.batchRows(x._1).toLong).sum)
      Layers.exec(metrics, jobs, traced.size, traced.map(spanMs).sum)
      Layers.plan(metrics, Seq((plans, since)), traced.size)
      Layers.spans(metrics, Seq(spans), traced.size)
      metrics("state.restart_s") = (timed.firstMs / 1000, "s")
      metrics("harness.gen_s") = (genS, "s")
      metrics("harness.verify_s") = (runner.verifyNs / 1e9, "s")
      metrics("harness.failed_share") = (failed.toDouble / attempted, "share")
      metrics("harness.trace_overhead_share") = (eps(plain) / eps(traced) - 1, "share")
      val f = new File(a.work, s"trace-${w.name}-${a.seed}.json")
      Files.write(f.toPath, spans.json.getBytes(UTF_8))
      System.err.println(s"perfbench: spans written to $f")
    }
    println(shape)
    println(result(failed == 0, attempted, failed, metrics))
    0
  }

  /** Progress from the `k`-th input batch of a run on (0-based), with the
    * no-data batches that follow each. */
  def fromInput(p: Vector[StreamingQueryProgress], k: Int): Vector[StreamingQueryProgress] = {
    val data = p.zipWithIndex.filter(_._1.numInputRows > 0).map(_._2)
    if (k >= data.size) Vector.empty else p.drop(data(k))
  }

  /** How the run was made. The host's load average is evidence only: it
    * changes nothing in the method. */
  def runShape(spark: SparkSession, w: Workload, a: Args, feed: Feed, samples: Int): String = {
    val load = Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8).trim).getOrElse("unknown")
    val fields = Seq[(String, Any)](
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> (if (a.trace) 1 else 0),
      "nproc" -> a.hostCpus, "jvm_cpus" -> Runtime.getRuntime.availableProcessors, "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "state_api" -> (if (w.api == "tws") "transformWithState" else "flatMapGroupsWithState"),
      "state_provider" -> w.provider.split('.').last, "state_partitions" -> StatePartitions,
      "live_keys" -> LiveKeys, "ttl_us" -> Feed.TtlUs, "feed_events" -> feed.size,
      "fill_rows" -> Shape.fillRows, "batch_rows" -> Shape.batchRows, "warm_up_batches" -> WarmBatches,
      "batch_samples" -> samples, "tail_percentile" -> Tail,
      "load" -> "closed loop: one query, next batch after processAllAvailable returns",
      "host_loadavg" -> load)
    fields.map {
      case (k, v: String) => s""""$k":${Json.str(v)}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("""{"run_shape":{""", ",", "}}")
  }

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: collection.Map[String, (Double, String)]): String = {
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
