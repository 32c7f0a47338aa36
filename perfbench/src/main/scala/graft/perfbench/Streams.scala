package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.{MapWithStateTTL, MapWithStateTWS}

/** The user side of every stream workload: the flagship's running sum. */
object Fold {
  val micros: Ev => Long = e => e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
  val eventId: Ev => Long = _.event_id
  val key: Ev => Long = _.user_id
  val sum: (Long, Ev, Long) => ((Long, Long, Long), Long) =
    (k, in, s) => { val s2 = s + in.cents; ((in.event_id, k, s2), s2) }

  /** One (count, hash sum) row per partition of a sink batch. */
  val digestRows: Iterator[(Long, Long, Long)] => Iterator[(Long, Long)] = { it =>
    var c = 0L; var h = 0L
    it.foreach { case (id, k, v) => c += 1; h += Digest.hash(id, k, v) }
    Iterator((c, h))
  }
}

/** What one query run saw: its input-batch spans (ms), the span from
  * query start to the end of its first batch, and its batches' progress. */
final case class QueryRun(
    batchMs: Vector[Double], firstMs: Double,
    progress: Vector[StreamingQueryProgress], failures: Vector[(Int, String)], heapAfterGcMb: Double) {
  /** Input batches with any output or state that disagrees with the model. */
  def failedBatches: Int =
    if (failures.exists(_._1 < 0)) batchMs.size else failures.map(_._1).distinct.size
}

/** Runs one stream workload: `api` is "ttl" (MapWithStateTTL over
  * flatMapGroupsWithState) or "tws" (MapWithStateTWS over
  * transformWithState); the state store provider is a session setting. */
final class StreamRunner(spark: SparkSession, api: String, feed: Feed, model: Model, log: ProgressLog) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val ttl = (Feed.TtlUs / 1000).millis
  private val sunk = new ConcurrentHashMap[Long, Digest]
  /** Time spent checking outputs against the model. */
  var verifyNs = 0L

  private def query(ds: Dataset[Ev]): Dataset[(Long, Long, Long)] = {
    val wm = ds.withWatermark("ts", "0 seconds")
    api match {
      case "tws" => MapWithStateTWS.eventTime(wm, ttl, 0L)(Fold.key, Fold.micros, Fold.eventId)(Fold.sum)
      case _ => MapWithStateTTL.eventTime(wm, ttl, 0L)(Fold.key, Fold.micros, Fold.eventId)(Fold.sum)
    }
  }

  private def start(stream: MemoryStream[Ev], ckpt: File): StreamingQuery =
    query(stream.toDS()).writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (df: Dataset[(Long, Long, Long)], id: Long) =>
        val d = df.mapPartitions(Fold.digestRows).collect()
          .foldLeft(Digest.Zero)((a, r) => a + Digest(r._1, r._2))
        sunk.put(id, d)
        ()
      }
      .start()

  /** Run feed batches from `from` on as one query on `ckpt`, which holds
    * the state of batches [0, from). Closed loop: each batch goes in only
    * after the previous one, and the no-data batch that runs its
    * evictions, have finished. `onBatch` sees each input batch's span and
    * says whether to go on; the feed ends at `until`. */
  def run(ckpt: File, from: Int, until: Int,
      onBatch: (Int, Long, Long) => Boolean = (_, _, _) => true): QueryRun = {
    sunk.clear()
    val stream = MemoryStream[Ev]
    // a restarted query resumes at the checkpoint's offset: replay the
    // already committed batches as empty offsets so the two line up
    (0 until from).foreach(_ => stream.addData(Seq.empty[Ev]))
    val t0 = System.nanoTime()
    val q = start(stream, ckpt)
    val ms = Vector.newBuilder[Double]
    var firstMs = 0.0
    var b = from
    val heapMb = try {
      var go = true
      while (go && b < until) {
        val rows = feed.batch(b)
        val s = System.nanoTime()
        stream.addData(rows)
        q.processAllAvailable()
        val e = System.nanoTime()
        if (b == from) firstMs = (e - t0) / 1e6
        ms += (e - s) / 1e6
        go = onBatch(b, s, e)
        b += 1
      }
      // heap occupancy right after full collections, with the query's
      // state still loaded; the pauses let Spark's context cleaner drop
      // the blocks of the batches the first collection found unreachable
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    } finally q.stop()
    BusDrain(spark.sparkContext)
    val progress = log.batches(q.runId)
    val v0 = System.nanoTime()
    val failures = check(progress, from, b)
    verifyNs += System.nanoTime() - v0
    QueryRun(ms.result(), firstMs, progress, failures, heapMb)
  }

  /** Each input batch against the model: exactly one data batch per
    * input batch, its sink digest, the no-data batches emitting nothing,
    * and the exact state rows, after evictions, that the model predicts. */
  private def check(progress: Vector[StreamingQueryProgress], from: Int, until: Int): Vector[(Int, String)] = {
    val data = progress.filter(_.numInputRows > 0)
    val bad = Vector.newBuilder[(Int, String)]
    if (data.size != until - from)
      bad += ((-1, s"${data.size} data batches for ${until - from} input batches"))
    data.zip(from until until).foreach { case (p, b) =>
      val got = Option(sunk.get(p.batchId)).getOrElse(Digest.Zero)
      val want = model.digest(b, b + 1)
      if (got != want) bad += ((b, s"input batch $b (batch id ${p.batchId}): sink $got, model $want"))
      val op = p.stateOperators.head
      if (op.numRowsTotal != model.stateRows(b))
        bad += ((b, s"input batch $b: ${op.numRowsTotal} state rows, model ${model.stateRows(b)}"))
      if (op.numRowsDroppedByWatermark != 0)
        bad += ((b, s"input batch $b: ${op.numRowsDroppedByWatermark} rows dropped as late"))
    }
    // a no-data batch only evicts: it must emit nothing
    val dataIds = data.map(_.batchId)
    progress.filter(_.numInputRows == 0).foreach { p =>
      val got = Option(sunk.get(p.batchId)).getOrElse(Digest.Zero)
      val b = from + dataIds.count(_ < p.batchId) - 1
      if (got.count != 0) bad += ((b, s"no-data batch ${p.batchId} emitted ${got.count} rows"))
    }
    bad.result()
  }
}

object Dirs {
  def copy(src: File, dst: File): Unit = {
    val s = src.toPath
    val walk = Files.walk(s)
    try walk.iterator.asScala.foreach { p: Path =>
      val t = dst.toPath.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  /** (bytes, files) under a directory. */
  def size(dir: File): (Long, Long) = {
    val walk = Files.walk(dir.toPath)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L))((a, p) => (a._1 + Files.size(p), a._2 + 1))
    finally walk.close()
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
