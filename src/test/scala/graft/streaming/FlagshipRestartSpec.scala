package graft.streaming

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.concurrent.duration._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase

/** The flagship's eviction state survives a crash and a replay — the
  * reason the reference checkpointed its pending tombstones
  * (`MapWithState.java:376-392`). The event-time TTL operator, on
  * `flatMapGroupsWithState` with the HDFS-backed store and on
  * `transformWithState` with RocksDB, is stopped mid-feed and restarted
  * from its checkpoint; in a second run the last `commits/` entry is
  * deleted first, so that batch runs again. Each interrupted run must
  * emit, per batch id, exactly what an uninterrupted run emits, and hold
  * exactly its state rows after every batch: no evicted key comes back
  * and no live key is lost.
  */
class FlagshipRestartSpec extends SparkTestBase {
  import FlagshipRestartSpec._

  private val Ttl = 10.minutes
  private val Batches = 8
  /** Input batches fed before the interruption. */
  private val StopAfter = 4

  /** 48 keys arriving 121 s apart, 4 events each and then idle for
    * good; gaps of 1, 5, 10 (== ttl: continues), 11 or 25 (> ttl:
    * restarts) minutes. No two events share a timestamp, and the feed is
    * cut in time order, so no batch holds an event at or behind the
    * watermark (which would be dropped as late). */
  private lazy val feed: Seq[Seq[Ev]] = {
    val rnd = new scala.util.Random(7)
    val gapsMin = Vector(1, 5, 10, 11, 25)
    val t0Ms = 1704067200000L // 2024-01-01T00:00:00Z
    val evs = for (k <- 0 until 48) yield {
      var ms = t0Ms + k * 121000L
      (0 until 4).map { i =>
        if (i > 0) ms += gapsMin(rnd.nextInt(gapsMin.size)) * 60000L
        Ev(k * 10L + i, k.toLong, new Timestamp(ms), (k + 1) * 100L + i)
      }
    }
    val sorted = evs.flatten.sortBy(e => (e.ts.getTime, e.event_id))
    sorted.grouped((sorted.size + Batches - 1) / Batches).toSeq
  }

  private sealed trait Cut
  private case object Uninterrupted extends Cut
  private case object StopRestart extends Cut
  private case object ReplayLast extends Cut

  private case class Api(
      name: String,
      provider: Option[String],
      plan: Dataset[Ev] => Dataset[Out])

  private val apis = Seq(
    Api("MapWithStateTTL.eventTime on the HDFS store", None, ds => {
      val s = spark
      import s.implicits._
      MapWithStateTTL.eventTime(ds, Ttl, defaultState = 0L)(
        _.user_id, e => TsUtil.micros(e.ts), _.event_id)(runningCents)
    }),
    Api("MapWithStateTWS.eventTime on RocksDB",
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"), ds => {
        val s = spark
        import s.implicits._
        MapWithStateTWS.eventTime(ds, Ttl, defaultState = 0L)(
          _.user_id, e => TsUtil.micros(e.ts), _.event_id)(runningCents)
      }))

  private def withProvider[T](provider: Option[String])(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Deletes the newest commit-log entry (and its checksum); returns its
    * batch id. */
  private def deleteLastCommit(ckpt: File): Long = {
    val commits = new File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Seq(s"$last", s".$last.crc").foreach(n => new File(commits, n).delete())
    last
  }

  /** Runs the whole feed through `api`, interrupted as `cut` says.
    * Returns the sink rows and the state rows after each batch id. */
  private def run(api: Api, cut: Cut): (Map[Long, Seq[Out]], Map[Long, Long]) =
    withProvider(api.provider) {
      val s = spark
      import s.implicits._
      implicit val sqlCtx = spark.sqlContext
      val tag = s"${api.name}/$cut"
      val ckpt = Files.createTempDirectory("graft_flagship_restart").toFile
      val stream = MemoryStream[Ev]
      val stateRows = mutable.Map.empty[Long, Long]
      def start() = api.plan(stream.toDS().withWatermark("ts", "0 seconds"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: Dataset[Out], id: Long) =>
          val rows = batch.collect().toSeq.sorted
          sink.synchronized {
            sink((tag, id)) = rows
            calls((tag, id)) = calls.getOrElse((tag, id), 0) + 1
          }
          ()
        }.start()
      def feedAll(q: org.apache.spark.sql.streaming.StreamingQuery, batches: Seq[Seq[Ev]]): Unit =
        batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      // a trigger without an addBatch phase ran no batch
      def recordState(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
        q.recentProgress.filter(_.durationMs.containsKey("addBatch")).foreach { p =>
          stateRows(p.batchId) = p.stateOperators.head.numRowsTotal
        }

      var replayed = -1L
      val q1 = start()
      try {
        feedAll(q1, if (cut == Uninterrupted) feed else feed.take(StopAfter))
        recordState(q1)
      } finally q1.stop()
      if (cut != Uninterrupted) {
        if (cut == ReplayLast) replayed = deleteLastCommit(ckpt)
        val q2 = start()
        try {
          feedAll(q2, feed.drop(StopAfter))
          recordState(q2)
        } finally q2.stop()
      }
      val out = sink.synchronized {
        sink.collect { case ((`tag`, id), rows) => id -> rows }.toMap
      }
      if (replayed >= 0)
        assert(sink.synchronized(calls((tag, replayed))) == 2,
          s"$tag: batch $replayed did not run again after its commit was deleted")
      (out, stateRows.toMap)
    }

  apis.foreach { api =>
    lazy val reference = run(api, Uninterrupted)

    Seq(StopRestart, ReplayLast).foreach { cut =>
      test(s"${api.name}: $cut == an uninterrupted run, per batch id (sink rows and numRowsTotal)") {
        val (refOut, refRows) = reference
        // the feed must exercise the contract: resets and evictions
        assert(refOut.values.flatten.size == feed.flatten.size)
        val cents = feed.flatten.map(e => e.event_id -> e.cents).toMap
        assert(refOut.values.flatten.exists { case (id, _, run) =>
          id % 10 > 0 && run == cents(id) }, "no key restarted after a gap past the ttl")
        val counts = refRows.toSeq.sortBy(_._1).map(_._2)
        assert(counts.sliding(2).exists { case Seq(a, b) => b < a },
          s"no batch evicted state: $counts")

        val (got, gotRows) = run(api, cut)
        assert(got.keySet == refOut.keySet,
          s"batch ids differ: ${got.keySet.toSeq.sorted} vs ${refOut.keySet.toSeq.sorted}")
        refOut.keys.toSeq.sorted.foreach { id =>
          assert(got(id) == refOut(id), s"batch $id output differs from the uninterrupted run")
        }
        assert(gotRows == refRows, s"state rows per batch: $gotRows vs $refRows")
      }
    }
  }
}

object FlagshipRestartSpec {
  /** (event_id, key, running cents). */
  type Out = (Long, Long, Long)

  val runningCents: (Long, Ev, Long) => (Out, Long) =
    (k, in, sum) => { val s2 = sum + in.cents; ((in.event_id, k, s2), s2) }

  val sink: mutable.Map[(String, Long), Seq[Out]] = mutable.Map.empty
  val calls: mutable.Map[(String, Long), Int] = mutable.Map.empty
}
