package graft.perfbench

import java.io.File

import scala.util.Try

/** The benchmark's own checks, run with `run.py --selfcheck`:
  *  - every feed is a pure function of its seed;
  *  - the model gets the TTL boundaries right (gap == ttl keeps the sum,
  *    gap > ttl restarts it, equal timestamps fold in event_id order), and
  *    both state APIs of the library agree with it batch by batch, state
  *    rows included, on a tiny hand-made feed;
  *  - the percentile rule: a percentile needs ten samples beyond it. */
object SelfCheck {
  private val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private def check(name: String)(body: => Option[String]): Unit = {
    val r = Try(body).fold(e => Some(s"threw $e"), identity)
    results += ((name, r.isEmpty, r.getOrElse("")))
    System.err.println(s"selfcheck ${if (r.isEmpty) "ok  " else "FAIL"} $name ${r.getOrElse("")}")
  }

  def run(work: File): Int = {
    val shape = Feed.Shape(fillRows = 3000, batches = 5, batchRows = 500)
    check("churn feed is a pure function of the seed") {
      val (a, b, c) = (Feed.churn(7, 2000, shape), Feed.churn(7, 2000, shape), Feed.churn(8, 2000, shape))
      if (!same(a, b)) Some("two feeds of seed 7 differ")
      else if (same(a, c)) Some("seeds 7 and 8 gave the same feed")
      else if (a.size != shape.total) Some(s"${a.size} events, expected ${shape.total}")
      else None
    }
    check("model digests are a pure function of the seed") {
      val (a, b) = (new Model(Feed.churn(7, 2000, shape)), new Model(Feed.churn(7, 2000, shape)))
      if (a.digest(0, 6) == b.digest(0, 6) && a.stateRows.sameElements(b.stateRows)) None
      else Some(s"${a.digest(0, 6)} vs ${b.digest(0, 6)}")
    }

    val (feed, want) = boundaryFeed()
    val model = new Model(feed)
    check("model: gap == ttl keeps, gap > ttl restarts, ties fold in event_id order") {
      val got = model.running.toSeq
      if (got == want) None else Some(s"running sums $got, expected $want")
    }

    check("percentile rule: p75 needs 40 samples, p90 needs 100") {
      val ok40 = Try(Stats.percentile((1 to 40).map(_.toDouble), 0.75)).toOption
      val bad39 = Try(Stats.percentile((1 to 39).map(_.toDouble), 0.75)).isFailure
      val bad99 = Try(Stats.percentile((1 to 99).map(_.toDouble), 0.9)).isFailure
      val ok100 = Try(Stats.percentile((1 to 100).map(_.toDouble), 0.9)).toOption
      if (ok40.contains(30.0) && bad39 && bad99 && ok100.contains(90.0)) None
      else Some(s"p75(1..40)=$ok40 rejected39=$bad39 rejected99=$bad99 p90(1..100)=$ok100")
    }

    // Spark keeps the first session's local dirs for the whole JVM, so
    // both sessions live under one directory, deleted at the end
    val root = new File(work, s"selfcheck-${ProcessHandle.current.pid}")
    Seq("ttl" -> Main.HdfsProvider, "tws" -> Main.RocksDbProvider).foreach { case (api, provider) =>
      val dir = new File(root, api)
      val spark = Main.session(dir, provider)
      val log = new ProgressLog
      spark.streams.addListener(log)
      try {
        check(s"$api on ${provider.split('.').last} matches the model batch by batch") {
          val m = new Model(feed, evictAtDeadline = api == "tws")
          val r = new StreamRunner(spark, api, feed, m, log).run(new File(dir, "ckpt"), 0, feed.batches)
          if (r.failures.isEmpty) None else Some(r.failures.map(_._2).mkString("; "))
        }
      } finally spark.stop()
    }
    Dirs.delete(root)

    val failed = results.count(!_._2)
    println(s"""{"selfcheck":{"passed":${results.size - failed},"failed":$failed}}""")
    if (failed == 0) 0 else 1
  }

  private def same(a: Feed, b: Feed): Boolean =
    a.user.sameElements(b.user) && a.us.sameElements(b.us) && a.cents.sameElements(b.cents) &&
      a.cuts.sameElements(b.cuts)

  /** Seven input batches that put every rule of the contract on an edge,
    * with the running sums they must produce (by event_id). */
  private def boundaryFeed(): (Feed, Seq[Long]) = {
    val ttl = Feed.TtlUs; val t0 = Feed.T0; val min = Feed.MinuteUs
    val (a, b, c, d, f) = (1L, 2L, 3L, 4L, 5L)
    // (batch, key, us, cents, expected running sum)
    val rows = Seq(
      (0, a, t0, 100L, 100L), (0, b, t0 + 1, 200L, 200L),
      (1, b, t0 + 10 * min, 300L, 500L),
      (2, a, t0 + ttl, 400L, 500L), // gap == ttl: the session continues
      (3, c, t0 + 2 * ttl + 5000000, 50L, 50L), // the watermark passes a and b: both evicted
      (4, a, t0 + 2 * ttl + 5000001, 600L, 600L), // a comes back fresh
      (5, d, t0 + 3 * ttl, 10L, 10L),
      // d's gap is ttl + 1 us, but the watermark (d's own event) has not
      // passed it: no eviction, the data path must restart the sum
      (6, d, t0 + 4 * ttl + 1, 20L, 20L),
      (6, f, t0 + 4 * ttl + 1, 1L, 1L), (6, f, t0 + 4 * ttl + 1, 2L, 3L)) // equal ts
    val cuts = (0 to 7).map(bt => rows.indexWhere(_._1 >= bt) match { case -1 => rows.size; case i => i }).toArray
    (Feed(rows.map(_._2).toArray, rows.map(_._3).toArray, rows.map(_._4).toArray, cuts), rows.map(_._5))
  }
}
