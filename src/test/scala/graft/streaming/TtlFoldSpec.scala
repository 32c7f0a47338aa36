package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The TTL contract of [[TtlFold]], pinned as a table of cases with no
  * SparkSession: every keyed-TTL adapter inherits these rules. */
class TtlFoldSpec extends AnyFunSuite {

  private val Ttl = 1000L
  private val Default = Vector(-1)

  /** A row: its id, its clock and its tiebreak. */
  private case class Row(id: Int, t: Long, tb: Long = 0L)

  /** One fold case. The state is the list of row ids folded since the
    * last restart (from [[Default]]), emitted after every row. With
    * `procNowMs` set the clock is that constant and the order arrival
    * order, as processing-time adapters call it; otherwise both come
    * from the row. */
  private case class Case(
      name: String,
      prior: Option[(Vector[Int], Long)],
      rows: Seq[Row],
      outs: Seq[Vector[Int]],
      last: Long,
      procNowMs: Option[Long] = None)

  private val cases = Seq(
    Case("gap == ttl keeps the state",
      Some((Vector(0), 0L)), Seq(Row(1, Ttl)), Seq(Vector(0, 1)), Ttl),
    Case("gap == ttl + 1 µs resets it",
      Some((Vector(0), 0L)), Seq(Row(1, Ttl + 1)), Seq(Vector(-1, 1)), Ttl + 1),
    Case("a gap past ttl inside one slice resets mid-slice",
      Some((Vector(0), 0L)), Seq(Row(2, Ttl + 6), Row(1, 5)),
      Seq(Vector(0, 1), Vector(-1, 2)), Ttl + 6),
    Case("equal timestamps fold in tiebreak order",
      Some((Vector(0), 0L)), Seq(Row(1, 7, tb = 9), Row(2, 7, tb = 3), Row(3, 7, tb = 5)),
      Seq(Vector(0, 2), Vector(0, 2, 3), Vector(0, 2, 3, 1)), 7),
    Case("a key with no prior state starts from default",
      None, Seq(Row(1, Long.MinValue + 1), Row(2, Long.MinValue + 2)),
      Seq(Vector(-1, 1), Vector(-1, 1, 2)), Long.MinValue + 2),
    Case("a processing-time clock resets at most once per batch, in arrival order",
      Some((Vector(0), 0L)), Seq(Row(3, 90), Row(1, 10), Row(2, 50)),
      Seq(Vector(-1, 3), Vector(-1, 3, 1), Vector(-1, 3, 1, 2)), Ttl + 1,
      procNowMs = Some(Ttl + 1)),
    Case("a processing-time clock keeps state at gap == ttl",
      Some((Vector(0), 5L)), Seq(Row(1, 0)), Seq(Vector(0, 1)), Ttl + 5,
      procNowMs = Some(Ttl + 5)))

  cases.foreach { c =>
    test(s"fold: ${c.name}") {
      val (clockOf, orderOf, tiebreak): (Row => Long, Row => Long, Row => Long) =
        c.procNowMs match {
          case Some(now) => (_ => now, _ => 0L, _ => 0L)
          case None => (_.t, _.t, _.tb)
        }
      val (outs, s, last) = TtlFold.fold[String, Row, Vector[Int], Vector[Int]](
        "k", c.rows.iterator, c.prior, Default, Ttl, clockOf, orderOf, tiebreak,
        (_, row, s) => { val s2 = s :+ row.id; (s2, s2) })
      assert(outs == c.outs)
      assert(s == c.outs.last)
      assert(last == c.last)
    }
  }

  // (lastUs, ttlUs, watermarkMs, deadline)
  private val deadlines = Seq(
    (1500L, 1000000L, 0L, 1002L), // sub-ms: 1001.5 ms rounds up to 1002
    (1000L, 1000000L, 0L, 1002L), // exact ms: strictly past 1001
    (1999L, 1000000L, 0L, 1002L),
    (0L, 1000L, 5000L, 5001L), // watermark already past: just ahead of it
    (4000999L, 1000L, 4001L, 4002L))

  deadlines.foreach { case (lastUs, ttlUs, wm, want) =>
    test(s"deadlineMs($lastUs µs, ttl $ttlUs µs, watermark $wm ms) == $want") {
      val d = TtlFold.deadlineMs(lastUs, ttlUs, wm)
      assert(d == want)
      assert(d * 1000 > lastUs + ttlUs && d >= wm + 1)
    }
  }

  test("native TTL runs 1 ms past the contract's ttl") {
    assert(TtlFold.nativeTtl(1800000L).ttlDuration.toMillis == 1800001L)
  }
}
