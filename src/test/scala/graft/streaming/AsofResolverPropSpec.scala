package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property pin for the shared as-of resolver protocol — pure driver-side
  * (no Spark session): the watermark-buffered variants' drain loop,
  * simulated exactly as `asofMatchesWatermarked`'s state function runs it
  * (filter late rows, buffer at-or-above-watermark rows, drain strictly-
  * below-watermark rows through [[Streams.resolveAsof]]), must produce
  * the SAME matches as a first-principles batch as-of over the full
  * event-time-ordered sequence — for ANY event set, ANY batch split, ANY
  * within-batch arrival order, and ANY watermark delay, as long as rows
  * arrive within the allowed lateness. This is the algebraic core the
  * streaming specs sample at a few pinned points; here it is quantified.
  *
  * (ScalaCheck generators sampled with a fixed seed — the scalatestplus
  * bridge isn't available offline; same pattern as PerceptualPropSpec.) */
class AsofResolverPropSpec extends AnyFunSuite {

  private case class Ev(id: Long, us: Long, tpe: String)

  private def samples[A](g: Gen[A], n: Int = 300): Seq[A] = {
    var seed = Seed(17L)
    (1 to n).flatMap { _ =>
      seed = seed.next
      try Some(g.pureApply(Gen.Parameters.default, seed, 100)) catch { case _: Throwable => None }
    }
  }

  /** First-principles batch as-of: per purchase, the latest view at or
    * before it, views winning by (us, id); one match row per purchase. */
  private def batchAsof(evs: Seq[Ev]): Map[Long, (Option[Long], Option[Long])] =
    evs.filter(_.tpe == "purchase").map { p =>
      val m = evs.filter(v => v.tpe == "view" && v.us <= p.us)
        .sortBy(v => (v.us, v.id)).lastOption
      p.id -> (m.map(_.id), m.map(_.us))
    }.toMap

  /** The streaming protocol, simulated: per batch, drop rows already
    * beyond the current watermark, buffer the rest, drain strictly-
    * below-watermark rows through the shared resolver, then advance the
    * watermark to (max arrival − delay, monotone) — Spark updates
    * watermarks at batch boundaries; a final infinite-watermark drain
    * stands in for the flush / event-time timers. */
  private def streamAsof(batches: Seq[Seq[Ev]], delayUs: Long): Map[Long, (Option[Long], Option[Long])] = {
    var wmUs = 0L
    var buf = List.empty[(Long, Long, String)]
    var latest: Option[(Long, Long)] = None
    val out = Map.newBuilder[Long, (Option[Long], Option[Long])]
    def drain(w: Long): Unit = {
      val (ready, hold) = buf.partition(_._2 < w)
      val (l2, matches) = Streams.resolveAsof(1L, latest, ready)
      latest = l2
      buf = hold
      matches.foreach(m => out += m.purchase_id -> (m.view_id, m.v_us))
    }
    batches.foreach { b =>
      val kept = b.filter(_.us >= wmUs).map(e => (e.id, e.us, e.tpe))
      drain(wmUs) // buffered rows the previous boundary made resolvable
      buf = buf ++ kept
      b.map(_.us).maxOption.foreach(mx => wmUs = math.max(wmUs, math.max(0L, mx - delayUs)))
    }
    drain(Long.MaxValue) // the flush / event-time-timer drain
    out.result()
  }

  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(1, 24)
    evs <- Gen.listOfN(n, for {
      us <- Gen.choose(0L, 40L)
      isView <- Gen.oneOf(true, false)
    } yield (us, isView))
  } yield evs.zipWithIndex.map { case ((us, v), i) =>
    Ev(100L + i, us, if (v) "view" else "purchase") }

  private val genCase: Gen[(List[Ev], Int, Long, Long)] = for {
    evs <- genEvents
    nSplits <- Gen.choose(0, 5)
    delay <- Gen.choose(0L, 45L)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield (evs, nSplits, delay, seed)

  test("watermark-buffered protocol == batch as-of for any split and any delay") {
    val cases = samples(genCase)
    assert(cases.size > 200)
    cases.foreach { case (evs, nSplits, delay, seed) =>
      // split into batches whose DELIVERY order respects event time
      // ACROSS batches (sorted, then cut at random points), scrambled
      // WITHIN each batch. Under cross-batch event-time order no row
      // can ever be beyond-lateness for ANY delay, so small delays are
      // legal here — and they are the interesting ones: they force
      // real incremental mid-stream drains instead of one final flush.
      val rnd = new scala.util.Random(seed)
      val ordered = evs.sortBy(e => (e.us, e.id))
      val cuts = (0 until nSplits).map(_ => rnd.nextInt(ordered.length + 1)).sorted
      val batches = (Seq(0) ++ cuts ++ Seq(ordered.length)).sliding(2).collect {
        case Seq(a, b) if b > a => rnd.shuffle(ordered.slice(a, b))
      }.toSeq
      assert(streamAsof(batches, delay) == batchAsof(evs),
        s"delay=$delay splits=$cuts events=$evs")
    }
  }

  test("arbitrary cross-batch disorder within the horizon still equals batch") {
    val cases = samples(for { e <- genEvents; s <- Gen.choose(Long.MinValue, Long.MaxValue) } yield (e, s))
    assert(cases.size > 200)
    cases.foreach { case (evs, seed) =>
      // fully scrambled delivery in 3 batches — legal because the delay
      // covers the whole time range, so no row is ever late-dropped
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(evs)
      val k = math.max(1, shuffled.length / 3)
      val batches = shuffled.grouped(k).toSeq
      assert(streamAsof(batches, delayUs = 41L) == batchAsof(evs), s"events=$evs")
    }
  }

  test("beyond-lateness rows are dropped, everything else still resolves") {
    // deterministic pinned case: a view older than the watermark on
    // arrival is lost (the standard lateness loss); the purchase then
    // matches the surviving earlier view
    val b1 = Seq(Ev(1, 0, "view"), Ev(2, 100, "view")) // wm after: 100-10=90
    val b2 = Seq(Ev(3, 50, "view"))                    // 50 < 90: dropped
    val b3 = Seq(Ev(4, 120, "purchase"))
    val got = streamAsof(Seq(b1, b2, b3), delayUs = 10L)
    assert(got == Map(4L -> (Some(2L), Some(100L))))
  }
}
