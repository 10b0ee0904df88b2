package graft

import graft.core.{Brick, RenkoEngine}
import graft.operators.{Renko, Tick}
import graft.streaming.{PriceEvent, RenkoWS}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.collection.mutable.ArrayBuffer

/** Property-based invariants of the renko scan (SURVEY §5): random walks in,
  * structural invariants out. Brick size 1.0 with integer-anchored walks
  * keeps all arithmetic exact, so invariants can be asserted with ==.
  */
class RenkoPropertySpec extends AnyFunSuite {

  /** Deterministic property sampling (no scalatest-scalacheck bridge in the
    * offline cache): N seeded samples per property.
    */
  private def forAllSampled[A](g: Gen[A], n: Int = 60)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forAllSampled2[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    (0 until 60).foreach { i =>
      body(ga.pureApply(Gen.Parameters.default, Seed(42L + i)),
        gb.pureApply(Gen.Parameters.default, Seed(4242L + i)))
    }

  private val walkGen: Gen[List[Double]] =
    for {
      n <- Gen.choose(50, 400)
      steps <- Gen.listOfN(n, Gen.choose(-200, 200)) // cents
    } yield steps.scanLeft(100.0)((p, s) => p + s / 100.0)

  private def scan(prices: Seq[Double], dropFirst: Boolean = false): Vector[Brick] = {
    val ticks = prices.zipWithIndex.map { case (p, i) => Tick("", i.toLong, p) }
    Renko.scanPartition(ticks.iterator, 1.0, dropFirst).map { r =>
      Brick(r.datetime_us, r.open, r.high, r.low, r.close, r.volume, r.direction,
        r.is_reversal, r.tick_index_open, r.tick_index_close, r.normal_high,
        r.normal_low, r.nongap_open, r.reverse_nongap_open,
        r.reverse_fake_nongap_open, r.reverse_high, r.reverse_low,
        r.fake_high, r.fake_low)
    }.toVector
  }

  test("per-brick structural invariants hold on random walks") {
    forAllSampled(walkGen) { prices =>
      val bricks = scan(prices)
      bricks.foreach { b =>
        assert(b.close == math.rint(b.close), "closes sit on the integer brick grid")
        assert(math.abs(b.close - b.open) == 1.0, "|close - open| == brickSize")
        assert(b.direction == 1 || b.direction == -1)
        assert(b.volume >= 1L)
        assert(b.high >= math.max(b.open, b.close) && b.low <= math.min(b.open, b.close),
          "wicks bound the body")
        assert(b.normalHigh == math.max(b.open, b.close) && b.normalLow == math.min(b.open, b.close))
        assert(b.isReversal == 0 || b.isReversal == 1)
        if (b.isReversal == 0) {
          assert(b.reverseHigh == b.normalHigh && b.reverseLow == b.normalLow)
          assert(b.fakeHigh == b.normalHigh && b.fakeLow == b.normalLow)
          assert(b.reverseNongapOpen == b.open && b.reverseFakeNongapOpen == b.open)
        }
      }
    }
  }

  test("brick-to-brick transitions: 1-brick advance, 2-brick reversal jump") {
    forAllSampled(walkGen) { prices =>
      val bricks = scan(prices)
      bricks.sliding(2).foreach {
        case Vector(prev, cur) =>
          val jump = cur.close - prev.close
          if (cur.direction == prev.direction) {
            assert(cur.isReversal == 0, "same-direction brick is not a reversal")
            assert(math.abs(jump) == 1.0, "same-direction advance is one brick")
          } else {
            assert(cur.isReversal == 1, "direction flip implies reversal flag")
            assert(math.abs(jump) == 2.0, "reversal skips the previous body")
            assert(cur.reverseFakeNongapOpen == prev.close,
              "fake nongap open is the previous close")
          }
        case _ =>
      }
    }
  }

  test("engine fold == chunked streaming fold (state continuity across batches)") {
    forAllSampled2(walkGen, Gen.choose(2, 7)) { (prices, chunks) =>
      val evs = prices.zipWithIndex
        .map { case (p, i) => PriceEvent("x", i.toLong, p) }.toIndexedSeq
      val (sFull, oneShot) = RenkoWS.processSorted("x", evs, None, 1.0)
      val size = math.max(1, evs.length / chunks)
      var st: Option[graft.streaming.WsState] = None
      val acc = ArrayBuffer[graft.streaming.WsBrick]()
      evs.grouped(size).foreach { chunk =>
        val (s2, out) = RenkoWS.processSorted("x", chunk, st, 1.0)
        st = Some(s2)
        acc ++= out
      }
      assert(st.contains(sFull), "final state identical regardless of batching")
      assert(acc.toSeq == oneShot, "emitted bricks identical regardless of batching")
    }
  }

  test("drop-first rule removes exactly the bricks sharing the first emitted timestamp") {
    forAllSampled(walkGen) { prices =>
      val all = scan(prices, dropFirst = false)
      val dropped = scan(prices, dropFirst = true)
      if (all.isEmpty) assert(dropped.isEmpty)
      else {
        val firstTs = all.head.ts
        assert(dropped == all.filterNot(_.ts == firstTs))
      }
    }
  }

  test("engine restore(snapshot) resumes identically") {
    forAllSampled2(walkGen, Gen.choose(10, 40)) { (prices, cut0) =>
      val cut = math.min(cut0, prices.length - 1)
      val full = new RenkoEngine(1.0)
      full.initAnchor(prices.head)
      val bufFull = ArrayBuffer[Brick]()
      prices.zipWithIndex.drop(1).foreach { case (p, i) => full.step(i.toLong, p, i.toLong, bufFull) }

      val head = new RenkoEngine(1.0)
      head.initAnchor(prices.head)
      val bufA = ArrayBuffer[Brick]()
      prices.zipWithIndex.slice(1, cut).foreach { case (p, i) => head.step(i.toLong, p, i.toLong, bufA) }
      val resumed = new RenkoEngine(1.0)
      resumed.restore(head.snapshot)
      prices.zipWithIndex.drop(cut).foreach { case (p, i) => resumed.step(i.toLong, p, i.toLong, bufA) }
      assert(bufA.toSeq == bufFull.toSeq)
      assert(resumed.snapshot == full.snapshot)
    }
  }
}
