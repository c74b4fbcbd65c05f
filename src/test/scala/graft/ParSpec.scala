package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par.concurrently]]'s contract, Spark-free: input-order results,
  * and a failing task cancels its siblings instead of waiting them out. */
class ParSpec extends AnyFunSuite {

  test("concurrently returns results in input order") {
    val got = Par.concurrently(Seq(
      () => { Thread.sleep(200); 1 }, () => 2, () => { Thread.sleep(50); 3 }))
    assert(got === Seq(1, 2, 3))
  }

  test("concurrently: a failing task interrupts its sleeping sibling and its own cause propagates") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    object Boom extends RuntimeException("boom")
    // the sleeper comes FIRST in input order: an in-order wait would sit
    // on it for its whole sleep before ever seeing the failure
    val sleeper = () => {
      started.countDown()
      try { Thread.sleep(10000); 0 }
      catch { case e: InterruptedException => interrupted.countDown(); throw e }
    }
    val failer = () => { started.await(); throw Boom }
    val t0 = System.nanoTime()
    val ex = intercept[RuntimeException] {
      Par.concurrently(Seq(sleeper, failer))
    }
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ex eq Boom, s"the original cause must propagate, got $ex")
    assert(interrupted.await(1, TimeUnit.SECONDS),
      "the sleeping sibling was never interrupted")
    assert(ms < 5000, s"failure surfaced only after ${ms} ms")
  }
}
