package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("a worker that outlives the drain wait fails the group, beside the original cause") {
    val started = new CountDownLatch(1)
    val boom = new RuntimeException("boom")
    // swallows the cancel interrupt and keeps running for 3 s
    val stubborn: () => Unit = () => {
      started.countDown()
      val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(3)
      while (System.nanoTime() < until)
        try Thread.sleep(50) catch { case _: InterruptedException => () }
    }
    val failing: () => Unit = () => { started.await(); throw boom }
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](Par.runJobs(Seq(failing, stubborn), drainWaitMs = 1000L))
    val waitedMs = TimeUnit.NANOSECONDS.toMillis(System.nanoTime() - t0)
    assert(e eq boom, "the original failure is what the caller sees")
    val stuck = e.getSuppressed.collect { case s: IllegalStateException => s }
    assert(stuck.length == 1 && stuck.head.getMessage.contains("1 worker"), e.getSuppressed.toSeq)
    assert(waitedMs >= 1000L && waitedMs < 2900L, s"returned after $waitedMs ms")
  }

  test("overlapped: a body that fails first still waits for the slow build, whose error is attached") {
    val started = new CountDownLatch(1)
    val boom = new RuntimeException("stream failed")
    val buildErr = new IllegalStateException("build failed")
    @volatile var buildEnded = 0L
    val slowBuild: () => Int = () => {
      started.countDown()
      Thread.sleep(800)
      buildEnded = System.nanoTime()
      throw buildErr
    }
    val e = intercept[RuntimeException] {
      Par.overlapped(slowBuild) { _ => started.await(); throw boom }
    }
    val returned = System.nanoTime()
    assert(e eq boom, "the body's failure is what the caller sees")
    assert(e.getSuppressed.toSeq == Seq(buildErr), e.getSuppressed.toSeq)
    assert(buildEnded > 0L && buildEnded <= returned, "returned before the build ended")
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName == "graft-async-build" && t.isAlive),
      "a graft-async-build thread outlived the call")
  }
}
