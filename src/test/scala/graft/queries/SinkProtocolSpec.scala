package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The write-once sink protocol's waiter: when the writer it awaits
  * fails, it retries the race for the slot only if the cause is NonFatal,
  * and rethrows a fatal cause. */
class SinkProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A writer that fails with `cause` while a second caller waits on
    * it: returns (the writer's throwable, the waiter's outcome). */
  private def race(prefix: String, cause: Throwable)
      : (Option[Throwable], Either[Throwable, Long]) = {
    val writing = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var writerErr: Option[Throwable] = None
    @volatile var waiterOut: Either[Throwable, Long] = Left(null)
    val writer = new Thread(() =>
      try Dedup.materializeOnce(spark, prefix, TestSpark.sf) {
        writing.countDown(); release.await(); throw cause
      } catch { case t: Throwable => writerErr = Some(t) })
    val waiter = new Thread(() =>
      waiterOut =
        try Right(Dedup.materializeOnce(spark, prefix, TestSpark.sf)(
          spark.range(3).toDF("id")).count())
        catch { case t: Throwable => Left(t) })
    writer.start()
    assert(writing.await(60, TimeUnit.SECONDS))
    waiter.start()
    // the waiter parks in the future's join only after the writer
    // published it, so WAITING means it awaits this writer
    val deadline = System.nanoTime() + 60e9.toLong
    while (waiter.getState != Thread.State.WAITING &&
      System.nanoTime() < deadline) Thread.sleep(5)
    assert(waiter.getState == Thread.State.WAITING)
    release.countDown()
    writer.join(); waiter.join()
    (writerErr, waiterOut)
  }

  test("a waiter retries the race after a NonFatal writer failure") {
    val boom = new RuntimeException("transient")
    val (w, out) = race("graft_spec_nonfatal_", boom)
    assert(w.contains(boom))
    assert(out == Right(3L))
  }

  test("a waiter rethrows a fatal writer failure instead of retrying") {
    val fatal = new LinkageError("fatal")
    val (w, out) = race("graft_spec_fatal_", fatal)
    assert(w.contains(fatal))
    assert(out == Left(fatal))
  }
}
