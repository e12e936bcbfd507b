package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** [[Substrate]]: every dir a query writes is registered with the one
  * exit cleaner, a persistent bucketed sink re-registers over its files
  * in a fresh catalog, and the write-once waiter retries a NonFatal
  * writer failure but rethrows a fatal one. */
class SubstrateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf01 = new File(TestSpark.sf).getParent + "/sf0.01"

  private def entries(dir: File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getAbsolutePath).toSet

  test("round-trip outputs and bucketed tables are session dirs the exit hook deletes") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val wh = {
      val w = spark.conf.get("spark.sql.warehouse.dir")
      if (w.startsWith("file:")) new File(new java.net.URI(w)) else new File(w)
    }
    val tmpBefore = entries(tmp)
    val whBefore = entries(wh)
    queries.TextJobs.wordcountTsv(spark, sf01).collect()
    queries.TextAnalysis.pipelineExport(spark, sf01).collect()
    operators.BucketedJoin.bucketedJoinOrders(spark, sf01).collect()
    val created = (entries(tmp) -- tmpBefore)
      .filter(p => new File(p).getName.startsWith("graft_"))
    assert(created.nonEmpty, "the round trips wrote nowhere under java.io.tmpdir")
    assert(created.subsetOf(Substrate.exitCleanupDirs),
      s"not registered for exit cleanup: ${created -- Substrate.exitCleanupDirs}")
    assert(entries(wh) -- whBefore == Set.empty[String],
      "bucketed_join_orders wrote under spark.sql.warehouse.dir")
    // nothing this JVM's session keys on its application id escapes the cleaner
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_")
    val keyed = entries(tmp).filter(p => new File(p).getName.contains(app))
    assert(keyed.subsetOf(Substrate.exitCleanupDirs),
      s"session-keyed dirs outside the cleaner: ${keyed -- Substrate.exitCleanupDirs}")
  }

  test("persistent bucketed sink: a dropped catalog table re-registers over the same files") {
    val root = java.nio.file.Files.createTempDirectory("graft_spec_substrate").toString
    sys.props("graft.substrate.dir") = root
    val layout = Substrate.Bucketed(4, "id")
    def sink(build: => org.apache.spark.sql.DataFrame) =
      Substrate.materialize(spark, "graft_spec_rereg_", TestSpark.sf, layout)(build)
    def tableOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case r: LogicalRelation if r.catalogTable.isDefined => r.catalogTable.get
      }.get
    try {
      val first = sink(spark.range(0L, 200L, 1L, 3).selectExpr("id", "id * 7 AS v"))
      val want = first.collect().map(_.toString).sorted.toSeq
      val table = tableOf(first)
      spark.sql(s"DROP TABLE ${table.identifier.table}")
      assert(!spark.catalog.tableExists(table.identifier.table))
      val again = sink(throw new AssertionError("a built sink must not rebuild"))
      val re = tableOf(again)
      assert(re.identifier.table == table.identifier.table)
      assert(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(re.identifier.table)).location == table.location)
      val scans = again.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"not a bucketed read:\n${again.queryExecution.sparkPlan}")
      assert(again.collect().map(_.toString).sorted.toSeq == want)
      spark.sql(s"DROP TABLE IF EXISTS ${re.identifier.table}")
    } finally {
      sys.props.remove("graft.substrate.dir")
      Substrate.deleteRecursively(new File(root))
    }
  }

  /** A writer that fails with `cause` while a second caller waits on
    * it: returns (the writer's throwable, the waiter's outcome). */
  private def race(prefix: String, cause: Throwable)
      : (Option[Throwable], Either[Throwable, Long]) = {
    val writing = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var writerErr: Option[Throwable] = None
    @volatile var waiterOut: Either[Throwable, Long] = Left(null)
    val writer = new Thread(() =>
      try Substrate.materialize(spark, prefix, TestSpark.sf) {
        writing.countDown(); release.await(); throw cause
      } catch { case t: Throwable => writerErr = Some(t) })
    val waiter = new Thread(() =>
      waiterOut =
        try Right(Substrate.materialize(spark, prefix, TestSpark.sf)(
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
