package graft

import java.io.File
import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException,
  AccessDeniedException, Files, Paths, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, CompletionException,
  ConcurrentHashMap}

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The one policy for what graft derives from a corpus per JVM: where
  * each on-disk artifact lives, how it is written once, how it is read
  * back, and how it is deleted at exit; and the one at-most-once memo
  * ([[once]], [[derived]]) for driver-side values.
  *
  * Two kinds of on-disk artifact go through here:
  *  - WRITE-ONCE SINKS ([[materialize]], [[persistedModel]]): a
  *    substrate many consumer queries share — cluster labels, kNN edges,
  *    IVF assignment, the frozen split. The first consumer builds it;
  *    every later one reads the files. At 100 TB the rebuild per
  *    consumer IS the dominant cost; the write-once form pays it once.
  *  - SESSION SCRATCH DIRS ([[sessionDir]]): round-trip outputs and the
  *    reliable-checkpoint dir — rewritten freely within a session.
  *
  * Both are session-keyed dirs in `java.io.tmpdir`, named `graft_…` and
  * deleted by ONE JVM shutdown hook. With a persistent root set
  * (`SPARK_GRAFT_SUBSTRATE_DIR`, or `graft.substrate.dir` for in-JVM
  * tests) sinks instead land at `$root/<prefix><content-key>`, built
  * through an atomic rename and never deleted: the build is paid once per
  * (corpus, engine build), not once per session. */
object Substrate {

  /** On-disk shape of a sink. [[Bucketed]] registers a catalog table so
    * every scan reports `HashPartitioning(key, n)` and an equi-join on
    * `key` plans no exchange on this side; [[Partitioned]] writes one dir
    * per value so a probe of a few values reads only those dirs. */
  sealed trait Layout
  case object Plain extends Layout
  final case class Bucketed(n: Int, key: String) extends Layout
  final case class Partitioned(column: String) extends Layout

  // --------------------------------------------------------------------
  // Session dirs and the exit cleaner
  // --------------------------------------------------------------------

  private val cleanupDirs = ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupDirs.forEach(d => deleteRecursively(new File(d)))))

  /** The dirs the exit hook deletes. */
  private[graft] def exitCleanupDirs: Set[String] = cleanupDirs.asScala.toSet

  /** Deletes `f` and everything under it; a missing path is a no-op. */
  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  private def appTag(spark: SparkSession): String =
    spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9._-]", "_")

  private def md5Hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(bytes).map("%02x".format(_)).mkString

  /** A session scratch dir in `java.io.tmpdir`, registered with the exit
    * cleaner. Keyed by the session's applicationId, so concurrent
    * sessions never race on one overwrite target; within a session the
    * path is stable. With an `sfDir` the name is injective in it: a
    * readable sanitized form PLUS an md5 tag of the exact string
    * (sanitization alone maps `/a/sf0.1` and `/a_sf0.1` to one path). An
    * empty `sfDir` names a dir not tied to a corpus. */
  def sessionDir(spark: SparkSession, prefix: String, sfDir: String = ""): String = {
    val corpus =
      if (sfDir.isEmpty) ""
      else sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + md5Hex(sfDir, 4) + "_"
    val out = new File(System.getProperty("java.io.tmpdir"),
      prefix + corpus + appTag(spark)).getAbsolutePath
    cleanupHook
    cleanupDirs.add(out)
    out
  }

  // --------------------------------------------------------------------
  // Persistent root and content key
  // --------------------------------------------------------------------

  private def substrateRoot: Option[String] =
    sys.props.get("graft.substrate.dir")
      .orElse(sys.env.get("SPARK_GRAFT_SUBSTRATE_DIR")).filter(_.nonEmpty)

  /** `rel:size:mtime` of every file at or under `f`, sorted by path;
    * `rel` names `f` itself. */
  private def fileStamps(f: File, rel: String): Seq[String] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .flatMap(c => fileStamps(c, if (rel.isEmpty) c.getName else rel + "/" + c.getName))
    else Seq(s"$rel:${f.length}:${f.lastModified}")

  /** Inputs of the engine-code fingerprint: size+mtime of the code source
    * that holds `graft/` — the jar, or every `.class` under the classes
    * dir — so a rebuild of ANY engine class (a Relational or BucketedJoin
    * sink's kernel as much as Dedup's) lands persistent sinks in fresh
    * dirs. Walked once per JVM. */
  private[graft] lazy val codeTagInputs: Seq[String] = {
    val src = new File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (src.isDirectory) fileStamps(src, "").filter(_.split(':')(0).endsWith(".class"))
    else fileStamps(src, src.getName)
  }
  private lazy val codeTag: String = md5Hex(codeTagInputs.mkString("\n"), 6)

  /** Content key of a corpus dir: md5 over the sfDir string, `code`,
    * and every TABLE file's (relative path, size, mtime). Only
    * `*.parquet` entries participate — corpus dirs carry non-table files
    * that change per run (ScaleProbe's reuse MANIFEST). A changed corpus
    * (or, with `code` = [[codeTag]], a rebuilt engine) lands in a fresh
    * dir, so staleness is impossible. Walked on every sink call: a stat
    * per table file, no memo to go stale. */
  private def corpusContentKey(sfDir: String, code: String): String = {
    val tables = Option(new File(sfDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    md5Hex(sfDir + "\n" + code + "\n" +
      tables.flatMap(t => fileStamps(t, t.getName)).mkString("\n"), 8)
  }

  /** A sink's location: (path, persistent?). Both kinds are named by the
    * corpus's [[corpusContentKey]], so a table rewritten in place gets a
    * fresh sink instead of the old one. A session sink is a
    * [[sessionDir]] and dies with the JVM, so its key leaves out the
    * [[codeTag]]; a persistent one is never cleaned up. */
  private def sinkPath(spark: SparkSession, prefix: String,
                       sfDir: String): (String, Boolean) =
    substrateRoot match {
      case Some(r) =>
        (new File(r, prefix + corpusContentKey(sfDir, codeTag)).getAbsolutePath, true)
      case None =>
        (sessionDir(spark, prefix + corpusContentKey(sfDir, "") + "_", sfDir), false)
    }

  /** Build a persistent artifact: run `write` into a `.build.<appId>`
    * sibling, then ATOMIC-RENAME into place. An artifact that exists IS
    * complete; losing a cross-session race is benign — the loser deletes
    * its temp and reads the winner's. */
  private def buildAtomically(spark: SparkSession, out: String)
                             (write: String => Unit): Unit = {
    val outPath = Paths.get(out)
    if (Files.exists(outPath)) return
    Files.createDirectories(outPath.getParent)
    val tmp = out + ".build." + appTag(spark)
    deleteRecursively(new File(tmp))
    write(tmp)
    try Files.move(Paths.get(tmp), outPath, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: FileAlreadyExistsException | _: DirectoryNotEmptyException |
           _: AccessDeniedException =>
        deleteRecursively(new File(tmp))  // another session won; theirs is complete
    }
  }

  // --------------------------------------------------------------------
  // At-most-once values: the one memo
  // --------------------------------------------------------------------

  /** Keys whose value has been (or is being) computed this JVM. Values
    * are futures, so a compute runs OUTSIDE any map bin lock: it may run
    * Spark jobs and call [[once]] for another key. */
  private val slots = new ConcurrentHashMap[Any, CompletableFuture[Any]]()

  /** `compute`'s value for `key`, computed at most once per JVM:
    * putIfAbsent publishes a future; losers await it; a failed compute
    * un-publishes so a later call can retry. A waiter whose winner failed
    * with a NonFatal cause races for the slot again instead of failing
    * permanently on someone else's hiccup; a fatal cause is rethrown,
    * never retried. A compute that calls `once` on its OWN key waits on
    * itself forever. */
  @tailrec def once[T](key: Any)(compute: => T): T = {
    val fresh = new CompletableFuture[Any]()
    val prior = slots.putIfAbsent(key, fresh)
    val got: Option[T] =  // None: the winner failed NonFatal; race again
      if (prior == null)
        try { val v = compute; fresh.complete(v): Unit; Some(v) }
        catch {
          case t: Throwable =>
            // wake any waiters with the failure instead of deadlocking them
            slots.remove(key, fresh)
            fresh.completeExceptionally(t)
            throw t
        }
      else
        try Some(prior.join().asInstanceOf[T])
        catch {
          case e: CompletionException if NonFatal(e.getCause) => None
          case e: CompletionException => throw e.getCause
        }
    got match {
      case Some(v) => v
      case None => once(key)(compute)
    }
  }

  /** (modification time, length) of the file or directory at `path`;
    * None when it cannot be stat'ed. */
  private def stamp(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.IOException => None }
  }

  /** Per-corpus derived state — a table's schema, a corpus count, a
    * trained model, a base aggregate: `compute` runs at most once per
    * (`what`, `sfDir`) and per [[stamp]] of each `$sfDir/<table>.parquet`
    * in `tables`, the tables it reads. A table rewritten at the same path
    * changes its stamp, so the next call recomputes from the new data
    * instead of serving the old value; entries for earlier stamps are
    * kept (they are small driver-side values and are never read again).
    * `compute` may call `derived` for another value. */
  def derived[T](spark: SparkSession, sfDir: String, tables: Seq[String], what: String)
                (compute: => T): T =
    once((what, sfDir, tables.map(t => t -> stamp(spark, s"$sfDir/$t.parquet"))))(compute)

  /** Schema sidecar EVERY sink carries: reads take their schema from it,
    * so no read starts a parquet footer-inference job, and an EMPTY sink
    * (degenerate corpora) round-trips. Files starting with `_` are
    * invisible to Spark's parquet listing. */
  private def writeSchemaSidecar(dir: String, schema: StructType): Unit = {
    val p = Paths.get(dir, "_GRAFT_SCHEMA.json")
    Files.createDirectories(p.getParent)
    Files.write(p, schema.json.getBytes("UTF-8")): Unit
  }
  private def readSchemaSidecar(dir: String): StructType =
    DataType.fromJson(new String(
      Files.readAllBytes(Paths.get(dir, "_GRAFT_SCHEMA.json")), "UTF-8"))
      .asInstanceOf[StructType]

  /** Write-once materialization: builds `df` and writes it in `layout`,
    * with its schema sidecar, to the sink for (`prefix`, `sfDir`, table
    * stamps) exactly once per JVM, and returns a scan of the sink.
    *
    * A [[Plain]] or [[Partitioned]] read is one parquet scan whose schema
    * comes from the sidecar; no catalog call. [[Partitioned]] repartitions
    * by its column before the write so each dir holds O(1) files.
    * [[Bucketed]] needs the catalog writer: the build writes through a
    * throwaway EXTERNAL table at the build path (dropping it keeps the
    * files), and every read registers the final table over the sink if
    * the catalog lacks it — a fresh catalog over a persistent sink
    * re-registers the DDL over the existing files. */
  def materialize(spark: SparkSession, prefix: String, sfDir: String,
                  layout: Layout = Plain)(df: => DataFrame): DataFrame = {
    val (out, persistent) = sinkPath(spark, prefix, sfDir)
    lazy val table = "graft_b_" + md5Hex(out, 8)
    once(out) {
      def writeTo(dst: String): Unit = {
        val frame = df
        layout match {
          case Plain => frame.write.mode("overwrite").parquet(dst)
          case Partitioned(c) =>
            frame.repartition(col(c)).write.mode("overwrite")
              .partitionBy(c).parquet(dst)
          case Bucketed(n, key) =>
            val bld = table + "_bld"
            spark.sql(s"DROP TABLE IF EXISTS $bld")
            frame.write.format("parquet").mode("overwrite")
              .bucketBy(n, key).sortBy(key)
              .option("path", dst).saveAsTable(bld)
            spark.sql(s"DROP TABLE IF EXISTS $bld")
        }
        writeSchemaSidecar(dst, frame.schema)
      }
      if (persistent) buildAtomically(spark, out)(writeTo) else writeTo(out)
    }
    layout match {
      case Bucketed(n, key) =>
        if (!spark.catalog.tableExists(table))
          spark.sql(s"CREATE TABLE $table (${readSchemaSidecar(out).toDDL}) " +
            s"USING PARQUET CLUSTERED BY ($key) SORTED BY ($key) " +
            s"INTO $n BUCKETS LOCATION '$out'")
        spark.table(table)
      case _ => spark.read.schema(readSchemaSidecar(out)).parquet(out)
    }
  }

  /** Cross-session persistence for small DRIVER-SIDE model constants
    * (the IVF centroid matrix): in persistent mode the computed bytes
    * land once at `$root/<prefix><content-key>` and later sessions read
    * them back instead of re-training. Session mode just computes.
    * Callers encode doubles as RAW BITS so the round trip is bit-exact. */
  def persistedModel(spark: SparkSession, prefix: String, sfDir: String)
                    (compute: => Array[Byte]): Array[Byte] =
    substrateRoot match {
      case None => compute
      case Some(_) =>
        val (out, _) = sinkPath(spark, prefix, sfDir)
        var built: Option[Array[Byte]] = None
        buildAtomically(spark, out) { tmp =>
          val bytes = compute
          Files.write(Paths.get(tmp), bytes)
          built = Some(bytes)
        }
        built.getOrElse(Files.readAllBytes(Paths.get(out)))
    }
}
