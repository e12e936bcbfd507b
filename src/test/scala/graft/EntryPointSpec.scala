package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session-setup point and three mains: `Bench`, `Verify` and `Probe`
  * are the only entry points, and only [[GraftSession]] builds a session,
  * so every entry point shares its tuning, warmup and timing path. */
class EntryPointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sourcesContaining(needle: String): Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    finally files.close()
  }

  test("src/main defines main only in Bench, Verify and Probe") {
    assert(sourcesContaining("def main(") == Set("Bench.scala", "Verify.scala", "Probe.scala"))
  }

  test("src/main builds a SparkSession only in GraftSession") {
    assert(sourcesContaining("SparkSession.builder()") == Set("GraftSession.scala"))
  }

  test("src/main writes catalog tables and keys dirs on the application id only in Substrate") {
    assert(sourcesContaining("saveAsTable(") == Set("Substrate.scala"))
    assert(sourcesContaining("applicationId") == Set("Substrate.scala"))
    // ScaleProbe's generated corpus must outlive the JVM for reuse
    assert(sourcesContaining("java.io.tmpdir") == Set("Substrate.scala", "ScaleProbe.scala"))
  }

  test("SPARK_GRAFT_CPUS: an integer is the core count, anything else fails by name") {
    assert(GraftSession.cpusFrom(Some("3")) == 3)
    assert(GraftSession.cpusFrom(None) ==
      Runtime.getRuntime.availableProcessors.min(32))
    Seq("four", "0", "").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.cpusFrom(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("Probe with an unknown subcommand fails and lists the five subcommands") {
    Seq(Array("explain"), Array.empty[String]).foreach { args =>
      val e = intercept[IllegalArgumentException](Probe.main(args))
      Seq("time", "floor", "plans", "audit", "scale").foreach { c =>
        assert(e.getMessage.contains(c), e.getMessage)
      }
    }
  }

  test("Probe plans writes one formatted plan per named query and nothing else") {
    val out: Path = Files.createTempDirectory("graft_plans")
    try {
      Probe.run(spark, Array("plans", out.toString, TestSpark.sf, "wordcount", "grep"))
      val written = Files.list(out)
      val names = try written.iterator.asScala.map(_.getFileName.toString).toSet
        finally written.close()
      assert(names == Set("wordcount.txt", "grep.txt"))
      assert(Files.readString(out.resolve("wordcount.txt")).contains("Physical Plan"))
    } finally {
      val all = Files.walk(out)
      try all.iterator.asScala.toSeq.reverse.foreach(p => Files.delete(p))
      finally all.close()
    }
  }
}
