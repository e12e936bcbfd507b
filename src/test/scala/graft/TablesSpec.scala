package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] memoizes each table's parquet schema; the memo must follow
  * the table, not just its path. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a table overwritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    spark.range(3).select(col("id").cast("int").as("a"))
      .write.mode("overwrite").parquet(path)
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    assert(Tables(spark, dir, "t").count() == 3)

    spark.range(5).select(col("id").cast("string").as("b"), (col("id") * 2).as("c"))
      .write.mode("overwrite").parquet(path)
    val again = Tables(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(again.orderBy("c").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      (0L until 5L).map(i => (i.toString, i * 2)))
  }
}
