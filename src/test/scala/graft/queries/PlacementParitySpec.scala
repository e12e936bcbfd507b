package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The live gates place incoming vectors with the codegen expression
  * [[Similarity.cellArgminCol]]; the batch assignment uses
  * [[Similarity.IvfKernel.nearestCell]] on `v / ‖v‖`. The two must give
  * the same cell for every vector, or a gated document is compared
  * against the wrong cell's eval side. */
class PlacementParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cellArgminCol places every vector in the cell IvfKernel.nearestCell picks") {
    val rnd = new scala.util.Random(42)
    val dim = 8
    def vec(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    val c1 = vec()
    // row 2 repeats row 1 exactly: a vector along it ties, and the
    // first cell must win on both paths
    val cents = Array(vec(), c1, c1.clone(), vec(), vec())
    val vs: Seq[(Long, Array[Double])] =
      (0L until 200L).map(i => i -> vec()) ++ Seq(
        200L -> Array.fill(dim)(0.0), // all-zero: NaN scores, cell 0
        201L -> c1.map(_ * 3.0))      // exact tie between cells 1 and 2
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val expected = vs.map { case (id, v) =>
      id -> Similarity.IvfKernel.nearestCell(cents, v.map(_ / norm(v)))
    }.toMap
    assert(expected(200L) == 0 && expected(201L) == 1)
    val frame = vs.map { case (id, v) => (id, v.toSeq, norm(v)) }.toDF("id", "v", "n")
    // LocalRelation projections are folded by the optimizer (interpreted
    // eval); the repartition keeps the projection in a codegen stage
    Seq(frame, frame.repartition(2)).foreach { df =>
      val got = df.select(col("id"), Similarity.cellArgminCol(cents, col("v"), col("n")))
        .as[(Long, Int)].collect().toMap
      assert(got == expected)
    }
  }
}
