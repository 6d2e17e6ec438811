package graft

import graft.operators.SimilarityOps
import org.scalatest.funsuite.AnyFunSuite

class GatesSpec extends AnyFunSuite with SparkTestBase {

  test("an unknown gate mode fails closed: a gate site throws " +
      "IllegalArgumentException naming auto, relational and scale") {
    spark.conf.set("spark.graft.gates", "off")
    val e =
      try intercept[IllegalArgumentException](
        SimilarityOps.annCandidateScores(spark, Sf))
      finally spark.conf.unset("spark.graft.gates")
    Seq("auto", "relational", "scale").foreach(m =>
      assert(e.getMessage.contains(m), e.getMessage))
  }
}
