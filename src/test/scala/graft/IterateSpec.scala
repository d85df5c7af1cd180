package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, least, lit}
import org.scalatest.funsuite.AnyFunSuite

class IterateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def x(df: DataFrame): Long = df.as[Long].collect().toSeq match {
    case Seq(v) => v
    case vs => fail(s"expected one row, got $vs")
  }

  test("rounds applies step exactly n times, each round checkpointed") {
    for (n <- Seq(0, 1, 4)) {
      var calls = 0
      val out = Iterate.rounds(Seq(0L).toDF("x"), n) { s =>
        calls += 1
        s.select((col("x") + 1L).as("x"))
      }
      assert(calls === n)
      assert(x(out) === n.toLong)
      // a checkpointed round is a scan of its own blocks: one round deep
      if (n > 0) assert(out.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    }
  }

  test("untilStable stops at the first round whose checkpoint holds no changed row") {
    var calls = 0
    // x climbs 0 → 3 and then holds: rounds 1-3 change it, round 4 does not
    val out = Iterate.untilStable("climb", Seq(0L).toDF("x"), 10) { s =>
      calls += 1
      s.select(least(col("x") + 1L, lit(3L)).as("x"),
        (col("x") < 3L).as(Iterate.Changed))
    }
    assert(calls === 4)
    assert(out.columns.toSeq === Seq("x"))
    assert(x(out) === 3L)
  }

  test("untilStable throws naming the operator and the cap when it never settles") {
    var calls = 0
    val e = intercept[IllegalStateException] {
      Iterate.untilStable("neverSettles", Seq(0L).toDF("x"), 3) { s =>
        calls += 1
        s.select((col("x") + 1L).as("x"), lit(true).as(Iterate.Changed))
      }
    }
    assert(calls === 3)
    assert(e.getMessage.contains("neverSettles"))
    assert(e.getMessage.contains("3 rounds"))
  }
}
