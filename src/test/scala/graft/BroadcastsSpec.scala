package graft

import graft.util.Broadcasts
import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

class BroadcastsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import spark.implicits._

  private def joined: DataFrame = {
    val dim = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    Seq("a", "b", "a", "c").toDF("k").join(broadcast(dim), Seq("k")).orderBy($"k", $"v")
  }

  private def relations(df: DataFrame): Seq[Broadcast[Any]] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: BroadcastQueryStageExec => s.broadcast.relationFuture.get()
    }

  test("Broadcasts.collect returns the rows and destroys the query's broadcast relations") {
    val df = joined
    assert(Broadcasts.collect(df).map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("a", 1), ("b", 2)))
    val built = relations(df)
    assert(built.nonEmpty, "the join is planned as a broadcast stage")
    built.foreach(b => intercept[SparkException](b.value))
    // an equal query plans and broadcasts anew
    assert(joined.count() == 3)
  }

  test("Broadcasts.collect of a query without a broadcast is a plain collect") {
    assert(Broadcasts.collect(spark.range(5)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
