package graft

import graft.util.Broadcasts
import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions.broadcast
import org.scalatest.funsuite.AnyFunSuite

class BroadcastsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private def joined(session: SparkSession): DataFrame = {
    import session.implicits._
    val dim = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    Seq("a", "b", "a", "c").toDF("k").join(broadcast(dim), Seq("k")).orderBy($"k", $"v")
  }

  // an adaptive plan's broadcast stages are walked into, down to their
  // exchanges
  private def relations(df: DataFrame): Seq[Broadcast[Any]] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: BroadcastExchangeLike => e.relationFuture.get()
    }

  private def collectDestroys(adaptive: Boolean): DataFrame = {
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", adaptive.toString)
    val df = joined(session)
    assert(Broadcasts.collect(df).map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("a", 1), ("a", 1), ("b", 2)))
    val built = relations(df)
    assert(built.nonEmpty, "the join is planned with a broadcast exchange")
    built.foreach(b => intercept[SparkException](b.value))
    // an equal query plans and broadcasts anew
    assert(joined(session).count() == 3)
    df
  }

  test("Broadcasts.collect returns the rows and destroys the query's broadcast relations") {
    assert(collectDestroys(adaptive = true).queryExecution.executedPlan
      .isInstanceOf[AdaptiveSparkPlanExec], "planned as an adaptive broadcast stage")
  }

  test("Broadcasts.collect destroys a statically planned broadcast too") {
    assert(!collectDestroys(adaptive = false).queryExecution.executedPlan
      .isInstanceOf[AdaptiveSparkPlanExec], "planned without AQE")
  }

  test("Broadcasts.collect of a query without a broadcast is a plain collect") {
    assert(Broadcasts.collect(spark.range(5)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
