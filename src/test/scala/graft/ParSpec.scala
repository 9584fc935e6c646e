package graft

import graft.util.Par
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class ParSpec extends AnyFunSuite {
  import TestSpark._

  test("Par.map runs every element at once on threads that inherit the session and job group, in input order") {
    val sc = spark.sparkContext
    sc.setJobGroup("par-spec", "par spec group")
    try {
      val xs = Seq(5L, 1L, 3L, 2L)
      // every element waits for all the others: this returns only if
      // the pool runs one thread per element
      val started = new CountDownLatch(xs.size)
      val threads = new ConcurrentLinkedQueue[Thread]()
      val got = Par.map(xs) { n =>
        threads.add(Thread.currentThread())
        started.countDown()
        assert(started.await(60, TimeUnit.SECONDS), "elements ran one at a time")
        (SparkSession.active eq spark, sc.getLocalProperty("spark.jobGroup.id"),
          spark.range(n * 1000).count())
      }
      assert(got == xs.map(n => (true, "par-spec", n * 1000)))
      assert(threads.asScala.toSet.size == xs.size)
      assert(threads.asScala.forall(!_.isAlive), "the pool is joined before returning")
    } finally sc.clearJobGroup()
    assert(Par.map(Seq.empty[Int])(identity).isEmpty)
  }

  test("Par.map rethrows the first failure in input order, unwrapped, after its siblings finish") {
    class Boom(msg: String) extends RuntimeException(msg)
    val finished = new ConcurrentLinkedQueue[Int]()
    val threads = new ConcurrentLinkedQueue[Thread]()
    val e = intercept[Boom](Par.map(0 until 5) { i =>
      threads.add(Thread.currentThread())
      // the later failure is thrown first; the slow sibling still runs
      if (i == 3) throw new Boom("second")
      if (i == 1) { Thread.sleep(300); throw new Boom("first") }
      if (i == 4) Thread.sleep(600)
      spark.range(10).count()
      finished.add(i)
    })
    assert(e.getMessage == "first")
    assert(finished.asScala.toSet == Set(0, 2, 4), "siblings of a failure run to the end")
    assert(threads.size == 5 && threads.asScala.forall(!_.isAlive), "no pool thread left alive")
    // a Spark action's own failure surfaces as Spark's exception type
    val se = intercept[org.apache.spark.SparkException](Par.map(Seq(1, 2)) { i =>
      spark.sparkContext.parallelize(1 to 4, 2)
        .map(n => if (i == 2 && n == 3) sys.error("bad row") else n).count()
    })
    assert(se.getMessage.contains("bad row"))
  }
}
