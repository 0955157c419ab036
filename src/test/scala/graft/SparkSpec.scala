package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` runs, counted through a job group and the status
    * tracker. Status events are applied asynchronously but in order, so
    * once a sentinel job run after `body` is visible, every job of
    * `body` is too. */
  def jobCount(body: => Any): Int = {
    val sc = spark.sparkContext
    val g = s"jobcount-${java.util.UUID.randomUUID}"
    def inGroup(name: String)(f: => Any): Unit = {
      sc.setJobGroup(name, name)
      try { f; () } finally sc.clearJobGroup()
    }
    inGroup(g)(body)
    inGroup(s"$g-end")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$g-end").isEmpty) {
      assert(System.nanoTime() < deadline, "sentinel job never reached the status tracker")
      Thread.sleep(10)
    }
    sc.statusTracker.getJobIdsForGroup(g).length
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Session.local(4)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }
}
