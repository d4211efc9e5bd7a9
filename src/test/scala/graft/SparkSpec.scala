package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sparkImplicit: SparkSession = spark

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    ListenerBus.drain(sc) // earlier jobs' events must not count
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get()
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // keep prunable bucketed scans bucketed: the planner otherwise
    // un-buckets a scan with no distribution-needing parent and loses
    // the single-bucket prune of EAVT point reads (FactDb.entity)
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .getOrCreate()
}
