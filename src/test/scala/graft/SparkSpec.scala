package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (UTC, small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The Spark jobs `body` starts on this thread, counted by job group. */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    def inGroup(g: String)(b: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup(group)(body)
      // the listener bus delivers in order: once the sentinel's job start
      // is seen, every earlier job start has been counted
      inGroup(sentinel)(sc.parallelize(Seq(1)).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The suite tools' session at 4 cores. */
  lazy val session: SparkSession = Suite.session(4)
}
