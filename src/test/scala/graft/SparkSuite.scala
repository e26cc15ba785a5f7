package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. Its width is
  * explicit, so `SPARK_GRAFT_CPUS` in the environment does not change
  * what the specs measure. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local(cpus = 4, shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  def sfDir: String = SparkTestSession.sfDir

  /** Runs `body` with one session conf set, then restores the prior value. */
  protected def withConf[T](key: String, value: String)(body: => T): T = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Number of Spark jobs started while `body` runs. Listener delivery
    * is asynchronous, so a sentinel job fences each end: events arrive
    * in order, and every job counted started between the two fences. */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def fence(tag: String): Int = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Iterator.continually(started.poll(30, TimeUnit.SECONDS))
        .map(d => Option(d).getOrElse(fail(s"fence $tag never started")))
        .takeWhile(_ != tag).size
    }
    sc.addSparkListener(listener)
    try {
      fence("jobs-during-open")
      body
      fence("jobs-during-close")
    } finally sc.removeSparkListener(listener)
  }
}
