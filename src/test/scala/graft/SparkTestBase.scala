package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/$name"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobPropertiesDuring(body).size

  /** The local properties of each Spark job started while `body` runs
    * (an empty Properties for a job started without any). A fence job
    * tagged by a local property marks the end: listener events arrive
    * in order, so once the fence's start is seen every earlier job
    * start has been recorded. */
  def jobPropertiesDuring(body: => Unit): Seq[java.util.Properties] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        if (props.getProperty("graft.test.fence") != null) fenceSeen.countDown()
        else jobs.add(props)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.fence", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.fence", null)
      assert(fenceSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }
}
