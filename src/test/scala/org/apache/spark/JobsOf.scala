package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block starts from the calling thread, each as the SQL
  * execution id it ran under (None: a job outside any SQL execution).
  * Jobs are attributed through a job group set for the block, so other
  * threads' jobs never count. The listener bus is drained before the
  * jobs are read; its drain call is package-private, hence this file's
  * package.
  */
object JobsOf {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Option[Long]]) = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          seen.add(Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, seen.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
