package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts. Listener events arrive
  * asynchronously, so after the block a marker job runs and the count waits
  * until the listener has seen it start: every job started before it has
  * been seen by then.
  */
object JobCount {

  /** `body`'s result and the names of the stages of each job it started. */
  def during[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val marker = s"jobcount-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else jobs.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      (out, scala.jdk.CollectionConverters.CollectionHasAsScala(jobs).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
