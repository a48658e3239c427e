package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean

/** Counts the Spark jobs a block of code launches. */
object JobCount {
  /** Final-stage names of the Spark jobs `body` launches on this thread,
    * in job order (tagged by a job group; jobs the query engine submits
    * from its own pool inherit the tag). */
  def of[A](s: SparkSession)(body: => A): (A, Seq[String]) = {
    val group = s"counted_${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()
    val marker = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` =>
            jobs.add(e.jobId -> e.stageInfos.maxBy(_.stageId).name); ()
          case g if g == s"${group}_marker" => marker.set(true)
          case _ =>
        }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      s.sparkContext.setJobGroup(group, "counted")
      val out = try body finally s.sparkContext.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job `body` launched has been delivered
      s.sparkContext.setJobGroup(s"${group}_marker", "marker")
      try s.range(1).count() finally s.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!marker.get() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(marker.get(), "listener bus did not drain")
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally s.sparkContext.removeSparkListener(listener)
  }
}
