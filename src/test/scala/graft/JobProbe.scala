package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, and the SQL executions (actions) they belong
  * to, that a body starts on the calling thread — the job-count guards
  * of the miners, the clustering tail and the flow segments. */
object JobProbe {

  /** `stages` holds each job's first stage name (its call site). */
  final case class Count(jobs: Int, actions: Int, stages: Seq[String])

  def apply(spark: SparkSession)(body: => Any): Count = {
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[(Option[String], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          seen.add((Option(e.properties.getProperty("spark.sql.execution.id")),
            e.stageInfos.headOption.map(_.name).getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count assertion", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the listener bus is asynchronous: wait until the count settles
      var (n, prev) = (seen.size, -1)
      while (n != prev) { Thread.sleep(300); prev = n; n = seen.size }
    } finally sc.removeSparkListener(listener)
    val jobs = seen.asScala.toSeq
    Count(jobs.size, jobs.flatMap(_._1).distinct.size, jobs.map(_._2))
  }
}
