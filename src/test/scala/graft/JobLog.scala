package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a block starts, each as the call-site stack of its
  * stages (Spark's `StageInfo.details`: the user frames that submitted it).
  */
object JobLog {
  /** A started job: its stages' call sites and the SQL execution it ran
    * in (None for a job outside any, such as parquet schema inference).
    */
  final case class Job(details: String, execution: Option[Long])

  def apply[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val (r, jobs) = withExecutions(spark)(f)
    (r, jobs.map(_.details))
  }

  def withExecutions[T](spark: SparkSession)(f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(e.stageInfos.map(_.details).mkString("\n"),
          Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      TestBus.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
