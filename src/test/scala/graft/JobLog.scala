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
  def apply[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.addSparkListener(listener)
    try {
      val r = f
      TestBus.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
