package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark-side ledger of one traced round, fed by a listener the benchmark
  * registers itself. Every job is charged to the job group it ran under
  * (the span the benchmark opened around the call into a layer); a job
  * started outside any group falls back to the span that was open when it
  * started.
  */
final class Ledger extends SparkListener {

  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var inputBytes, inputRecords, outputBytes, outputRecords = 0L
    var peakExecMem = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  @volatile var current: String = Ledger.NoGroup
  private val accs = mutable.HashMap.empty[String, Acc]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  def reset(): Unit = synchronized {
    accs.clear(); jobGroup.clear(); jobStart.clear(); stageGroup.clear()
  }

  def snapshot(): Map[String, Acc] = synchronized(accs.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.get(e.jobId); t0 <- jobStart.get(e.jobId))
      acc(g).intervals += ((t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, current)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, current))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
      a.peakExecMem = a.peakExecMem.max(m.peakExecutionMemory)
    }
  }
}

object Ledger {
  val NoGroup = "untagged"
  /** Groups whose name starts with this run only in a traced round, to
    * materialize a lazy step or replay a step a public call runs
    * internally; they are excluded from the round's `spark.*` totals.
    */
  val ProbePrefix = "probe."
}

/** Span recorder for one round. `span` wraps a call into a layer in a
  * Spark job group and records its wall time; in an untraced round no
  * listener is attached and the job group is the only cost.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val ledger = new Ledger
  private val walls = mutable.LinkedHashMap.empty[String, Double]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val spanWalls = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def begin(): Unit = {
    walls.clear(); counts.clear(); spanWalls.clear(); ledger.reset()
    if (traced) sc.addSparkListener(ledger)
  }

  def end(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(ledger)
  }

  private val stack = mutable.Stack.empty[String]

  /** Spans nest: a job is charged to the innermost open span, and only
    * top-level spans count as the round's wall for the driver-gap and
    * parallelism figures.
    */
  def span[T](group: String)(body: => T): T = {
    val depth = stack.length
    stack.push(group)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    ledger.current = group
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - n0) / 1e9
      walls(group) = walls.getOrElse(group, 0.0) + dt
      if (depth == 0) spanWalls += ((group, t0, System.currentTimeMillis()))
      stack.pop()
      stack.headOption match {
        case Some(parent) =>
          sc.setJobGroup(parent, parent, interruptOnCancel = false)
          ledger.current = parent
        case None =>
          sc.clearJobGroup()
          ledger.current = Ledger.NoGroup
      }
    }
  }

  /** The ledger so far, after every queued listener event is delivered
    * (empty in an untraced round).
    */
  def groups(): Map[String, Ledger#Acc] =
    if (!traced) Map.empty
    else { org.apache.spark.PerfbenchBus.drain(sc); ledger.snapshot() }

  /** A layer count measured at the call boundary (rows, tallies, bytes). */
  def count(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  def wall(group: String): Double = walls.getOrElse(group, 0.0)
  def counted(name: String): Double = counts.getOrElse(name, 0.0)
  def hasCount(name: String): Boolean = counts.contains(name)
  /** Top-level spans of the round: (group, start ms, end ms). */
  def spans: Seq[(String, Long, Long)] = spanWalls.toSeq
}
