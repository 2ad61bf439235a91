package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into graft and the result of checking its output. */
final case class OpResult(name: String, seconds: Double, failures: Seq[String])

/** Times the public calls of one round and runs each call's output check
  * outside the timed interval. A call that throws counts as a failed
  * operation; the round goes on with the next call only when the workload
  * says the state allows it (see [[Recorder.op]]).
  */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[OpResult]
  var probeSeconds = 0.0

  /** Run `call` timed, then `check` on its result untimed. Returns the
    * result, or None when the call threw.
    */
  def op[T](name: String)(call: => T)(check: T => Seq[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(call) catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    res match {
      case Right(v) =>
        val fails = try check(v) catch {
          case e: Exception => Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        ops += OpResult(name, dt, fails)
        Some(v)
      case Left(e) =>
        ops += OpResult(name, dt, Seq(s"call threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }

  /** Extra work a traced round does, between operations, to see inside a
    * lazy or composite call; timed into the round's wall, never into an
    * operation.
    */
  def probe[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally probeSeconds += (System.nanoTime() - t0) / 1e9
  }

  def timedSeconds: Double = ops.map(_.seconds).sum
  def failed: Seq[OpResult] = ops.filter(_.failures.nonEmpty).toSeq
}

final class Ctx(val spark: SparkSession, val work: String, val seed: Long)

/** A workload: seeded inputs, a repeatable set-up, and one round of public
  * calls, each checked.
  */
trait Workload {
  def name: String
  /** Write the seeded inputs under `dir`; return a checksum of their bytes. */
  def generate(ctx: Ctx, dir: String): String
  /** Build the state every round starts from (stored targets, indexes). */
  def bootstrap(ctx: Ctx, dir: String): Unit = ()
  /** One round. Timed calls go through `rec`; per-layer numbers through `tr`. */
  def round(ctx: Ctx, dir: String, tr: Tracer, rec: Recorder): Unit
  /** Untimed rounds before measuring. Spark's driver keeps getting faster
    * for its first few rounds (JIT, codegen caches); a workload whose rounds
    * are short warms up for more of them. Fixed per workload, never
    * adjusted to what a run observes.
    */
  def warmupRounds: Int = 1
  /** Workload-level end-to-end figures printed by name after the run
    * (they are not part of the generic JSON metrics).
    */
  def report(rounds: Seq[Seq[OpResult]]): Seq[(String, Stats.Summary, String)] = Nil
  /** Quality figures of the last round (recall, keep share, amplification). */
  def quality: Seq[(String, Double, String)] = Nil
}

object Main {

  val SetupReps = 3
  /** Spark task slots: two leave the other cores of a four-core box to the
    * driver thread, the JIT compiler and the collector, which the mostly
    * driver-bound rounds need more than a third and fourth task slot.
    */
  val Cores = 2

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"))
  }

  val workloads: Map[String, () => Workload] = Map(
    "etl_sync" -> (() => new EtlSync),
    "reconcile" -> (() => new ReconcileReport),
    "curate_dedup" -> (() => new CurateDedup))

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parseArgs(args))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Peak resident set of this process (Linux `VmHWM`), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))()
    val work = new File(a.work).getAbsoluteFile
    deleteRecursively(work)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors().min(Cores)
    val spark = session(cores, work.getPath)
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, work.getPath, a.seed)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupFailures = mutable.ArrayBuffer.empty[String]

    // Set-up. Generation is repeated: each repetition writes the inputs
    // afresh into its own directory, and the checksums must agree (the
    // generator is a pure function of the seed). The rounds use the first
    // copy, bootstrapped once.
    val reps = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      val sum = wl.generate(ctx, s"${work.getPath}/in$r")
      ((System.nanoTime() - t0) / 1e9, sum)
    }
    (2 to SetupReps).foreach(r => deleteRecursively(new File(s"${work.getPath}/in$r")))
    val sums = reps.map(_._2).distinct
    if (sums.length != 1)
      setupFailures += s"generator: same seed gave different inputs (${sums.mkString(", ")})"
    val dir = s"${work.getPath}/in1"
    val tb = System.nanoTime()
    wl.bootstrap(ctx, dir)
    val bootS = (System.nanoTime() - tb) / 1e9

    // Warm-up: untimed rounds (the first execution after session start
    // runs about twice as slow). Their checks count like any other.
    val tw = System.nanoTime()
    (1 to wl.warmupRounds).foreach { _ =>
      val warmRec = new Recorder
      wl.round(ctx, dir, new Tracer(sc, traced = false), warmRec)
      warmRec.failed.foreach(o => setupFailures += s"warm-up ${o.name}: ${o.failures.mkString("; ")}")
    }
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(reps.map(_._1)) + bootS + warmS

    // Closed loop, one client: rounds back to back until the time is up.
    // With --trace 1 traced and untraced rounds alternate, traced first (a
    // first round still carries some warm-up, so the overhead estimate
    // errs high rather than low).
    heapPools.foreach(_.resetPeakUsage())
    val plain = mutable.ArrayBuffer.empty[Recorder]
    val traced = mutable.ArrayBuffer.empty[(Recorder, Map[String, Double])]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline || plain.isEmpty || (a.trace && traced.isEmpty)) {
      val isTraced = a.trace && i % 2 == 0
      val rec = new Recorder
      val tr = new Tracer(sc, isTraced)
      val gc0 = gcSeconds
      tr.begin()
      wl.round(ctx, dir, tr, rec)
      tr.end()
      if (isTraced) traced += ((rec, Layers.fromRound(tr, cores, gcSeconds - gc0)))
      else plain += rec
      i += 1
    }
    val all = plain.toSeq ++ traced.map(_._1)
    val attempted = all.map(_.ops.length).sum
    val failedOps = all.flatMap(_.failed)
    val correct = failedOps.isEmpty && setupFailures.isEmpty

    // Human-readable report, then the one JSON line.
    println(s"workload=${wl.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} cores=$cores")
    println(s"input_checksum=${sums.head}")
    println(f"setup: session_s=$sessionS%.3f generate_s=${reps.map(_._1).map(x => f"$x%.3f").mkString(",")} bootstrap_s=$bootS%.3f warmup_s=$warmS%.3f")
    val roundS = plain.map(_.timedSeconds).toSeq
    println(s"round_s ${Stats.summarize(roundS).render("s")}")
    println(s"round_s_samples ${roundS.map(x => f"$x%.3f").mkString(",")}")
    plain.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      println(s"op $n ${Stats.summarize(os.map(_.seconds).toSeq).render("s")}")
    }
    wl.report(plain.toSeq.map(_.ops.toSeq)).foreach { case (n, s, u) => println(s"$n ${s.render(u)}") }
    wl.quality.foreach { case (n, v, u) => println(f"$n $v%.6f $u") }
    println(f"ops_failed_frac ${if (attempted == 0) 0.0 else failedOps.length.toDouble / attempted}%.6f (failed=${failedOps.length} attempted=$attempted)")
    (setupFailures ++ failedOps.map(o => s"${o.name}: ${o.failures.mkString("; ")}"))
      .distinct.take(20).foreach(f => println(s"FAILED $f"))
    println(Annotations.line(work))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("round_s", Stats.median(roundS), "s"),
        ("setup_s", setupS, "s"),
        ("peak_rss_mb", peakRssMb, "MB"))
      else {
        val overhead = Stats.median(traced.map(_._1).map(r => r.timedSeconds + r.probeSeconds).toSeq) /
          Stats.median(roundS) - 1.0
        Layers.names.map { case (n, u) =>
          val v =
            if (n == "trace_overhead_frac") overhead
            else if (n == "jvm.heap_peak_mb") heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
            else Stats.median(traced.map(_._2.getOrElse(n, 0.0)).toSeq)
          (n, v, u)
        }
      }
    spark.stop()
    deleteRecursively(work)
    println(Json.result(correct, attempted, failedOps.length, metrics))
    if (correct) 0 else 1
  }
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Machine readings printed as annotations only; no metric depends on them. */
object Annotations {
  def line(work: File): String = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    var x = 0L
    var k = 0
    while (k < 20000000) { x += k ^ (x >>> 3); k += 1 }
    val cpuMs = (System.nanoTime() - t0) / 1e6
    val f = new File(work, "disk-probe.bin")
    val buf = new Array[Byte](8 << 20)
    val t1 = System.nanoTime()
    val out = new java.io.FileOutputStream(f)
    try { out.write(buf); out.getFD.sync() } finally out.close()
    val diskMs = (System.nanoTime() - t1) / 1e6
    f.delete()
    f"annotations: loadavg_1m=$load%.2f cpu_probe_ms=$cpuMs%.1f disk_probe_8mb_fsync_ms=$diskMs%.1f (x=${x & 1})"
  }
}
