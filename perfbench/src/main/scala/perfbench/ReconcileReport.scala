package perfbench

import java.time.LocalDate

import graft.operators.{Aggregates, Reconcile}
import graft.pipeline.TableSpec
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._

final case class Settlement(id_liq: Long, id_socio: Long, fecha: LocalDate,
                            estado: String, importe_cobrado: Double,
                            importe_pagado: Double)

/** Side A is the source's settlements; side B is the stored target with
  * planted drift: 0.2% of A's keys missing (deleted downstream), `extraB`
  * keys only in B, one settlement in twenty of two chosen months with its
  * charged amount raised by 1.00, and one in five hundred with its state
  * changed.
  */
final case class ReconShape(n: Int = 150000, extraB: Int = 300)

object ReconGen {
  import Gen.{below, mix}
  val Start: LocalDate = LocalDate.of(2023, 1, 1)
  val SpanDays = 730
  val States = Array("PAGADA", "PENDIENTE", "ANULADA", "BAJA")

  private def state(h: Long): Int = {
    val p = below(h, 100)
    if (p < 70) 0 else if (p < 90) 1 else if (p < 97) 2 else 3
  }

  /** (id, socio, day offset, state, charged cents, paid cents) of A's row i. */
  def rowA(seed: Long, s: ReconShape, i: Long): (Long, Long, Long, Int, Long, Long) = {
    val h = mix(seed, i, 0, 400)
    val st = state(h >>> 8)
    val charged = 1000 + below(h >>> 16, 49000)
    val paid = if (st == 0) charged else below(h >>> 40, charged + 1)
    (1 + i, 1 + below(h >>> 32, 30000), i * SpanDays / s.n + below(h, 3), st, charged, paid)
  }

  def onlyInA(seed: Long, i: Long): Boolean = below(mix(seed, i, 0, 401), 1000) < 2

  def driftMonths(seed: Long): Set[String] = {
    val m1 = below(mix(seed, 0, 0, 404), 24)
    val m2 = (m1 + 1 + below(mix(seed, 1, 0, 404), 23)) % 24
    Set(m1, m2).map(m => Start.plusMonths(m).toString.take(7))
  }

  def day(off: Long): LocalDate = Start.plusDays(off)

  /** B's row i: A's row with drift for i < n, a B-only key beyond. */
  def rowB(seed: Long, s: ReconShape, i: Long, drift: Set[String]): (Long, Long, Long, Int, Long, Long) =
    if (i < s.n) {
      val (id, so, off, st, ch, pd) = rowA(seed, s, i)
      val bumped = if (drift(day(off).toString.take(7)) && below(mix(seed, i, 0, 402), 20) == 0) ch + 100 else ch
      val st2 = if (below(mix(seed, i, 0, 403), 500) == 0) (st + 1) % States.length else st
      (id, so, off, st2, bumped, pd)
    } else {
      val h = mix(seed, i, 0, 405)
      val ch = 1000 + below(h >>> 16, 49000)
      (1 + i, 1 + below(h >>> 32, 30000), below(h, SpanDays.toLong), 1, ch, 0L)
    }

  def settlement(r: (Long, Long, Long, Int, Long, Long)): Settlement =
    Settlement(r._1, r._2, day(r._3), States(r._4), r._5 / 100.0, r._6 / 100.0)

  /** Every figure the report should produce, recomputed row by row. */
  final case class Side(monthly: Map[String, (Long, Long, Long)],
                        monthState: Map[(String, String), Long],
                        rows: Long, charged: Long, paid: Long,
                        firstDay: LocalDate, lastDay: LocalDate, nDays: Int,
                        dayCounts: Map[LocalDate, Long], keys: Set[Long])

  def side(rows: Iterator[(Long, Long, Long, Int, Long, Long)]): Side = {
    val monthly = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
    val ms = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val days = scala.collection.mutable.HashMap.empty[Long, Long]
    val keys = Set.newBuilder[Long]
    var n, ch, pd = 0L
    rows.foreach { case (id, _, off, st, c, p) =>
      val m = day(off).toString.take(7)
      val (a, b, d) = monthly.getOrElse(m, (0L, 0L, 0L))
      monthly(m) = (a + 1, b + c, d + p)
      ms((m, States(st))) = ms.getOrElse((m, States(st)), 0L) + 1
      days(off) = days.getOrElse(off, 0L) + 1
      keys += id
      n += 1; ch += c; pd += p
    }
    Side(monthly.toMap, ms.toMap, n, ch, pd, day(days.keys.min), day(days.keys.max),
      days.size, days.map { case (k, v) => day(k) -> v }.toMap, keys.result())
  }

  def expectA(seed: Long, s: ReconShape): Side =
    side((0L until s.n).iterator.map(i => rowA(seed, s, i)))

  def expectB(seed: Long, s: ReconShape): Side = {
    val drift = driftMonths(seed)
    side((0L until s.n.toLong + s.extraB).iterator
      .filter(i => i >= s.n || !onlyInA(seed, i)).map(i => rowB(seed, s, i, drift)))
  }
}

/** The reconciliation report's checkers: each takes the program's rows and
  * the expected side(s) and names every difference.
  */
object ReconCheck {
  import ReconGen.Side

  private def cents(d: Double): Long = math.round(d * 100)

  def monthly(rows: Seq[Row], want: Side, label: String): Seq[String] = {
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), cents(r.getDouble(2)), cents(r.getDouble(3)))).toMap
    if (got == want.monthly) Nil
    else Seq(s"monthlyAgg($label): ${(got.toSet diff want.monthly.toSet).take(3).mkString(", ")} not as generated")
  }

  def align(counts: Seq[Row], charged: Seq[Row], a: Side, b: Side): Seq[String] = {
    val months = a.monthly.keySet ++ b.monthly.keySet
    def wantN(m: String) = a.monthly.get(m).map(_._1).getOrElse(0L) - b.monthly.get(m).map(_._1).getOrElse(0L)
    def wantC(m: String) = a.monthly.get(m).map(_._2).getOrElse(0L) - b.monthly.get(m).map(_._2).getOrElse(0L)
    val gotN = counts.map(r => r.getString(0) -> r.getAs[Number]("diff").longValue).toMap
    val gotC = charged.map(r => r.getString(0) -> cents(r.getAs[Number]("diff").doubleValue)).toMap
    val badN = months.filter(m => !gotN.get(m).contains(wantN(m)))
    val badC = months.filter(m => !gotC.get(m).contains(wantC(m)))
    (if (gotN.size != months.size || badN.nonEmpty) Seq(s"alignDiff(n_rows): months ${badN.toSeq.sorted.take(3).mkString(",")} differ from the planted drift") else Nil) ++
      (if (gotC.size != months.size || badC.nonEmpty) Seq(s"alignDiff(sum_importe_cobrado): months ${badC.toSeq.sorted.take(3).mkString(",")} differ from the planted drift") else Nil)
  }

  def states(counts: Seq[Row], pivot: Seq[Row], a: Side, b: Side): Seq[String] = {
    val gotA = counts.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotB = pivot.flatMap(r => ReconGen.States.indices.map(k =>
      (r.getString(0), ReconGen.States(k)) -> r.getAs[Number](k + 1).longValue)).filter(_._2 > 0).toMap
    (if (gotA != a.monthState) Seq("monthStateCounts(A) differs from the generated counts") else Nil) ++
      (if (gotB != b.monthState) Seq("monthStatePivot(B) misses the planted state changes") else Nil)
  }

  def sums(g: Row, p: Row, want: Side, label: String): Seq[String] = {
    def c(x: java.math.BigDecimal) = x.movePointRight(2).longValueExact()
    val gotSums = (c(g.getDecimal(0)), c(g.getDecimal(1)), g.getLong(2), c(g.getDecimal(3)))
    val wantSums = (want.charged, want.paid, want.rows, want.charged - want.paid)
    val gotProf = (p.getDate(0).toLocalDate, p.getDate(1).toLocalDate, p.getLong(2), p.getLong(3))
    val wantProf = (want.firstDay, want.lastDay, want.nDays.toLong, want.rows)
    (if (gotSums != wantSums) Seq(s"globalSums($label): $gotSums, expected $wantSums") else Nil) ++
      (if (gotProf != wantProf) Seq(s"dateProfile($label): $gotProf, expected $wantProf") else Nil)
  }

  def topK(rows: Seq[Row], want: Side, k: Int): Seq[String] = {
    val expect = want.dayCounts.toSeq.sortBy { case (d, n) => (-n, d.toEpochDay) }.take(k)
    val got = rows.map(r => r.getDate(0).toLocalDate -> r.getLong(1))
    if (got == expect) Nil else Seq(s"topKByCount: ${got.take(3)} not the generated top $k")
  }

  def orphans(rows: Seq[Row], a: Side, b: Side): Seq[String] = {
    val got = rows.map(r => (r.getString(1), r.getString(0).toLong)).toSet
    val want = (a.keys diff b.keys).map(k => ("only_in_a", k)) ++ (b.keys diff a.keys).map(k => ("only_in_b", k))
    if (got == want) Nil
    else Seq(s"orphanKeysBoth: ${(want diff got).size} planted orphans missing, ${(got diff want).size} unplanted reported")
  }
}

/** `reconcile`: the read-only Access-vs-MySQL report over both sides. */
final class ReconcileReport(shape: ReconShape = ReconShape()) extends Workload {
  val name = "reconcile"
  private val TopK = 10
  // A round takes about three seconds, a third of the others: two
  // warm-up rounds cost less than one costs elsewhere.
  override val warmupRounds = 2
  private var a: ReconGen.Side = _
  private var b: ReconGen.Side = _

  def generate(ctx: Ctx, dir: String): String = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val s = shape
    val drift = ReconGen.driftMonths(seed)
    spark.range(0, s.n, 1, 4).map(i => ReconGen.settlement(ReconGen.rowA(seed, s, i.longValue)))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/a/liquidaciones.parquet")
    spark.range(0, s.n.toLong + s.extraB, 1, 4)
      .filter(i => i.longValue >= s.n || !ReconGen.onlyInA(seed, i.longValue))
      .map(i => ReconGen.settlement(ReconGen.rowB(seed, s, i.longValue, drift)))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/b/liquidaciones.parquet")
    a = ReconGen.expectA(seed, s)
    b = ReconGen.expectB(seed, s)
    Gen.checksum(dir)
  }

  def round(ctx: Ctx, dir: String, tr: Tracer, rec: Recorder): Unit = {
    val spark = ctx.spark
    val sideA = TableSpec.read(spark, s"$dir/a", "liquidaciones")
    val sideB = TableSpec.read(spark, s"$dir/b", "liquidaciones")
    val amounts = Seq("importe_cobrado", "importe_pagado")
    if (tr.traced) rec.probe(Seq(sideA, sideB).foreach(d =>
      tr.span("probe.pipeline.scan.busy_s")(d.write.format("noop").mode(SaveMode.Overwrite).save())))

    val monthly = rec.op("monthly") {
      tr.span("operators.reconcile.monthly_s")(
        (Reconcile.monthlyAgg(sideA, "fecha", amounts).localCheckpoint(),
          Reconcile.monthlyAgg(sideB, "fecha", amounts).localCheckpoint()))
    } { case (ma, mb) =>
      ReconCheck.monthly(ma.collect().toSeq, a, "A") ++ ReconCheck.monthly(mb.collect().toSeq, b, "B")
    }
    monthly.foreach { case (ma, mb) =>
      rec.op("align") {
        tr.span("operators.reconcile.align_s")(
          (Reconcile.alignDiff(ma, mb, "month", "n_rows").collect().toSeq,
            Reconcile.alignDiff(ma, mb, "month", "sum_importe_cobrado").collect().toSeq))
      } { case (n, c) => ReconCheck.align(n, c, a, b) }
    }
    rec.op("state") {
      tr.span("operators.aggregates.state_s")(
        (Aggregates.monthStateCounts(sideA, "fecha", "estado").collect().toSeq,
          Aggregates.monthStatePivot(sideB, "fecha", "estado", ReconGen.States.toSeq).collect().toSeq))
    } { case (c, p) => ReconCheck.states(c, p, a, b) }
    rec.op("sums") {
      tr.span("operators.aggregates.sums_s")(
        Seq(Aggregates.globalSums(sideA, "importe_cobrado", "importe_pagado"),
          Aggregates.globalSums(sideB, "importe_cobrado", "importe_pagado"),
          Aggregates.dateProfile(sideA, "fecha"),
          Aggregates.dateProfile(sideB, "fecha")).map(_.head()))
    } { r => ReconCheck.sums(r(0), r(2), a, "A") ++ ReconCheck.sums(r(1), r(3), b, "B") }
    rec.op("topk") {
      tr.span("operators.reconcile.topk_s")(
        Reconcile.topKByCount(sideA, col("fecha"), TopK).collect().toSeq)
    } { r => ReconCheck.topK(r, a, TopK) }
    rec.op("orphans") {
      tr.span("operators.reconcile.orphans_s")(
        Reconcile.orphanKeysBoth(sideA, "id_liq", sideB, "id_liq").collect().toSeq)
    } { r => ReconCheck.orphans(r, a, b) }
    spark.catalog.clearCache()

    if (tr.traced)
      tr.count("pipeline.scan.rows",
        tr.groups().get("probe.pipeline.scan.busy_s").map(_.inputRecords).getOrElse(0L).toDouble)
  }

  override def report(rounds: Seq[Seq[OpResult]]): Seq[(String, Stats.Summary, String)] = Seq(
    ("reconcile_report_s", Stats.summarize(rounds.map(_.map(_.seconds).sum)), "s"))
}
