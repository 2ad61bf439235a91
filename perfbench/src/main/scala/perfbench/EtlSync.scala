package perfbench

import java.sql.Timestamp
import java.time.LocalDate

import graft.operators.Merge
import graft.pipeline.{RefreshMode, Runner, Sinks, TableSpec}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

final case class Socio(id_socio: Long, nombre: String, tipo: String,
                       estado: String, id_zona: Long, id_cobrador: Long,
                       fecha_alta: LocalDate)
final case class Liquidacion(id_liq: Long, id_socio: Long, fecha: LocalDate,
                             periodo: String, estado: String,
                             importe_cobrado: Double, importe_pagado: Double)
final case class Zona(id_zona: Long, nombre: String)
final case class Concepto(codigo: Long, descripcion: String, importe: Double)

/** Presencia-shaped source tables and their planted change set.
  *
  * Snapshot 0 is the base; snapshot 1, the source of the sync cycle, is
  * snapshot 0 plus `insSocios` members and `insLiq` settlements, about 1%
  * of the settlements updated (skewed to the most recent fifth of the
  * table) and a few member state changes. Ids grow with arrival order, as
  * a source database's sequences would mint them. Settlements of members
  * absent from `socios` (0.5%) exist in the source and are dropped by the
  * semi-join; test members (`tipo = PRUEBA`, 1%) by the filter.
  */
final case class EtlShape(nSocios: Int = 5000, nLiq: Int = 40000,
                          insSocios: Int = 15, insLiq: Int = 120)

object EtlGen {
  val Start: LocalDate = LocalDate.of(2023, 1, 1)
  val SpanDays = 730
  val NCollectors = 200
  val NZonas = 40
  val NConceptos = 60
  val SocioStates = Array("ACTIVO", "SUSPENDIDO", "MOROSO")
  val LiqStates = Array("PENDIENTE", "PAGADA", "PARCIAL", "ANULADA")
  val OrphanSocioBase = 10000000L
  import Gen.{below, mix}

  def nSociosAt(s: EtlShape, after: Boolean): Long = s.nSocios.toLong + (if (after) s.insSocios else 0)
  def nLiqAt(s: EtlShape, after: Boolean): Long = s.nLiq.toLong + (if (after) s.insLiq else 0)

  def isPrueba(seed: Long, i: Long): Boolean = below(mix(seed, i, 0, 100), 100) == 0
  def socioUpdated(seed: Long, s: EtlShape, i: Long): Boolean =
    i < s.nSocios && below(mix(seed, i, 1, 101), 1000) < 2

  def socio(seed: Long, s: EtlShape, i: Long, after: Boolean): Socio = {
    val h = mix(seed, i, 0, 100)
    val nUpd = if (after && socioUpdated(seed, s, i)) 1 else 0
    val tipo = if (isPrueba(seed, i)) "PRUEBA"
      else if (below(h >>> 8, 4) == 0) "ADHERENTE" else "TITULAR"
    Socio(1 + i, s"socio_$i", tipo,
      SocioStates(((below(h >>> 16, 3) + nUpd) % 3).toInt),
      1 + below(h >>> 24, NZonas), 1 + below(h >>> 32, NCollectors),
      Start.minusDays(below(h >>> 40, 3000)))
  }

  def isOrphan(seed: Long, j: Long): Boolean = below(mix(seed, j, 0, 202), 200) == 0
  def liqUpdated(seed: Long, s: EtlShape, j: Long): Boolean = {
    val perTenK = if (j >= s.nLiq * 4L / 5) 400 else 25
    j < s.nLiq && below(mix(seed, j, 1, 201), 10000) < perTenK
  }

  def liq(seed: Long, s: EtlShape, j: Long, after: Boolean): Liquidacion = {
    val h = mix(seed, j, 0, 200)
    val nUpd = if (after && liqUpdated(seed, s, j)) 1 else 0
    val fecha =
      if (j < s.nLiq) Start.plusDays(j * SpanDays / s.nLiq)
      else Start.plusDays(SpanDays + 3 * ((j - s.nLiq) / s.insLiq + 1) + below(h, 3))
    val socio = if (isOrphan(seed, j)) OrphanSocioBase + j else 1 + below(h >>> 8, s.nSocios)
    val cobrado = 1000 + below(h >>> 20, 49000)
    val pagado = below(h >>> 40, cobrado + 1) + 100 * nUpd
    Liquidacion(1 + j, socio, fecha, fecha.toString.take(7),
      LiqStates(((below(h >>> 50, 4) + nUpd) % 4).toInt),
      cobrado / 100.0, pagado / 100.0)
  }

  /** Write one snapshot of every table under `dir`. */
  def write(spark: SparkSession, seed: Long, s: EtlShape, after: Boolean, dir: String): Unit = {
    import spark.implicits._
    def out[T](ds: Dataset[T], name: String): Unit =
      ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
    def rows[T: Encoder](n: Long, parts: Int)(f: Long => T): Dataset[T] =
      spark.range(0, n, 1, parts).map(i => f(i.longValue))
    out(rows(nSociosAt(s, after), 1)(i => socio(seed, s, i, after)), "socios")
    out(rows(nLiqAt(s, after), 4)(j => liq(seed, s, j, after)), "liquidaciones")
    out(rows(NZonas.toLong, 1)(i => Zona(1 + i, s"zona_$i")), "zonas")
    // No reliable key: `codigo` repeats, so incremental sync must fall
    // back to a full refresh for this table.
    out(rows(NConceptos.toLong, 1)(i => Concepto(1 + i % 50, s"concepto_$i", 100.0 + i)), "conceptos")
  }

  /** Expected target rows of each table after loading one snapshot. */
  def expectedRows(seed: Long, s: EtlShape, after: Boolean): Map[String, Long] = Map(
    "socios" -> (0L until nSociosAt(s, after)).count(i => !isPrueba(seed, i)).toLong,
    "liquidaciones" -> (0L until nLiqAt(s, after)).count(j => !isOrphan(seed, j)).toLong,
    "zonas" -> NZonas.toLong,
    "conceptos" -> NConceptos.toLong)

  /** The planted change set of the cycle: (inserts, updates) per keyed table. */
  def planted(seed: Long, s: EtlShape): Map[String, (Long, Long)] = Map(
    "socios" -> (
      (nSociosAt(s, false) until nSociosAt(s, true)).count(i => !isPrueba(seed, i)).toLong,
      (0L until nSociosAt(s, false)).count(i => !isPrueba(seed, i) && socioUpdated(seed, s, i)).toLong),
    "liquidaciones" -> (
      (nLiqAt(s, false) until nLiqAt(s, true)).count(j => !isOrphan(seed, j)).toLong,
      (0L until nLiqAt(s, false)).count(j => !isOrphan(seed, j) && liqUpdated(seed, s, j)).toLong))
}

/** The etl_sync checkers, pure so the self-tests can feed them wrong answers. */
object EtlCheck {
  /** What the target holds after a cycle: rows, rows created and rows
    * updated by the cycle (told apart by their audit timestamps), and a
    * content hash of the data columns.
    */
  final case class Tally(rows: Long, inserts: Long, updates: Long, content: Any)

  /** Per-table results of a load or sync: no errors, the expected mode
    * (when one is given) and the expected row count.
    */
  def results(step: String, res: Seq[(String, String, Long, Option[String])],
              modes: Map[String, String], rows: Map[String, Long]): Seq[String] =
    res.flatMap { case (t, mode, n, err) =>
      err.map(e => s"$step $t: $e").toSeq ++
        modes.get(t).filter(_ != mode).map(m => s"$step $t: mode $mode, expected $m") ++
        (if (err.isEmpty && n != rows(t)) Seq(s"$step $t: $n rows, expected ${rows(t)}") else Nil)
    }

  /** A keyed table after a cycle against its source and planted changes. */
  def tally(label: String, got: Tally, sourceRows: Long, sourceContent: Any,
            planted: (Long, Long)): Seq[String] = {
    val (ins, upd) = planted
    Seq(
      if (got.rows != sourceRows) Some(s"$label: ${got.rows} rows, source has $sourceRows") else None,
      if (got.inserts != ins) Some(s"$label: ${got.inserts} inserts, planted $ins") else None,
      if (got.updates != upd) Some(s"$label: ${got.updates} updates, planted $upd") else None,
      if (got.content != sourceContent) Some(s"$label: target content differs from the source") else None
    ).flatten
  }
}

/** `etl_sync`: one full load, then one incremental sync, each round
  * starting from the same restored target (the full load rewrites it).
  */
final class EtlSync(shape: EtlShape = EtlShape()) extends Workload {
  val name = "etl_sync"
  private val keyed = Seq("socios", "liquidaciones")
  private val expectedMode = Map("socios" -> "incremental",
    "liquidaciones" -> "incremental",
    "zonas" -> "full_refresh", "conceptos" -> "full_refresh_fallback_dup_keys")

  val specs: Seq[TableSpec] = Seq(
    TableSpec("socios", Seq("id_socio"), Seq(col("tipo") =!= "PRUEBA"), RefreshMode.Incremental),
    TableSpec("liquidaciones", Seq("id_liq"), Nil, RefreshMode.Incremental,
      Some(("socios", "id_socio", "id_socio"))),
    TableSpec("zonas"),
    TableSpec("conceptos", Seq("codigo"), Nil, RefreshMode.Incremental))

  /** The planted answers, computed once per set-up from the generator. */
  private var loadRows, syncRows = Map.empty[String, Long]
  private var changes = Map.empty[String, (Long, Long)]

  def generate(ctx: Ctx, dir: String): String = {
    EtlGen.write(ctx.spark, ctx.seed, shape, after = false, s"$dir/c0")
    EtlGen.write(ctx.spark, ctx.seed, shape, after = true, s"$dir/c1")
    loadRows = EtlGen.expectedRows(ctx.seed, shape, after = false)
    syncRows = EtlGen.expectedRows(ctx.seed, shape, after = true)
    changes = EtlGen.planted(ctx.seed, shape)
    Gen.checksum(dir)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** Source rows a keyed table should hold after the sync, as the bench
    * reads them (its own filter and orphan rule, not the program's).
    */
  private def sourceOf(spark: SparkSession, srcDir: String, t: String): DataFrame = {
    val df = spark.read.parquet(s"$srcDir/$t.parquet")
    t match {
      case "socios" => df.filter(col("tipo") =!= "PRUEBA")
      case "liquidaciones" => df.filter(col("id_socio") < EtlGen.OrphanSocioBase)
      case _ => df
    }
  }

  private def contentHash(cols: Seq[String]): org.apache.spark.sql.Column =
    sum(xxhash64(cols.sorted.map(col): _*).cast("decimal(38,0)"))

  def round(ctx: Ctx, dir: String, tr: Tracer, rec: Recorder): Unit = {
    val spark = ctx.spark
    val tgt = s"${ctx.work}/etl-target"
    val srcDir = s"$dir/c1"
    val traced = tr.traced

    def scanProbe(srcDir: String): Unit = rec.probe {
      specs.foreach(sp => tr.span("probe.pipeline.scan.busy_s")(noop(TableSpec.read(spark, srcDir, sp.name))))
    }

    // Full load: the reference's sync_ALL.
    if (traced) scanProbe(s"$dir/c0")
    val scanLoad = tr.wall("probe.pipeline.scan.busy_s")
    val sink: (TableSpec, DataFrame) => Long =
      if (!traced) (sp, df) => Sinks.fullRefresh(df, s"$tgt/${sp.name}")
      else (sp, df) => {
        // Materialize the lazy load (scan, filter, semi-join, row hash)
        // so the sink span holds only the write and its count check.
        val loaded = tr.span("etl.load") { val d = df.persist(); noop(d); d }
        try tr.span("pipeline.sink.busy_s")(Sinks.fullRefresh(loaded, s"$tgt/${sp.name}"))
        finally loaded.unpersist()
      }
    val loadedOk = rec.op("full_load") {
      tr.span("etl.full_load")(Runner.runAll(spark, s"$dir/c0", specs)(sink))
    } { res =>
      EtlCheck.results("full load", res.map(r => (r.table, "", r.rows, r.error)), Map.empty, loadRows)
    }.exists(_.forall(_.error.isEmpty))
    if (!loadedOk) { spark.catalog.clearCache(); return }

    // The sync cycle's steps, replayed from outside against the loaded
    // target, in the order and on the tables `Runner.syncIncremental`
    // runs them; the cycle's sink is what remains of its wall.
    var refreshedLoads = 0.0
    if (traced) {
      scanProbe(srcDir)
      rec.probe(specs.foreach { sp =>
        val src = Runner.loadTable(spark, srcDir, sp)
        val before = tr.wall("probe.etl.sync_load")
        tr.span("probe.etl.sync_load")(noop(src))
        if (sp.refreshMode == RefreshMode.Incremental)
          tr.span("probe.pipeline.key_audit.busy_s")(Merge.duplicateKeyAudit(src, sp.keys).limit(1).count())
        if (!keyed.contains(sp.name)) refreshedLoads += tr.wall("probe.etl.sync_load") - before
        else {
          val bare = src.drop(Merge.AuditCols: _*)
          val target = Merge.evolveTarget(bare, spark.read.parquet(s"$tgt/${sp.name}"))
          val tally = tr.span("probe.operators.merge.classify_s")(
            Merge.outcomeTally(Merge.classify(bare, target, sp.keys)).collect())
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          tr.count("operators.merge.inserts", tally.getOrElse(Merge.Insert, 0L).toDouble)
          tr.count("operators.merge.updates", tally.getOrElse(Merge.Update, 0L).toDouble)
          tr.count("operators.merge.skips", tally.getOrElse(Merge.Skip, 0L).toDouble)
          tr.span("probe.operators.merge.apply_s")(noop(Merge.apply(bare, target, sp.keys)))
        }
      })
    }
    val startTs = new Timestamp(System.currentTimeMillis())
    rec.op("sync_cycle") {
      tr.span("etl.sync")(Runner.syncIncremental(spark, srcDir, specs, tgt))
    } { res => checkSync(spark, srcDir, tgt, startTs, res) }
    spark.catalog.clearCache()

    if (traced) {
      val g = tr.groups()
      def out(f: Ledger#Acc => Long, gs: String*) = gs.flatMap(g.get).map(f).sum.toDouble
      tr.count("pipeline.scan.rows", out(_.inputRecords, "probe.pipeline.scan.busy_s"))
      // Row hash = the materialized load (scan, filter, semi-join, audit
      // columns) less its scan, on the full load and on the sync cycle.
      val scanSync = tr.wall("probe.pipeline.scan.busy_s") - scanLoad
      tr.count("functions.rowhash.busy_s", (tr.wall("etl.load") - scanLoad).max(0.0) +
        (tr.wall("probe.etl.sync_load") - scanSync).max(0.0))
      tr.count("functions.rowhash.rows", out(_.outputRecords, "pipeline.sink.busy_s") +
        syncRows.values.sum)
      // The sync's wall less what the replays account for: every key
      // audit, each merged table's merge apply (which recomputes the load
      // of the sync's write pass) and each full-refreshed table's load.
      val syncSink = rec.ops.last.seconds - tr.wall("probe.pipeline.key_audit.busy_s") -
        tr.wall("probe.operators.merge.apply_s") - refreshedLoads
      tr.count("pipeline.sink.busy_s", tr.wall("pipeline.sink.busy_s") + syncSink.max(0.0))
      tr.count("pipeline.sink.rows_written", out(_.outputRecords, "pipeline.sink.busy_s", "etl.sync"))
      tr.count("pipeline.sink.bytes_written", out(_.outputBytes, "pipeline.sink.busy_s", "etl.sync"))
      // Every table is written once by the load and once by the sync, with
      // the file layout the target ends with.
      tr.count("pipeline.sink.files_written",
        2 * Gen.listing(tgt).keys.count(_.split('/').last.startsWith("part-")).toDouble)
      val changed = changes.values.map { case (i, u) => i + u }.sum
      tr.count("pipeline.sink.rows_written_per_changed_row", out(_.outputRecords, "etl.sync") / changed)
    }
  }

  private def checkSync(spark: SparkSession, srcDir: String, tgt: String,
                        startTs: Timestamp, res: Seq[Runner.TableResult]): Seq[String] = {
    val ts = lit(startTs)
    EtlCheck.results("sync", res.map(r => (r.table, r.mode, r.rows, r.error)), expectedMode, syncRows) ++
      keyed.flatMap { t =>
        val target = spark.read.parquet(s"$tgt/$t")
        val dataCols = target.columns.filterNot(Merge.AuditCols.contains).toSeq
        val got = target.agg(count(lit(1)),
            sum(when(col("created_at") >= ts, 1L).otherwise(0L)),
            sum(when(col("updated_at") >= ts && col("created_at") < ts, 1L).otherwise(0L)),
            contentHash(dataCols)).head()
        val want = sourceOf(spark, srcDir, t).agg(count(lit(1)), contentHash(dataCols)).head()
        EtlCheck.tally(s"sync $t",
          EtlCheck.Tally(got.getLong(0), got.getLong(1), got.getLong(2), got.get(3)),
          want.getLong(0), want.get(1), changes(t))
      }
  }

  override def report(rounds: Seq[Seq[OpResult]]): Seq[(String, Stats.Summary, String)] = {
    val ops = rounds.flatten
    Seq(
    ("full_load_s", Stats.summarize(ops.filter(_.name == "full_load").map(_.seconds)), "s"),
    ("sync_cycle_s", Stats.summarize(ops.filter(_.name == "sync_cycle").map(_.seconds)), "s"))
  }
}
