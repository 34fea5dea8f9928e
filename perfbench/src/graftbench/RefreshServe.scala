package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.LocalDate
import scala.collection.mutable

import graft.plans.Orchestrator
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The warehouse the reference publishes: the retail extract loaded by
  * the full ETL (staging → 3NF → star schema), refreshed one landing
  * wave at a time and served to star queries in between.
  *
  * Set-up loads the base extract into an empty warehouse with
  * `Orchestrator.runFullEtl` (the bulk path, timed as `full_build_s`).
  * Each cycle then
  *  - write: lands the next wave (one month of orders and lines past the
  *    watermark plus part price rises) into the extract and runs
  *    `runFullEtl` — the refresh;
  *  - batch: runs `runFullEtl` again on the unchanged extract — the
  *    reference's idempotent re-run;
  *  - read: issues star queries back to back against `bl_dm`.
  *
  * Every output is checked against [[RetailModel]], a driver-side
  * recompute from the generated extract that shares no code with the
  * library.
  */
final class RefreshServe(c: Ctx) extends Workload(c) {
  import ctx._

  val queriesPerCycle = ctx.reads
  private val extract = s"$inDir/extract"
  private val whRoot = s"$workDir/wh"
  private var orch: Orchestrator = _
  private val model = new RetailModel
  private var wave = 0
  private val waveMb = mutable.ArrayBuffer.empty[Double]
  /** (wave, epoch ms) at which the warehouse reflected that wave. */
  private val loadedAt = mutable.ArrayBuffer.empty[(Int, Long)]
  private var fullBuildS = Double.NaN
  /** Star queries issued so far; the five shapes rotate across cycles. */
  private var queries = 0

  private def nWaves: Int =
    Option(new File(s"$inDir/waves").list()).map(_.length).getOrElse(0)
  def more: Boolean = wave < nWaves

  private def fct: DataFrame = orch.wh.readPartitioned("bl_dm", "fct_sales", "order_month")

  def setup(): Unit = {
    step("model")(model.loadBase(s"$inDir/truth"))
    orch = new Orchestrator(spark, extract, whRoot)
    val t0 = System.nanoTime()
    step("base_build")(orch.runFullEtl())
    fullBuildS = (System.nanoTime() - t0) / 1e9
    loadedAt += ((0, System.currentTimeMillis()))
    checkFact()
  }

  private var phaseAcc = Map.empty[String, Double]
  private def etl(): Unit = {
    val acc = mutable.Map.empty[String, Double]
    orch.runFullEtl((phase, s) => acc.synchronized { acc(phase) = s })
    phaseAcc = acc.toMap
  }

  def cycle(): Unit = {
    wave += 1
    val w = wave
    val wd = new File(f"$inDir/waves/w$w%03d")
    val before = if (tracing) Util.listing(whRoot) else Map.empty[String, (Long, Long)]
    waveMb += Option(wd.listFiles()).toSeq.flatten.map(_.length).sum / 1e6
    timedOp("write", s"refresh w$w") {
      land(wd, w)
      etl()
    } { _ =>
      loadedAt += ((w, System.currentTimeMillis()))
      model.applyWave(s"$inDir/truth", w)
      if (plant) model.plantWrongSale()
      checkFact()
    }
    if (tracing) afterEtl("write", before, refresh = true)

    val factBefore = factListing()
    val before2 = if (tracing) Util.listing(whRoot) else Map.empty[String, (Long, Long)]
    timedOp("batch", s"rerun w$w")(etl()) { _ =>
      check(factListing() == factBefore, "no-op re-run rewrote fact partition files")
    }
    if (tracing) afterEtl("batch", before2, refresh = false)

    for (_ <- 0 until queriesPerCycle) {
      query(queries % 5)
      queries += 1
    }
  }

  /** Move the wave's files into the extract's table directories. */
  private def land(wd: File, w: Int): Unit =
    for (t <- Seq("orders", "lineitem", "part")) {
      val src = new File(wd, s"$t.parquet")
      Files.move(src.toPath, new File(s"$extract/$t.parquet", f"part-w$w%03d.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE): Unit
    }

  private def factListing(): Map[String, (Long, Long)] =
    Util.listing(orch.wh.path("bl_dm", "fct_sales")) ++
      Util.listing(orch.wh.path("bl_3nf", "ce_sales")).map { case (k, v) => ("3nf" + k) -> v }

  private def checkFact(): Unit = {
    val got = fct.groupBy(col("order_month"))
      .agg(count(lit(1)), sum(col("sale_total"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val want = model.monthly()
    check(got == want, {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(m => got.get(m) != want.get(m))
      s"fct_sales per-month (count, sum) differs from the recompute in ${bad.size} months, " +
        s"first ${bad.headOption.map(m => s"$m: got ${got.get(m)} want ${want.get(m)}")}"
    })
  }

  // ---- trace-only accounting ----------------------------------------
  private def afterEtl(kind: String, before: Map[String, (Long, Long)], refresh: Boolean): Unit = {
    val after = Util.listing(whRoot)
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
      .filterNot(_._1.contains("_etl_state"))
    val mb = written.values.map(_._1).sum / 1e6
    sample(s"wh.mb_written.$kind", mb)
    sample(s"wh.files_written.$kind", written.size.toDouble)
    if (refresh) {
      sample("wh.write_amp", mb / waveMb.last)
      val months = written.keys.filter(_.startsWith("/bl_dm/fct_sales/order_month="))
        .map(_.split("/")(3)).toSet
      sample("wh.months_rewritten", months.size.toDouble)
    }
    phaseAcc.foreach { case (p, s) => sample(s"orch.$p.$kind", s) }
    // loader spans from the ETL log (bl_cl.etl_log): one row per loader
    // event, duration in the message, timestamp at completion
    val op = results.last.span
    val rows = orch.wh.read("bl_cl", "etl_log")
      .filter(col("log_ts").between(lit(new java.sql.Timestamp(op.start.toLong)),
        lit(new java.sql.Timestamp(op.end.toLong + 1))))
      .select(col("procedure"), col("message"), col("log_ts")).collect()
    val Done = "completed in ([0-9.]+) s".r
    var skipped = 0
    val loaders = rows.toSeq.flatMap { r =>
      val end = r.getTimestamp(2).getTime.toDouble
      (r.getString(0), r.getString(1)) match {
        case (proc, Done(s)) if proc != "run_full_etl" =>
          sample(s"orch.loader_s.$proc.$kind", s.toDouble)
          Seq((proc, end - s.toDouble * 1000, end))
        case (_, m) if m.startsWith("skipped") => skipped += 1; Nil
        case _ => Nil
      }
    }
    sample(s"orch.groups_skipped.$kind", skipped.toDouble)
    // phase spans: first loader start → last loader end, as runFullEtl
    // defines them; each loader span is parented to its phase
    def phaseOf(proc: String) =
      if (proc.startsWith("load_staging_")) "staging"
      else if (proc.startsWith("load_3nf_")) "3nf" else "dm"
    loaders.groupBy(l => phaseOf(l._1)).foreach { case (phase, ls) =>
      val pid = tracer.nextId()
      tracer.inner += Span(pid, op.id, op.id, "orch.phase", phase,
        ls.map(_._2).min, ls.map(_._3).max)
      ls.foreach { case (proc, s, e) =>
        tracer.inner += Span(tracer.nextId(), pid, op.id, "orch.loader", proc, s, e)
      }
    }
  }

  // ---- star queries ---------------------------------------------------
  /** One star query of shape `kind` with seeded parameters. */
  private def query(kind: Int): Unit = {
    val months = model.months
    val (name, build, want): (String, () => DataFrame, () => Seq[Seq[Any]]) = kind match {
      case 0 =>
        ("q1_fact_agg", () => fct.agg(count(lit(1)), sum(col("quantity")), sum(col("sale_total"))),
          () => Seq(model.q1()))
      case 1 =>
        val year = months(rng.nextInt(months.size)).take(4)
        (s"q2_by_type $year", () => fct.filter(col("order_month").between(year + "01", year + "12"))
          .join(orch.wh.read("bl_dm", "dim_products_scd").filter(col("is_active") === "Y")
            .select(col("product_id"), col("product_type")), Seq("product_id"))
          .groupBy(col("product_type"))
          .agg(count(lit(1)), sum(col("sale_total")))
          .orderBy(col("product_type")), () => model.q2(year))
      case 2 =>
        val seg = model.segments(rng.nextInt(model.segments.size))
        (s"q3_top_geo $seg", () => fct.join(orch.wh.read("bl_dm", "dim_customers")
            .filter(col("segment") === seg)
            .select(col("customer_id"), col("continent_name"), col("country_name")),
            Seq("customer_id"))
          .groupBy(col("continent_name"), col("country_name"))
          .agg(sum(col("sale_total")).as("rev"))
          .orderBy(col("rev").desc, col("country_name")).limit(10), () => model.q3(seg))
      case 3 =>
        val m = months(rng.nextInt(months.size))
        (s"q4_month $m", () => fct.filter(col("order_month") === m)
          .groupBy(col("order_dt")).agg(count(lit(1)), sum(col("sale_total")))
          .orderBy(col("order_dt")), () => model.q4(m))
      case _ =>
        val (w, at) = loadedAt(rng.nextInt(loadedAt.size))
        val pk = model.parts(rng.nextInt(model.parts.size))
        val ts = new java.sql.Timestamp(at)
        (s"q5_asof_price p$pk w$w", () => orch.wh.read("bl_dm", "dim_products_scd")
          .filter(col("product_id") === pk && col("start_ts") <= lit(ts) && col("end_ts") >= lit(ts))
          .select(col("unit_price")), () => Seq(Seq(model.priceAt(pk, w))))
    }
    var planMs = 0.0
    timedOp("read", name) {
      val t0 = System.nanoTime()
      val df = build()
      df.queryExecution.executedPlan
      planMs = (System.nanoTime() - t0) / 1e6
      (df, df.collect())
    } { case (df, rows) =>
      val got = rows.toSeq.map(RetailModel.norm)
      val exp = want()
      check(got == exp, s"$name: got ${got.take(3)} want ${exp.take(3)}")
      if (tracing) {
        sample("bi.plan_ms", planMs)
        sample("bi.exec_ms", results.last.span.dur - planMs)
        sample("wh.scan_files", Plans.scannedFiles(df).toDouble)
      }
    }
  }

  def finish(): Unit =
    info("fact_files") = Util.listing(orch.wh.path("bl_dm", "fct_sales")).keys
      .count(_.endsWith(".parquet"))

  def warehouseBytes(): Long = Util.treeBytes(whRoot)

  def namedMetrics(): Seq[(String, Double, String)] = {
    val bi = durations("read").map(_ * 1000)
    Seq(("full_build_s", fullBuildS, "s"),
      ("refresh_s", Util.median(durations("write")), "s"),
      ("rerun_noop_s", Util.median(durations("batch")), "s"),
      ("bi_p50_ms", Util.median(bi), "ms"),
      ("bi_n", bi.size.toDouble, "count")) ++
      Util.tail(bi).filter(_._1 != "p50").map { case (p, v) => (s"bi_${p}_ms", v, "ms") }
  }

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    def med(k: String) = samples.get(k).map(b => Util.median(b.toSeq)).getOrElse(0.0)
    Map(
      "orch.staging_s" -> med("orch.staging.write"),
      "orch.3nf_s" -> med("orch.3nf.write"),
      "orch.dm_s" -> med("orch.dm.write"),
      "orch.groups_skipped" -> med("orch.groups_skipped.batch"),
      "wh.mb_written" -> med("wh.mb_written.write"),
      "wh.mb_written_noop" -> med("wh.mb_written.batch"),
      "wh.files_written" -> med("wh.files_written.write"),
      "wh.write_amp" -> med("wh.write_amp"),
      "wh.months_rewritten" -> med("wh.months_rewritten"),
      "wh.fact_files" -> info.getOrElse("fact_files", 0).asInstanceOf[Int].toDouble,
      "wh.scan_files" -> med("wh.scan_files"),
      "bi.plan_ms" -> med("bi.plan_ms"),
      "bi.exec_ms" -> med("bi.exec_ms"))
  }
}

/** Driver-side recompute of the star schema from the generated extract:
  * the expected fact per month, the star-query answers and the SCD2
  * price history. Follows the warehouse's documented semantics — a sale
  * is valued at quantity × the part's highest staged price at the time
  * the sale is loaded, rounded half-up to cents — with plain Scala
  * collections over the generator's plain-text copy of the extract, so
  * it shares no code with the library it checks. */
final class RetailModel {
  import RetailModel._

  private final case class Sale(month: String, day: LocalDate, cust: Long, part: Long,
                                qty: BigDecimal, total: BigDecimal)
  private val sales = mutable.ArrayBuffer.empty[Sale]
  private val prices = mutable.Map.empty[Long, BigDecimal]
  private val priceHist = mutable.Map.empty[(Long, Int), BigDecimal]
  private var partType = Map.empty[Long, String]
  private var custGeo = Map.empty[Long, (String, String, String)] // segment, continent, country

  private def tsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.split("\t")).toVector finally src.close()
  }

  /** Load the generator's plain-text copy of the base extract. */
  def loadBase(truthDir: String): Unit = {
    custGeo = tsv(s"$truthDir/customers.tsv").map(r =>
      r(0).toLong -> ((r(1), initcap(r(2)), initcap(r(3))))).toMap
    val parts = tsv(s"$truthDir/base/parts.tsv")
    partType = parts.map(r => r(0).toLong -> r(1)).toMap
    updatePrices(parts.map(r => (r(0).toLong, r(2))), 0)
    addSales(s"$truthDir/base")
  }

  /** Apply landing wave `w` (its parts' price rises, orders and lines). */
  def applyWave(truthDir: String, w: Int): Unit = {
    val d = f"$truthDir/w$w%03d"
    updatePrices(tsv(s"$d/parts.tsv").map(r => (r(0).toLong, r(2))), w)
    addSales(d)
  }

  private def updatePrices(rows: Seq[(Long, String)], w: Int): Unit =
    rows.foreach { case (k, p) =>
      val v = BigDecimal(p).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      if (prices.get(k).forall(_ < v)) prices(k) = v
      priceHist((k, w)) = prices(k)
    }

  def priceAt(part: Long, w: Int): BigDecimal =
    (w to 0 by -1).iterator.flatMap(i => priceHist.get((part, i))).next()

  private def addSales(dir: String): Unit = {
    val o = tsv(s"$dir/orders.tsv").map(r =>
      r(0).toLong -> ((r(1).toLong, LocalDate.ofEpochDay(r(2).toLong)))).toMap
    tsv(s"$dir/lines.tsv").foreach { r =>
      val (cust, day) = o(r(0).toLong)
      val qty = BigDecimal(r(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val part = r(1).toLong
      sales += Sale(f"${day.getYear}%04d${day.getMonthValue}%02d", day, cust, part, qty,
        (qty * prices(part)).setScale(2, BigDecimal.RoundingMode.HALF_UP))
    }
  }

  /** Add one cent to the expected total of the newest sale. */
  def plantWrongSale(): Unit = {
    val s = sales.last
    sales(sales.size - 1) = s.copy(total = s.total + BigDecimal("0.01"))
  }

  def months: IndexedSeq[String] = sales.map(_.month).distinct.sorted.toIndexedSeq
  def parts: IndexedSeq[Long] = partType.keys.toIndexedSeq.sorted
  def segments: IndexedSeq[String] = custGeo.values.map(_._1).toIndexedSeq.distinct.sorted

  def monthly(): Map[String, (Long, BigDecimal)] =
    sales.groupBy(_.month).map { case (m, ss) => m -> ((ss.size.toLong, ss.map(_.total).sum)) }

  def q1(): Seq[Any] = Seq(sales.size.toLong, sales.map(_.qty).sum, sales.map(_.total).sum)

  def q2(year: String): Seq[Seq[Any]] =
    sales.filter(_.month.startsWith(year)).groupBy(s => partType(s.part)).toSeq.sortBy(_._1)
      .map { case (t, ss) => Seq(t, ss.size.toLong, ss.map(_.total).sum) }

  def q3(seg: String): Seq[Seq[Any]] =
    sales.filter(s => custGeo(s.cust)._1 == seg)
      .groupBy(s => (custGeo(s.cust)._2, custGeo(s.cust)._3)).toSeq
      .map { case ((cont, ctry), ss) => (cont, ctry, ss.map(_.total).sum) }
      .sortBy(x => (-x._3, x._2)).take(10).map(x => Seq(x._1, x._2, x._3))

  def q4(m: String): Seq[Seq[Any]] =
    sales.filter(_.month == m).groupBy(_.day).toSeq.sortBy(_._1)
      .map { case (d, ss) => Seq(d, ss.size.toLong, ss.map(_.total).sum) }
}

object RetailModel {
  def initcap(s: String): String =
    s.toLowerCase.split(" ", -1).map(w => if (w.isEmpty) w else s"${w.head.toUpper}${w.tail}").mkString(" ")

  /** A result row as comparable Scala values. */
  def norm(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => BigDecimal(d)
    case d: java.sql.Date => d.toLocalDate
    case d: LocalDate => d
    case x => x
  }
}
