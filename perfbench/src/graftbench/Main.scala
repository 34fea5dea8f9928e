package graftbench

import scala.collection.mutable

import graft.operators.QueryCaches

/** Benchmark driver JVM: runs one workload from one closed-loop client
  * thread and writes a results JSON file.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --in INPUT_DIR --work WORK_DIR --out RESULTS_JSON
  *
  * With --trace 0 no listener is registered and the end-to-end metrics
  * are measured; with --trace 1 the Spark and streaming listeners record
  * spans and counters for the per-layer metrics. `perfbench/run.py` builds
  * this, generates the inputs and prints the results.
  */
object Main {

  /** Cycles every run holds, whatever its --seconds. */
  val MinCycles = 2

  /** Span layers from the top (the operation) down, for self times. */
  val Layers = Seq("op", "orch.phase", "orch.loader", "stream.batch", "spark.job", "spark.stage")

  /** The 20 loader procedures `runFullEtl` logs to bl_cl.etl_log. */
  val Loaders = Seq("customers", "products", "suppliers", "sales", "orders")
    .map("load_staging_" + _) ++
    Seq("ce_categories", "ce_subcategories", "ce_continents", "ce_countries", "ce_states",
      "ce_cities", "ce_customers_scd1", "ce_suppliers", "ce_products_scd2", "ce_sales")
      .map("load_3nf_" + _) ++
    Seq("load_dim_customers", "load_dim_suppliers", "load_dim_products_scd2",
      "load_dim_dates", "load_fct_sales")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val tracing = a("trace") == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.Sessions.local(cores, s"graftbench-$workload")
    val tracer = new Tracer(spark, tracing)
    val ctx = Ctx(spark, tracer, a("in"), a("work"), a("seed").toLong, a("seconds").toDouble,
      a("reads").toInt, plant = a.get("plant").contains("1"))
    val wl: Workload = workload match {
      case "refresh_serve" => new RefreshServe(ctx)
      case "dedup_ingest" => new DedupIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.info("setup.jvm_and_session") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    wl.setup()
    val (cpu0, idle0, steal0) = Util.hostCpu()
    val cache0 = QueryCaches.stats
    // whole cycles only, at least MinCycles so that every timed metric
    // is a median of several operations; another starts only if it
    // should end in time
    val t0 = tracer.nowMs
    var lastCycle = 0.0
    while (wl.more && (wl.cycles < MinCycles || tracer.nowMs - t0 + lastCycle <= ctx.seconds * 1000)) {
      val c0 = tracer.nowMs
      wl.cycle()
      wl.cycles += 1
      lastCycle = tracer.nowMs - c0
    }
    val t1 = tracer.nowMs
    val (cpu1, idle1, steal1) = Util.hostCpu()
    val cache1 = QueryCaches.stats
    val liveHeapMb = Util.liveHeapMb()
    val rssPeakMb = Util.rssPeakMb()
    wl.finish()

    val hostTotal = math.max(1L, cpu1 - cpu0).toDouble
    val stealFrac = (steal1 - steal0) / hostTotal
    val cpuUtil = (hostTotal - (idle1 - idle0) - (steal1 - steal0)) / hostTotal
    val attempted = wl.results.size
    val failed = wl.results.count(!_.ok)
    // read latency: the mean over read shapes (the name's first word)
    // of each shape's median, so the run's mix of shapes cannot move it
    val readMs = {
      val byShape = wl.results.toSeq.filter(r => r.kind == "read" && r.completed)
        .groupBy(_.name.split(" ")(0)).values.map(rs => Util.median(rs.map(_.span.dur)))
      if (byShape.isEmpty) Double.NaN else byShape.sum / byShape.size
    }

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "write_s" -> ((Util.median(wl.durations("write")), "s")),
      "batch_s" -> ((Util.median(wl.durations("batch")), "s")),
      "read_ms" -> ((readMs, "ms")),
      "warehouse_mb" -> ((wl.warehouseBytes() / 1e6, "MB")),
      "live_heap_mb" -> ((liveHeapMb, "MB")))

    val spans = if (tracing) tracer.spans() else Seq.empty
    val layer: Map[String, Double] =
      if (!tracing) Map.empty
      else perLayer(wl, spans, tracer, cache1._1 - cache0._1, cache1._2 - cache0._2) ++
        Map("host.steal_frac" -> stealFrac, "host.cpu_util" -> cpuUtil)

    val conf = spark.sparkContext.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "local_cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "host.steal_frac" -> stealFrac,
      "host.cpu_util" -> cpuUtil,
      "confs" -> conf.filter { case (k, _) => k.startsWith("spark.") || k.startsWith("graft.") }
        .filterNot { case (k, _) => k.contains("port") || k.contains("app.id") ||
          k.contains("extraJavaOptions") ||
          k.contains("startTime") || k.contains("driver.host") || k.contains("executor.id") }
        .sortBy(_._1).toMap)
    val out = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> tracing, "cycles" -> wl.cycles,
      "first_op_epoch_ms" -> t0, "measured_s" -> (t1 - t0) / 1000.0,
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> wl.results.groupBy(_.kind).map { case (k, rs) => k -> rs.size },
      "op_ms" -> wl.results.map(r => Seq(r.kind, r.name, r.span.dur, r.ok)),
      "failures" -> wl.results.filter(!_.ok).take(20).map(r => s"${r.kind} ${r.name}: ${r.error.getOrElse("")}"),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> (wl.namedMetrics() :+ (("rss_peak_mb", rssPeakMb, "MB")))
        .map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> layer.toSeq.sortBy(_._1).toMap,
      "info" -> wl.info.toMap,
      "jobs_by_site" -> spans.filter(_.layer == "spark.job").groupBy(_.attrs("site").toString)
        .map { case (k, v) => k -> v.size }.toSeq.sortBy(-_._2).take(25).toMap,
      "env" -> env)
    Util.writeText(a("out"), Util.json(out))
    if (tracing)
      Util.writeText(a("out").stripSuffix(".json") + ".spans.json", Util.json(spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))))
    tracer.close()
    spark.stop()
  }

  /** Per-layer metrics of a traced run. Counters are per cycle (one
    * refresh + re-run + queries, or one wave + lookups + one pass),
    * timings are medians per operation. */
  def perLayer(wl: Workload, spans: Seq[Span], tracer: Tracer,
               hits: Long, misses: Long): Map[String, Double] = {
    val cyc = math.max(1, wl.cycles).toDouble
    val timed = wl.results.map(_.span.id).toSet
    val setupIds = tracer.ops.filter(_.layer == "setup").map(_.id).toSet
    val jobs = spans.filter(s => s.layer == "spark.job" && timed(s.op))
    val stages = spans.filter(s => s.layer == "spark.stage" && timed(s.op))
    def sumAttr(k: String): Double = stages.map(s => s.attrs(k) match {
      case l: Long => l.toDouble
      case d: Double => d
      case i: Int => i.toDouble
    }).sum
    val ops = wl.results.toSeq.map(_.span)
    val driverOnly = ops.map { o =>
      val js = Intervals.clip(jobs.filter(_.op == o.id).map(j => (j.start, j.end)), o.start, o.end)
      (o.dur - Intervals.length(js))
    }.sum
    def jobsPer(kind: String): Double = {
      val n = wl.results.filter(_.kind == kind).map(r => jobs.count(_.op == r.span.id).toDouble).toSeq
      if (n.isEmpty) 0.0 else Util.median(n)
    }
    val batches = spans.filter(s => s.layer == "stream.batch" && timed(s.op))
    def batchMed(k: String): Double =
      if (batches.isEmpty) 0.0 else Util.median(batches.map(_.attrs(k).asInstanceOf[Double]))
    val opSpans = ops.map(o => o.copy(layer = "op"))
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    opSpans.foreach { o =>
      Intervals.selfTimes(o, spans.filter(s => s.op == o.id && s.layer != "op") :+ o, Layers)
        .foreach { case (l, v) => self(l) += v }
    }
    val loaderSamples = Loaders.map(l => s"orch.loader_s.$l" -> wl.samples.get(s"orch.loader_s.$l.write")
      .map(b => Util.median(b.toSeq)).getOrElse(0.0))
    val storagePeak = wl.samples.get("cache.storage_mb").map(_.max).getOrElse(0.0)
    Map(
      "spark.jobs" -> jobs.size / cyc,
      "spark.jobs.write" -> jobsPer("write"),
      "spark.jobs.batch" -> jobsPer("batch"),
      "spark.jobs.read" -> jobsPer("read"),
      "spark.jobs.setup" -> spans.count(s => s.layer == "spark.job" && setupIds(s.op)).toDouble,
      "spark.stages" -> stages.size / cyc,
      "spark.tasks" -> sumAttr("tasks") / cyc,
      "spark.task_cpu_ms" -> sumAttr("cpu_ms") / cyc,
      "spark.gc_ms" -> sumAttr("gc_ms") / cyc,
      "spark.task_wait_ms" -> sumAttr("wait_ms") / cyc,
      "spark.input_mb" -> sumAttr("input_b") / 1e6 / cyc,
      "spark.shuffle_mb" -> sumAttr("shuffle_b") / 1e6 / cyc,
      "spark.spill_mb" -> sumAttr("spill_b") / 1e6 / cyc,
      "spark.driver_only_ms" -> driverOnly / cyc,
      "orch.jobs" -> jobs.count(j => Seq("Orchestrator.scala", "EtlLog.scala")
        .exists(f => j.attrs("site").toString.startsWith(f))) / cyc,
      "stream.batches" -> batches.size / cyc,
      "stream.trigger_ms" -> batchMed("trigger_ms"),
      "stream.add_batch_ms" -> batchMed("add_batch_ms"),
      "stream.planning_ms" -> batchMed("planning_ms"),
      "stream.wal_ms" -> batchMed("wal_ms"),
      "stream.input_rows" -> batches.map(_.attrs("input_rows").asInstanceOf[Double]).sum / cyc,
      "cache.hit_ratio" -> (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)),
      "cache.misses" -> misses / cyc,
      "cache.storage_mb_peak" -> storagePeak,
      "trace.spans" -> spans.size.toDouble,
      "trace.hook_ms" -> tracer.hookNs / 1e6 / cyc) ++
      Layers.map(l => s"self_s.$l" -> self(l) / cyc) ++
      loaderSamples ++
      WorkloadLayerKeys.map(k => k -> wl.layerMetrics(spans).getOrElse(k, 0.0))
  }

  /** Workload-specific per-layer metrics; 0 where a workload bypasses
    * the layer. */
  val WorkloadLayerKeys = Seq("orch.staging_s", "orch.3nf_s", "orch.dm_s", "orch.groups_skipped",
    "wh.mb_written", "wh.mb_written_noop", "wh.files_written", "wh.write_amp",
    "wh.months_rewritten", "wh.fact_files", "wh.scan_files", "bi.plan_ms", "bi.exec_ms",
    "dedup.wave_input_mb", "dedup.landed_frac", "dedup.pairs", "cc.clusters")
}
