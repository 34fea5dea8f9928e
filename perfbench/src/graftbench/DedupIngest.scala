package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable

import graft.operators.DedupQueries
import graft.sources.Warehouse
import graft.streaming.EventPipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A continuously ingested document corpus kept deduplicated and
  * clustered, with no ETL orchestration at all.
  *
  * Set-up seeds the bucketed dedup index (`EventPipelines.seedDedupIndex`)
  * and the streamed cluster assignment with 80% of the documents. Each
  * cycle is one wave, its lookups and one batch clustering pass:
  *  - write (per wave): drops the next arrival file (2% of the documents)
  *    into the watched directory, then runs `dedupIngestAvailableNow`
  *    (near-dup verdicts landed) and `ccMaintainAvailableNow` (cluster
  *    assignment updated);
  *  - read (per wave): verdict lookups — for a seed-chosen ingested
  *    document, its landed flag and cluster from the index;
  *  - batch (per cycle): the q195 cross-modal composition (60-bit simhash
  *    text and image pairs, then connected components) plus minhash-LSH
  *    pairs then connected components (q68), over everything ingested.
  *
  * Checks: after every pass (the last operation of a run is one), the
  * streamed assignment must equal one batch connected-components run
  * over everything ingested (the q228 contract); at the end the landed
  * documents must equal the verdicts recomputed from the batch pair set
  * (the q166 contract); every lookup must match the assignment collected
  * after its wave.
  */
final class DedupIngest(c: Ctx) extends Workload(c) {
  import ctx._

  val lookupsPerWave = ctx.reads
  private val (ngram, k, bands, minJ) = (3, 8, 4, 0.2)
  private val whRoot = s"$workDir/wh"
  private val corpus = s"$workDir/corpus"
  private val arrivals = s"$workDir/arrivals"
  private val seedWatch = s"$workDir/seedwatch"
  private var wh: Warehouse = _
  private var wave = 0
  private val arrivedIds = mutable.ArrayBuffer.empty[Long]
  private var assignment = Map.empty[Long, Long]
  private val waveIds = mutable.ArrayBuffer.empty[Seq[Long]]
  private var seedIds = Set.empty[Long]

  private def nWaves: Int =
    Option(new File(s"$inDir/waves").list()).map(_.length).getOrElse(0)
  def more: Boolean = wave < nWaves

  private def docSchema = spark.read.parquet(s"$inDir/seed/documents.parquet").schema
  private def stream(dir: String): DataFrame = spark.readStream.schema(docSchema).parquet(dir)

  def setup(): Unit = {
    wh = new Warehouse(whRoot, spark)
    Seq(corpus + "/documents.parquet", arrivals, seedWatch).foreach(d => new File(d).mkdirs())
    val seedFile = new File(s"$inDir/seed/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(seedFile.toPath, new File(s"$corpus/documents.parquet/part-seed.parquet").toPath)
    Files.copy(seedFile.toPath, new File(s"$seedWatch/part-seed.parquet").toPath)
    val seed = spark.read.parquet(seedFile.getPath)
    seedIds = seed.select("doc_id").collect().map(_.getLong(0)).toSet
    arrivedIds ++= seedIds.toSeq.sorted
    step("seed_index")(EventPipelines.seedDedupIndex(wh, "bl_3nf", "docs_dedup",
      seed.select(col("doc_id"), col("text"), col("source")),
      idCol = "doc_id", textCol = "text", partCol = "source", ngram = ngram, k = k, bands = bands))
    step("seed_clusters")(EventPipelines.ccMaintainAvailableNow(stream(seedWatch), wh,
      "bl_3nf", "cc_assign", idCol = "doc_id", textCol = "text", ngram = ngram, k = k,
      bands = bands, minJaccard = minJ, checkpointDir = Some(s"$workDir/ckpt/cc_seed"),
      prep = Some(b => b.select(col("doc_id"), col("text")))))
    assignment = collectAssignment()
    check(assignment.keySet == seedIds, "seeded assignment does not cover the seed documents")
  }

  private def collectAssignment(): Map[Long, Long] =
    EventPipelines.ccAssignment(wh, "bl_3nf", "cc_assign")
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def landed(): Set[Long] =
    wh.readPartitioned("bl_3nf", "docs_dedup", "source").select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet

  def cycle(): Unit = {
    ingestWave()
    clusterPass()
  }

  private def ingestWave(): Unit = {
    wave += 1
    val w = wave
    val f = new File(f"$inDir/waves/w$w%03d.parquet")
    val ids = spark.read.parquet(f.getPath).select("doc_id").collect().map(_.getLong(0)).toSeq
    waveIds += ids
    val landedBefore = if (tracing) landed().size else 0
    timedOp("write", s"ingest w$w") {
      Files.move(f.toPath, new File(arrivals, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      val arr = stream(arrivals)
      EventPipelines.dedupIngestAvailableNow(arr, wh, "bl_3nf", "docs_dedup",
        idCol = "doc_id", textCol = "text", partCol = "source",
        ngram = ngram, k = k, bands = bands, minJaccard = minJ,
        checkpointDir = Some(s"$workDir/ckpt/dedup"),
        prep = Some(b => b.select(col("doc_id"), col("text"), col("source"))))
      EventPipelines.ccMaintainAvailableNow(arr, wh, "bl_3nf", "cc_assign",
        idCol = "doc_id", textCol = "text", ngram = ngram, k = k, bands = bands,
        minJaccard = minJ, checkpointDir = Some(s"$workDir/ckpt/cc"),
        prep = Some(b => b.select(col("doc_id"), col("text"))))
    } { _ =>
      arrivedIds ++= ids
      Files.copy(new File(arrivals, f.getName).toPath,
        new File(f"$corpus/documents.parquet/part-w$w%03d.parquet").toPath): Unit
      assignment = collectAssignment()
      if (plant) assignment = assignment.updated(ids.head, assignment(ids.head) + 1)
      check(arrivedIds.forall(assignment.contains),
        s"cluster assignment misses ${arrivedIds.count(!assignment.contains(_))} ingested documents")
      if (tracing)
        sample("dedup.landed_frac", (landed().size - landedBefore).toDouble / ids.size)
    }
    for (_ <- 1 to lookupsPerWave) lookup()
  }

  private def lookup(): Unit = {
    val id = arrivedIds(rng.nextInt(arrivedIds.size))
    timedOp("read", s"lookup $id") {
      val cl = EventPipelines.ccAssignment(wh, "bl_3nf", "cc_assign")
        .filter(col("doc_id") === id).select(col("cluster_id")).collect()
      val isLanded = wh.readPartitioned("bl_3nf", "docs_dedup", "source")
        .filter(col("doc_id") === id).select(col("doc_id")).collect().nonEmpty
      (cl.map(_.getLong(0)).toSeq, isLanded)
    } { case (cl, isLanded) =>
      check(cl == Seq(assignment(id)), s"lookup $id: cluster $cl, assignment says ${assignment(id)}")
      check(!seedIds.contains(id) || isLanded, s"lookup $id: a seed document is not landed")
    }
  }

  private def batchCc(): Map[Long, Long] =
    DedupQueries.queries("q68_dedup_clusters")(spark, corpus)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def clusterPass(): Unit = {
    timedOp("batch", s"cluster pass after w$wave") {
      val cross = DedupQueries.queries("q195_crossmodal_clusters")(spark, corpus).collect()
      (cross, batchCc())
    } { case (cross, cc) =>
      check(cross.nonEmpty, "q195 found no cross-modal clusters")
      check(cc == assignment, s"streamed assignment differs from batch CC over the ingested corpus " +
        s"on ${(cc.keySet ++ assignment.keySet).count(d => cc.get(d) != assignment.get(d))} documents")
      if (tracing) {
        sample("dedup.pairs", DedupQueries.queries("q46_minhash_lsh")(spark, corpus).count().toDouble)
        sample("cc.clusters", cc.values.toSet.size.toDouble)
      }
    }
  }

  def finish(): Unit = {
    // q228 holds at the end: every cycle ends with a pass that checks it
    // q166: landed == seed ∪ arrivals with no verified pair into the
    // landed corpus before them and none to a smaller id of their wave
    val pairs = DedupQueries.queries("q46_minhash_lsh")(spark, corpus)
      .select(col("id_1"), col("id_2")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbr = mutable.Map.empty[Long, mutable.Set[Long]]
    pairs.foreach { case (a, b) =>
      nbr.getOrElseUpdate(a, mutable.Set.empty) += b
      nbr.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val expect = mutable.Set.empty[Long] ++= seedIds
    waveIds.foreach { ids =>
      val inWave = ids.toSet
      val keep = ids.filter { d =>
        val ns = nbr.getOrElse(d, mutable.Set.empty[Long])
        !ns.exists(expect.contains) && !ns.exists(n => inWave.contains(n) && n < d)
      }
      expect ++= keep
    }
    val got = landed()
    val want = expect.toSet
    if (got != want)
      failAll("write", s"landed documents differ from the recomputed verdicts: " +
        s"${(got -- want).size} extra, ${(want -- got).size} missing")
    info("landed") = got.size
    info("arrived") = arrivedIds.size
  }

  def warehouseBytes(): Long = Util.treeBytes(whRoot)

  def namedMetrics(): Seq[(String, Double, String)] = {
    val lk = durations("read").map(_ * 1000)
    Seq(("ingest_wave_s", Util.median(durations("write")), "s"),
      ("cluster_pass_s", Util.median(durations("batch")), "s"),
      ("lookup_p50_ms", Util.median(lk), "ms"),
      ("lookup_n", lk.size.toDouble, "count")) ++
      Util.tail(lk).filter(_._1 != "p50").map { case (p, v) => (s"lookup_${p}_ms", v, "ms") }
  }

  def layerMetrics(spans: Seq[Span]): Map[String, Double] = {
    def med(k: String) = samples.get(k).map(b => Util.median(b.toSeq)).getOrElse(0.0)
    // the O(arrivals) read contract: Spark input bytes per ingest wave
    val ingestOps = results.filter(_.kind == "write").map(_.span).toSeq
    val inputMb = ingestOps.map { o =>
      spans.filter(s => s.layer == "spark.stage" && s.op == o.id)
        .map(_.attrs("input_b").asInstanceOf[Long]).sum / 1e6
    }
    Map(
      "dedup.wave_input_mb" -> (if (inputMb.isEmpty) 0.0 else Util.median(inputMb)),
      "dedup.landed_frac" -> med("dedup.landed_frac"),
      "dedup.pairs" -> med("dedup.pairs"),
      "cc.clusters" -> med("cc.clusters"))
  }
}
