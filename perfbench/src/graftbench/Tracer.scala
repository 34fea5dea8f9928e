package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval at one layer boundary. `op` is the id of the
  * benchmark operation the span belongs to (the shared id of one
  * request); `parent` is the id of the span that caused it, 0 at the
  * root. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** Task counters summed over a set of tasks. */
final case class TaskSums(tasks: Long = 0, cpuMs: Double = 0, gcMs: Double = 0,
                          waitMs: Double = 0, inputB: Long = 0, shuffleB: Long = 0,
                          spillB: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, cpuMs + o.cpuMs,
    gcMs + o.gcMs, waitMs + o.waitMs, inputB + o.inputB, shuffleB + o.shuffleB,
    spillB + o.spillB)
}

/** The benchmark's clock, operation log and (when tracing) its Spark and
  * streaming listeners. Operations are always timed; listeners are only
  * registered on a traced run, so an untraced run carries no listener
  * work. Everything is kept in memory; [[spans]] assembles the span tree
  * after the run, attributing each Spark job to the innermost benchmark
  * span that was open when it started (one closed-loop client thread, so
  * the windows never overlap between operations).
  */
final class Tracer(spark: SparkSession, val tracing: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  /** Benchmark operations, in order. */
  val ops = mutable.ArrayBuffer.empty[Span]
  /** Spans recorded by the workloads inside operations (phases, loaders). */
  val inner = mutable.ArrayBuffer.empty[Span]
  var hookNs = 0L

  def op[T](kind: String, name: String)(body: => T): (T, Span) = {
    val id = nextId()
    val s = nowMs
    val out = body
    val sp = Span(id, 0, id, kind, name, s, nowMs)
    ops += sp
    (out, sp)
  }

  // ---- listener state (traced runs only) -----------------------------
  private final case class Job(id: Int, start: Double, var end: Double,
                               stages: Seq[Int], site: String)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageWin = new ConcurrentHashMap[Int, (Double, Double, String)]()
  private val stageSums = new ConcurrentHashMap[Int, TaskSums]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private def timed[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally synchronized { hookNs += System.nanoTime() - t }
  }

  /** First library frame of a call-site stack: "Orchestrator.scala:560". */
  private def graftSite(details: String): String =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .flatMap(l => "\\(([^)]*)\\)".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val site = e.stageInfos.sortBy(_.stageId).headOption.map(s => graftSite(s.details))
        .getOrElse("other")
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds, site)): Unit
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageWin.put(i.stageId, (s.toDouble, c.toDouble, i.name)): Unit
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val t = TaskSums(1, m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
          math.max(0L, info.duration - m.executorRunTime).toDouble,
          m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled)
        stageSums.merge(e.stageId, t, (a, b) => a + b): Unit
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trig = d.getOrElse("triggerExecution", 0L).toDouble
      batches.add(Span(0, 0, 0, "stream.batch", s"batch ${p.batchId}", start, start + trig,
        Map("trigger_ms" -> trig, "add_batch_ms" -> d.getOrElse("addBatch", 0L).toDouble,
          "planning_ms" -> d.getOrElse("queryPlanning", 0L).toDouble,
          "wal_ms" -> d.getOrElse("walCommit", 0L).toDouble,
          "input_rows" -> p.numInputRows.toDouble))): Unit
    }
  }

  if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit =
    if (tracing) org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext, 30000L)

  def close(): Unit = if (tracing) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- assembly ------------------------------------------------------
  /** The whole span forest of the run: operations, workload spans,
    * streaming micro-batches, Spark jobs and stages, each parented to the
    * innermost enclosing span of a higher layer. Task counters ride on
    * the stage spans. */
  def spans(): Seq[Span] = {
    drain()
    val layersAbove = Seq("op", "orch.phase", "orch.loader", "stream.batch")
    def within(o: Span, t: Double) = t >= o.start && t <= o.end
    def parentOf(t: Double, cands: Seq[Span]): Option[Span] =
      cands.filter(c => within(c, t)).sortBy(c => (layersAbove.indexOf(c.layer), c.start)).lastOption
    val opSpans = ops.map(o => o.copy(layer = "op", attrs = o.attrs + ("kind" -> o.layer))).toSeq
    val upper = mutable.ArrayBuffer.empty[Span]
    upper ++= opSpans
    inner.foreach { s =>
      opSpans.find(o => o.id == s.op).foreach(_ => upper += s)
    }
    batches.asScala.foreach { b =>
      opSpans.find(o => within(o, b.start)).foreach { o =>
        val id = nextId()
        val par = parentOf(b.start, upper.filter(_.op == o.id).toSeq).map(_.id).getOrElse(o.id)
        upper += b.copy(id = id, parent = par, op = o.id)
      }
    }
    val out = mutable.ArrayBuffer.empty[Span] ++= upper
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      opSpans.find(o => within(o, j.start)).foreach { o =>
        val par = parentOf(j.start, upper.filter(_.op == o.id).toSeq).map(_.id).getOrElse(o.id)
        val jid = nextId()
        val end = if (j.end.isNaN) j.start else j.end
        out += Span(jid, par, o.id, "spark.job", s"job ${j.id}", j.start, end,
          Map("site" -> j.site, "stages" -> j.stages.size))
        j.stages.foreach { sid =>
          Option(stageWin.get(sid)).foreach { case (s, e, name) =>
            val t = Option(stageSums.get(sid)).getOrElse(TaskSums())
            out += Span(nextId(), jid, o.id, "spark.stage", s"stage $sid $name", s, e,
              Map("tasks" -> t.tasks, "cpu_ms" -> t.cpuMs, "gc_ms" -> t.gcMs,
                "wait_ms" -> t.waitMs, "input_b" -> t.inputB,
                "shuffle_b" -> t.shuffleB, "spill_b" -> t.spillB))
          }
        }
      }
    }
    out.toSeq
  }
}

/** Interval arithmetic for self times. */
object Intervals {
  type Iv = (Double, Double)

  def union(xs: Seq[Iv]): Seq[Iv] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[Iv]): Double = union(xs).map(x => x._2 - x._1).sum

  def clip(xs: Seq[Iv], lo: Double, hi: Double): Seq[Iv] =
    xs.map(x => (math.max(lo, x._1), math.min(hi, x._2))).filter(x => x._2 > x._1)

  /** |U(a) ∩ U(b)| */
  def overlap(a: Seq[Iv], b: Seq[Iv]): Double = {
    val ua = union(a); val ub = union(b)
    ua.map { case (s, e) => length(clip(ub, s, e)) }.sum
  }

  /** Self time of each layer of one operation: the time its spans cover
    * minus the part covered by spans of any lower layer, `layers`
    * ordered top (the operation itself) to bottom. */
  def selfTimes(op: Span, spans: Seq[Span], layers: Seq[String]): Map[String, Double] =
    layers.indices.map { i =>
      val mine = clip(spans.filter(_.layer == layers(i)).map(s => (s.start, s.end)), op.start, op.end)
      val below = clip(spans.filter(s => layers.drop(i + 1).contains(s.layer))
        .map(s => (s.start, s.end)), op.start, op.end)
      layers(i) -> ((length(mine) - overlap(mine, below)) / 1000.0)
    }.toMap
}
