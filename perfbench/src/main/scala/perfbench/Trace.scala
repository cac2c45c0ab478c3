package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds at nanosecond resolution — the base
  * Spark's own event timestamps use, so spans and engine events compare.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()

  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNanos) / 1e6
}

/** Where a workload marks its calls into a layer. The untraced run uses
  * [[NoSpans]], so its timed path carries no listener and no bookkeeping.
  */
trait Spans {
  def span[T](name: String)(body: => T): T
}

object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** The traced run's collector. One SparkListener (jobs, tasks, block
  * updates), one QueryExecutionListener (planning phases) and one
  * StreamingQueryListener (micro-batch progress: one `streaming.batch`
  * span per non-empty batch after each query's first) are registered once
  * for the session. Spans are kept in memory; engine events are attributed
  * afterwards to the innermost span whose interval holds the event's start
  * (one orchestrator thread, so intervals do not interleave), and counters
  * are exclusive of child spans.
  */
final class Tracer(spark: SparkSession, runId: String) extends Spans {
  import Tracer._

  private final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

  private final class JobRec(val start: Long) {
    @volatile var end: Long = -1L
    val taskMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val outputBytes = new AtomicLong
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val planning = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, duration ms)
  private val blockBytes = new AtomicLong
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var armed = false

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobRec(e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { r =>
        r.taskMs.addAndGet(m.executorRunTime)
        r.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        r.spillBytes.addAndGet(m.diskBytesSpilled)
        r.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid) blockBytes.addAndGet(i.memSize + i.diskSize)
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) planning.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (armed && e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val start = Clock.nowMs
    try body
    finally {
      open = open.tail
      spans.synchronized(spans += Span(id, name, parent, start, Clock.nowMs))
    }
  }

  /** Starts keeping stream batches; called once the warm-up has ended. */
  def arm(): Unit = { drain(); armed = true }

  /** Waits until every posted engine event reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** RDD block bytes stored so far (localCheckpoint pins and caches). */
  def pinnedBytes: Long = { drain(); blockBytes.get }

  /** Counters of every span instance, keyed by span id. */
  private def attribute(): (Seq[Span], Map[Int, Map[String, Double]]) = {
    drain()
    val batches = progress.asScala.toSeq.groupBy(_.id).values.toSeq
      .flatMap(_.sortBy(_.batchId).drop(1)).sortBy(batchStartMs).zipWithIndex
      .map { case (p, i) => Span(BatchIds + i, "streaming.batch", -1, batchStartMs(p), batchCommitMs(p)) }
    val all = (spans.synchronized(spans.toList) ++ batches).sortBy(_.start)
    def owner(t: Double): Option[Span] =
      all.filter(s => s.start - SlackMs <= t && t <= s.end + SlackMs).sortBy(-_.start).headOption
    val byJob = jobs.values.asScala.toSeq.flatMap(j => owner(j.start.toDouble).map(_.id -> j)).groupBy(_._1)
    val byPlan = planning.asScala.toSeq.flatMap(p => owner(p._1.toDouble).map(_.id -> p._2)).groupBy(_._1)
    val childWall = all.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    val counters = all.map { s =>
      val js = byJob.getOrElse(s.id, Nil).map(_._2)
      val plan = byPlan.getOrElse(s.id, Nil).map(_._2.toDouble).sum
      val self = (s.end - s.start) - childWall.getOrElse(s.id, 0.0)
      val busy = unionMs(js.map(j => (math.max(j.start.toDouble, s.start),
        math.min(if (j.end < 0) s.end else j.end.toDouble, s.end))))
      s.id -> Map(
        "self_ms" -> self,
        "planning_ms" -> plan,
        "jobs" -> js.size.toDouble,
        "gap_ms" -> math.max(0.0, self - plan - busy),
        "task_ms" -> js.map(_.taskMs.get).sum.toDouble,
        "shuffle_bytes" -> js.map(_.shuffleBytes.get).sum.toDouble,
        "spill_bytes" -> js.map(_.spillBytes.get).sum.toDouble,
        "output_bytes" -> js.map(_.outputBytes.get).sum.toDouble,
      )
    }.toMap
    (all, counters)
  }

  /** Per-span-name totals and instance counts. */
  def totals(): Map[String, (Int, Map[String, Double])] = {
    val (all, counters) = attribute()
    all.groupBy(_.name).map { case (name, ss) =>
      name -> (ss.size, Counters.map(c => c -> ss.map(s => counters(s.id)(c)).sum).toMap)
    }
  }

  /** The per-layer span metrics: each counter as its mean over the span's
    * instances in this run; a layer the workload never entered reads 0.
    */
  def layerMetrics(): Seq[Metric] = {
    val t = totals()
    for (name <- SpanNames; c <- Counters) yield {
      val v = t.get(name).map { case (n, sums) => sums(c) / n }.getOrElse(0.0)
      Metric(s"$name.$c", v, CounterUnits(c))
    }
  }

  /** Writes one JSON line per span: name, ids, run id, interval, counters. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val (all, counters) = attribute()
    val lines = all.map { s =>
      val cs = Counters.map(c => f""""$c":${counters(s.id)(c)}%.3f""").mkString(",")
      f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,$cs}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Spark event times are whole milliseconds; spans are not. */
  private val SlackMs = 1.0
  private val BatchIds = 1 << 24

  def batchStartMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** A micro-batch commits when its trigger execution ends. */
  def batchCommitMs(p: StreamingQueryProgress): Double =
    batchStartMs(p) + p.durationMs.get("triggerExecution").toDouble

  val SpanNames: Seq[String] = Seq(
    "connectors.rest.extract", "pipeline.run", "pipeline.backfill", "core.read",
    "ops.quality", "ops.lines", "ops.near_dup", "ops.semantic",
    "ops.lexical.build", "ops.lexical.search", "streaming.batch")

  /** Per-layer counters a workload measures at its own layer boundaries. */
  val DomainMetrics: Seq[(String, String)] = Seq(
    "connectors.rest.pages" -> "count", "connectors.rest.rows" -> "count",
    "pipeline.bytes_written_per_row" -> "bytes", "core.dest_files" -> "count",
    "core.dest_bytes_per_row" -> "bytes", "ops.pinned_bytes" -> "bytes",
    "ops.near_dup.candidates_per_pair" -> "ratio",
    "ops.quality.keep_ratio" -> "ratio", "ops.lines.keep_ratio" -> "ratio",
    "ops.near_dup.keep_ratio" -> "ratio", "ops.semantic.keep_ratio" -> "ratio",
    "streaming.batch.add_ms" -> "ms", "streaming.batch.wal_ms" -> "ms",
    "streaming.batch.offset_ms" -> "ms", "streaming.backlog_files" -> "count",
    "streaming.gen_lag_ms" -> "ms")

  val Counters: Seq[String] = Seq(
    "self_ms", "planning_ms", "jobs", "gap_ms", "task_ms", "shuffle_bytes", "spill_bytes", "output_bytes")

  val CounterUnits: Map[String, String] = Map(
    "self_ms" -> "ms", "planning_ms" -> "ms", "jobs" -> "count", "gap_ms" -> "ms", "task_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "output_bytes" -> "bytes")

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
