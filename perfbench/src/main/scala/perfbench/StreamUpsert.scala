package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.core.{Disposition, TableHints}
import graft.streaming.StreamingMergeSink

/** stream_upsert: the merge writer one small batch at a time. An
  * open-loop generator (one thread) drops one file of seeded events into a
  * watched directory every `intervalMs`, on schedule whether or not the
  * sink keeps up; the sink is [[StreamingMergeSink]] on a continuous
  * trigger, reading one file per micro-batch. Keys are Zipf-skewed user
  * ids, so the table stays bounded by the user count.
  *
  * Freshness of a file is the commit time of the batch that holds it —
  * the progress event's timestamp plus its `triggerExecution` duration —
  * minus the time the file was due, so a stall also charges the files
  * queued behind it. Once the last file is committed the query stops and a
  * consumer reads the whole table several times: what the merge writer's
  * file layout costs its readers.
  */
object StreamUpsert extends Workload {

  final case class Shape(
      users: Int = 2000,
      skew: Double = 1.1,
      rowsPerFile: Int = 200,
      maxFiles: Int = 400,
      intervalMs: Int = 1250,
  )

  val DefaultShape: Shape = Shape()
  /** Consumer reads of the final table per session. */
  val Reads = 7
  val Kinds: Seq[String] = Seq("view", "click", "cart", "purchase")

  final case class Event(seq: Long, user: Long, kind: String, value: Long)

  /** File 0 is written before the measured window, so that the table
    * exists and the query is running when the first timed file is due.
    */
  final case class Input(seed: Long, shape: Shape, files: Vector[Vector[Event]])

  def generate(seed: Long): Input = generate(seed, DefaultShape)

  def generate(seed: Long, shape: Shape): Input = {
    val rng = new Rng(seed)
    val zipf = new Zipf(shape.users, shape.skew)
    var seq = 0L
    val files = Vector.fill(shape.maxFiles) {
      Vector.fill(shape.rowsPerFile) {
        seq += 1
        Event(seq, zipf.draw(rng).toLong, Kinds(rng.nextInt(Kinds.size)), rng.nextInt(100000).toLong)
      }
    }
    Input(seed, shape, files)
  }

  def jsonLines(events: Seq[Event]): String =
    events.map(e => s"""{"seq":${e.seq},"user_id":${e.user},"event_type":"${e.kind}","value":${e.value}}""")
      .mkString("", "\n", "\n")

  def digest(in: Input): String = Workload.sha256(in.files.iterator.map(jsonLines))

  /** The table after the first `n` files: the latest event per user. */
  def expected(in: Input, n: Int): Map[Long, (Long, String, Long)] =
    in.files.take(n).flatten.groupBy(_.user).map { case (u, es) =>
      val e = es.maxBy(_.seq)
      u -> (e.seq, e.kind, e.value)
    }

  private val schema = StructType(Seq(
    StructField("seq", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", LongType)))

  /** What one streaming session produced. */
  final case class Session(
      due: Vector[Double], // per timed file (1..), epoch ms
      written: Vector[Double],
      batches: Vector[StreamingQueryProgress], // non-empty batches, in order
      table: Map[Long, (Long, String, Long)],
      reads: Vector[Double], // walls of the consumer reads, s
  )

  /** Runs the sink for `seconds` of open-loop arrivals, then drains. */
  def session(ctx: Ctx, in: Input, root: String, seconds: Double, dropFile: Int = -1): Session = {
    val spark = ctx.spark
    val inDir = Paths.get(root, "in")
    val tmpDir = Paths.get(root, "tmp")
    Files.createDirectories(inDir)
    Files.createDirectories(tmpDir)
    def drop(i: Int): Unit = if (i != dropFile) {
      val name = f"f-$i%06d.json"
      val tmp = tmpDir.resolve(name)
      Files.write(tmp, jsonLines(in.files(i)).getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    drop(0)
    val hints = TableHints("events_live", Disposition.Merge,
      primaryKey = Seq("user_id"), dedupSort = Some(("seq", true)))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").json(inDir.toString)
    val q = StreamingMergeSink.start(stream, s"$root/dest", hints, s"$root/ckpt",
      availableNow = false, triggerIntervalMs = 0)
    def nonEmpty: Vector[StreamingQueryProgress] =
      q.recentProgress.toVector.filter(_.numInputRows > 0).sortBy(_.batchId)
    try {
      val ready = Clock.nowMs + 60000
      while (nonEmpty.isEmpty && Clock.nowMs < ready) Thread.sleep(5)
      require(nonEmpty.nonEmpty, "the prefill file was not committed within 60 s")

      val interval = in.shape.intervalMs.toDouble
      val start = Clock.nowMs + interval
      val n = math.min(in.files.size - 1, math.max(1, (seconds * 1000 / interval).toInt))
      val due = Vector.tabulate(n)(i => start + i * interval)
      val written = new Array[Double](n)
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          val wait = due(i) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          drop(i + 1)
          written(i) = Clock.nowMs
          i += 1
        }
      }, "perfbench-arrivals")
      gen.start()
      gen.join()
      q.processAllAvailable()
      val batches = nonEmpty
      q.stop()
      // the consumer: the whole table, read several times once the sink is idle
      val reads = Vector.fill(Reads) {
        val t0 = Clock.nowMs
        val rows = spark.read.parquet(s"$root/dest/events_live")
          .select("seq", "user_id", "event_type", "value").collect()
        (rows, (Clock.nowMs - t0) / 1000.0)
      }
      val table = reads.last._1.map(r => r.getLong(1) -> (r.getLong(0), r.getString(2), r.getLong(3))).toMap
      Session(due, written.toVector, batches, table, reads.map(_._2))
    } finally q.stop()
  }

  /** Every file committed in its own batch, and the table equal to the
    * latest-per-key fold over all files.
    */
  def verify(in: Input, s: Session): Seq[Check] = {
    val files = s.due.size + 1
    val want = expected(in, files)
    val wrong = (want.keySet ++ s.table.keySet).filter(u => want.get(u) != s.table.get(u))
    Seq(
      Check.equal("stream.batches", s.batches.size, files),
      Check("stream.table", wrong.isEmpty,
        s"users=${s.table.size} expected=${want.size} differing=${wrong.size} e.g. " +
          wrong.take(3).map(u => s"$u: ${s.table.get(u)} vs ${want.get(u)}").mkString("; ")),
    )
  }

  private def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.toDouble).getOrElse(0.0)

  def warmUp(ctx: Ctx, in: Input): Unit = session(ctx, in, ctx.dir("warm-stream"), 4.0)

  def measure(ctx: Ctx, in: Input, seconds: Int): Outcome = {
    val s = try Some(session(ctx, in, ctx.dir("stream"), seconds.toDouble)) catch {
      case e: Exception => System.err.println(s"perfbench: stream session failed: $e"); None
    }
    val files = s.map(_.due.size).getOrElse(0)
    // batch 0 holds the prefill file, batch i the i-th timed file
    val timed = s.map(_.batches.drop(1)).getOrElse(Vector.empty)
    val fresh = s.toSeq.flatMap(x => timed.zip(x.due).map { case (b, d) => (Tracer.batchCommitMs(b) - d) / 1000.0 })
    val service = timed.map(b => phaseMs(b, "triggerExecution") / 1000.0)

    val checks = s.toSeq.flatMap(verify(in, _))
    val named = Seq(
      Metric("service_rows_per_s", timed.size * in.shape.rowsPerFile / math.max(1e-9, service.sum), "rows/s"),
      Metric("utilization", service.sum / math.max(1e-9, files * in.shape.intervalMs / 1000.0), "ratio"),
    ) ++ Ops.timings("fresh", fresh) ++ Ops.timings("batch", service) ++
      Ops.timings("read", s.map(_.reads).getOrElse(Vector.empty))

    val layer = if (ctx.tracer.isEmpty) Nil else {
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val backlog = s.toSeq.flatMap { x =>
        timed.zipWithIndex.map { case (b, i) => x.due.count(_ <= Tracer.batchCommitMs(b)) - (i + 1).toDouble }
      }
      val lag = s.toSeq.flatMap(x => x.written.zip(x.due).map { case (w, d) => w - d })
      Seq(
        Metric("streaming.batch.add_ms", mean(timed.map(phaseMs(_, "addBatch"))), "ms"),
        Metric("streaming.batch.wal_ms", mean(timed.map(phaseMs(_, "walCommit"))), "ms"),
        Metric("streaming.batch.offset_ms", mean(timed.map(phaseMs(_, "commitOffsets"))), "ms"),
        Metric("streaming.backlog_files", mean(backlog), "count"),
        Metric("streaming.gen_lag_ms", mean(lag), "ms"),
      )
    }
    Outcome(named,
      Seq("rate_per_s" -> "service_rows_per_s", "op_p50_s" -> "fresh_p50_s",
        "aux_s" -> "read_p50_s"),
      layer, files, if (s.isEmpty) 1 else 0, checks)
  }
}
