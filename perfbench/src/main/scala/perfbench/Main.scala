package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** One correctness check: its verdict and what was compared. */
final case class Check(name: String, ok: Boolean, detail: String)

object Check {
  def equal[A](name: String, actual: A, expected: A): Check =
    Check(name, actual == expected, s"actual=$actual expected=$expected")
}

/** What a workload's measured phase produced.
  *
  * @param named   the workload's end-to-end metrics under their own names
  * @param generic result key -> name in `named`; every workload fills the
  *                same four keys, so one BENCHMARK.json list covers all
  * @param layer   per-layer domain counters (traced run only)
  * @param ops     timed operations attempted
  * @param failed  timed operations that threw
  */
final case class Outcome(
    named: Seq[Metric],
    generic: Seq[(String, String)],
    layer: Seq[Metric],
    ops: Int,
    failed: Int,
    checks: Seq[Check],
)

/** Counts and times a workload's operations. An operation that throws is
  * counted as failed, reported on stderr and yields None.
  */
final class Ops {
  var attempted = 0
  var failed = 0

  def timed[T](name: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = Clock.nowMs
    try {
      val r = body
      Some((r, (Clock.nowMs - t0) / 1000.0))
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: $name failed: $e")
        None
    }
  }
}

object Ops {
  /** `<name>_p50_s`, and the tail by [[Stats.tail]] with its percentile
    * and sample count; a timing without samples, or a tail without enough
    * of them, reads 0.
    */
  def timings(name: String, xs: Seq[Double]): Seq[Metric] = {
    val t = Stats.tail(xs)
    Seq(
      Metric(s"${name}_p50_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s"),
      Metric(s"${name}_tail_s", t.map(_._1).getOrElse(0.0), "s"),
      Metric(s"${name}_tail.percentile", t.map(_._2).getOrElse(0.0), "pct"),
      Metric(s"${name}_tail.n", xs.size.toDouble, "count"))
  }
}

/** Everything a workload may touch while it runs. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val work: Path, val cpus: Int) {
  val spans: Spans = tracer.getOrElse(NoSpans)

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

trait Workload {
  type Input

  /** The workload's inputs for one seed. Pure: the same seed gives the
    * same bytes, which [[digest]] exposes.
    */
  def generate(seed: Long): Input
  def digest(in: Input): String

  /** Runs the same operations on `in`, untimed, so that code paths are
    * compiled and caches filled on this workload's own input shape.
    */
  def warmUp(ctx: Ctx, in: Input): Unit

  def measure(ctx: Ctx, in: Input, seconds: Int): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map(
    "elt_sync" -> EltSync,
    "curate_index" -> CurateIndex,
    "stream_upsert" -> StreamUpsert,
  )

  /** Seed of the warm-up inputs: the same shape, different values. */
  def warmSeed(seed: Long): Long = seed ^ 0x5DEECE66DL

  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Runs one workload for one seed and prints its metrics, one per line:
  *
  *   perfbench-metric <name> <value> <unit>   the workload's own metrics
  *   perfbench-e2e <key> <value> <unit>       the result keys
  *   perfbench-layer <name> <value> <unit>    per-layer metrics (traced run)
  *   perfbench-check <name> ok|FAIL <detail>
  *   perfbench-verdict attempted=<n> failed=<n> correct=<bool>
  *
  * Exit code 1 when any check fails.
  */
object Main {
  private val GenerateTimes = 3

  /** Units of the result keys each workload fills from its own metrics. */
  val GenericUnits: Map[String, String] = Map("rate_per_s" -> "1/s", "op_p50_s" -> "s", "aux_s" -> "s")

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val outDir = Paths.get(opts("out"))
    val cpus = sys.props.get("perfbench.cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val w = Workload.all.getOrElse(name, sys.error(s"unknown workload $name"))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cpus, work)
    val sessionReadyMs = Clock.nowMs
    val runId = s"$name-s$seed-${System.currentTimeMillis()}"
    val tracer = if (trace) Some(new Tracer(spark, runId)) else None
    val ctx = new Ctx(spark, tracer, work, cpus)

    // inputs are generated several times: the median is the generation
    // share of setup_s, and the copies must be byte-identical
    val gens = (1 to GenerateTimes).map { _ =>
      val t0 = Clock.nowMs
      val in = w.generate(seed)
      (in, Clock.nowMs - t0)
    }
    val input = gens.head._1
    val digests = gens.map(g => w.digest(g._1)).distinct
    val genMs = Stats.median(gens.map(_._2))
    val w0 = Clock.nowMs
    w.warmUp(new Ctx(spark, None, work, cpus), w.generate(Workload.warmSeed(seed)))
    val warmMs = Clock.nowMs - w0
    tracer.foreach(_.arm())
    val setupS = ((sessionReadyMs - jvmStartMs) + genMs + warmMs) / 1000.0

    val out = w.measure(ctx, input, seconds)
    val rssMb = peakRssMb()

    val checks = Check("inputs.deterministic", digests.size == 1,
      s"$GenerateTimes generations, ${digests.size} distinct digest(s)") +: out.checks
    val attempted = out.ops + checks.size
    val failed = out.failed + checks.count(!_.ok)
    val byName = out.named.map(m => m.name -> m).toMap
    val e2e = Seq(Metric("setup_s", setupS, "s"), Metric("peak_rss_mb", rssMb, "MB")) ++
      out.generic.map { case (key, n) => byName(n).copy(name = key, unit = GenericUnits(key)) }
    val named = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("setup.session_s", (sessionReadyMs - jvmStartMs) / 1000.0, "s"),
      Metric("setup.generate_s", genMs / 1000.0, "s"),
      Metric("setup.warmup_s", warmMs / 1000.0, "s"),
      Metric("peak_rss_mb", rssMb, "MB"),
      Metric("failed_frac", failed.toDouble / attempted, "ratio"),
    ) ++ out.named
    // every per-layer name on every workload: a layer it never enters reads 0
    val layer = tracer.toSeq.flatMap { t =>
      val own = out.layer.map(m => m.name -> m).toMap
      t.layerMetrics() ++ Tracer.DomainMetrics.map { case (n, u) => own.getOrElse(n, Metric(n, 0.0, u)) }
    }

    val lines =
      named.map(m => f"perfbench-metric ${m.name} ${m.value}%.6f ${m.unit}") ++
        e2e.map(m => f"perfbench-e2e ${m.name} ${m.value}%.6f ${m.unit}") ++
        layer.map(m => f"perfbench-layer ${m.name} ${m.value}%.6f ${m.unit}")
    lines.foreach(println)
    checks.foreach(c => println(s"perfbench-check ${c.name} ${if (c.ok) "ok" else "FAIL"} ${c.detail}"))
    val stem = s"$name-s$seed-t${if (trace) 1 else 0}"
    Files.write(outDir.resolve(s"$stem.metrics.txt"), lines.map(_.stripPrefix("perfbench-")).asJava)
    tracer.foreach { t =>
      val p = outDir.resolve(s"$stem.spans.jsonl")
      t.writeSpans(p)
      println(s"perfbench-spans $p")
    }
    val correct = checks.forall(_.ok) && out.failed == 0
    println(s"perfbench-verdict attempted=$attempted failed=$failed correct=$correct")
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
