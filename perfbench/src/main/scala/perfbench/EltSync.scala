package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.connectors.rest.{HttpResponse, HttpTransport, StaticPagesTransport}
import graft.connectors.rest.RestEngine
import graft.connectors.rest.RestEngine.{ClientConfig, EndpointConfig, Paginator}
import graft.core.{Disposition, Incremental, StateStore, TableHints, TableManifest}
import graft.pipeline.{Pipeline, ResourceDef, SourceDef}

/** elt_sync: the reference's core use. A Pipeline with a manifest
  * commit, fed by a REST source served from memory, runs a large backfill
  * and then small incremental syncs in a closed loop; after every run a
  * consumer query reads the committed tables through the manifest. The
  * backfill is timed [[Backfills]] times, into fresh destinations.
  *
  * Resources:
  *  - `orders`: merge on `id`, cursor `updated_at`, a nested struct
  *    (`customer`) and a nested array (`lines`) that becomes the child
  *    table `orders__lines`. The array length is fixed per key, so a
  *    merge replaces every child row of an updated order.
  *  - `activity`: merge on `id`, cursor `updated_at`, routed by `kind`
  *    into `activity_k0` .. `activity_k<kinds-1>`; a key never changes kind.
  */
object EltSync extends Workload {

  /** The input properties this workload fixes. */
  final case class Shape(
      backfillRows: Int = 5000, // per resource
      syncRows: Int = 100, // per resource and sync
      updateShare: Double = 0.5, // share of a sync's rows that update existing keys
      maxSyncs: Int = 150,
      pageSize: Int = 500,
      kinds: Int = 2, // routing fan-out of `activity`
      maxLines: Int = 3, // `orders.lines` has 1 + id % maxLines elements
  )

  val DefaultShape: Shape = Shape()
  /** Syncs per run, past the deadline if need be. */
  val MinSyncs = 3
  /** Backfills per run, each into a fresh destination; the syncs continue
    * on the last. `backfill_rows_per_s` is their median.
    */
  val Backfills = 3
  val Resources: Seq[String] = Seq("orders", "activity")

  /** One row version as served by the API. */
  final case class Row(id: Int, version: Int, updatedAt: Long)

  /** Batch 0 is the backfill, batch i > 0 the i-th sync; per resource,
    * the rows in the order served, and the page bodies keyed as
    * [[StaticPagesTransport]] looks them up.
    */
  final case class Batch(rows: Map[String, Vector[Row]], pages: Map[String, String])

  final case class Input(seed: Long, shape: Shape, batches: Vector[Batch])

  // ---------------------------------------------------------------- values

  private def mix(seed: Long, a: Long, b: Long, c: Long): Long = {
    val r = new Rng(seed * 1000003L + a * 7919L + b * 104729L + c)
    r.nextLong() & Long.MaxValue
  }
  def amount(seed: Long, id: Int, version: Int): Long = mix(seed, 1, id, version) % 100000
  def qty(seed: Long, id: Int, version: Int, j: Int): Long = mix(seed, 2 + j, id, version) % 10 + 1
  def score(seed: Long, id: Int, version: Int): Long = mix(seed, 9, id, version) % 1000
  def lineCount(shape: Shape, id: Int): Int = 1 + id % shape.maxLines
  def tier(id: Int): String = s"t${id % 5}"
  def kind(shape: Shape, id: Int): String = s"k${id % shape.kinds}"

  def json(seed: Long, shape: Shape, resource: String, r: Row): String = resource match {
    case "orders" =>
      val lines = (0 until lineCount(shape, r.id))
        .map(j => s"""{"sku":"s${(r.id * 31 + j) % 997}","qty":${qty(seed, r.id, r.version, j)}}""")
      s"""{"id":${r.id},"updated_at":${r.updatedAt},"version":${r.version},""" +
        s""""amount":${amount(seed, r.id, r.version)},""" +
        s""""customer":{"tier":"${tier(r.id)}","region":"r${r.id % 3}"},"lines":[${lines.mkString(",")}]}"""
    case "activity" =>
      s"""{"id":${r.id},"updated_at":${r.updatedAt},"version":${r.version},""" +
        s""""kind":"${kind(shape, r.id)}","score":${score(seed, r.id, r.version)},"meta":{"src":"m${r.id % 3}"}}"""
  }

  // ------------------------------------------------------------- generator

  def generate(seed: Long): Input = generate(seed, DefaultShape)

  def generate(seed: Long, shape: Shape): Input = {
    val rng = new Rng(seed)
    var clock = 1000000L
    val versions = Resources.map(r => r -> scala.collection.mutable.ArrayBuffer.empty[Int]).toMap
    val batches = (0 to shape.maxSyncs).map { b =>
      val rows = Resources.map { res =>
        val ver = versions(res)
        val n = if (b == 0) shape.backfillRows else shape.syncRows
        val nUpd = if (b == 0) 0 else math.round(n * shape.updateShare).toInt
        val upd = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (upd.size < nUpd) upd += rng.nextInt(ver.size)
        val ids = upd.toVector ++ (ver.size until ver.size + (n - nUpd))
        val out = ids.map { id =>
          if (id == ver.size) ver += 0 else ver(id) += 1
          clock += 1 + rng.nextInt(3)
          Row(id, ver(id), clock)
        }
        res -> out
      }.toMap
      Batch(rows, pages(seed, shape, rows))
    }.toVector
    Input(seed, shape, batches)
  }

  /** Offset-paginated bodies, `{"data": [...]}`, plus the empty page that
    * ends a chain whose last page is full.
    */
  private def pages(seed: Long, shape: Shape, rows: Map[String, Vector[Row]]): Map[String, String] =
    rows.toSeq.flatMap { case (res, rs) =>
      val chunks = rs.grouped(shape.pageSize).toSeq
      val full = chunks.zipWithIndex.map { case (c, i) =>
        pageKey(res, shape, i * shape.pageSize) ->
          c.map(json(seed, shape, res, _)).mkString("""{"data":[""", ",", "]}")
      }
      full :+ (pageKey(res, shape, chunks.size * shape.pageSize) -> """{"data":[]}""")
    }.toMap

  private def pageKey(res: String, shape: Shape, offset: Int): String =
    s"$res?limit=${shape.pageSize}&offset=$offset"

  def digest(in: Input): String =
    Workload.sha256(in.batches.iterator.flatMap(_.pages.toSeq.sortBy(_._1).iterator.flatMap(p => Iterator(p._1, p._2))))

  // ---------------------------------------------------- closed-form results

  /** Expected committed state after the backfill and `syncs` syncs:
    * latest version per key wins.
    *
    * @return table -> (rows, sum of version (of `_dlt_list_idx` for the
    *         child table), sum of amount/score/qty),
    *         and resource -> committed cursor
    */
  def expected(in: Input, syncs: Int): (Map[String, (Long, Long, Long)], Map[String, String]) = {
    val seed = in.seed
    val shape = in.shape
    val used = in.batches.take(syncs + 1)
    val latest = Resources.map { res =>
      val m = scala.collection.mutable.HashMap.empty[Int, Int]
      used.foreach(_.rows(res).foreach(r => m(r.id) = r.version))
      res -> m
    }.toMap
    val orders = latest("orders")
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    tables("orders") = (orders.size.toLong, orders.values.map(_.toLong).sum,
      orders.map { case (id, v) => amount(seed, id, v) }.sum)
    tables("orders__lines") = (
      orders.keysIterator.map(id => lineCount(shape, id).toLong).sum,
      orders.keysIterator.map { id => val n = lineCount(shape, id).toLong; n * (n - 1) / 2 }.sum,
      orders.map { case (id, v) => (0 until lineCount(shape, id)).map(j => qty(seed, id, v, j)).sum }.sum)
    latest("activity").groupBy { case (id, _) => kind(shape, id) }.foreach { case (k, m) =>
      tables(s"activity_$k") = (m.size.toLong, m.values.map(_.toLong).sum,
        m.map { case (id, v) => score(seed, id, v) }.sum)
    }
    val cursors = Resources.map(res => res -> used.map(_.rows(res).map(_.updatedAt).max).max.toString).toMap
    (tables.toMap, cursors)
  }

  /** Committed tables and cursors against the closed form after `syncs` syncs. */
  def verify(in: Input, syncs: Int, tables: Map[String, (Long, Long, Long)],
      cursors: Map[String, String]): Seq[Check] = {
    val (expTables, expCursors) = expected(in, syncs)
    expTables.toSeq.sortBy(_._1).map { case (t, e) => Check.equal(s"elt.table.$t", tables.get(t), Some(e)) } ++
      Seq(Check.equal("elt.tables", tables.keySet, expTables.keySet),
        Check.equal("elt.cursors", cursors, expCursors))
  }

  // ---------------------------------------------------------------- system

  /** A transport that counts the requests it serves. */
  final class Counting(inner: HttpTransport) extends HttpTransport {
    @volatile var requests = 0
    override def get(url: String, params: Map[String, String], headers: Map[String, String]): HttpResponse = {
      requests += 1
      inner.get(url, params, headers)
    }
  }

  /** The system under test: one manifest-committed pipeline and the
    * consumer query. `serve(i)` switches the source to batch i.
    */
  final class Sync(ctx: Ctx, in: Input, root: String) {
    private val spark = ctx.spark
    val dest = s"$root/dest"
    val stateDir = s"$root/state"
    val pipe = new Pipeline(spark, "elt", dest, stateDir, manifestCommit = true)
    private val client = ClientConfig("https://api.example")
    private var transport: Counting = _
    val extracts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)] // (requests, rows)

    private def resource(name: String, hints: TableHints, routing: Option[String]) = ResourceDef(
      name, hints,
      build = c => ctx.spans.span("connectors.rest.extract") {
        val before = transport.requests
        val ep = EndpointConfig(name, dataSelector = "data",
          paginator = Paginator.Offset(pageSize = in.shape.pageSize))
        val items = RestEngine.fetchPages(client, ep, transport)
        extracts.synchronized(extracts += ((transport.requests - before, items.size)))
        RestEngine.jsonToDf(c.spark, items)
      },
      routingColumn = routing,
      incremental = Some((Incremental(Seq("updated_at")), "updated_at")),
    )

    private val source = SourceDef("api", Seq(
      resource("orders", TableHints("orders", Disposition.Merge, primaryKey = Seq("id")), None),
      resource("activity", TableHints("activity", Disposition.Merge, primaryKey = Seq("id")), Some("kind")),
    ))

    /** Batch 0 is the backfill. */
    def run(batch: Int): Unit = ctx.spans.span(if (batch == 0) "pipeline.backfill" else "pipeline.run") {
      transport = new Counting(StaticPagesTransport(in.batches(batch).pages))
      pipe.run(source)
    }

    def manifest: TableManifest = pipe.manifest

    /** The consumer query: order lines by customer tier, and activity by
      * routed table, read through the manifest.
      */
    def read(): (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) = ctx.spans.span("core.read") {
      val m = pipe.manifest
      val o = m.read("orders").get
      val l = m.read("orders__lines").get
      val byTier = o.join(l, o("_dlt_id") === l("_dlt_parent_id"))
        .groupBy(o("customer__tier").as("tier"))
        .agg(count(lit(1)).as("n"), sum(l("qty")).as("qty"))
        .orderBy("tier").collect()
      val acts = m.tables.filter(_.startsWith("activity_")).sorted
        .map(t => m.read(t).get.select(lit(t).as("tbl"), col("score")))
        .reduce(_ unionByName _)
        .groupBy("tbl").agg(count(lit(1)).as("n"), sum("score").as("score"))
        .orderBy("tbl").collect()
      (byTier, acts)
    }

    /** Row count, version sum and value sum of each committed table. */
    def summary(): Map[String, (Long, Long, Long)] = {
      val m = pipe.manifest
      m.tables.map { t =>
        val valueCol = if (t == "orders") "amount" else if (t == "orders__lines") "qty" else "score"
        val versionCol = if (t == "orders__lines") "_dlt_list_idx" else "version"
        val r = m.read(t).get
          .agg(count(lit(1)), sum(col(versionCol)).cast("long"), sum(col(valueCol)).cast("long")).head()
        t -> (r.getLong(0), r.getLong(1), r.getLong(2))
      }.toMap
    }

    def cursors(): Map[String, String] = {
      val st = StateStore(stateDir, "elt.api")
      Resources.map(r => r -> st.getString(s"api.$r.cursor").getOrElse("")).toMap
    }
  }

  // --------------------------------------------------------------- phases

  def warmUp(ctx: Ctx, in: Input): Unit = {
    val s = new Sync(ctx, in, ctx.dir("warm-elt"))
    s.run(0)
    s.read()
    s.run(1)
    s.read()
  }

  def measure(ctx: Ctx, in: Input, seconds: Int): Outcome = {
    val copies = (1 until Backfills).map(i => new Sync(ctx, in, ctx.dir(s"elt-copy$i")))
    val s = new Sync(ctx, in, ctx.dir("elt"))
    val deadline = Clock.nowMs + seconds * 1000.0
    val ops = new Ops
    val backfills = (copies :+ s).flatMap(p => ops.timed("backfill")(p.run(0)).map(_._2))
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val syncs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastRead: Option[(Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row])] = None
    def readOnce(): Unit = ops.timed("read")(s.read()).foreach { case (r, t) => lastRead = Some(r); reads += t }
    if (ops.failed == 0) readOnce()
    var done = 0
    while (ops.failed == 0 && done < in.shape.maxSyncs && (Clock.nowMs < deadline || done < MinSyncs)) {
      ops.timed("sync")(s.run(done + 1)).foreach { case (_, t) => syncs += t; done += 1; readOnce() }
    }

    // ---- checks against the closed form
    val ok = ops.failed == 0
    val actual = if (ok) s.summary() else Map.empty[String, (Long, Long, Long)]
    val checks = verify(in, done, actual, if (ok) s.cursors() else Map.empty) ++
      (if (ok) copies.zipWithIndex.map { case (c, i) =>
        Check.equal(s"elt.backfill.copy${i + 1}", (c.summary(), c.cursors()), expected(in, 0))
      } else Nil)
    val expTables = expected(in, done)._1
    val readCheck = lastRead.map { case (byTier, acts) =>
      val lines = expTables("orders__lines")
      Check.equal("elt.read",
        (byTier.map(_.getLong(1)).sum, byTier.map(_.getLong(2)).sum,
          acts.map(r => r.getString(0) -> r.getLong(1)).toMap),
        (lines._1, lines._3, expTables.collect { case (t, v) if t.startsWith("activity_") => t -> v._1 }))
    }.toSeq

    val rootRows = in.shape.backfillRows * Resources.size
    val named = Metric("backfill_rows_per_s",
      if (backfills.isEmpty) 0.0 else rootRows / Stats.median(backfills), "rows/s") +:
      (Ops.timings("sync", syncs.toSeq) ++ Ops.timings("read", reads.toSeq))

    val layer = ctx.tracer.toSeq.flatMap { t =>
      val run = t.totals().get("pipeline.run")
      val syncedRows = done.toDouble * in.shape.syncRows * Resources.size
      val (files, bytes) = destFiles(ctx.spark, s)
      val committedRows = actual.values.map(_._1).sum.toDouble
      val ex = s.extracts.toSeq
      Seq(
        Metric("connectors.rest.pages", ex.map(_._1).sum.toDouble / ex.size, "count"),
        Metric("connectors.rest.rows", ex.map(_._2).sum.toDouble / ex.size, "count"),
        Metric("pipeline.bytes_written_per_row",
          run.map(_._2("output_bytes")).getOrElse(0.0) / math.max(1.0, syncedRows), "bytes"),
        Metric("core.dest_files", files.toDouble, "count"),
        Metric("core.dest_bytes_per_row", bytes / math.max(1.0, committedRows), "bytes"),
      )
    }
    Outcome(named,
      Seq("rate_per_s" -> "backfill_rows_per_s", "op_p50_s" -> "sync_p50_s",
        "aux_s" -> "read_p50_s"),
      layer, ops.attempted, ops.failed, checks ++ readCheck)
  }

  /** Parquet files and bytes of every committed generation. */
  private def destFiles(spark: SparkSession, s: Sync): (Long, Double) = {
    val m = s.manifest
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = for (t <- m.tables; g <- m.gens(t)) yield {
      val p = new org.apache.hadoop.fs.Path(s"${s.dest}/$t/$g")
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      var n = 0L
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; b += f.getLen }
      }
      (n, b)
    }
    (stats.map(_._1).sum, stats.map(_._2).sum.toDouble)
  }
}
