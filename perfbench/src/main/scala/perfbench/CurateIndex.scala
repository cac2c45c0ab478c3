package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScaleData
import graft.ops.{Dedup, Embedding, Lexical, Similarity, TextAnalysis}

/** curate_index: the training-data layer on a corpus large enough to be
  * bound by compute and shuffle. The chain follows the contract's
  * curation pipeline — quality gate, line dedup, near-dup pairs and
  * clusters, embeddings and semantic dedup, each stage pinned — and then a
  * lexical index is built over the survivors, appended to, and searched in
  * many small batches.
  *
  * The corpus is seeded Zipfian text ([[ScaleData.zipfText]]) with the
  * head ranks removed, as a stop-list would, so that two random documents
  * are neither near-duplicates by word set nor by bag-of-words cosine. Into
  * it the generator plants families, each caught by exactly one stage:
  *  - exact families: identical copies (line dedup keeps the first);
  *  - near families: every aligned 10-word chunk rotated, so no line is
  *    shared but the word set is identical (Jaccard 1.0, threshold 0.8);
  *  - semantic families: every word replaced by another word that the
  *    hashed bag-of-words embedder maps to the same dimension and sign, so
  *    the word sets are disjoint but the embeddings equal (cosine 1.0,
  *    threshold 0.875).
  * Low-quality documents carry no stop words, which the Gopher rules
  * require. Random documents stay far below both thresholds, so each
  * family keeps exactly its smallest id and every unique document
  * survives; the check after every stage would catch a random pair that
  * crossed one.
  */
object CurateIndex extends Workload {

  final case class Shape(
      uniques: Int = 1800,
      lowQuality: Int = 180,
      exactFamilies: Int = 75,
      nearFamilies: Int = 75,
      semanticFamilies: Int = 75,
      familySize: Int = 3,
      words: Int = 68, // Zipf words per document; with two stop words, 7 whole lines
      vocab: Int = 20000,
      headRanks: Int = 20,
      appendBatches: Int = 3,
      appendDocs: Int = 25,
      queries: Int = 800,
      queriesPerBatch: Int = 8,
      queryTerms: Int = 3,
  )

  val DefaultShape: Shape = Shape()
  val Dim = 128
  val Cells = 8
  val NearThreshold = 0.8
  val SemanticThreshold = 0.875
  val TopK = 10
  /** Search batches per run, past the deadline if need be. */
  val MinSearches = 3
  val ChunkWords = 10
  val StopWords: Seq[String] = Seq("the", "of")

  final case class Doc(id: Long, text: String)
  final case class Query(qid: Long, text: String, target: Long)

  /** Survivor ids after each stage, known from how the corpus was built. */
  final case class Expected(quality: Set[Long], lines: Set[Long], nearDup: Set[Long], semantic: Set[Long])

  final case class Input(
      seed: Long,
      shape: Shape,
      docs: Vector[Doc],
      appends: Vector[Vector[Doc]],
      queries: Vector[Query],
      expected: Expected,
  )

  // ------------------------------------------------------------- generator

  /** Embedding bucket of a word under the hashed bag-of-words embedder:
    * dimension `(h >>> 1) % dim` and sign `h & 1` of the low 60 bits of
    * its md5 (the embedder's documented, SQL-replicable definition).
    */
  def embedBucket(md: java.security.MessageDigest, w: String, dim: Int): Int = {
    val dig = md.digest(w.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (dig(i) & 0xffL); i += 1 }
    h = (h << 4) | ((dig(7) >> 4) & 0xfL)
    ((h >>> 1) % dim).toInt * 2 + (h & 1L).toInt
  }

  def generate(seed: Long): Input = generate(seed, DefaultShape)

  def generate(seed: Long, shape: Shape): Input = {
    val rng = new Rng(seed)
    val cum = ScaleData.harmonicCum(shape.vocab)
    val md = java.security.MessageDigest.getInstance("MD5")

    def body(): Vector[String] = {
      val key = rng.nextLong() & 0xFFFFFFFFFFFFL
      var n = shape.words * 2
      var ws = Vector.empty[String]
      while (ws.size < shape.words) {
        ws = ScaleData.zipfText(key, n, cum).split(" ").toVector
          .filter(_.stripPrefix("zw").toInt > shape.headRanks)
        n *= 2
      }
      ws.take(shape.words)
    }
    def withStops(ws: Vector[String]): Vector[String] =
      StopWords.foldLeft(ws)((acc, s) => acc.patch(rng.nextInt(acc.size + 1), Seq(s), 0))
    def rotateChunks(ws: Vector[String], by: Int): Vector[String] =
      ws.grouped(ChunkWords).flatMap { c => val r = by % c.size; c.drop(r) ++ c.take(r) }.toVector

    // replacement words for semantic families, drawn per embedding bucket
    val pool = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.Queue[String]]
    var poolNext = 0L
    def collide(w: String): String = {
      val b = embedBucket(md, w, Dim)
      while (pool.get(b).forall(_.isEmpty)) {
        val cand = "qv" + java.lang.Long.toString(poolNext + 46656L, 36)
        poolNext += 1
        pool.getOrElseUpdate(embedBucket(md, cand, Dim), scala.collection.mutable.Queue.empty) += cand
      }
      pool(b).dequeue()
    }

    // (words, group): "u" = unique, "low" = low quality, else a family tag
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Vector[String], String)]
    (0 until shape.uniques).foreach(_ => texts += ((withStops(body()), "u")))
    (0 until shape.lowQuality).foreach(_ => texts += ((body(), "low")))
    (0 until shape.exactFamilies).foreach { f =>
      val b = withStops(body())
      (0 until shape.familySize).foreach(_ => texts += ((b, s"exact$f")))
    }
    (0 until shape.nearFamilies).foreach { f =>
      val b = withStops(body())
      (0 until shape.familySize).foreach(m => texts += ((rotateChunks(b, m), s"near$f")))
    }
    (0 until shape.semanticFamilies).foreach { f =>
      val b = withStops(body())
      texts += ((b, s"sem$f"))
      (1 until shape.familySize).foreach { _ =>
        texts += ((b.map(w => if (StopWords.contains(w)) w else collide(w)), s"sem$f"))
      }
    }
    // ids: a seeded permutation, so family members are spread out
    val ids = {
      val a = Array.tabulate(texts.size)(_.toLong)
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val docs = texts.indices.map(i => Doc(ids(i), texts(i)._1.mkString(" "))).toVector
    val group = texts.indices.map(i => ids(i) -> texts(i)._2).toMap

    def dropNonMin(keep: Set[Long], prefix: String): Set[Long] = {
      val fam = keep.filter(id => group(id).startsWith(prefix)).groupBy(group)
      keep -- fam.values.flatMap(ids => ids - ids.min)
    }
    val all = docs.map(_.id).toSet
    val quality = all.filter(id => group(id) != "low")
    val lines = dropNonMin(quality, "exact")
    val nearDup = dropNonMin(lines, "near")
    val semantic = dropNonMin(nearDup, "sem")
    val byLines = keptByLines(docs.filter(d => quality.contains(d.id)))
    require(byLines == lines, "generator: line dedup would not keep exactly the planted survivors")
    val base = docs.size.toLong
    val appends = (0 until shape.appendBatches).map { b =>
      (0 until shape.appendDocs).map { i =>
        Doc(base + b * shape.appendDocs + i, withStops(body()).mkString(" "))
      }.toVector
    }.toVector

    // queries: words that occur in exactly one indexed document
    val indexed = docs.filter(d => semantic.contains(d.id)) ++ appends.flatten
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    indexed.foreach(d => d.text.split(" ").distinct.foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    val rare = indexed.map(d => d.id -> d.text.split(" ").distinct.filter(df(_) == 1).toVector)
      .filter(_._2.size >= shape.queryTerms)
    val queries = (0 until shape.queries).map { q =>
      val (id, ws) = rare(rng.nextInt(rare.size))
      val picked = (0 until shape.queryTerms).map(_ => ws(rng.nextInt(ws.size)))
      Query(q.toLong, picked.mkString(" "), id)
    }.toVector
    Input(seed, shape, docs, appends, queries, Expected(quality, lines, nearDup, semantic))
  }

  /** Documents that keep at least 3 lines when each line (aligned
    * 10-word chunk) is kept only in its first occurrence, by (id, position).
    */
  def keptByLines(docs: Seq[Doc]): Set[Long] = {
    val lines = docs.flatMap(d => d.text.split(" ").grouped(ChunkWords).zipWithIndex
      .map { case (c, pos) => (c.mkString(" "), d.id, pos) })
    val first = lines.groupBy(_._1).map { case (_, occ) => occ.minBy(o => (o._2, o._3)) }
    first.groupBy(_._2).collect { case (id, kept) if kept.size >= 3 => id }.toSet
  }

  def digest(in: Input): String = Workload.sha256(
    (in.docs.iterator ++ in.appends.iterator.flatten).map(d => s"${d.id}\t${d.text}\n") ++
      in.queries.iterator.map(q => s"${q.qid}\t${q.text}\t${q.target}\n"))

  // ---------------------------------------------------------------- system

  /** Survivor frames of the four pinned stages. */
  final case class Chain(quality: DataFrame, lines: DataFrame, nearDup: DataFrame, semantic: DataFrame,
      pairs: DataFrame)

  private def frame(ctx: Ctx, docs: Seq[Doc]): DataFrame =
    ctx.spark.createDataFrame(docs.map(d => (d.id, d.text))).toDF("doc_id", "text")

  def chain(ctx: Ctx, docs: Seq[Doc]): Chain = {
    val s = ctx.spans
    val pool = frame(ctx, docs)
    val s1 = s.span("ops.quality") {
      TextAnalysis.gopherFilter(pool, "text").filter(col("pass") === 1)
        .select("doc_id", "text").localCheckpoint(true)
    }
    val s2 = s.span("ops.lines") {
      val ws = split(col("text"), " ")
      val lined = concat_ws("\n", transform(
        sequence(lit(0), ceil(size(ws) / lit(ChunkWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * ChunkWords + 1, lit(ChunkWords)))))
      val kept = Dedup.dedupLines(s1.select(col("doc_id"), lined.as("text")), "doc_id", "text", sep = "\n")
        .filter(col("n_kept") >= 3).select("doc_id")
      s1.join(kept, Seq("doc_id")).localCheckpoint(true)
    }
    var pairs: DataFrame = null
    val s3 = s.span("ops.near_dup") {
      pairs = Dedup.nearDupPairs(s2, "doc_id", "text", numHashes = 8, rowsPerBand = 2,
        threshold = NearThreshold)
      val dropped = Dedup.clusterPairs(pairs).filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      s2.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint(true)
    }
    val s4 = s.span("ops.semantic") {
      val emb = Embedding.embedDocuments(s3.repartition(ctx.cpus), "doc_id", "text", dim = Dim)
        .localCheckpoint(true)
      val kept = Dedup.semanticDedup(emb, "doc_id", "embedding", Similarity.fixedCentroids(Dim, Cells),
        threshold = SemanticThreshold, maxCellSize = Int.MaxValue)
        .filter(col("kept") === 1).select("doc_id")
      s3.join(kept, Seq("doc_id")).localCheckpoint(true)
    }
    Chain(s1, s2, s3, s4, pairs)
  }

  def build(ctx: Ctx, survivors: DataFrame, path: String): Unit = ctx.spans.span("ops.lexical.build") {
    Lexical.Index.build(survivors.select("doc_id", "text"), "doc_id", "text", path, championSize = 32)
  }

  def append(ctx: Ctx, batch: Seq[Doc], path: String, appendId: Long): Unit = ctx.spans.span("ops.lexical.build") {
    Lexical.Index.append(frame(ctx, batch), "doc_id", "text", path, appendId)
  }

  /** One search batch: (query id, hit ids). */
  def search(ctx: Ctx, path: String, qs: Seq[Query]): Map[Long, Seq[Long]] = ctx.spans.span("ops.lexical.search") {
    val qdf = ctx.spark.createDataFrame(qs.map(q => (q.qid, q.text))).toDF("q_id", "q_text")
    Lexical.Index.search(ctx.spark, path, qdf, "q_id", "q_text", k = TopK)
      .select("q_id", "id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
  }

  // --------------------------------------------------------------- phases

  def warmUp(ctx: Ctx, in: Input): Unit = {
    val c = chain(ctx, in.docs)
    val path = ctx.dir("warm-index") + "/idx"
    build(ctx, c.semantic, path)
    append(ctx, in.appends.head, path, 0L)
    in.queries.grouped(in.shape.queriesPerBatch).take(1).foreach(search(ctx, path, _))
  }

  def measure(ctx: Ctx, in: Input, seconds: Int): Outcome = {
    val deadline = Clock.nowMs + seconds * 1000.0
    val ops = new Ops
    val pinned0 = ctx.tracer.map(_.pinnedBytes).getOrElse(0L)
    val curated = ops.timed("chain")(chain(ctx, in.docs))
    val pinned = ctx.tracer.map(_.pinnedBytes).getOrElse(0L) - pinned0
    val path = ctx.dir("index") + "/idx"
    val built = curated.flatMap(c => ops.timed("build")(build(ctx, c._1.semantic, path)))
    val appends = if (built.isEmpty) Nil else in.appends.zipWithIndex.flatMap { case (b, i) =>
      ops.timed("append")(append(ctx, b, path, i.toLong)).map(_._2)
    }
    val searches = scala.collection.mutable.ArrayBuffer.empty[Double]
    val hits = scala.collection.mutable.HashMap.empty[Long, Seq[Long]]
    val batches = in.queries.grouped(in.shape.queriesPerBatch)
    while (built.isDefined && ops.failed == 0 && batches.hasNext &&
        (Clock.nowMs < deadline || searches.size < MinSearches)) {
      val qs = batches.next()
      ops.timed("search")(search(ctx, path, qs)).foreach { case (r, t) =>
        searches += t
        qs.foreach(q => hits(q.qid) = r.getOrElse(q.qid, Nil))
      }
    }

    // ---- checks against the closed form
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val e = in.expected
    val stageIds = curated.map { case (c, _) =>
      Seq("quality" -> ids(c.quality), "lines" -> ids(c.lines), "near_dup" -> ids(c.nearDup),
        "semantic" -> ids(c.semantic))
    }.getOrElse(Nil)
    val expectedIds = Map("quality" -> e.quality, "lines" -> e.lines, "near_dup" -> e.nearDup,
      "semantic" -> e.semantic)
    val stageChecks = stageIds.map { case (st, got) =>
      val want = expectedIds(st)
      Check(s"curate.$st", got == want,
        s"survivors=${got.size} expected=${want.size} missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
    val byQid = in.queries.map(q => q.qid -> q.target).toMap
    val missed = hits.count { case (q, hs) => !hs.contains(byQid(q)) }
    val searchCheck = Check("curate.search", hits.nonEmpty && missed == 0,
      s"queries=${hits.size} target not in top $TopK: $missed")

    val docs = in.docs.size.toDouble
    val named = Seq(
      Metric("curate_docs_per_s", curated.map(c => docs / c._2).getOrElse(0.0), "docs/s"),
      Metric("index_build_s", built.map(_._2).getOrElse(0.0) + appends.sum, "s"),
    ) ++ Ops.timings("append", appends) ++ Ops.timings("search", searches.toSeq)

    val layer = ctx.tracer.toSeq.flatMap { _ =>
      val sizes = docs +: stageIds.map(_._2.size.toDouble)
      val ratios = Seq("quality", "lines", "near_dup", "semantic").zipWithIndex.map { case (st, i) =>
        Metric(s"ops.$st.keep_ratio", if (sizes.size > i + 1) sizes(i + 1) / sizes(i) else 0.0, "ratio")
      }
      val candidates = curated.map { case (c, _) =>
        val groups = Dedup.lshCandidateGroups(c.lines, "doc_id", "text", numHashes = 8, rowsPerBand = 2)
        val cand = groups.agg(sum(col("n_docs") * (col("n_docs") - 1) / 2)).head()
        val verified = c.pairs.count()
        (if (cand.isNullAt(0)) 0.0 else cand.getDouble(0)) / math.max(1L, verified)
      }.getOrElse(0.0)
      Seq(Metric("ops.pinned_bytes", pinned.toDouble, "bytes"),
        Metric("ops.near_dup.candidates_per_pair", candidates, "ratio")) ++ ratios
    }
    Outcome(named,
      Seq("rate_per_s" -> "curate_docs_per_s", "op_p50_s" -> "search_p50_s",
        "aux_s" -> "append_p50_s"),
      layer, ops.attempted, ops.failed, stageChecks :+ searchCheck)
  }
}
