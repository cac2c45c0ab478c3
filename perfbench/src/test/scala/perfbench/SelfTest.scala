package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.ops.Embedding

/** The benchmark's own tests: seeded inputs, closed-form expectations
  * against brute force at tiny size, the tail rule, and planted wrong
  * results that the checks must catch. Run with
  *
  *   python3 perfbench/run.py --self-test
  *
  * Exit code 1 when any test fails.
  */
object SelfTest {
  private val results = ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: Throwable => Some(e.toString) }
    println(s"perfbench-test ${if (r.isEmpty) "ok" else "FAIL"} $name${r.map(" -- " + _).getOrElse("")}")
    results += ((name, r))
  }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  val eltShape = EltSync.Shape(backfillRows = 60, syncRows = 10, maxSyncs = 4, pageSize = 25)
  val curateShape = CurateIndex.Shape(uniques = 60, lowQuality = 6, exactFamilies = 4, nearFamilies = 4,
    semanticFamilies = 4, appendBatches = 2, appendDocs = 5, queries = 40, queriesPerBatch = 8)
  val streamShape = StreamUpsert.Shape(users = 40, rowsPerFile = 25, maxFiles = 12, intervalMs = 400)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))

    test("inputs: a seed gives byte-identical inputs, another seed different ones") {
      val digests = Seq[Long => String](
        s => EltSync.digest(EltSync.generate(s, eltShape)),
        s => CurateIndex.digest(CurateIndex.generate(s, curateShape)),
        s => StreamUpsert.digest(StreamUpsert.generate(s, streamShape)))
      digests.foreach { d =>
        check(d(7) == d(7), "same seed, different inputs")
        check(d(7) != d(8), "different seeds, same inputs")
      }
    }

    test("elt_sync: closed form equals a replay of the served pages") {
      val in = EltSync.generate(5, eltShape)
      (0 to eltShape.maxSyncs).foreach { k =>
        check(EltSync.expected(in, k) == replayElt(in, k), s"mismatch after $k syncs")
      }
    }

    test("curate_index: planted survivors equal a pairwise brute force") {
      Seq(5L, 6L).foreach { seed =>
        val in = CurateIndex.generate(seed, curateShape)
        check(bruteCurate(in) == in.expected, s"seed $seed: stage survivors differ")
        val indexed = in.docs.filter(d => in.expected.semantic.contains(d.id)) ++ in.appends.flatten
        in.queries.foreach { q =>
          val holders = indexed.filter(d => q.text.split(" ").forall(d.text.split(" ").contains))
          check(holders.map(_.id) == Seq(q.target), s"query ${q.qid} is not unique to its target")
        }
      }
    }

    test("stream_upsert: closed form equals a file-by-file upsert replay") {
      val in = StreamUpsert.generate(5, streamShape)
      (1 to streamShape.maxFiles).foreach { n =>
        check(StreamUpsert.expected(in, n) == replayStream(in, n), s"mismatch after $n files")
      }
    }

    test("tail: highest percentile with at least 10 samples beyond it") {
      check(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0, 100)), "1..100")
      check(Stats.tail((1 to 20).reverse.map(_.toDouble)) == Some((10.0, 50.0, 20)), "20..1")
      check(Stats.tail((1 to 11).map(_.toDouble)) == Some((1.0, 100.0 / 11, 11)), "1..11")
      check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "10 samples have no tail")
      check(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median")
      check(Tracer.unionMs(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0, "interval union")
    }

    val spark = Main.session(2, work)
    val ctx = new Ctx(spark, None, work, 2)

    test("elt_sync: a clean run passes, a skipped sync is caught") {
      val in = EltSync.generate(5, eltShape)
      def runWith(batches: Seq[Int], dir: String): Seq[Check] = {
        val s = new EltSync.Sync(ctx, in, ctx.dir(dir))
        batches.foreach(s.run)
        EltSync.verify(in, 3, s.summary(), s.cursors())
      }
      val clean = runWith(Seq(0, 1, 2, 3), "elt-clean")
      check(clean.forall(_.ok), s"clean run failed: ${clean.filterNot(_.ok)}")
      val skipped = runWith(Seq(0, 1, 3), "elt-skip")
      check(skipped.exists(!_.ok), "a skipped sync passed the checks")
    }

    test("stream_upsert: a clean session passes, a dropped file is caught") {
      val in = StreamUpsert.generate(5, streamShape)
      val clean = StreamUpsert.verify(in, StreamUpsert.session(ctx, in, ctx.dir("stream-clean"), 1.6))
      check(clean.forall(_.ok), s"clean session failed: ${clean.filterNot(_.ok)}")
      val dropped = StreamUpsert.verify(in,
        StreamUpsert.session(ctx, in, ctx.dir("stream-drop"), 1.6, dropFile = 2))
      check(dropped.exists(!_.ok), "a dropped file passed the checks")
    }

    spark.stop()
    val failed = results.count(_._2.nonEmpty)
    println(s"perfbench-tests ${results.size - failed} passed, $failed failed")
    System.exit(if (failed == 0) 0 else 1)
  }

  /** Latest row per key, read back from the JSON the source serves. */
  private def replayElt(in: EltSync.Input, syncs: Int): (Map[String, (Long, Long, Long)], Map[String, String]) = {
    val mapper = new ObjectMapper()
    val latest = scala.collection.mutable.HashMap.empty[(String, Long), com.fasterxml.jackson.databind.JsonNode]
    val cursors = scala.collection.mutable.HashMap.empty[String, Long]
    in.batches.take(syncs + 1).foreach { b =>
      b.pages.toSeq.sortBy { case (k, _) => (k.takeWhile(_ != '?'), k.split("offset=")(1).toInt) }
        .foreach { case (k, body) =>
          val res = k.takeWhile(_ != '?')
          mapper.readTree(body).get("data").elements().asScala.foreach { item =>
            val key = (res, item.get("id").asLong)
            val ts = item.get("updated_at").asLong
            if (latest.get(key).forall(_.get("updated_at").asLong < ts)) latest(key) = item
            cursors(res) = math.max(cursors.getOrElse(res, Long.MinValue), ts)
          }
        }
    }
    val tables = scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]
    def add(t: String, rows: Long, ver: Long, value: Long): Unit = {
      val (a, b, c) = tables.getOrElse(t, (0L, 0L, 0L))
      tables(t) = (a + rows, b + ver, c + value)
    }
    latest.foreach { case ((res, _), item) =>
      if (res == "orders") {
        add("orders", 1, item.get("version").asLong, item.get("amount").asLong)
        item.get("lines").elements().asScala.zipWithIndex.foreach { case (l, j) =>
          add("orders__lines", 1, j.toLong, l.get("qty").asLong)
        }
      } else add(s"activity_${item.get("kind").asText}", 1, item.get("version").asLong, item.get("score").asLong)
    }
    (tables.toMap, cursors.map { case (r, c) => r -> c.toString }.toMap)
  }

  /** Each stage's survivors from its definition, by brute force. */
  private def bruteCurate(in: CurateIndex.Input): CurateIndex.Expected = {
    val docs = in.docs
    val stop = Set("the", "be", "to", "of", "and", "that", "have", "with")
    val quality = docs.filter { d =>
      val w = d.text.split(" ")
      val meanLen = (d.text.length - (w.length - 1)).toDouble / w.length
      w.length >= 50 && meanLen >= 3 && meanLen <= 10 &&
        w.count(_.exists(_.isLetter)).toDouble / w.length >= 0.8 && w.count(stop).toDouble >= 2 &&
        !d.text.contains("#") && !d.text.contains("...")
    }
    val lines = CurateIndex.keptByLines(quality)
    val s2 = quality.filter(d => lines.contains(d.id))
    // near-dup: connected components of word-set Jaccard >= threshold
    val sets = s2.map(d => d.id -> d.text.split(" ").toSet)
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    for ((a, sa) <- sets; (b, sb) <- sets if a < b) {
      if ((sa & sb).size.toDouble / (sa | sb).size >= CurateIndex.NearThreshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val nearDup = s2.map(_.id).filter(id => find(id) == id).toSet // roots are component minima
    // semantic: drop the larger id of every pair at cosine >= threshold
    val s3 = s2.filter(d => nearDup.contains(d.id))
    val vecs = s3.zip(Embedding.HashedBowEmbedder.embed(s3.map(d => Embedding.EmbedDoc(d.id, d.text)), CurateIndex.Dim))
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.lazyZip(b).map(_ * _).sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val dropped = (for ((da, va) <- vecs; (db, vb) <- vecs if da.id < db.id && cos(va, vb) >= CurateIndex.SemanticThreshold)
      yield db.id).toSet
    CurateIndex.Expected(quality.map(_.id).toSet, lines, nearDup, nearDup -- dropped)
  }

  /** Upsert the files one by one: within a file the largest seq per user. */
  private def replayStream(in: StreamUpsert.Input, n: Int): Map[Long, (Long, String, Long)] = {
    val table = scala.collection.mutable.HashMap.empty[Long, (Long, String, Long)]
    in.files.take(n).foreach { f =>
      f.groupBy(_.user).foreach { case (u, es) =>
        val e = es.maxBy(_.seq)
        table(u) = (e.seq, e.kind, e.value)
      }
    }
    table.toMap
  }
}
