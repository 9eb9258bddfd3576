package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Seeded input generator. Every byte the program under test reads is
  * a pure function of (seed, position): a page's lines depend only on
  * (seed, handle, page index) and a document batch only on (seed,
  * batch index), so the same seed gives byte-identical inputs however
  * the pages are scheduled. Only the wall-clock instant a page is
  * written depends on the run.
  */
object Gen {

  /** Virtual event-time origin. The upsert key buckets event time into
    * 600 s windows (PostPipeline.toEvidence), so the origin sits on a
    * bucket boundary: every run shorter than ten minutes keeps all its
    * posts in one bucket and a repeated (symbol, text) pair updates
    * the same event key.
    */
  val T0Us: Long = 1700000400L * 1000000L

  /** Per-key-space mixing of the seed, so the streams for pages and
    * for documents are independent. */
  private def rng(seed: Long, a: Long, b: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ a * 0xC2B2AE3D27D4EB4FL ^ b * 0x165667B19E3779F9L)

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo",
    "zi", "be", "do", "fa", "gu", "hi", "jo", "pe", "qua", "si", "te",
    "wu", "xa", "yo", "ze", "ar", "en", "il", "on", "ur", "st", "br", "pl")

  /** A fixed pseudo-word vocabulary, independent of the seed. */
  val Vocab: Array[String] = {
    val r = new java.util.SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 3000) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toArray
  }

  private def words(r: java.util.SplittableRandom, n: Int): String =
    (0 until n).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" ")

  // ---------------------------------------------------------------
  // Posts: CursorPollSource pages, `<root>/h<k>/page_<n>`
  // ---------------------------------------------------------------

  /** How a posts workload shapes its pages.
    *  - `distinctText`: every post gets its own text, so every post
    *    inserts a new event key; otherwise (symbol, text) is drawn
    *    Zipf(`zipfS`) from `pairs` pairs and most posts update a key.
    *  - `pageSpacingUs`: event-time gap between consecutive pages of
    *    one handle, which is also the generator's write schedule.
    */
  final case class PostShape(handles: Int, rowsPerPage: Int,
      distinctText: Boolean, pairs: Int, zipfS: Double,
      pageSpacingUs: Long)

  /** Zipf CDF over `n` ranks. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val Symbols = Array("BTC", "ETH", "SOL", "DOGE", "PEPE", "ARB",
    "OP", "LINK", "AVAX", "MATIC", "WIF", "BONK")

  /** The (symbol, text) pair of rank `k`: fixed per seed. */
  def pair(seed: Long, k: Int): (String, String) = {
    val r = rng(seed, 11, k)
    (Symbols(r.nextInt(Symbols.length)), s"${words(r, 6 + r.nextInt(6))} k$k")
  }

  /** The due offset (µs after the run's origin) of page `n` of handle
    * `h`: handles are staggered evenly inside one spacing period. */
  def pageDueUs(shape: PostShape, h: Int, n: Int): Long =
    n * shape.pageSpacingUs + h * shape.pageSpacingUs / shape.handles

  /** Page lines in the CursorPollReader format: `id TAB source TAB
    * author TAB tokenCa TAB symbol TAB isCandidate TAB sentimentScore
    * TAB tsUs TAB text`.
    */
  def pageLines(seed: Long, shape: PostShape, zipf: Zipf, h: Int,
      n: Int): Array[String] = {
    val r = rng(seed, 1000003L * h + 17, n)
    val tsUs = T0Us + pageDueUs(shape, h, n)
    Array.tabulate(shape.rowsPerPage) { i =>
      val (symbol, text) =
        if (shape.distinctText) {
          val (s, _) = pair(seed, r.nextInt(math.max(1, shape.pairs)))
          (s, s"${words(r, 8)} u$h.$n.$i")
        } else pair(seed, zipf.sample(r.nextDouble()))
      val sentiment = (r.nextInt(2001) - 1000) / 1000.0
      s"s$seed-h$h-p$n-$i\tx\tkol${r.nextInt(50)}\t\t$symbol\t" +
        s"${r.nextInt(4) == 0}\t$sentiment\t${tsUs + i}\t$text"
    }
  }

  /** Write page `n` of handle `h` under a dot-prefixed name, then
    * rename it into place: CursorPollSource skips dot-files, so a
    * half-written page is never listed.
    */
  def writePage(root: String, h: Int, n: Int, lines: Array[String]): Unit = {
    val dir = new File(root, s"h$h")
    dir.mkdirs()
    val name = f"page_$n%06d"
    val tmp = new File(dir, s".$name")
    Files.write(tmp.toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  // ---------------------------------------------------------------
  // Documents: IngestStream batches of (doc_id, text)
  // ---------------------------------------------------------------

  /** Share of each batch by kind; the remainder are fresh documents.
    *  - near-duplicate: a delivered document with one word added,
    *    dropped or swapped, under a new id;
    *  - exact copy: a delivered text under a new id;
    *  - re-delivery: a delivered (doc_id, text) sent again.
    */
  final case class DocShape(batchDocs: Int, nearDupShare: Double,
      copyShare: Double, redeliverShare: Double)

  /** The document batches, generated in order: each draws its
    * duplicates from the documents of the batches before it (and the
    * earlier part of itself). */
  def docBatches(seed: Long, shape: DocShape,
      batches: Int): Vector[Vector[(Long, String)]] = {
    val delivered = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var nextId = 1L
    (0 until batches).map { b =>
      val r = rng(seed, 2000003L, b)
      val out = Vector.newBuilder[(Long, String)]
      (0 until shape.batchDocs).foreach { _ =>
        val u = r.nextDouble()
        val doc =
          if (delivered.isEmpty || u >= shape.nearDupShare + shape.copyShare +
              shape.redeliverShare) {
            (nextId, words(r, 30 + r.nextInt(50)))
          } else {
            val (id0, t0) = delivered(r.nextInt(delivered.size))
            if (u < shape.nearDupShare) {
              val ws = t0.split(" ").toBuffer
              r.nextInt(3) match {
                case 0 => ws.insert(r.nextInt(ws.size + 1), Vocab(r.nextInt(Vocab.length)))
                case 1 if ws.size > 5 => ws.remove(r.nextInt(ws.size))
                case _ => ws(r.nextInt(ws.size)) = Vocab(r.nextInt(Vocab.length))
              }
              (nextId, ws.mkString(" "))
            } else if (u < shape.nearDupShare + shape.copyShare) (nextId, t0)
            else (id0, t0)
          }
        if (doc._1 == nextId) nextId += 1
        delivered += doc
        out += doc
      }
      out.result()
    }.toVector
  }

  /** The seeded forget slice: `share` of the distinct delivered ids. */
  def forgetSlice(seed: Long, ids: Seq[Long], share: Double): Vector[Long] = {
    val r = rng(seed, 3000017L, 0)
    ids.distinct.sorted.filter(_ => r.nextDouble() < share).toVector
  }
}
