package perfbench

import java.util.SplittableRandom

/** One generated document. */
final case class Doc(id: Long, text: String)

/** What the generator planted, recorded next to the results. */
final case class Planted(docs: Int, exactCopies: Int, nearDups: Int,
    gateFails: Int, tokens: Long, textBytes: Long)

/** Seeded corpus generator: the benchmark's only source of inputs.
  *
  * Tokens come from a Zipf(1.0) law over a generated lowercase
  * vocabulary. Document lengths vary (most 40-80 tokens, a long tail
  * to 200). On top of the base documents it plants:
  *  - exact copies of earlier base documents;
  *  - near-duplicates: an earlier base document with one word
  *    appended (3-shingle Jaccard >= 0.92 against its base);
  *  - documents that fail the Gopher structural gate (every other
  *    token a 4-digit number, so under 80% of words are alphabetic,
  *    also after the ingest fixture drops the first token).
  */
object Corpus {

  val MinTokens = 40
  val VocabSize = 20000
  /** Shares of documents planted as exact copies, near-duplicates
    * and gate failures.
    */
  val CopyShare = 0.06
  val NearShare = 0.06
  val FailShare = 0.05

  /** Deterministic vocabulary of `size` distinct lowercase words. */
  def vocabulary(rng: SplittableRandom, size: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 2 + rng.nextInt(8)
      seen += (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Cumulative Zipf(s) weights over ranks 1..n. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipfDraw(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else -i - 1).min(cdf.length - 1)
  }

  def generate(seed: Long, nDocs: Int): (Vector[Doc], Planted) = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng, VocabSize)
    val cdf = zipfCdf(VocabSize, 1.0)
    def word() = vocab(zipfDraw(rng, cdf))
    def length() =
      if (rng.nextDouble() < 0.7) MinTokens + rng.nextInt(41)
      else 80 + rng.nextInt(121)
    val docs = Vector.newBuilder[Doc]
    val bases = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var copies, nears, fails = 0
    for (i <- 0 until nDocs) {
      val u = rng.nextDouble()
      val d =
        if (bases.nonEmpty && u < CopyShare) {
          copies += 1
          val b = bases(rng.nextInt(bases.size))
          Doc(i, b.text)
        } else if (bases.nonEmpty && u < CopyShare + NearShare) {
          nears += 1
          val b = bases(rng.nextInt(bases.size))
          Doc(i, b.text + " " + word())
        } else if (u < CopyShare + NearShare + FailShare) {
          fails += 1
          val toks = (0 until length()).map(j =>
            if (j % 2 == 0) f"${rng.nextInt(10000)}%04d" else word())
          Doc(i, toks.mkString(" "))
        } else {
          val b = Doc(i, Seq.fill(length())(word()).mkString(" "))
          bases += b
          b
        }
      docs += d
    }
    val out = docs.result()
    (out, Planted(out.size, copies, nears, fails,
      out.map(d => tokens(d.text).length.toLong).sum,
      out.map(_.text.length.toLong).sum))
  }

  // ---------------------------------------------------- expectations

  /** The engine's tokenizer: lower, split on non-word runs, keep
    * tokens longer than one character.
    */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("\\W+").filter(_.length > 1)

  /** Token counts over `docs`. */
  def tokenCounts(docs: Seq[Doc]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach(d => tokens(d.text).foreach(t =>
      m.update(t, m.getOrElse(t, 0L) + 1)))
    m.toMap
  }

  /** The top-p mass cut: tokens ordered by (count desc, token asc),
    * kept while the running count including the token stays under
    * p x total.
    */
  def topPCut(counts: Map[String, Long], p: Double): Vector[(String, Long)] = {
    val total = counts.values.sum
    val ordered = counts.toVector.sortBy { case (t, c) => (-c, t) }
    var run = 0L
    ordered.takeWhile { case (_, c) => run += c; run.toDouble < p * total }
  }

  /** Exact dedup groups: (min doc id, copies) per distinct text. */
  def exactGroups(docs: Seq[Doc]): Vector[(Long, Long)] =
    docs.groupBy(_.text).values
      .map(g => (g.map(_.id).min, g.size.toLong)).toVector.sorted

  /** The Gopher structural rules the ingest gate applies. */
  def gateOk(toks: Array[String]): Boolean = {
    val n = toks.length.toDouble
    val meanLen = toks.map(_.length.toLong).sum / n
    val alpha = toks.count(w => w.exists(c => c.isLetter && c < 128)) / n
    val symbol = toks.count(w =>
      w.nonEmpty && w.forall(c => !(c.isLetterOrDigit && c < 128))) / n
    n >= 5 && n <= 100000 && meanLen >= 2.0 && meanLen <= 12.0 &&
      symbol <= 0.1 && alpha >= 0.8
  }

  final case class BatchAudit(batch: Int, nIn: Long, nQuality: Long,
      nExact: Long, nFinal: Long)

  /** Fixture id offsets of the incremental ingest loop: variants drop
    * the first token, copies land in the other or the same batch.
    */
  val VariantOffset = 1000000L
  val CopyCross = 4000000L
  val CopySame = 6000000L

  /** The engine's MinHash-LSH as its specification (the SQL oracle of
    * `corpusBuildIncr`) defines it. A shingle is 3 consecutive
    * space-separated words; its hash is the first 15 hex digits of its
    * MD5, mod 2^30. Signature value i is the minimum of
    * (a_i * hash + b_i) mod (2^31 - 1) over the shingles. Two documents
    * are near-duplicates when they share one of 8 bands of 2 signature
    * values and agree on at least `minSim` of the 16 values.
    */
  val MinhashAB: Vector[(Long, Long)] =
    Vector.tabulate(16)(i => (1000003L + 7919L * i, 15485863L + 104729L * i))
  val MinhashMod = 2147483647L
  val Bands = 8

  def shingleHash(shingle: String): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(shingle.getBytes("UTF-8"))
    java.lang.Long.parseLong(md5.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16) %
      (1L << 30)
  }

  def signature(text: String): Vector[Long] = {
    val hs = text.split(" ").sliding(3).map(w => shingleHash(w.mkString(" "))).toVector
    MinhashAB.map { case (a, b) => hs.map(h => (a * h + b) % MinhashMod).min }
  }

  def bandKeys(sig: Vector[Long]): Vector[(Int, Long, Long)] =
    Vector.tabulate(Bands)(j => (j, sig(2 * j), sig(2 * j + 1)))

  def estSim(a: Vector[Long], b: Vector[Long]): Double =
    a.lazyZip(b).count { case (x, y) => x == y } / a.size.toDouble

  /** Expected audit rows of the three-batch incremental ingest over
    * `docs`: the fixture (originals, drop-first-token variants, exact
    * copies), batch = id mod 3 + 1, the structural gate, keep-first
    * exact dedup against the standing hash set, then near-dedup: a
    * batch survivor is dropped when it is a near-duplicate of a
    * standing kept document or of a lower id among the batch's
    * survivors.
    */
  def ingestExpect(docs: Seq[Doc], minSim: Double): Vector[BatchAudit] = {
    require(docs.forall(d => d.id >= 0 && d.id < VariantOffset))
    val fixture = docs.flatMap { d =>
      val toks = d.text.split(" ")
      val variant =
        if (toks.length > 3) Seq(Doc(d.id + VariantOffset, toks.drop(1).mkString(" ")))
        else Nil
      Seq(d, Doc(d.id + (if (d.id % 2 == 0) CopyCross else CopySame), d.text)) ++ variant
    }
    type Index = scala.collection.mutable.HashMap[(Int, Long, Long), List[Vector[Long]]]
    def nearIn(index: Index, sig: Vector[Long]) =
      bandKeys(sig).exists(k => index.getOrElse(k, Nil).exists(estSim(sig, _) >= minSim))
    def add(index: Index, sig: Vector[Long]): Unit =
      bandKeys(sig).foreach(k => index.update(k, sig :: index.getOrElse(k, Nil)))
    val standingTexts = scala.collection.mutable.HashSet.empty[String]
    val standing: Index = scala.collection.mutable.HashMap.empty
    (1 to 3).map { k =>
      val in = fixture.filter(d => (d.id % 3) + 1 == k)
      val quality = in.filter(d => gateOk(d.text.split(" ")))
      val firsts = quality.groupBy(_.text).values.map(_.minBy(_.id))
      val exact = firsts.filterNot(d => standingTexts(d.text)).toVector.sortBy(_.id)
      val earlier: Index = scala.collection.mutable.HashMap.empty
      val kept = exact.map(d => (d, signature(d.text))).filter { case (_, sig) =>
        val keep = !nearIn(standing, sig) && !nearIn(earlier, sig)
        add(earlier, sig)
        keep
      }
      kept.foreach { case (d, sig) => standingTexts += d.text; add(standing, sig) }
      BatchAudit(k, in.size, quality.size, exact.size, kept.size)
    }.toVector
  }
}
