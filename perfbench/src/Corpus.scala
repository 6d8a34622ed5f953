package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded corpus shards with planted curation answers:
  *  - boilerplate lines shared by a large share of the shard;
  *  - exact-duplicate groups (same body, different boilerplate);
  *  - near-duplicate pairs at a low edit rate (one word of ~50 substituted,
  *    token 3-shingle Jaccard >= 0.86) that must be found;
  *  - far variants at a high edit rate (a quarter of words substituted),
  *    which stay below the threshold;
  *  - documents contaminated with a 12-word window of a held-out eval passage.
  */
object Corpus {

  final case class Params(
      docs: Int,          // documents per shard
      shards: Int,        // distinct shards in the op pool
      dupGroups: Int,     // exact-duplicate groups per shard (2-4 copies)
      nearPairs: Int,     // low-edit-rate pairs per shard
      farPairs: Int,      // high-edit-rate pairs per shard
      contaminated: Int,  // contaminated documents per shard
      evalPassages: Int,  // held-out eval set size
      boilerLines: Int,   // distinct boilerplate lines
      vocabulary: Int)

  final case class Shard(path: Path, docs: Int,
      dupGroups: Vector[Vector[Long]],
      nearPairs: Vector[(Long, Long)],
      contaminated: Vector[Long],
      expectedSurvivors: Set[Long])

  /** MinHash settings, near-duplicate threshold and contamination n-gram
    * length the op uses. 16 bands of 2 rows find a pair at Jaccard 0.86
    * with probability 1 - (1 - 0.86^2)^16 > 1 - 1e-9. */
  val Threshold = 0.8
  val NumHashes = 32
  val Bands = 16
  val DeconN = 8

  def vocabulary(n: Int, rnd: Random): Vector[String] = {
    val syll = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "fi", "gu", "he", "jo", "bu", "co", "wi", "ya", "xe")
    Iterator.continually {
      (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.size))).mkString
    }.distinct.take(n).toVector
  }

  def evalSet(p: Params, vocab: Vector[String], rnd: Random): Vector[String] =
    Vector.fill(p.evalPassages)(Vector.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" "))

  def boilerplate(p: Params, vocab: Vector[String], rnd: Random): Vector[String] =
    Vector.fill(p.boilerLines)(
      Vector.fill(8 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" "))

  /** JSON-lines eval set: `{"eval_id": i, "text": "..."}`. */
  def writeEval(passages: Vector[String], path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, passages.zipWithIndex.map { case (t, i) =>
      s"""{"eval_id":$i,"text":"$t"}""" }.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
  }

  def shard(p: Params, shardNo: Int, vocab: Vector[String], boiler: Vector[String],
      evalPassages: Vector[String], path: Path, rnd: Random): Shard = {
    def word() = vocab(rnd.nextInt(vocab.size))
    // three lines of 14-19 words: ~50 words, as in the curation probes
    def body(): Vector[Vector[String]] =
      Vector.fill(3)(Vector.fill(14 + rnd.nextInt(6))(word()))
    def withBoiler(lines: Vector[String]): Vector[String] = {
      val top = boiler.filter(_ => rnd.nextDouble() < 0.5)
      val bottom = if (rnd.nextDouble() < 0.4) Vector(boiler.last) else Vector.empty
      top ++ lines ++ bottom
    }
    val base = shardNo.toLong * 1000000L
    val docs = Array.fill(p.docs)(body())
    val ids = Array.tabulate(p.docs)(i => base + i)
    val perm = rnd.shuffle((0 until p.docs).toVector)
    var next = 0
    def take(n: Int): Vector[Int] = { val r = perm.slice(next, next + n); next += n; r }
    val dupGroups = Vector.fill(p.dupGroups) {
      val g = take(2 + rnd.nextInt(3))
      g.tail.foreach(i => docs(i) = docs(g.head))
      g.map(ids(_)).sorted
    }
    def substitute(lines: Vector[Vector[String]], n: Int): Vector[Vector[String]] = {
      var out = lines
      (0 until n).foreach { _ =>
        val l = 1 + rnd.nextInt(out.size - 2) // interior line
        val w = rnd.nextInt(out(l).size)
        var repl = word()
        while (repl == out(l)(w)) repl = word()
        out = out.updated(l, out(l).updated(w, repl))
      }
      out
    }
    val nearPairs = Vector.fill(p.nearPairs) {
      val Vector(a, b) = take(2)
      docs(b) = substitute(docs(a), 1)
      (math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
    }
    (0 until p.farPairs).foreach { _ =>
      val Vector(a, b) = take(2)
      docs(b) = substitute(docs(a), docs(a).map(_.size).sum / 4)
    }
    val contaminated = take(p.contaminated).map { i =>
      val passage = evalPassages(rnd.nextInt(evalPassages.size)).split(" ")
      val at = rnd.nextInt(passage.length - 12)
      val l = 1 + rnd.nextInt(docs(i).size - 1)
      docs(i) = docs(i).patch(l, Seq(passage.slice(at, at + 12).toVector), 0)
      ids(i)
    }.sorted
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try docs.indices.foreach { i =>
      val text = withBoiler(docs(i).map(_.mkString(" "))).mkString("\\n")
      w.write(s"""{"doc_id":${ids(i)},"source":"src${i % 4}","text":"$text"}""")
      w.write('\n')
    } finally w.close()
    val removed = dupGroups.flatMap(_.tail) ++ nearPairs.map(_._2) ++ contaminated
    Shard(path, p.docs, dupGroups, nearPairs, contaminated, ids.toSet -- removed)
  }
}
