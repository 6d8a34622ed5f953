package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Interpolated bigram-LM quality bucketing: hand-computed probabilities and
  * a randomized differential test against a naive in-memory model.
  */
class LmQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-lm-quality-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def naiveBits(doc: String, ref: Seq[String], lambda: Double): Option[Double] = {
    def toks(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val refToks = ref.map(toks)
    val uni = refToks.flatten.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val total = uni.values.sum
    val vsz = uni.size
    val pairs = refToks.flatMap(t => t.zip(t.drop(1)))
    val c12 = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val d = toks(doc)
    val bg = d.zip(d.drop(1))
    if (bg.isEmpty) None
    else {
      val s = bg.map { case (w1, w2) =>
        val cond = c1.get(w1).map(c =>
          lambda * c12.getOrElse((w1, w2), 0L).toDouble / c).getOrElse(0.0)
        val back = (1 - lambda) * (uni.getOrElse(w2, 0L) + 1.0) / (total + vsz)
        math.log(cond + back) / math.log(2)
      }.sum
      Some(-s / bg.size)
    }
  }

  test("hand-computed single-bigram document") {
    val ref = Seq((10L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "a"), (3L, "")).toDF("doc_id", "text")
    val got = Curation.bigramLmQuality(docs, "doc_id", "text", ref, "text",
        lambda = 0.5, headBits = 1.0, tailBits = 4.0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3))))
      .toMap
    // ref: uni a=2 b=2 c=1, T=5 V=3; pairs (a,b)=2 (b,a)=1 (b,c)=1; c1 a=2 b=2.
    // doc 1 bigram (a,b): p = 0.5*2/2 + 0.5*(2+1)/8 = 0.6875,
    // bits = -log2(0.6875) = 0.540568.
    assert(got(1L) == ((1L, Some(0.540568), "head")))
    assert(got(2L) == ((0L, None, "unscored")))
    assert(got(3L) == ((0L, None, "unscored")))
  }

  test("bucket thresholds: head < headBits <= middle < tailBits <= tail") {
    val ref = Seq((10L, "a b a b a b")).toDF("doc_id", "text")
    // "a b" is highly predictable under the ref model; "x y" entirely unseen.
    val docs = Seq((1L, "a b a b"), (2L, "x y z w")).toDF("doc_id", "text")
    val got = Curation.bigramLmQuality(docs, "doc_id", "text", ref, "text",
        lambda = 0.9, headBits = 2.0, tailBits = 4.0)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got(1L) == "head")
    assert(got(2L) == "tail")
  }

  test("bigramLmQuality ≡ naive interpolated model (randomized)") {
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def randText(maxWords: Int): String =
        List.fill(rnd.nextInt(maxWords + 1))("w" + rnd.nextInt(6)).mkString(" ")
      val ref = (1L to 10L).map(i => (i, randText(15)))
      val docs = (1L to 25L).map(i => (i, randText(10)))
      val lambda = 0.9
      val got = Curation.bigramLmQuality(docs.toDF("doc_id", "text"),
          "doc_id", "text", ref.toDF("doc_id", "text"), "text", lambda)
        .collect().map(r => r.getLong(0) ->
          Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
      docs.foreach { case (id, text) =>
        val want = naiveBits(text, ref.map(_._2), lambda)
        (got(id), want) match {
          case (None, None) => ()
          case (Some(g), Some(w)) =>
            assert(math.abs(g - w) < 1e-5, s"doc $id '$text': got $g want $w")
          case other => fail(s"doc $id '$text': $other")
        }
      }
    }
  }

  test("shuffled-model path (broadcastModel=false) matches broadcast path") {
    val ref = (1L to 10L).map(i => (i, s"a b c w$i a b")).toDF("doc_id", "text")
    val docs = (1L to 20L).map(i => (i, s"a b w${i % 7}")).toDF("doc_id", "text")
    val a = Curation.bigramLmQuality(docs, "doc_id", "text", ref, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getString(3))).toSet
    val b = Curation.bigramLmQuality(docs, "doc_id", "text", ref, "text",
        broadcastModel = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getString(3))).toSet
    assert(a == b)
  }
}
