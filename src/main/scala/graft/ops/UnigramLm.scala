package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Unigram-LM (SentencePiece-style) tokenizer training — the second major
  * tokenizer family next to BPE ([[Curation.bpeTrainMerges]]). Where BPE
  * grows a vocabulary bottom-up by merging, the unigram LM starts from an
  * over-complete substring vocabulary and re-estimates piece weights by
  * EM over the corpus's best segmentations (hard EM: the E-step is a
  * Viterbi segmentation of every distinct word, the M-step re-counts
  * pieces along those segmentations).
  *
  * Determinism across engines is engineered, not hoped for:
  *   - piece costs are QUANTIZED to integer micro-nats
  *     (`floor(-ln(n/total)*1e6 + 0.5)`), so every Viterbi comparison is
  *     exact Long arithmetic — no float-fold order can flip an argmin;
  *   - cost ties prefer the LONGEST piece (both engines implement the
  *     same rule);
  *   - Laplace +1 smoothing keeps every piece's count positive after the
  *     M-step, so single-character pieces never drop out and full
  *     segmentation coverage is invariant.
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency
  * aggregate); everything after runs over the DISTINCT-word table
  * (zipf-bounded — orders of magnitude smaller than the corpus). Each EM
  * iteration is one scan of that table: the Viterbi DP folds inside a
  * single `aggregate` HOF per word (loop-as-data, the q137 lesson — the
  * expression tree is constant-size in word length), with the
  * model-sized cost map broadcast as one MAP literal row, plus one
  * piece-count shuffle of O(words × pieces/word) rows. No driver loop
  * over the vocabulary; the only collects are the (model-sized) cost map
  * and nothing else.
  */
object UnigramLm {

  /** Sentinel cost for "unreachable": large enough to never win, small
    * enough that one addition per DP step cannot overflow Long. */
  private val Inf = 4611686018427387903L // 2^62 - 1

  /** Round-half-up of `a*1e6/b` in pure Long arithmetic (b > 0):
    * quotient and remainder split so no product exceeds `2e6 * b`. */
  private def ppmRatio(a: String, b: String): Column =
    expr(s"($a div $b) * 1000000L" +
      s" + (2L * ($a % $b) * 1000000L + $b) div (2L * $b)")

  /** Distinct words with frequencies: the one corpus-scale aggregate.
    * Words longer than `maxWordLen` code units are junk for tokenizer
    * training (URLs, DNA, base64) and are excluded — also bounding the
    * DP length. */
  def wordFrequencies(docs: DataFrame, textCol: String,
      maxWordLen: Int): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every substring of length 1..maxPieceLen weighted
    * by word frequency (overlapping occurrences all count). ALL
    * single-character pieces are kept (coverage guarantee); multi-char
    * pieces keep the top `vocabSize` by (weight desc, piece asc). */
  def seedVocab(words: DataFrame, vocabSize: Int,
      maxPieceLen: Int): DataFrame = {
    val subs = words
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)),
            i -> transform(sequence(1, least($maxPieceLen, length(w) - i + 1)),
            l -> substr(w, i, l))))""")).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("n"))
    val singles = subs.filter(length(col("piece")) === 1)
    val multis = subs.filter(length(col("piece")) > 1)
      .orderBy(col("n").desc, col("piece")).limit(vocabSize)
    singles.unionByName(multis)
  }

  /** Rows of a frame the optimizer already folded to a driver-LOCAL
    * relation (collect() on it is a LocalTableScan — no Spark job).
    * The model-sized vocabulary qualifies after [[localizeModel]];
    * corpus-derived frames never do. */
  private def localRows(df: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] =
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(df.collect())
      case _ => None
    }

  /** Attach `cost_u` (integer micro-nats) to a (piece, n) vocabulary:
    * `floor(-ln(n/Σn)*1e6 + 0.5)`. The single float op in the whole
    * trainer; its 1 ppm quantization grid makes the (already ULP-scale)
    * engine difference in `ln` unobservable.
    *
    * When the vocabulary is already driver-local the total is summed on
    * the driver and inlined as a literal — value-identical (exact Long
    * sum either way), but the result stays a projection over a
    * LocalRelation, so every downstream broadcast of the model builds
    * WITHOUT a Spark job (the q144/q145/q148 action-churn cut). The
    * distributed path is unchanged for corpus-derived vocabularies. */
  def withCosts(vocab: DataFrame): DataFrame = localRows(vocab) match {
    case Some(rows) =>
      val nIdx = vocab.schema.fieldIndex("n")
      val tot = rows.map(_.getLong(nIdx)).sum
      vocab.withColumn("cost_u",
        floor(-log(col("n").cast("double") / lit(tot)) * lit(1e6)
          + lit(0.5)).cast("long"))
    case None =>
      vocab.crossJoin(broadcast(vocab.agg(sum(col("n")).as("__tot"))))
        .withColumn("cost_u",
          floor(-log(col("n").cast("double") / col("__tot")) * lit(1e6)
            + lit(0.5)).cast("long"))
        .drop("__tot")
  }

  /** The Viterbi DP + backtrack as ONE `aggregate` HOF over `wordCol`,
    * reading piece costs from map column `mapCol`: returns the best
    * (min total cost, ties to the longest piece at each step)
    * segmentation as an array of pieces. The DP array builds in the
    * merge lambda; the backtrack runs in the FINISH lambda so the DP
    * array is computed exactly once (no project-collapse re-inlining).
    *
    * Unsegmentable words — a character absent from the vocabulary leaves
    * the final DP state at cost `Inf` — return NULL, never a bogus
    * segmentation: without the guard the backtrack's best-length is 0,
    * the position never advances, and the word would silently "segment"
    * into `length(w)` empty pieces. NULL can only occur against an
    * externally-trained vocabulary ([[fertilityReport]] documents how it
    * handles that); [[train]]'s seed keeps every single character, so
    * training itself always has full coverage.
    */
  def segmentExpr(wordCol: String, mapCol: String, maxPieceLen: Int): Column = {
    val w = wordCol
    val best = s"element_at(__bests, __st.pos + 1).l"
    expr(
      s"""aggregate(
           sequence(1, length($w)),
           array(named_struct('c', cast(0 AS bigint), 'l', 0)),
           (__acc, __j) -> concat(__acc, array(
             aggregate(sequence(1, least(__j, $maxPieceLen)),
               named_struct('c', cast($Inf AS bigint), 'l', 0),
               (__b, __l) -> IF(
                 element_at(__acc, __j - __l + 1).c < cast($Inf AS bigint)
                   AND try_element_at($mapCol,
                         substr($w, __j - __l + 1, __l)) IS NOT NULL
                   AND element_at(__acc, __j - __l + 1).c
                       + try_element_at($mapCol,
                           substr($w, __j - __l + 1, __l)) <= __b.c,
                 named_struct('c',
                   element_at(__acc, __j - __l + 1).c
                     + try_element_at($mapCol, substr($w, __j - __l + 1, __l)),
                   'l', __l),
                 __b)))),
           __bests -> IF(
             element_at(__bests, length($w) + 1).c >= cast($Inf AS bigint),
             cast(NULL AS array<string>),
             aggregate(
               sequence(1, length($w)),
               named_struct('pos', length($w),
                 'ps', cast(array() AS array<string>)),
               (__st, __i) -> IF(__st.pos <= 0, __st,
                 named_struct('pos', __st.pos - $best,
                   'ps', concat(
                     array(substr($w, __st.pos - $best + 1, $best)),
                     __st.ps))),
               __st -> __st.ps)))""")
  }

  /** Segment a distinct-word table under a (piece, cost_u) vocabulary:
    * (word columns…, pieces array<string>). The cost map is model-sized
    * and broadcast; the corpus-side frame is never reshuffled. */
  def viterbiSegment(words: DataFrame, wordCol: String, costedVocab: DataFrame,
      maxPieceLen: Int): DataFrame = {
    // Driver-local vocabulary (the training loop after localizeModel):
    // build the cost map as ONE literal instead of an aggregate +
    // broadcast — each consuming action then skips two jobs and the
    // join-analysis of the map subtree. Same map, same lookups.
    localRows(costedVocab.select(col("piece"), col("cost_u"))) match {
      case Some(rows) =>
        val m = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        return words.withColumnRenamed(wordCol, "w")
          .withColumn("__cmap", typedLit(m))
          .withColumn("pieces", segmentExpr("w", "__cmap", maxPieceLen))
          .drop("__cmap")
          .withColumnRenamed("w", wordCol)
      case None => ()
    }
    val mapRow = costedVocab.agg(
      map_from_entries(collect_list(struct(col("piece"), col("cost_u"))))
        .as("__cmap"))
    words.withColumnRenamed(wordCol, "w")
      .crossJoin(broadcast(mapRow))
      .withColumn("pieces", segmentExpr("w", "__cmap", maxPieceLen))
      .drop("__cmap")
      .withColumnRenamed("w", wordCol)
  }

  /** Fertility / compression report for a TRAINED unigram vocabulary —
    * the deploy-time twin of [[Curation.tokenizerFertilityReport]] (BPE):
    * per `groupCol`, document/word/char/token totals plus
    * pieces-per-word (fertility) and chars-per-token, both as exact
    * integer ppm: round-half-up of `a*1e6/b` computed as
    * `(a div b)*1e6 + (2*(a mod b)*1e6 + b) div (2*b)` — pure Long
    * arithmetic (the q139 discipline), overflow-safe (each product is
    * bounded by `2e6 * b`), and engine-exact by construction rather
    * than by both engines happening to evaluate the same IEEE
    * expression. Words over `maxWordLen` are excluded exactly as in
    * training; words the vocabulary CANNOT segment (an out-of-vocabulary
    * character — possible because `costedVocab` may be trained on a
    * different corpus) are likewise excluded from `n_words`/`n_tokens`
    * rather than silently miscounted ([[segmentExpr]] returns NULL for
    * them). `n_chars`/`n_docs` always cover every document.
    *
    * Scale shape: the corpus collapses to (doc, word, count) first
    * (zipf-cheap), the DISTINCT word table segments once (the same
    * broadcast-map Viterbi as training), and the join back is on the
    * word key — the corpus text itself is never reshuffled.
    */
  def fertilityReport(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, charsCol: Column, costedVocab: DataFrame,
      maxPieceLen: Int, maxWordLen: Int): DataFrame = {
    val docWords = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen)
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("__cnt"))
    val wordPieces = viterbiSegment(
        docWords.select("w").distinct(), "w", costedVocab, maxPieceLen)
      .filter(col("pieces").isNotNull) // drop unsegmentable (OOV-char) words
      .select(col("w"), size(col("pieces")).cast("long").as("__np"))
    val perDoc = docWords.join(wordPieces, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("__nw"),
        sum(col("__cnt") * col("__np")).as("__nt"))
    docs.select(col(idCol), col(groupCol), charsCol.cast("long").as("__nc"))
      .join(perDoc, Seq(idCol), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__nw"), lit(0L))).as("n_words"),
        sum(col("__nc")).as("n_chars"),
        sum(coalesce(col("__nt"), lit(0L))).as("n_tokens"))
      .select(col(groupCol), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        when(col("n_words") > 0, ppmRatio("n_tokens", "n_words"))
          .as("fertility_ppm"),
        when(col("n_tokens") > 0, ppmRatio("n_chars", "n_tokens"))
          .as("chars_per_token_ppm"))
  }

  /** Train: seed → `emIters` hard-EM rounds → (piece, n, cost_u).
    * `n` is the final M-step count (Viterbi count + 1 smoothing); seed
    * counts are the raw substring weights. */
  def train(docs: DataFrame, textCol: String, vocabSize: Int = 200,
      maxPieceLen: Int = 4, emIters: Int = 2,
      maxWordLen: Int = 30): DataFrame =
    emTrain(docs, textCol, vocabSize, maxPieceLen, emIters, maxWordLen,
      observe = false)._1

  /** [[train]] plus per-round EM observability: the second frame is
    * (round, corpus_cost_u, n_pieces) for round 0..emIters, where
    * `corpus_cost_u` is the total Viterbi cost of the corpus under that
    * round's model — Σ over words of freq × (best segmentation cost) in
    * the same integer micro-nats the DP compares in. Since piece costs
    * are −ln(p) quantized, this IS the corpus negative log-likelihood
    * under the hard-EM objective: a round helped iff it went DOWN, so a
    * fixed `emIters` setting becomes a measured decision instead of
    * faith. `n_pieces` (total corpus token count under that model) is
    * the companion compression signal.
    *
    * Costs for rounds 0..emIters−1 come free from each E-step's own
    * segmentation (checkpointed once, read for both the measurement and
    * the M-step recount); only the FINAL model pays one extra
    * segmentation pass. Hard EM with +1 smoothing is not theoretically
    * monotone, but on real corpora the cost decreases — the spec and
    * the q148 oracle pin it at both test scales. */
  def trainWithLikelihood(docs: DataFrame, textCol: String,
      vocabSize: Int = 200, maxPieceLen: Int = 4, emIters: Int = 2,
      maxWordLen: Int = 30): (DataFrame, DataFrame) = {
    val (vocab, stats) = emTrain(docs, textCol, vocabSize, maxPieceLen,
      emIters, maxWordLen, observe = true)
    import docs.sparkSession.implicits._
    (vocab, stats.toDF("round", "corpus_cost_u", "n_pieces"))
  }

  /** Materialize a MODEL-sized frame as a driver-LOCAL relation. The
    * vocabulary is bounded by construction (≤ vocabSize multi-char pieces
    * + the corpus's distinct single characters), so collecting it is the
    * same driver-boundedness contract as [[viterbiSegment]]'s broadcast
    * cost map. Why local instead of a checkpoint leaf: every EM round
    * references the model from TWO broadcast builds (the cost map and
    * withCosts' total), and a broadcast over a LocalRelation is built on
    * the driver without launching a Spark job — measured at sf0.1 this
    * cut the q144/q145/q148 action churn (37 jobs → ~1/3, ~1 s/query of
    * between-job driver planning). Row order from collect() is
    * irrelevant: the map keys are unique and the total is a sum.
    */
  private def localizeModel(df: DataFrame): DataFrame = {
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  private def emTrain(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int, emIters: Int, maxWordLen: Int,
      observe: Boolean): (DataFrame, Seq[(Int, Long, Long)]) = {
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    val words = Checkpoints.truncate(wordFrequencies(docs, textCol, maxWordLen))
    // localize INSIDE withCosts: the cost projection then sits over a
    // LocalRelation, which the optimizer folds — viterbiSegment's and
    // measure()'s model references become literal/local-scan builds with
    // no per-action Spark jobs.
    var costed = withCosts(localizeModel(
      seedVocab(words, vocabSize, maxPieceLen)))
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    // corpus cost + token total of a segmentation frame under its model:
    // sum of chosen pieces' costs ≡ the DP minimum by construction
    def measure(round: Int, seg: DataFrame, model: DataFrame): Unit = {
      val r = seg.select(col("freq"), explode(col("pieces")).as("piece"))
        .join(broadcast(model.select("piece", "cost_u")), Seq("piece"))
        .agg(coalesce(sum(col("freq") * col("cost_u")), lit(0L)),
          coalesce(sum(col("freq")), lit(0L)))
        .first()
      stats += ((round, r.getLong(0), r.getLong(1)))
    }
    for (k <- 1 to emIters) {
      // ONE Viterbi pass per round either way; under observe the
      // segmentation is checkpointed so the likelihood measurement and
      // the M-step recount share it instead of segmenting twice
      val raw = viterbiSegment(words, "w", costed, maxPieceLen)
        .select(col("freq"), col("pieces"))
      val seg = if (observe) Checkpoints.truncate(raw) else raw
      if (observe) measure(k - 1, seg, costed)
      val counts = seg
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("__vn"))
      // prev costed is a LocalRelation projection — nothing to release
      costed = withCosts(localizeModel(
        costed.select(col("piece"))
          .join(counts, Seq("piece"), "left")
          .select(col("piece"),
            (coalesce(col("__vn"), lit(0L)) + lit(1L)).as("n"))))
      if (observe) Checkpoints.release(seg)
    }
    if (observe)
      measure(emIters,
        viterbiSegment(words, "w", costed, maxPieceLen)
          .select(col("freq"), col("pieces")), costed)
    Checkpoints.release(words)
    (costed, stats.toSeq)
  }
}
