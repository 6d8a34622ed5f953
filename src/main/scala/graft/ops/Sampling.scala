package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and mixing primitives for training-corpus
  * assembly: per-stratum down-sampling and integer up-weighting.
  *
  * Both are pure per-row expressions — no `count()`, no shuffle, no RNG
  * state — so they run inside the scan stage at any scale and an external
  * oracle reproduces the exact row selection from the same md5 arithmetic
  * ([[Similarity.hashSample]]).
  */
object Sampling {

  /** Keep ~`fraction(stratum)` of each stratum's rows, deterministically by
    * `md5(id)` — the data-mixing primitive (e.g. per-language or per-source
    * rates when assembling a training corpus). Rows of strata absent from
    * `fractions` keep `defaultFraction`.
    *
    * The per-row predicate composes a `when` chain over
    * [[Similarity.hashSample]]; there is no sampling state, so the same row
    * set is selected on any cluster size, any partitioning, and any engine
    * with md5.
    */
  def stratifiedHashSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      fractions: Seq[(String, Double)],
      defaultFraction: Double = 1.0): DataFrame = {
    val pred = fractions.foldRight(
      Similarity.hashSample(col(idCol), defaultFraction): Column) {
      case ((stratum, fraction), rest) =>
        when(col(strataCol) === stratum,
          Similarity.hashSample(col(idCol), fraction)).otherwise(rest)
    }
    df.filter(pred)
  }

  /** Deterministic EXACT-size sample: the `n` rows with the smallest
    * `md5(id)` — order is a pure function of ids, so the same rows are
    * selected on any cluster size or engine (eval-split construction needs
    * exact counts, where [[stratifiedHashSample]] gives expected counts).
    * Plans as TakeOrderedAndProject: per-partition partial top-n, merge of
    * n×partitions rows — no global sort shuffle.
    */
  def hashSampleExact(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)

  /** Deterministic EXACT-n sample PER GROUP: each `groupCol` stratum keeps
    * the `n` rows with the smallest `(md5(id), id)` — the count-based
    * complement of [[stratifiedHashSample]]'s rate cut ("exactly 10k
    * documents per source", balanced eval sets), selection a pure function
    * of ids as everywhere in this module.
    *
    * Scale shape: same as [[topPerGroup]] — the bounded `CollectTopK`
    * aggregate holds an n-element priority queue per group at every
    * aggregation level (map-side partials included), so per-group state is
    * O(n) regardless of stratum size and the shuffle carries ≤ n rows per
    * partition per group; the winner set (groups × n — small by
    * construction) broadcasts back to recover full rows. Groups smaller
    * than `n` keep every row.
    *
    * ID CONTRACT: `idCol` values must be unique and non-NULL. The winner
    * join-back matches ids with `===`, so NULL-id rows are never selected
    * (a null-safe id match would fan each NULL-id row out against every
    * NULL winner slot and overshoot n); duplicate ids would multiply
    * join-back rows past n. Derive a surrogate id first if the input has
    * neither.
    */
  def perGroupSampleExact(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val item = struct(md5(col(idCol).cast("string")).as("h"), col(idCol).as("i"))
    val winners = df
      .groupBy(col(groupCol))
      .agg(ColumnBridge.collectTopK(item, n, reverse = true).as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__item"))
      .select(col(groupCol).as("__wg"), col("__item.i").as("__wi"))
    // Null-safe join-back on the GROUP column only: a plain equi-join
    // there would silently drop every NULL-group row (null never
    // equi-matches), even when that group is under n and must keep all
    // its rows. The ID side stays ===: a null-safe id match would fan
    // each NULL-id row out against every NULL winner entry (3 NULL-id
    // rows x 2 winner slots = 6 output rows where the contract says at
    // most n) — NULL ids are never selected instead.
    df.join(broadcast(winners),
        col(idCol) === col("__wi") && col(groupCol) <=> col("__wg"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic train/validation/test assignment: a `split` column
    * derived from the md5 of the id, with fractions in 4096ths exactly as
    * [[Similarity.hashSample]] (so an external oracle reproduces the
    * assignment). Fractions are (name, fraction) in priority order; ids
    * falling past the cumulative fractions get `defaultSplit`. A pure
    * per-row expression — rows never shuffle, the split survives
    * re-partitioning, re-runs, and engine changes.
    */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train",
      splitCol: String = "split"): DataFrame = {
    require(fractions.forall(_._2 >= 0),
      s"fractions must be >= 0, got $fractions")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val prefix = substring(md5(col(idCol).cast("string")), 1, 3)
    // Cumulative thresholds in 4096ths, then a foldRight so the when-chain
    // tests them in ASCENDING order: [0, t1) -> split 1, [t1, t2) ->
    // split 2, …, remainder -> defaultSplit. A cumulative threshold of
    // 4096 cannot be expressed as a 3-hex-char compare (it formats to 4
    // chars), so it short-circuits to an always-true branch.
    // positive fractions clamp UP to the 1/4096 grid floor (the
    // hashSample rule): round(1e-4 * 4096) = 0 would make that split
    // EMPTY with no signal — two equal cumulative thresholds select
    // nothing between them
    val cums = fractions.scanLeft(0L) { case (c, (_, f)) =>
      c + (if (f > 0) math.max(1L, math.round(f * 4096)) else 0L)
    }.tail
    require(cums.isEmpty || cums.last <= 4096L,
      s"fractions round to ${cums.lastOption.getOrElse(0L)}/4096 > 1 " +
        "after clamping tiny positive fractions up to 1/4096")
    val expr = fractions.zip(cums).foldRight(lit(defaultSplit): Column) {
      case (((name, _), thr), rest) =>
        val cond = if (thr >= 4096L) lit(true) else prefix < lit(f"$thr%03x")
        when(cond, lit(name)).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Down-sample each stratum to a TOKEN budget: stratum `s` keeps
    * ~`budget × weight(s)` tokens, selected deterministically by `md5(id)`.
    * This is the "mix to a target composition" step of training-corpus
    * assembly — e.g. "2 T tokens total: 60% web, 30% code, 10% books" —
    * expressed as data: the per-stratum keep fraction is derived from the
    * corpus's own token totals, not hand-tuned per run.
    *
    * Plan shape at scale: one map-side-combined aggregate over the stratum
    * column (output is strata-sized, i.e. tiny), broadcast back onto the
    * corpus, then a pure per-row md5 predicate — the corpus itself never
    * shuffles. The cut is integer-exact in 4096ths
    * (`floor(budget × weight × 4096 / stratum_tokens)` with the comparison
    * `substr(md5(id),1,3) < lpad(hex(cut),3,'0')`), so an external oracle
    * reproduces the exact row selection. Strata absent from `weights` are
    * dropped; a stratum under budget (cut ≥ 4096) is kept whole.
    *
    * NOTE: `df` is referenced TWICE (stratum totals + the selection join).
    * When the input is an expensive derived frame (a quality-filter
    * chain, not a scan), persist it first — its (id, stratum, tokens)
    * projection is narrow, so the barrier is cheap at any corpus scale
    * while the re-execution it avoids is not (the q63/q77 stage-barrier
    * pattern).
    */
  def sampleToTokenBudget(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tokenCol: String,
      budget: Long,
      weights: Seq[(String, Double)]): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(weights.forall(_._2 >= 0), "weights must be >= 0")
    val totals = df.groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__stratum_tokens"))
    val weightExpr = weights.foldRight(lit(null).cast("double")) {
      case ((stratum, w), rest) =>
        when(col(strataCol) === stratum, lit(w)).otherwise(rest)
    }
    val keep = tokenBudgetKeep(idCol, weightExpr,
      col("__stratum_tokens"), budget)
    df.join(broadcast(totals.withColumnRenamed(strataCol, "__ts")),
        col(strataCol) <=> col("__ts"))
      .filter(weightExpr.isNotNull && keep)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** The integer-exact md5 budget cut shared by [[sampleToTokenBudget]]
    * and [[temperatureMixture]] — ONE definition, because an external
    * oracle replays this expression verbatim and the two samplers must
    * never drift apart: `floor(budget × weight × 4096 / stratum_tokens)`
    * compared against the first 3 md5 hex chars of the id; a cut ≥ 4096
    * keeps the stratum whole.
    */
  private def tokenBudgetKeep(idCol: String, weight: Column,
      stratumTokens: Column, budget: Long): Column = {
    val cutRaw = floor(lit(budget.toDouble) * weight * lit(4096.0) /
      stratumTokens.cast("double")).cast("long")
    // A POSITIVE weight whose cut floors to 0 clamps UP to the finest
    // expressible cut (1/4096) — the Similarity.hashSample rule: without
    // it, deep down-sampling (budget ≪ stratum/4096, e.g. 1e9 tokens out
    // of 5e12) silently keeps ZERO rows from every stratum instead of
    // approximating the budget. weight = 0 still keeps nothing (an
    // explicit "drop this stratum" is not a rounding accident).
    val cut = when(weight > 0.0, greatest(cutRaw, lit(1L))).otherwise(cutRaw)
    when(cut >= 4096L, lit(true))
      .otherwise(substring(md5(col(idCol).cast("string")), 1, 3) <
        lpad(lower(hex(cut)), 3, "0"))
  }

  /** Deterministic global shuffle into training shards: each row gets a
    * `shard` (md5 bucket of the id, salted by `seed`) and a `shard_pos`
    * (rank of the full md5 within its shard) — reading shards in order,
    * rows in `shard_pos` order, visits the corpus in a reproducible
    * pseudo-random order. This is the training-order randomization step of
    * corpus assembly: downstream writers emit one sorted file per shard.
    *
    * Scale shape: no global sort. The rank window partitions by shard, so
    * state per task is one shard (corpus/`numShards` rows — pick numShards
    * so a shard fits an executor, exactly how shuffled training shards are
    * sized in practice). Changing `seed` produces an unrelated order
    * (fresh epoch) with zero state carried between epochs.
    */
  def shuffledShards(
      df: DataFrame,
      idCol: String,
      numShards: Int,
      seed: Long = 0L): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    require(!df.columns.contains("shard") && !df.columns.contains("shard_pos"),
      "shuffledShards emits 'shard' and 'shard_pos' columns; rename the input's")
    val h = md5(concat(lit(seed.toString), lit(":"), col(idCol).cast("string")))
    import org.apache.spark.sql.expressions.Window
    // 8 hex chars = 32 hash bits: 4 chars (16 bits) capped the shard
    // space at 65536 — larger counts got permanently EMPTY shards, and
    // counts past 32768 a 2:1 modulo skew between shards. At 32 bits the
    // residual skew is ≤ numShards/2^32 for any realistic shard count.
    df.withColumn("__h", h)
      .withColumn("shard",
        (conv(substring(col("__h"), 1, 8), 16, 10).cast("long") % numShards)
          .cast("int"))
      .withColumn("shard_pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))))
      .drop("__h")
  }

  /** Deterministic per-group top-k selection: the `k` highest-`scoreCol`
    * rows of each `groupCol` stratum (ties by ascending `idCol`), with a
    * 1-based `rank` — "keep the best documents per source/domain", the
    * quality-ranked counterpart of [[stratifiedHashSample]]'s rate cut.
    * Rows with a null score never win (filtered before aggregation), even
    * when a group holds fewer than `k` non-null rows.
    *
    * Scale shape: winners are found with Spark's bounded `CollectTopK`
    * aggregate — every aggregation level (map-side partials included) holds
    * a k-element priority queue, so per-group state is O(k) and the shuffle
    * carries ≤ k rows per partition per group. A rank-window formulation
    * would instead shuffle AND fully sort every group. The winner set
    * (groups × k rows — small by construction) joins back to the input to
    * recover the full rows; Spark broadcasts it when it fits.
    *
    * ID CONTRACT: `idCol` values must be unique and non-NULL — the winner
    * join-back matches ids with `===` (NULL-id rows are never selected;
    * duplicate ids would multiply join-back rows past k). Derive a
    * surrogate id first if the input has neither. NULL and NaN scores
    * never win (filtered before ranking, see below).
    */
  def topPerGroup(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      scoreCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("rank"),
      "topPerGroup emits a 'rank' column; rename the input's")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Null-score contract: null scores never win. (Unfiltered, the negated
    // struct would order nulls FIRST under the aggregate's ascending
    // ordering — the opposite of the rank window's `desc` nulls-last.)
    // NaN gets the same treatment: it passes isNotNull, orders past every
    // real double, and would still FILL ranks in groups holding fewer
    // than k finite scores — a NaN-quality doc admitted as a "best" row.
    val scored = df.filter(col(scoreCol).isNotNull &&
      !isnan(col(scoreCol).cast("double")))
    // reverse = true keeps the k SMALLEST (negated score, id) structs =
    // highest scores with ascending-id tie-break; the re-sort puts the
    // bounded result in rank order for posexplode.
    val item = struct((-col(scoreCol).cast("double")).as("n"), col(idCol).as("i"))
    val winners = scored
      .groupBy(col(groupCol))
      .agg(array_sort(ColumnBridge.collectTopK(item, k, reverse = true)).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__item")))
      .select(col(groupCol).as("__wg"), col("__item.i").as("__wi"),
        (col("__pos") + 1).cast("int").as("rank"))
    // group-side null-safe, id-side === — see perGroupSampleExact
    df.join(broadcast(winners),
        col(idCol) === col("__wi") && col(groupCol) <=> col("__wg"))
      .select(df.columns.map(col).toIndexedSeq :+ col("rank"): _*)
  }

  /** Split-leakage audit: normalized-content fingerprints that landed in
    * MORE THAN ONE of the [[assignSplit]] splits — the eval-hygiene check
    * run after split assignment (identical documents straddling
    * train/test leak eval answers into training; splits are assigned by
    * id, so content duplicates under different ids are exactly the
    * leakage). Returns (fingerprint, n_splits, splits, n_docs, keep_id).
    * Exact-content leakage only; pair with
    * [[Dedup.crossCorpusNearDuplicates]] across the split frames for the
    * near-duplicate form.
    *
    * Shape: the [[assignSplit]] expression is per-row (no shuffle), then
    * one hash aggregate on the 16-byte fingerprint — the q14 exact-dedup
    * shuffle with split bookkeeping; the leaking subset is tiny by
    * construction (it IS the cross-split duplicate set).
    */
  def splitLeakageReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train"): DataFrame = {
    import graft.functions.TextFunctions.contentFingerprint
    assignSplit(df, idCol, fractions, defaultSplit)
      // NULL-text docs all fingerprint to NULL — one spurious giant
      // "leak" group sharing no content; they cannot leak eval answers
      .filter(contentFingerprint(col(textCol)).isNotNull)
      .groupBy(contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(
        size(collect_set(col("split"))).as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"),
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keep_id"))
      .filter(col("n_splits") > 1)
  }

  /** Near-duplicate form of [[splitLeakageReport]]: verified MinHash
    * near-dup pairs whose members landed in DIFFERENT splits — the leakage
    * exact fingerprints miss (a lightly edited eval document in the train
    * split). Returns (id_a, id_b, jaccard, split_a, split_b); the fix is
    * re-assigning each pair's members to one split (or dropping the train
    * copy), keyed by `keep_id` conventions downstream.
    *
    * Shape: [[Dedup.minHashNearDuplicates]]'s banded candidate generation
    * (never all-pairs) + two broadcast-able joins of the pair list against
    * the per-row split expression — leakage checking costs the dedup pass,
    * not a new corpus shuffle.
    */
  def nearDupSplitLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train",
      threshold: Double = 0.8,
      numHashes: Int = 8,
      bands: Int = 4,
      shingleLen: Int = 3): DataFrame = {
    val assigned = assignSplit(df, idCol, fractions, defaultSplit)
      .select(col(idCol), col("split"))
    Dedup.minHashNearDuplicates(df, idCol, textCol, threshold, numHashes,
        bands, shingleLen)
      .join(assigned.select(col(idCol).as("id_a"), col("split").as("split_a")), "id_a")
      .join(assigned.select(col(idCol).as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** Integer up-weighting: repeat each row `weight(stratum)` times (default
    * 1), adding a 1-based `copyCol` so downstream shuffles and dedup keys
    * can distinguish copies. `explode(sequence(...))` is codegen'd and
    * stays in the scan stage — the standard epoch-mixture trick (repeat
    * high-quality sources N×) without materializing the corpus N times.
    */
  def weightedRepeat(
      df: DataFrame,
      strataCol: String,
      weights: Seq[(String, Int)],
      copyCol: String = "copy"): DataFrame = {
    require(weights.forall(_._2 >= 1), "weights must be >= 1")
    require(!df.columns.contains(copyCol),
      s"weightedRepeat emits a '$copyCol' column; rename the input's")
    val w = weights.foldRight(lit(1): Column) { case ((stratum, n), rest) =>
      when(col(strataCol) === stratum, lit(n)).otherwise(rest)
    }
    df.withColumn(copyCol, explode(sequence(lit(1), w)))
  }

  /** Per-stratum percentile gate: keep each stratum's top `keepFraction`
    * of rows by `orderCol` — "top 25% by quality score per source", the
    * count-relative complement of [[topPerGroup]]'s fixed-k selection
    * (here the kept count scales with each stratum's size). Selection is
    * count-exact: rank rows within the stratum by (`orderCol` desc,
    * `idCol` asc — the id breaks score ties deterministically) and keep
    * rank ≤ ceil(keepFraction × stratum count).
    *
    * Returns the kept rows plus (`rank`, `stratum_n`) for auditability.
    *
    * Scale shape: one window pass computes both the rank and the stratum
    * count; the window partitions by the STRATUM column, so the sort is
    * distributed across strata and no task sees more than one stratum's
    * rows (strata = sources/languages — the same per-partition boundedness
    * [[shuffledShards]] rides). An exact data-dependent per-stratum k has
    * no bounded-aggregate shortcut: [[topPerGroup]]'s O(k) CollectTopK
    * needs k at plan time, so the count-relative form pays one per-stratum
    * sort — the honest price of exact percentiles.
    */
  def percentileGate(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      orderCol: String,
      keepFraction: Double): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1,
      s"keepFraction must be in (0, 1], got $keepFraction")
    require(!df.columns.contains("rank") && !df.columns.contains("stratum_n"),
      "percentileGate emits 'rank' and 'stratum_n' columns; rename the input's")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(strataCol)
    // NULL scores neither count toward stratum_n nor pass the gate (the
    // topPerGroup null-never-wins contract): unfiltered, 40 NULL rows in
    // a 100-row stratum inflate the kept count to 50 of the 60 SCORED
    // rows (83%, not the requested 50%), and at keepFraction = 1.0 the
    // NULL-score rows themselves pass a "top by quality" gate.
    df.filter(col(orderCol).isNotNull)
      .withColumn("rank", row_number().over(w))
      .withColumn("stratum_n", count(lit(1)).over(wn))
      .filter(col("rank") <= ceil(lit(keepFraction) * col("stratum_n")))
  }

  /** Temperature-based mixture sampling: down-sample each stratum so token
    * shares follow the TEMPERED corpus distribution — target share of
    * stratum s ∝ (its token count)^alpha — the standard multilingual/
    * multi-source rebalancing (alpha = 1 keeps natural proportions,
    * alpha → 0 approaches uniform, alpha ≈ 0.3–0.7 up-weights the tail
    * without drowning the head). The tempered shares are derived from the
    * corpus's OWN token totals, then applied through the same integer-exact
    * md5 cut as [[sampleToTokenBudget]] (a stratum whose target exceeds its
    * size is kept whole — down-sampling only, like the budget sampler).
    *
    * Scale shape: identical to [[sampleToTokenBudget]] — one map-side-
    * combined aggregate to the strata-sized totals table, the tempered
    * weight derived ON that tiny frame (its total via a strata-sized
    * window), broadcast back, then a pure per-row md5 predicate. The corpus
    * never shuffles.
    *
    * The strata-sized totals aggregate is pinned: it backs two branches
    * of the returned lazy frame.
    */
  def temperatureMixture(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tokenCol: String,
      budget: Long,
      alpha: Double): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0, 1], got $alpha")
    // The tempered weight is rounded to 6 decimals before the cut: pow()
    // is not guaranteed bit-identical across engines (fdlibm vs libm), and
    // the floor'd cut must be — rounding snaps both sides to the same
    // 6-decimal value, the outlierReport/round-6 portability discipline.
    // The tempered-weight denominator comes from a broadcast cross join of
    // the one-row grand total, not a window: a constant-partitioned window
    // folds to "no partition" (WindowExec's single-partition warning) even
    // though this frame is strata-sized by construction.
    // pinned: the strata-sized aggregate is referenced TWICE (the
    // grand-total branch and the join side), and self-join attribute
    // dedup can defeat exchange reuse — without the (tiny) pin the
    // full-corpus groupBy may execute twice
    val powed = Checkpoints.pin(df.groupBy(strataCol)
      .agg(sum(col(tokenCol).cast("long")).as("__stratum_tokens"))
      .withColumn("__pow", pow(col("__stratum_tokens").cast("double"), alpha)))
    val totals = powed
      .crossJoin(broadcast(powed.agg(sum(col("__pow")).as("__powsum"))))
      .withColumn("__weight", round(col("__pow") / col("__powsum"), 6))
      .drop("__pow", "__powsum")
    val keep = tokenBudgetKeep(idCol, col("__weight"),
      col("__stratum_tokens"), budget)
    // null-safe: a NULL stratum is a stratum like any other — the plain
    // equi-join dropped its rows AFTER its pow() mass had already
    // deflated every named stratum's weight, under-filling the budget
    df.join(broadcast(totals.withColumnRenamed(strataCol, "__ts")),
        col(strataCol) <=> col("__ts"))
      .filter(keep)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic WEIGHTED sample without replacement: priority sampling
    * (Duffield–Lund–Thorup, "Priority sampling for estimation of arbitrary
    * subset sums", JACM 2007) with the uniform draw derived from `md5(id)`
    * — row `i` gets priority `w_i / u_i`, the `n` largest priorities win.
    * Inclusion probability rises with weight (a row with twice the weight
    * is ~twice as likely in), the sampling-proportional-to-size complement
    * of this module's uniform md5 cuts — length-weighted eval picks,
    * quality-weighted seed sets.
    *
    * Engine portability without rounding: `u_i` is the first 8 md5 hex
    * digits of the id parsed as an integer, plus one (never zero), and the
    * priority is ONE IEEE double division of two integer-exact doubles —
    * correctly rounded by the standard, so ANY engine computes the
    * bit-identical priority and selects the identical set. No `ln`/`pow`
    * (whose libm implementations differ in the last ulp) anywhere.
    *
    * Plan shape: `TakeOrderedAndProject` — per-partition partial top-n,
    * merge of n×partitions rows; no global sort shuffle, no window.
    * Null/non-positive weights never win (filtered — same contract as
    * [[topPerGroup]]).
    */
  def prioritySample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(!df.columns.contains("__priority"),
      "prioritySample uses a '__priority' working column; rename the input's")
    val uInt = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val priority = col(weightCol).cast("double") / (uInt + lit(1L)).cast("double")
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__priority", priority)
      .orderBy(col("__priority").desc, col(idCol))
      .limit(n)
      .drop("__priority")
  }

  /** Leakage-safe split assignment: every member of a near-duplicate
    * cluster lands in the SAME split, so train/eval contamination through
    * near-copies (the leakage [[nearDupSplitLeakage]] AUDITS) is impossible
    * by construction. Each row hashes its cluster representative — the
    * cluster's min-id label from [[Dedup.duplicateClusters]], or its own id
    * when unclustered — through exactly [[assignSplit]]'s integer-exact md5
    * range cut, so singleton documents get the same assignment they would
    * get from plain `assignSplit`.
    *
    * `clusters` is [[Dedup.duplicateClusters]] output (id, cluster_id).
    * Returns `df` plus (`repCol`, `splitCol`).
    *
    * Scale: one left join corpus ⋈ clusters on the id key (clusters covers
    * only clustered docs — typically a few percent of the corpus — AQE
    * broadcasts it when it fits), then the per-row md5 predicate. The
    * corpus never shuffles on anything but the join key it is usually
    * already bucketed by.
    */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      fractions: Seq[(String, Double)],
      defaultSplit: String = "train",
      splitCol: String = "split",
      repCol: String = "split_rep"): DataFrame = {
    val joined = df.join(
        clusters.select(col("id").as("__cl_id"), col("cluster_id").as("__cl_rep")),
        col(idCol) === col("__cl_id"), "left")
      .withColumn(repCol, coalesce(col("__cl_rep"), col(idCol)))
      .drop("__cl_id", "__cl_rep")
    assignSplit(joined, repCol, fractions, defaultSplit, splitCol)
  }

  /** Mixture feasibility planner (water-filling): given per-source
    * capacities (available tokens), target mixture weights, and a token
    * budget, compute the ACHIEVABLE per-source allocation — each round
    * hands every non-exhausted source its weight-share of the remaining
    * budget, caps at capacity, and redistributes the shortfall; `rounds`
    * rounds of redistribution (3 is enough for any mixture whose
    * shortfall chain is 3 deep; the `exhausted` flags say whether the
    * plan converged). This is the planning step run BEFORE the samplers
    * ([[stratifiedHashSample]] / [[sampleToTokenBudget]] execute a plan;
    * this reconciles the plan with reality when a requested mixture
    * over-asks a small source — silently keeping the nominal weights
    * there UNDER-fills the budget).
    *
    * The whole computation happens on ONE row holding the source-sorted
    * stats array (mixtures are dimension-scale: dozens of sources), so
    * every float fold runs in sorted-source order — engine-portable
    * (q84/q86 discipline) — and no iteration touches the corpus: the
    * input is the per-source aggregate, typically from one scan.
    *
    * Returns `(source, tokens, weight, allocated, rate, exhausted)`:
    * `allocated` the granted token count (6 dp), `rate` =
    * allocated/tokens (NULL for an empty source), `exhausted` whether the
    * source hit capacity.
    */
  def mixturePlan(
      stats: DataFrame,
      sourceCol: String,
      tokensCol: String,
      weightCol: String,
      budget: Long,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // stats is dimension-scale (sources), so this eager gate is one tiny
    // job; without it a single NULL weight poisons the SQL aggregate
    // fold (wsum goes NULL, every grant condition goes NULL) and the
    // whole plan silently allocates 0 to every source
    val bad = stats.filter(col(weightCol).isNull || col(weightCol) < 0 ||
      col(tokensCol).isNull || col(tokensCol) < 0).count()
    require(bad == 0,
      s"mixturePlan: $bad stats rows with NULL/negative " +
        s"$weightCol/$tokensCol — a NULL weight silently zeroes every " +
        "source's allocation")
    val one = stats.agg(sort_array(collect_list(struct(
      col(sourceCol).cast("string").as("s"),
      col(tokensCol).cast("double").as("cap"),
      col(weightCol).cast("double").as("w")))).as("xs"))
    val st0 = transform(col("xs"), x => struct(
      x.getField("s").as("s"), x.getField("cap").as("cap"),
      x.getField("w").as("w"), lit(0.0).as("take"),
      (x.getField("cap") <= 0.0).as("ex")))
    // The rounds iterate as DATA (a fold over sequence(1, rounds)), not as
    // Scala-unrolled selects: unrolling inlines each round's state
    // expression into the next round's several references, the tree grows
    // ~6× per round, and the per-row interpreted walk of the round-3
    // expression was measured at seconds — an exchange barrier between
    // rounds doesn't survive the optimizer (projects push through
    // repartition and re-collapse). One HOF keeps the tree CONSTANT in
    // `rounds` and evaluates iteratively. The round scalars (wsum,
    // remaining) re-derive per element — O(sources²) per round on a
    // dimension-scale array, and bit-identical on every re-derivation, so
    // oracle parity is unaffected.
    def roundScalar(st: Column, f: Column => Column): Column =
      aggregate(st, lit(0.0), (acc, x) => acc + f(x))
    val stepped = one.select(
      aggregate(sequence(lit(1), lit(rounds)), st0, (st, _) => {
        def wsum = roundScalar(st, x =>
          when(!x.getField("ex"), x.getField("w")).otherwise(lit(0.0)))
        def rem = lit(budget.toDouble) -
          roundScalar(st, x => x.getField("take"))
        transform(st, { x =>
          val grant = when(!x.getField("ex") && wsum > 0 && rem > 0,
            least(x.getField("cap"),
              x.getField("take") + rem * x.getField("w") / wsum))
            .otherwise(x.getField("take"))
          struct(x.getField("s").as("s"), x.getField("cap").as("cap"),
            x.getField("w").as("w"), grant.as("take"),
            (grant >= x.getField("cap")).as("ex"))
        })
      }).as("st"))
    stepped
      .select(explode(col("st")).as("x"))
      .select(col("x.s").as(sourceCol),
        col("x.cap").cast("long").as(tokensCol),
        col("x.w").as(weightCol),
        round(col("x.take"), 6).as("allocated"),
        when(col("x.cap") > 0, round(col("x.take") / col("x.cap"), 6))
          .as("rate"),
        col("x.ex").as("exhausted"))
  }

  /** EXACT token-budget prefix selection: admit documents in deterministic
    * `md5(id)` order until the cumulative token count reaches `budget` —
    * the first row to cross the boundary is included, everything after is
    * not. [[sampleToTokenBudget]] hits a budget in EXPECTATION through
    * per-row rate cuts; this is the exact-cut variant a release manifest
    * wants ("these docs, in this order, total ≥ budget, minimal
    * overshoot"), and the selection is a pure function of ids and token
    * counts — reproducible anywhere, appendable (a larger budget extends
    * the same prefix, it never reshuffles the selection).
    *
    * The cumulative count is [[PrefixScan.runningSumExclusive]] bucketed
    * by the first two hex digits of the md5 key (256 buckets, monotone in
    * the scan order by construction) — no single-partition sort at any
    * corpus size.
    *
    * Returns the selected rows as `(idCol, n_tok, cum_before)` where
    * `cum_before` is the budget consumed BEFORE the row (so
    * `cum_before < budget` IS the admission predicate).
    */
  def exactBudgetPrefix(
      docs: DataFrame,
      idCol: String,
      nTokens: Column,
      budget: Long): DataFrame = {
    val keyed = docs.select(col(idCol),
        md5(col(idCol).cast("string")).as("__k"),
        nTokens.cast("long").as("n_tok"))
    PrefixScan.runningSumExclusive(keyed, "__k", idCol, "n_tok",
        conv(substring(col("__k"), 1, 2), 16, 10).cast("long"), "cum_before")
      .filter(col("cum_before") < budget)
      .select(col(idCol), col("n_tok"), col("cum_before"))
  }
}
