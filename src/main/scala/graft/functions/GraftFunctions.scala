package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the Column API,
  * plus TABLE functions for the whole-operator relational surface
  * (set-containment joins, as-of join) so a SQL-first user can call them
  * in FROM clauses. (No custom Rule/SparkStrategy is required anywhere —
  * see SURVEY §4 — so scalar + table function registration is the only
  * session wiring the engine needs.)
  */
object GraftFunctions {

  /** One scalar SQL function: its name, usage line and expression builder.
    * A builder that needs the session resolves the active one when called,
    * so the same table serves [[register]] and [[graft.GraftExtensions]].
    */
  final case class Scalar(name: String, usage: String, build: Seq[Expression] => Expression)

  val scalars: Seq[Scalar] = Seq(
    Scalar("vec_dot", "vec_dot(a, b) - dot product of two float/double arrays",
      exprs => VecDot(exprs(0), exprs(1))),
    Scalar("minhash_sig", "minhash_sig(shingles, k) - md5-min MinHash signature",
      exprs => HashExpressions.MinHashSig(exprs(0), intArg(exprs(1), "minhash_sig"))),
    Scalar("simhash64", "simhash64(tokens) - 64-bit md5-derived SimHash",
      exprs => HashExpressions.SimHash64(exprs(0))),
    Scalar("shingle_set", "shingle_set(tokens, n) - distinct n-token shingles",
      exprs => HashExpressions.ShingleSet(exprs(0), intArg(exprs(1), "shingle_set"))),
    Scalar("ngram_set", "ngram_set(text, n) - distinct character n-grams",
      exprs => HashExpressions.NgramSet(exprs(0), intArg(exprs(1), "ngram_set"))),
    Scalar("unicode_normalize",
      "unicode_normalize(text, 'NFC'|'NFKC'|'NFD'|'NFKD') - Unicode normalization",
      exprs => UnicodeExpressions.UnicodeNormalize(exprs(0),
        strArg(exprs(1), "unicode_normalize"))),
    Scalar("url_canonicalize", "url_canonicalize(url) - canonical URL form",
      exprs => UrlExpressions.UrlCanonicalize(exprs(0))),
    Scalar("url_host", "url_host(url) - host of a URL",
      exprs => UrlExpressions.UrlHost(exprs(0))),
    // Column-composition functions (TextFunctions builds them from
    // built-in expressions): the bridge wraps the argument expression in
    // a Column, composes, and converts back through the SESSION's
    // ColumnNode converter — the SQL surface gets the exact tree the
    // Column API builds, still fully codegen'd.
    Scalar("tokens", "tokens(text) - lower-cased whitespace tokens, empties dropped",
      exprs => ColumnBridge.expression(
        TextFunctions.tokens(ColumnBridge.column(exprs(0))), SparkSession.active)),
    Scalar("quality_score", "quality_score(text) - heuristic document quality score",
      exprs => ColumnBridge.expression(
        TextFunctions.qualityScore(ColumnBridge.column(exprs(0))), SparkSession.active)),
    Scalar("char_bigram_entropy", "char_bigram_entropy(text) - character-bigram entropy",
      exprs => HashExpressions.CharBigramEntropy(exprs(0))),
    // nearest_centroid(vec, array(ids...), array(array(components...)...)):
    // the centroid table must be FOLDABLE (literal arrays or expressions
    // of literals) — it becomes the same bounded codegen reference object
    // the Column API's NearestCentroid.assign embeds, so SQL probes keep
    // the scan→project shape with no join. Ids and components accept any
    // numeric literal type (cast to long/double at registration).
    Scalar("nearest_centroid",
      "nearest_centroid(vec, ids, centroids) - id of the nearest literal centroid",
      exprs => {
        val ids = foldableArray(exprs(1), LongType, "nearest_centroid")
          .map(_.asInstanceOf[Long])
        val vecs = foldableNested(exprs(2), "nearest_centroid")
        require(ids.length == vecs.length,
          "nearest_centroid: ids and centroid vectors must align")
        val sorted = ids.zip(vecs).sortBy(_._1)
        NearestCentroid(exprs(0), sorted.map(_._1), sorted.map(_._2))
      }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    scalars.foreach(f => registry.createOrReplaceTempFunction(f.name, f.build, "scala_udf"))

    // ---- SQL TABLE functions: whole-operator surface ----
    // The flagship relational operators (set-containment joins J3–J5,
    // as-of join) are table-shaped, so they register in the session's
    // TableFunctionRegistry and are callable FROM clauses:
    //
    //   SELECT * FROM graft_subset_join(
    //     'rules', 'obs', 'snp_id,allele', 'haplotype_name', 'patient_id')
    //   SELECT * FROM graft_asof_join(
    //     'quotes', 'q_ts', 'trades', 't_ts', 'sym', 300)
    //
    // Table arguments are view/table NAMES (string literals), resolved
    // through the session catalog at analysis time; the builder returns
    // the SAME logical plan the Column API constructs, so a SQL caller
    // gets the identical broadcast/aggregate/window shape — no parallel
    // SQL implementation to keep in sync.
    val tvf = spark.sessionState.tableFunctionRegistry
    def csv(e: Expression, fn: String): Seq[String] =
      strArg(e, fn).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    tvf.createOrReplaceTempFunction("graft_subset_join",
      (exprs: Seq[Expression]) => {
        val fn = "graft_subset_join"
        require(exprs.length == 5,
          s"$fn(aView, bView, setColsCsv, aGroupByCsv, bGroupByCsv)")
        graft.ops.SetContainment.selectWhereSubsetOf(
            spark.table(strArg(exprs(0), fn)),
            spark.table(strArg(exprs(1), fn)),
            csv(exprs(2), fn), csv(exprs(3), fn), csv(exprs(4), fn))
          .queryExecution.logical
      }, "scala_udf")
    tvf.createOrReplaceTempFunction("graft_either_subset_join",
      (exprs: Seq[Expression]) => {
        val fn = "graft_either_subset_join"
        require(exprs.length == 5,
          s"$fn(aView, bView, setColsCsv, aGroupByCsv, bGroupByCsv)")
        graft.ops.SetContainment.selectWhereEitherSubsetOf(
            spark.table(strArg(exprs(0), fn)),
            spark.table(strArg(exprs(1), fn)),
            csv(exprs(2), fn), csv(exprs(3), fn), csv(exprs(4), fn))
          .queryExecution.logical
      }, "scala_udf")
    // Sort-based group-to-columns pivot (the q04 flagship). Mapping spec
    // entries, comma-separated:
    //   'src=>tgt'        passthrough (first row's value)
    //   'src->t1|t2|...'  spread (row i's value into target i)
    // e.g. SELECT * FROM graft_pivot('geno', 'patient_id,gene',
    //        'chromosome', 'haplotype->hap1|hap2, gene=>gene_name')
    // Returns the PIVOTED rows only; groups wider than the widest spread
    // are diverted (not silently mangled) exactly as the Column API's
    // bad-groups output — SQL callers wanting the diverted rows use the
    // Column API, which returns both frames.
    tvf.createOrReplaceTempFunction("graft_pivot",
      (exprs: Seq[Expression]) => {
        val fn = "graft_pivot"
        require(exprs.length == 3 || exprs.length == 4,
          s"$fn(view, groupByCsv, mappingSpec[, orderRowsByCsv])")
        import graft.ops.GroupedRowsToColumns.{Passthrough, Spread}
        val mappings = csv(exprs(2), fn).map { entry =>
          if (entry.contains("=>")) {
            val Array(s, t) = entry.split("=>", 2).map(_.trim)
            Passthrough(s, t)
          } else if (entry.contains("->")) {
            val Array(s, ts) = entry.split("->", 2).map(_.trim)
            Spread(s, ts.split("\\|").map(_.trim).toSeq)
          } else throw new IllegalArgumentException(
            s"$fn: mapping entry '$entry' is neither 'src=>tgt' nor " +
              "'src->t1|t2'")
        }
        graft.ops.GroupedRowsToColumns(
            spark.table(strArg(exprs(0), fn)),
            csv(exprs(1), fn), mappings,
            exprs.lift(3).map(e => csv(e, fn)).getOrElse(Nil))
          ._1.queryExecution.logical
      }, "scala_udf")
    // Condensed multi-way left-join report (the q40/q41/q48 flagship
    // shape): USING-style join steps against the nearest upstream table
    // exposing each column, windowed duplicate suppression, namespaced
    // (table__column) output.
    //   selectSpec: 'tbl:c1|c2,tbl2:cA'       (output order)
    //   joinsSpec:  'tbl:left:c1|c2,...'      (join type + USING columns)
    //   dupKeySpec: 'tbl:own.c1|foreign.t.c'  (optional; defaults to all
    //                                          of each table's columns)
    // Joins with explicit non-USING conditions stay Column-API-only.
    tvf.createOrReplaceTempFunction("graft_condensed_join",
      (exprs: Seq[Expression]) => {
        val fn = "graft_condensed_join"
        require(exprs.length == 3 || exprs.length == 4,
          s"$fn(selectSpec, rootView, joinsSpec[, dupKeySpec])")
        import graft.report.CondensedJoin
        def split2(s: String, sep: Char, what: String): (String, String) =
          s.split(sep) match {
            case Array(a, b) => (a.trim, b.trim)
            case _ => throw new IllegalArgumentException(
              s"$fn: malformed $what entry '$s'")
          }
        val select = csv(exprs(0), fn).map { e =>
          val (t, cols) = split2(e, ':', "select")
          (t, cols.split("\\|").map(_.trim).toSeq)
        }
        val root = strArg(exprs(1), fn)
        val joins = csv(exprs(2), fn).map { e =>
          e.split(":").map(_.trim) match {
            case Array(t, jt, cols) =>
              val usingCols = cols.split("\\|").map(_.trim).toSeq
              CondensedJoin.Join(t, jt,
                have => CondensedJoin.usingOn(have, t, usingCols))
            case _ => throw new IllegalArgumentException(
              s"$fn: malformed joins entry '$e' (want 'tbl:type:c1|c2')")
          }
        }
        val dupKey = exprs.lift(3).map(e => csv(e, fn).map { entry =>
          val (t, parts) = split2(entry, ':', "dupKey")
          t -> parts.split("\\|").map(_.trim).map { p =>
            p.split("\\.").map(_.trim) match {
              case Array("own", c) => CondensedJoin.Own(c)
              case Array("foreign", ft, c) => CondensedJoin.Foreign(ft, c)
              case _ => throw new IllegalArgumentException(
                s"$fn: malformed dupKey part '$p' (want 'own.c' or " +
                  "'foreign.tbl.c')")
            }
          }.toSeq
        }.toMap).getOrElse(Map.empty[String, Seq[CondensedJoin.KeyPart]])
        val tables = (select.map(_._1) ++ Seq(root) ++ joins.map(_.table))
          .distinct.map(t => t -> spark.table(t)).toMap
        CondensedJoin.condensed(
            CondensedJoin.Spec(select, root, joins, dupKey), tables)
          .queryExecution.logical
      }, "scala_udf")
    tvf.createOrReplaceTempFunction("graft_asof_join",
      (exprs: Seq[Expression]) => {
        val fn = "graft_asof_join"
        require(exprs.length == 5 || exprs.length == 6,
          s"$fn(leftView, leftTimeCol, rightView, rightTimeCol, keysCsv" +
            "[, toleranceSeconds])")
        graft.ops.TemporalJoins.asofJoin(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            spark.table(strArg(exprs(2), fn)), strArg(exprs(3), fn),
            csv(exprs(4), fn),
            exprs.lift(5).map(e => longArg(e, fn)))
          .queryExecution.logical
      }, "scala_udf")
    // Corpus-boilerplate strip (the q57 flagship), FROM-callable:
    //   SELECT * FROM graft_strip_boilerplate('docs','doc_id','text',' ',0.8)
    // The threshold literal picks the semantics: an INTEGER is an
    // absolute document-frequency cut; a fractional literal is a corpus
    // fraction (the Column API's Right form — the cut stays in-plan as
    // an exact decimal). Like the Column API, the builder runs the
    // bounded boiler job eagerly, here at TVF resolution time.
    tvf.createOrReplaceTempFunction("graft_strip_boilerplate",
      (exprs: Seq[Expression]) => {
        val fn = "graft_strip_boilerplate"
        require(exprs.length == 5,
          s"$fn(view, idCol, textCol, separator, minDocsOrFraction)")
        import org.apache.spark.sql.catalyst.expressions.Literal
        val thr: Either[Long, Double] = exprs(4) match {
          case Literal(v: Int, _) => Left(v.toLong)
          case Literal(v: Long, _) => Left(v)
          case Literal(v: org.apache.spark.sql.types.Decimal, _) =>
            Right(v.toDouble)
          case Literal(v: Double, _) => Right(v)
          case other => throw new IllegalArgumentException(
            s"$fn expects a numeric threshold literal, got $other")
        }
        graft.ops.Curation.stripBoilerplate(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn), strArg(exprs(3), fn), thr)
          .queryExecution.logical
      }, "scala_udf")
    // Benchmark decontamination (the q56/q63 flagship), FROM-callable:
    // corpus rows sharing fewer than minMatches word n-grams with the
    // benchmark survive — a pure row-local filter over the docs scan
    // (the bench gram fingerprints ride the plan).
    //   SELECT * FROM graft_decontaminate('docs','doc_id','text',
    //                                     'bench','text', 6[, 1])
    tvf.createOrReplaceTempFunction("graft_decontaminate",
      (exprs: Seq[Expression]) => {
        val fn = "graft_decontaminate"
        require(exprs.length == 6 || exprs.length == 7,
          s"$fn(docsView, idCol, textCol, benchView, benchTextCol, " +
            "n[, minMatches])")
        graft.ops.Curation.decontaminate(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn),
            spark.table(strArg(exprs(3), fn)), strArg(exprs(4), fn),
            intArg(exprs(5), fn),
            exprs.lift(6).map(e => intArg(e, fn)).getOrElse(1))
          .queryExecution.logical
      }, "scala_udf")
    // MinHash-LSH near-duplicate pairs (the q16 flagship), FROM-callable —
    // the dedup entry point a SQL-first corpus engineer reaches for:
    //   SELECT * FROM graft_minhash_pairs('docs','doc_id','text',0.5)
    //   [, numHashes, bands, shingleLen, maxBucket]
    // Returns (id_a, id_b, jaccard): banded candidates verified by true
    // shingle-set Jaccard ≥ threshold — the Column API's exact plan
    // (candidates only from shared (band, sig) buckets, never all-pairs).
    tvf.createOrReplaceTempFunction("graft_minhash_pairs",
      (exprs: Seq[Expression]) => {
        val fn = "graft_minhash_pairs"
        require(exprs.length >= 4 && exprs.length <= 8,
          s"$fn(view, idCol, textCol, threshold[, numHashes, bands, " +
            "shingleLen, maxBucket])")
        graft.ops.Dedup.minHashNearDuplicates(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn),
            threshold = doubleArg(exprs(3), fn),
            numHashes = exprs.lift(4).map(e => intArg(e, fn)).getOrElse(8),
            bands = exprs.lift(5).map(e => intArg(e, fn)).getOrElse(4),
            shingleLen = exprs.lift(6).map(e => intArg(e, fn)).getOrElse(3),
            maxBucket = exprs.lift(7).map(e => longArg(e, fn)).getOrElse(0L))
          .queryExecution.logical
      }, "scala_udf")
    // Exact dedup keeping whole rows (the q14 flagship), FROM-callable:
    //   SELECT * FROM graft_exact_dedup('docs','doc_id','text')
    // keeps the first row (by idCol) per identical normalized text.
    tvf.createOrReplaceTempFunction("graft_exact_dedup",
      (exprs: Seq[Expression]) => {
        val fn = "graft_exact_dedup"
        require(exprs.length == 3, s"$fn(view, idCol, textCol)")
        graft.ops.Dedup.exactDedup(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn))
          .queryExecution.logical
      }, "scala_udf")
    // Ordered funnel report (the q123 flagship), FROM-callable:
    //   SELECT * FROM graft_funnel('events', 'event_type', 'ts',
    //                              'event_id', 'user_id',
    //                              'signup,click,purchase')
    // Returns (step, event_type, n_users, frac_of_first) — the exact
    // chained-min funnel (tieCol participates only in the optional
    // truncation path; pass maxEventsPerUser > 0 as the 7th arg for the
    // bounded-collection semantics).
    tvf.createOrReplaceTempFunction("graft_funnel",
      (exprs: Seq[Expression]) => {
        val fn = "graft_funnel"
        require(exprs.length == 6 || exprs.length == 7,
          s"$fn(view, typeCol, timeCol, tieCol, userCol, stepsCsv" +
            "[, maxEventsPerUser])")
        graft.ops.EventAnalytics.funnelReport(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn), strArg(exprs(3), fn),
            strArg(exprs(4), fn), csv(exprs(5), fn),
            exprs.lift(6).map(e => intArg(e, fn)).getOrElse(0))
          .queryExecution.logical
      }, "scala_udf")
    // Cohort retention triangle (the q124 flagship), FROM-callable:
    //   SELECT * FROM graft_cohort_retention('events', 'ts', 'user_id')
    // Returns (cohort_week, week_offset, n_users) — Monday-week cohorts
    // in the session time zone (this library pins UTC).
    tvf.createOrReplaceTempFunction("graft_cohort_retention",
      (exprs: Seq[Expression]) => {
        val fn = "graft_cohort_retention"
        require(exprs.length == 3, s"$fn(view, timeCol, userCol)")
        graft.ops.EventAnalytics.cohortRetention(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn))
          .queryExecution.logical
      }, "scala_udf")
    // SCD2 dimension build (the q122 flagship), FROM-callable:
    //   SELECT * FROM graft_scd2('updates', 'user_id', 'ts', 'event_id',
    //                            'tier,plan')
    // Returns keys + attrs + (valid_from, valid_to, version) — one
    // window pass, change rows only.
    tvf.createOrReplaceTempFunction("graft_scd2",
      (exprs: Seq[Expression]) => {
        val fn = "graft_scd2"
        require(exprs.length == 5,
          s"$fn(view, keysCsv, timeCol, tieCol, attrsCsv)")
        graft.ops.TemporalJoins.scd2Build(
            spark.table(strArg(exprs(0), fn)), csv(exprs(1), fn),
            strArg(exprs(2), fn), strArg(exprs(3), fn), csv(exprs(4), fn))
          .queryExecution.logical
      }, "scala_udf")
    // BM25 top-k keyword retrieval (the q107 flagship), FROM-callable —
    // the sparse-retrieval entry point for a SQL-first user:
    //   SELECT * FROM graft_bm25_topk('docs','doc_id','text',
    //                                 'queries','query_id','query_text',10)
    //   [, k1, b]
    // Returns (query_id, idCol, score, rank ≤ k) — the Column API's exact
    // plan (query-vocab-bounded statistics aggregate, broadcast idf join,
    // term-sorted portable score fold, bounded CollectTopK).
    tvf.createOrReplaceTempFunction("graft_bm25_topk",
      (exprs: Seq[Expression]) => {
        val fn = "graft_bm25_topk"
        require(exprs.length >= 7 && exprs.length <= 9,
          s"$fn(docsView, idCol, textCol, queriesView, qIdCol, qTextCol, " +
            "k[, k1, b])")
        graft.ops.Retrieval.bm25TopK(
            spark.table(strArg(exprs(0), fn)), strArg(exprs(1), fn),
            strArg(exprs(2), fn),
            spark.table(strArg(exprs(3), fn)), strArg(exprs(4), fn),
            strArg(exprs(5), fn), intArg(exprs(6), fn),
            k1 = exprs.lift(7).map(e => doubleArg(e, fn)).getOrElse(1.2),
            b = exprs.lift(8).map(e => doubleArg(e, fn)).getOrElse(0.75))
          .queryExecution.logical
      }, "scala_udf")
    // Reciprocal Rank Fusion of two named rankings (the q121 hybrid
    // combiner), FROM-callable over ranking VIEWS — each a
    // (query_id, idCol, rank) frame from graft_bm25_topk, a dense top-k,
    // or any external ranker registered as a temp view:
    //   SELECT * FROM graft_rrf_fuse('sparse','bm25','dense','cos',
    //                                'doc_id',10[, rrfK])
    // Returns (query_id, idCol, rrf_score, rank ≤ k).
    tvf.createOrReplaceTempFunction("graft_rrf_fuse",
      (exprs: Seq[Expression]) => {
        val fn = "graft_rrf_fuse"
        require(exprs.length == 6 || exprs.length == 7,
          s"$fn(view1, tag1, view2, tag2, idCol, k[, rrfK])")
        graft.ops.Retrieval.rrfFuse(
            Seq(strArg(exprs(1), fn) -> spark.table(strArg(exprs(0), fn)),
              strArg(exprs(3), fn) -> spark.table(strArg(exprs(2), fn))),
            strArg(exprs(4), fn), intArg(exprs(5), fn),
            rrfK = exprs.lift(6).map(e => intArg(e, fn)).getOrElse(60))
          .queryExecution.logical
      }, "scala_udf")
  }

  private def foldableArray(e: Expression, elem: org.apache.spark.sql.types.DataType,
      fn: String): Array[AnyRef] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.ArrayType
    require(e.foldable, s"$fn expects a literal array argument, got $e")
    val cast = Cast(e, ArrayType(elem))
    cast.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        val arr = a.toObjectArray(elem)
        // a NULL element would unbox to 0 downstream (null.asInstanceOf
        // on a primitive), silently corrupting ids — and non-numeric
        // literals cast to NULL, so this also rejects array('a','b')
        require(!arr.contains(null),
          s"$fn: array literal contains NULL (or non-$elem) elements")
        arr
      case other => throw new IllegalArgumentException(
        s"$fn expects an array literal, got $other")
    }
  }

  private def foldableNested(e: Expression, fn: String): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    require(e.foldable, s"$fn expects a literal array-of-arrays, got $e")
    val cast = Cast(e, ArrayType(ArrayType(DoubleType)))
    cast.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), s"$fn: centroid vector $i is NULL")
          val inner = a.getArray(i)
          // toDoubleArray reads a NULL component as 0.0 from the raw
          // buffer (and a non-numeric literal casts to NULL) — reject
          // instead of silently shifting the centroid toward the origin
          require((0 until inner.numElements()).forall(j => !inner.isNullAt(j)),
            s"$fn: centroid vector $i contains NULL (or non-numeric) components")
          inner.toDoubleArray()
        }.toArray
      case other => throw new IllegalArgumentException(
        s"$fn expects an array-of-arrays literal, got $other")
    }
  }

  private def strArg(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
      v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal argument, got $other")
  }

  private def intArg(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal argument, got $other")
  }

  /** Fractional literals parse as exact Decimal in Spark SQL; integers
    * are accepted too (a threshold of 1 is legal). */
  private def doubleArg(e: Expression, fn: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
      v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Float, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a numeric literal argument, got $other")
  }
}
