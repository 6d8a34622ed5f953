package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Ingestion-side operators from the reference's scrape/load toolchain.
  */
object Ingest {

  /** Collapse rows sharing a primary key by joining each non-key field's
    * distinct (optionally processed) values with a separator.
    *
    * Reference: `collapse_by_key`
    * (`/root/reference/src/python/pharmgkb/pipelines.py:100-151`). The
    * reference joins Python-set order; here values are sorted for
    * determinism. One hash aggregate — same shape at any scale.
    *
    * @param fieldProcessors per-column value transform applied before
    *                        dedup (e.g. the phenotype trailing-'s' strip,
    *                        `pipelines.py:120-132`)
    */
  def collapseByKey(
      df: DataFrame,
      keyCols: Seq[String],
      sep: String = ". ",
      fieldProcessors: Map[String, Column => Column] = Map.empty): DataFrame = {
    val nonKey = df.columns.filterNot(keyCols.contains)
    val aggs = nonKey.map { c =>
      val processed = fieldProcessors.get(c).map(_(col(c))).getOrElse(col(c))
      concat_ws(sep, sort_array(collect_set(processed))).as(c)
    }
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Strip ALL trailing 's' characters (the reference's `rstrip('s')` for
    * inconsistent "poor metabolizer(s)" phenotype names).
    */
  def stripTrailingS(c: Column): Column = regexp_replace(c, "s+$", "")

  /** PharmGKB phenotype normalization (`process.py:10-44` regex port):
    * lowercase, strip trailing periods, drop `(~2[-11]% [of patients])`
    * parentheticals, collapse whitespace.
    */
  def normalizePhenotypeName(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(c), "\\.+$", ""),
        "\\(~\\d+(-\\d+)?% *(of patients)?\\)", ""),
      "\\s+", " "))

  /** Wide→long unpivot of a gene-haplotype allele matrix into
    * `gene_haplotype_variant` long form — the natural entry format for
    * reference haplotype data (header = SNP ids, one row per haplotype).
    *
    * Reference: `script/gene_haplotype_matrix_to_table.py:22-30` — the
    * first column is the haplotype name, every other column is a SNP id,
    * and each data row emits one (gene_name, haplotype_name, snp_id,
    * allele) output row per SNP column. Blank allele cells surface as
    * NULL — the row is still emitted, only the value is null — matching
    * the matrix iteration contract ("Blank allele cells are represented
    * as null's", `GeneHaplotypeMatrix.groovy:145-163`).
    *
    * Spark shape: `Dataset.unpivot` — a codegen'd Expand of each input
    * row into one output row per SNP column, map-side only (no shuffle,
    * no driver materialization), so it scales with input splits. This is
    * the exact inverse of the q43 report pivot
    * (`groupBy(row).pivot(snp_id).agg(first(allele))`).
    *
    * @param matrix       wide frame: haplotype-name column + one column
    *                     per SNP (e.g. from [[graft.io.Dsv]]`.read`)
    * @param geneName     constant gene_name for every output row (the
    *                     reference script's required `--gene` flag)
    * @param haplotypeCol name of the haplotype column; defaults to the
    *                     FIRST column, as in the reference script
    */
  def matrixToLong(
      matrix: DataFrame,
      geneName: String,
      haplotypeCol: Option[String] = None): DataFrame = {
    val idCol = haplotypeCol.getOrElse(matrix.columns.head)
    require(matrix.columns.contains(idCol),
      s"matrixToLong: haplotype column '$idCol' not in " +
        matrix.columns.mkString("[", ", ", "]"))
    val snpCols = matrix.columns.filterNot(_ == idCol)
    require(snpCols.nonEmpty,
      s"matrixToLong: matrix has no SNP columns besides '$idCol'")
    matrix
      .unpivot(
        Array(col(idCol).cast("string").as("haplotype_name")),
        snpCols.map(c => col(c).cast("string")),
        variableColumnName = "snp_id",
        valueColumnName = "allele")
      .select(
        lit(geneName).as("gene_name"),
        col("haplotype_name"),
        col("snp_id"),
        // blank (or all-whitespace) cell → null; a null input cell passes
        // through the otherwise branch unchanged
        when(trim(col("allele")) === "", lit(null).cast("string"))
          .otherwise(col("allele")).as("allele"))
  }

  /** Surrogate-key resolution for dependency-ordered loads: assign
    * deterministic ids to the parent's natural keys (dense 1-based row
    * numbers in natural-key order, the analog of harvesting auto_increment
    * ids), then resolve children by joining on the natural key.
    *
    * Reference: `load_dsv.py` (`/root/reference/script/load_dsv.py:66-134`),
    * which inserts parents one at a time to capture `lastrowid`. Here the
    * id is a `row_number()` over the natural key inside the plan (as in
    * `Reports.withId`), so building runs no job. The window numbers only
    * the distinct keys, one partition of the table that both joins
    * broadcast; the parent's other columns join back to it.
    *
    * @return (parent with `idCol`, child with `idCol` resolved)
    */
  def resolveForeignKeys(
      parent: DataFrame,
      child: DataFrame,
      naturalKey: Seq[String],
      idCol: String = "id"): (DataFrame, DataFrame) = {
    val keys = naturalKey.map(col)
    val ids = parent.select(keys: _*).distinct()
      .withColumn(idCol, row_number().over(Window.orderBy(keys: _*)).cast(LongType))
    // null-safe on the parent side, so a row with a null key keeps its id
    val fk = naturalKey.indices.map(i => s"__fk$i")
    val withId = parent.dropDuplicates(naturalKey)
      .join(broadcast(ids.toDF(fk :+ idCol: _*)),
        naturalKey.zip(fk).map { case (k, f) => col(k) <=> col(f) }.reduce(_ && _))
      .drop(fk: _*)
    (withId, child.join(broadcast(ids), naturalKey))
  }

  /** A parsed `--map` entry from the reference loader's config DSL:
    * `"child: k1, k2 => parent"` — insert `parent` first, then resolve the
    * child's natural-key columns (k1, k2) to the parent's surrogate id.
    * Reference: `load_dsv.py` mapping dict
    * (`/root/reference/script/load_dsv.py:244-259`).
    */
  case class FkMapping(table: String, columns: Seq[String], autoIncrementTable: String)

  private val DslToken = "=>|[:,.]|[A-Za-z][A-Za-z0-9_]*".r

  private def tokenizeDsl(s: String): Vector[String] = {
    val leftover = DslToken.replaceAllIn(s, "").trim
    require(leftover.isEmpty, s"unparseable characters '$leftover' in mapping: $s")
    DslToken.findAllIn(s).toVector
  }

  /** Parser for the `load_dsv.py --map` mapping DSL
    * (`/root/reference/script/load_dsv.py:225-260`): grammar
    * `identifier ':' identifier (',' identifier)* [','] '=>' identifier`,
    * identifiers `[A-Za-z][A-Za-z0-9_]*`. A trailing comma before `=>` is
    * tolerated, matching the reference's own docstring example
    * (`"R_1: x, => T"`).
    */
  def parseMapDsl(s: String): FkMapping = tokenizeDsl(s) match {
    case table +: ":" +: rest =>
      val cols = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      var expectIdent = true
      while (i < rest.length && rest(i) != "=>") {
        rest(i) match {
          case "," if !expectIdent => expectIdent = true
          case ident if expectIdent && ident.matches("[A-Za-z][A-Za-z0-9_]*") =>
            cols += ident; expectIdent = false
          case t => throw new IllegalArgumentException(
            s"unexpected token '$t' in column list of mapping: $s")
        }
        i += 1
      }
      require(cols.nonEmpty, s"empty column list in mapping: $s")
      rest.drop(i) match {
        case Vector("=>", parent) => FkMapping(table, cols.toSeq, parent)
        case _ => throw new IllegalArgumentException(s"expected '=> parent' in mapping: $s")
      }
    case _ => throw new IllegalArgumentException(s"expected 'table: ...' in mapping: $s")
  }

  /** Parser for the `load_dsv.py --ignore` DSL (`load_dsv.py:262-264`):
    * `"table.column"` — drop that column before inserting the table.
    */
  def parseIgnoreDsl(s: String): (String, String) = tokenizeDsl(s) match {
    case Vector(table, ".", column) => (table, column)
    case _ => throw new IllegalArgumentException(s"expected 'table.column': $s")
  }

  /** Apply one parsed `--map` entry against loaded tables: assign surrogate
    * ids to the parent over the mapping's natural-key columns and resolve
    * the child — the Spark form of the reference's insert-parents-first,
    * harvest-lastrowid, substitute-in-children loop (`load_dsv.py:66-134`).
    * Matching the reference exactly: resolution reads the RAW column values
    * (ignored fields included, `load_dsv.py:112-117` reads the unfiltered
    * csv row), the child's new fk column is named `<parent>_id`
    * (`load_dsv.py:113`), and `--ignore`d columns drop from the OUTPUT
    * (insert) side only, after resolution.
    */
  def applyMapDsl(
      tables: Map[String, DataFrame],
      mapping: FkMapping,
      ignores: Seq[(String, String)] = Nil): (DataFrame, DataFrame) = {
    val idCol = mapping.autoIncrementTable + "_id"
    val (parent, child) = resolveForeignKeys(
      tables(mapping.autoIncrementTable), tables(mapping.table),
      mapping.columns, idCol)
    def dropIgnored(name: String, df: DataFrame): DataFrame =
      ignores.collect { case (t, c) if t == name => c }
        .foldLeft(df)(_.drop(_))
    (dropIgnored(mapping.autoIncrementTable, parent),
      dropIgnored(mapping.table, child))
  }

  /** One table's slot in the scraped-CSV contract ([[referenceCsvContract]]).
    *
    * @param required  whether [[validateReferenceCsvs]] fails the table
    *                  when its file is absent
    * @param pkUnique  whether the primary key is checkable pre-load
    *                  (false only for gene_phenotype_drug_recommendation,
    *                  whose declared key includes the surrogate
    *                  `drug_recommendation_id` that exists only AFTER
    *                  [[applyMapDsl]] resolution)
    */
  case class CsvTableContract(
      name: String,
      columns: Seq[String],
      primaryKey: Seq[String],
      required: Boolean,
      pkUnique: Boolean)

  /** The scraped-CSV contract of the reference's PharmGKB toolchain — the
    * S12 ingestion boundary, closed as a CONTRACT rather than a crawler:
    * field sets and primary keys from the scrapy item definitions
    * (reference `src/python/pharmgkb/items/__init__.py:22-65`), the
    * required-file set from the `GeneDrugPair` crawl target (reference
    * `scrapy_config.mk:6`). Pre-load shape: `drug_recommendation` still
    * carries its natural-key columns (`gene_name`, `haplotype_name1/2` —
    * `--ignore`d only after id resolution), children still carry their
    * map columns, and no surrogate ids exist yet. INGEST.md walks the
    * full contract, including the `load_dsv` map/ignore replay.
    */
  val referenceCsvContract: Seq[CsvTableContract] = Seq(
    CsvTableContract("drug_recommendation",
      Seq("drug_name", "implications", "recommendation", "classification",
        "diplotype_egs", "gene_name", "haplotype_name1", "haplotype_name2"),
      Seq("drug_name", "gene_name", "haplotype_name1", "haplotype_name2"),
      required = true, pkUnique = true),
    CsvTableContract("gene_haplotype_variant",
      Seq("gene_name", "haplotype_name", "snp_id", "allele"),
      Seq("gene_name", "haplotype_name", "snp_id", "allele"),
      required = true, pkUnique = true),
    CsvTableContract("genotype_phenotype",
      Seq("gene_name", "haplotype_name1", "haplotype_name2",
        "phenotype_name", "phenotype_genotype"),
      Seq("gene_name", "haplotype_name1", "haplotype_name2"),
      required = true, pkUnique = true),
    CsvTableContract("genotype_drug_recommendation",
      Seq("gene_name", "haplotype_name1", "haplotype_name2", "drug_name"),
      Seq("gene_name", "haplotype_name1", "haplotype_name2", "drug_name"),
      required = true, pkUnique = true),
    CsvTableContract("gene_phenotype_drug_recommendation",
      Seq("gene_name", "phenotype_name"),
      Seq("gene_name", "phenotype_name"),
      required = false, pkUnique = false))

  /** Schema gate for a directory of scraped PharmGKB CSVs — what a real
    * user loading reference data hits FIRST, so failures are a report,
    * not a stack trace. For each contract table, emits one row per
    * check: `file_present` (required files only), `columns` (header set
    * equality — missing and unexpected names in `detail`), `pk_not_null`
    * (every primary-key field populated; the toolchain's null encoding
    * is the empty string, which Spark's CSV reader surfaces as NULL),
    * and `pk_unique` (no duplicate keys — scraped files are expected
    * post-[[collapseByKey]], reference `pipelines.py:100-151`, so dup
    * keys mean the collapse step was skipped).
    *
    * Scale shape: these are dimension tables (thousands of rows); each
    * check is one small aggregate. Corpus-scale inputs never pass
    * through here.
    *
    * @return (table, check, passed, detail) — one row per (table, check)
    */
  def validateReferenceCsvs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      delim: String = ","): DataFrame = {
    import spark.implicits._
    val rows = referenceCsvContract.flatMap { t =>
      val path = new java.io.File(dir, s"${t.name}.csv")
      if (!path.exists()) {
        if (t.required)
          Seq((t.name, "file_present", false, s"missing ${path.getName}"))
        else
          Seq((t.name, "file_present", true, "absent (optional)"))
      } else {
        // multiLine + RFC-4180 quote escaping: the scraped prose fields
        // (implications/recommendation) legitimately carry embedded
        // newlines and doubled quotes — Spark's default line-split parse
        // would shred such rows into phantom records whose NULL key
        // columns then fail pk checks the real toolchain accepts
        val df = spark.read
          .option("header", "true").option("delimiter", delim)
          .option("multiLine", "true").option("escape", "\"")
          .csv(path.getAbsolutePath)
        val have = df.columns.toSeq
        val missing = t.columns.filterNot(have.contains)
        val extra = have.filterNot(t.columns.contains)
        val colsOk = missing.isEmpty && extra.isEmpty
        val colsDetail =
          (if (missing.nonEmpty) s"missing: ${missing.mkString(",")} " else "") +
            (if (extra.nonEmpty) s"unexpected: ${extra.mkString(",")}" else "")
        val header = Seq(
          (t.name, "file_present", true, ""),
          (t.name, "columns", colsOk, colsDetail.trim))
        // key checks only run against the columns that exist
        val pkCols = t.primaryKey.filter(have.contains)
        val keyChecks = if (pkCols.isEmpty) Nil else {
          val nulls = df.filter(
            pkCols.map(c => col(c).isNull).reduce(_ || _)).count()
          val notNull = (t.name, "pk_not_null", nulls == 0L,
            if (nulls == 0L) "" else s"$nulls rows with empty key fields")
          if (!t.pkUnique) Seq(notNull)
          else {
            val dups = df.groupBy(pkCols.map(col): _*)
              .count().filter(col("count") > 1).count()
            Seq(notNull,
              (t.name, "pk_unique", dups == 0L,
                if (dups == 0L) ""
                else s"$dups duplicate keys (collapse_by_key not applied?)"))
          }
        }
        header ++ keyChecks
      }
    }
    rows.toDF("table", "check", "passed", "detail")
  }
}
