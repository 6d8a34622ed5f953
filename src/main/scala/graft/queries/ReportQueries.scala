package graft.queries

import org.apache.spark.sql.functions._
import GenomicsQueries.{fixtureStages, fixtureRefs, fixtureCallChain}
import Query.{scratch, t}

/** Condensed reports: the spec-driven join over TPC-H tables, the
  * reference reports over the fixture job (phenotype, genotype, collapsed
  * and novel-matrix), and the DSV/JSONL/ORC interchange round trips.
  */
object ReportQueries {

  lazy val queries: Seq[Query] = Seq(
    // J7/O6: the condensed-join report engine on TPC-H dimensions — ordered
    // multi-way left joins, per-table duplicate-key blanking (region and
    // nation names appear once per first occurrence in report order), SQL
    // oracle reproduces the window blanking exactly.
    Query("q40_condensed_report", (s, dir) => {
      import graft.report.CondensedJoin._
      val tables = Map(
        "region" -> t(s, dir, "region").select("r_regionkey", "r_name"),
        "nation" -> t(s, dir, "nation").select("n_regionkey", "n_nationkey", "n_name"),
        "customer" -> t(s, dir, "customer").select("c_nationkey", "c_name", "c_acctbal"))
      val spec = Spec(
        select = Seq("region" -> Seq("r_name"), "nation" -> Seq("n_name"),
          "customer" -> Seq("c_name", "c_acctbal")),
        root = "region",
        joins = Seq(
          Join("nation", "left", _ =>
            col2("region", "r_regionkey") === col2("nation", "n_regionkey")),
          Join("customer", "left", _ =>
            col2("nation", "n_nationkey") === col2("customer", "c_nationkey"))),
        duplicateKey = Map(
          "region" -> Seq(Own("r_name")),
          "nation" -> Seq(Own("n_name")),
          "customer" -> Seq(Own("c_name"))))
      condensed(spec, tables)
        .select(col("region__r_name").as("r_name"), col("nation__n_name").as("n_name"),
          col("customer__c_name").as("c_name"), col("customer__c_acctbal").as("c_acctbal"))
        .orderBy(col("c_name").asc_nulls_first, col("r_name").asc_nulls_first)
    },
      // Window-blanking reproduction of the condensed join: same total order
      // (__ord), same per-dup-key first-occurrence test.
      """WITH j AS (
           SELECT r_name, n_name, c_name, c_acctbal
           FROM region
           LEFT JOIN nation ON n_regionkey = r_regionkey
           LEFT JOIN customer ON c_nationkey = n_nationkey),
         o AS (
           SELECT *, row_number() OVER (ORDER BY r_name ASC NULLS FIRST,
             n_name ASC NULLS FIRST, c_name ASC NULLS FIRST,
             c_acctbal ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY r_name ORDER BY ord) AS rr,
             row_number() OVER (PARTITION BY n_name ORDER BY ord) AS rn
           FROM o)
         SELECT CASE WHEN rr = 1 THEN r_name END AS r_name,
                CASE WHEN rn = 1 THEN n_name END AS n_name,
                c_name, c_acctbal
         FROM f ORDER BY c_name ASC NULLS FIRST, r_name ASC NULLS FIRST"""),

    // J6/J7/O6/F1 end-to-end: the reference's flagship condensed report
    // (phenotype-path drug recommendations, pipeline/Report.groovy:54-114)
    // over the hom fixture job — ordered multi-way left joins including the
    // disjunctive haplotype OR-join (J6), per-table duplicate blanking, and
    // friendly column aliases. The oracle re-derives the ENTIRE chain from
    // the base fixture VALUES: calls → genotype → phenotype → containment →
    // report joins → window blanking.
    Query("q41_report_phenotype", (s, dir) => {
      graft.report.Reports.phenotypeDrugRecommendationReport(
          s, fixtureStages(s), fixtureRefs(s), 1L)
        .orderBy(col("SAMPLE_ID").asc_nulls_first,
          col("HAPLOTYPE").asc_nulls_first,
          col("`RS#`").asc_nulls_first, col("ALLELE").asc_nulls_first)
    },
      // Full re-derivation of the condensed phenotype report. Stage frames come
      // from the shared fixtureCallChain (gh = haplotype calls, gt = genotype,
      // gp = genePhenotype, gpdr = rules); pdr is the q28 containment; dr/jpgp
      // reproduce the report's withId surrogate keys (row_number over the
      // frame's column ordering — drug rows sort to their original ids, the
      // two genePhenotype rows sort p1 < p2). The join cascade, the __ord
      // total order (the condensed spec's dup-key + header columns, all ASC
      // NULLS FIRST), and the per-table first-occurrence blanking mirror
      // CondensedJoin.condensed + RowOps.noDuplicates; constant columns
      // (job_id, het_combo/het_combos = 1) are omitted from the ORDER BY as
      // they cannot affect it.
      s"""$fixtureCallChain,
         pdr AS (
           SELECT patient_id, drug_recommendation_id FROM (
             SELECT gpdr.drug_recommendation_id, gp.patient_id, count(*) AS gc
             FROM gp JOIN gpdr USING (gene_name, phenotype_name)
             GROUP BY 1, 2) i
           JOIN (SELECT drug_recommendation_id, count(*) AS sa
                 FROM gpdr GROUP BY 1) sz USING (drug_recommendation_id)
           WHERE gc = sa),
         dr(id, drug_name, recommendation) AS (VALUES
           (CAST(1 AS BIGINT), 'drugA', 'drug'), (2, 'drugB', 'some drug'),
           (3, 'drugC', 'drug3'), (4, 'drugD', 'drug4'), (5, 'drugE', 'drug5')),
         jpgp AS (SELECT gp.*, row_number() OVER (ORDER BY patient_id) AS id FROM gp),
         j AS (
           SELECT p.patient_id, p.drug_recommendation_id,
                  dr.id AS dr_id, dr.drug_name, dr.recommendation,
                  g2.id AS jpgp_id, g2.gene_name AS gp_gene, g2.phenotype_name,
                  gt.haplotype_name1, gt.haplotype_name2,
                  gh.patient_id AS gh_patient, gh.gene_name AS gh_gene,
                  gh.haplotype_name AS hap_called,
                  v.patient_id AS v_patient, v.snp_id, v.allele
           FROM pdr p
           LEFT JOIN dr ON p.drug_recommendation_id = dr.id
           LEFT JOIN gpdr r ON r.drug_recommendation_id = p.drug_recommendation_id
           LEFT JOIN jpgp g2 ON g2.patient_id = p.patient_id
             AND g2.gene_name = r.gene_name AND g2.phenotype_name = r.phenotype_name
           LEFT JOIN gtp ON gtp.gene_name = g2.gene_name
             AND gtp.phenotype_name = g2.phenotype_name
           LEFT JOIN gt ON gt.patient_id = g2.patient_id
             AND gt.haplotype_name1 = gtp.haplotype_name1
             AND gt.haplotype_name2 = gtp.haplotype_name2
           LEFT JOIN gh ON gh.patient_id = gt.patient_id
             AND gh.gene_name = gt.gene_name
             AND (gh.haplotype_name = gt.haplotype_name1
               OR gh.haplotype_name = gt.haplotype_name2)
           LEFT JOIN ghv ON ghv.gene_name = gh.gene_name
             AND ghv.haplotype_name = gh.haplotype_name
           LEFT JOIN var v ON v.patient_id = gh.patient_id
             AND v.snp_id = ghv.snp_id AND v.allele = ghv.allele),
         o AS (
           SELECT *, row_number() OVER (ORDER BY
             dr_id ASC NULLS FIRST, patient_id ASC NULLS FIRST,
             jpgp_id ASC NULLS FIRST, gh_patient ASC NULLS FIRST,
             gh_gene ASC NULLS FIRST, hap_called ASC NULLS FIRST,
             v_patient ASC NULLS FIRST, allele ASC NULLS FIRST,
             snp_id ASC NULLS FIRST, drug_recommendation_id ASC NULLS FIRST,
             drug_name ASC NULLS FIRST, recommendation ASC NULLS FIRST,
             gp_gene ASC NULLS FIRST, phenotype_name ASC NULLS FIRST,
             haplotype_name1 ASC NULLS FIRST, haplotype_name2 ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY patient_id, drug_recommendation_id
               ORDER BY ord) AS rn1,
             row_number() OVER (PARTITION BY dr_id, patient_id
               ORDER BY ord) AS rn2,
             row_number() OVER (PARTITION BY jpgp_id, dr_id
               ORDER BY ord) AS rn3,
             row_number() OVER (PARTITION BY patient_id, haplotype_name1, haplotype_name2
               ORDER BY ord) AS rn4,
             row_number() OVER (PARTITION BY gh_patient, gh_gene, hap_called
               ORDER BY ord) AS rn5,
             row_number() OVER (PARTITION BY v_patient, gh_gene, hap_called, allele, snp_id
               ORDER BY ord) AS rn6
           FROM o)
         SELECT CASE WHEN rn1 = 1 THEN patient_id END AS "SAMPLE_ID",
                CASE WHEN rn1 = 1 THEN drug_recommendation_id END AS "DRUG_RECOMMENDATION_ID",
                CASE WHEN rn1 = 1 THEN 1 END AS "HET_COMBO",
                CASE WHEN rn1 = 1 THEN 1 END AS "#HET_COMBOS",
                CASE WHEN rn2 = 1 THEN drug_name END AS "DRUG",
                CASE WHEN rn2 = 1 THEN recommendation END AS "RECOMMENDATION",
                CASE WHEN rn3 = 1 THEN gp_gene END AS "GENE",
                CASE WHEN rn3 = 1 THEN phenotype_name END AS "PHENOTYPE",
                CASE WHEN rn4 = 1 THEN haplotype_name1 END AS "HAPLOTYPE1",
                CASE WHEN rn4 = 1 THEN haplotype_name2 END AS "HAPLOTYPE2",
                CASE WHEN rn5 = 1 THEN hap_called END AS "HAPLOTYPE",
                CASE WHEN rn6 = 1 THEN snp_id END AS "RS#",
                CASE WHEN rn6 = 1 THEN allele END AS "ALLELE"
         FROM f ORDER BY ord"""),

    // The genotype-path condensed report (pipeline/Report.groovy:119-176):
    // same engine, different spine — recommendation → genotype (with
    // surrogate id) → haplotype OR-join → variants.
    Query("q48_report_genotype", (s, dir) => {
      graft.report.Reports.genotypeDrugRecommendationReport(
          s, fixtureStages(s), fixtureRefs(s), 1L)
        .orderBy(col("SAMPLE_ID").asc_nulls_first,
          col("HAPLOTYPE").asc_nulls_first,
          col("`RS#`").asc_nulls_first, col("ALLELE").asc_nulls_first)
    },
      // Genotype-path report derivation: jpgdr is the genotype containment
      // (single-row rule sets ⇒ equality join on the sorted pair); jpg gets
      // the withId surrogate (the two genotype rows sort p1 < p2); ordering
      // and blanking mirror the spec's dup keys exactly as in q41.
      s"""$fixtureCallChain,
         gdr(gene_name, haplotype_name1, haplotype_name2, drug_recommendation_id) AS
           (VALUES ('g1', '*1', '*1', CAST(1 AS BIGINT)),
                   ('g1', '*2', '*2', CAST(2 AS BIGINT))),
         jpgdr AS (
           SELECT gt.patient_id, gdr.drug_recommendation_id
           FROM gt JOIN gdr USING (gene_name, haplotype_name1, haplotype_name2)),
         dr(id, drug_name, recommendation) AS (VALUES
           (CAST(1 AS BIGINT), 'drugA', 'drug'), (2, 'drugB', 'some drug'),
           (3, 'drugC', 'drug3'), (4, 'drugD', 'drug4'), (5, 'drugE', 'drug5')),
         jpg AS (SELECT gt.*, row_number() OVER (ORDER BY patient_id) AS id FROM gt),
         j AS (
           SELECT p.patient_id, p.drug_recommendation_id,
                  dr.id AS dr_id, dr.drug_name, dr.recommendation,
                  g2.id AS jpg_id, g2.gene_name AS g_gene,
                  g2.haplotype_name1, g2.haplotype_name2,
                  gh.patient_id AS gh_patient, gh.gene_name AS gh_gene,
                  gh.haplotype_name AS hap_called,
                  v.patient_id AS v_patient, v.snp_id, v.allele
           FROM jpgdr p
           LEFT JOIN dr ON p.drug_recommendation_id = dr.id
           LEFT JOIN gdr r ON r.drug_recommendation_id = p.drug_recommendation_id
           LEFT JOIN jpg g2 ON g2.patient_id = p.patient_id
             AND g2.haplotype_name1 = r.haplotype_name1
             AND g2.haplotype_name2 = r.haplotype_name2
           LEFT JOIN gh ON gh.patient_id = g2.patient_id
             AND gh.gene_name = g2.gene_name
             AND (gh.haplotype_name = g2.haplotype_name1
               OR gh.haplotype_name = g2.haplotype_name2)
           LEFT JOIN ghv ON ghv.gene_name = gh.gene_name
             AND ghv.haplotype_name = gh.haplotype_name
           LEFT JOIN var v ON v.patient_id = gh.patient_id
             AND v.snp_id = ghv.snp_id AND v.allele = ghv.allele),
         o AS (
           SELECT *, row_number() OVER (ORDER BY
             dr_id ASC NULLS FIRST, patient_id ASC NULLS FIRST,
             jpg_id ASC NULLS FIRST, gh_patient ASC NULLS FIRST,
             gh_gene ASC NULLS FIRST, hap_called ASC NULLS FIRST,
             v_patient ASC NULLS FIRST, allele ASC NULLS FIRST,
             snp_id ASC NULLS FIRST, drug_recommendation_id ASC NULLS FIRST,
             drug_name ASC NULLS FIRST, recommendation ASC NULLS FIRST,
             g_gene ASC NULLS FIRST, haplotype_name1 ASC NULLS FIRST,
             haplotype_name2 ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY patient_id, drug_recommendation_id
               ORDER BY ord) AS rn1,
             row_number() OVER (PARTITION BY dr_id, patient_id
               ORDER BY ord) AS rn2,
             row_number() OVER (PARTITION BY jpg_id, dr_id
               ORDER BY ord) AS rn3,
             row_number() OVER (PARTITION BY gh_patient, gh_gene, hap_called
               ORDER BY ord) AS rn5,
             row_number() OVER (PARTITION BY v_patient, gh_gene, hap_called, allele, snp_id
               ORDER BY ord) AS rn6
           FROM o)
         SELECT CASE WHEN rn1 = 1 THEN patient_id END AS "SAMPLE_ID",
                CASE WHEN rn1 = 1 THEN drug_recommendation_id END AS "DRUG_RECOMMENDATION_ID",
                CASE WHEN rn1 = 1 THEN 1 END AS "HET_COMBO",
                CASE WHEN rn1 = 1 THEN 1 END AS "#HET_COMBOS",
                CASE WHEN rn2 = 1 THEN drug_name END AS "DRUG",
                CASE WHEN rn2 = 1 THEN recommendation END AS "RECOMMENDATION",
                CASE WHEN rn3 = 1 THEN g_gene END AS "GENE",
                CASE WHEN rn3 = 1 THEN haplotype_name1 END AS "HAPLOTYPE1",
                CASE WHEN rn3 = 1 THEN haplotype_name2 END AS "HAPLOTYPE2",
                CASE WHEN rn5 = 1 THEN hap_called END AS "HAPLOTYPE",
                CASE WHEN rn6 = 1 THEN snp_id END AS "RS#",
                CASE WHEN rn6 = 1 THEN allele END AS "ALLELE"
         FROM f ORDER BY ord"""),

    // O7: the reference's staircase collapse (Row.groovy:109-185 with the
    // report's canCollapse rule) over the q41 condensed report — all-blank
    // rows merge into their predecessor; a sparse {RS#, ALLELE} row merges
    // only when it extends the accumulated row rightward without overlap.
    // 14 condensed rows collapse to 3 (derived by hand in the oracle).
    Query("q49_report_collapsed", (s, dir) => {
      val report = graft.report.Reports.phenotypeDrugRecommendationReport(
        s, fixtureStages(s), fixtureRefs(s), 1L)
      val header = report.columns.toSeq
      val rows = graft.report.CondensedJoin.collapseRows(report)
        .map(m => org.apache.spark.sql.Row.fromSeq(header.map(h => m.get(h).orNull)))
        .toSeq
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
        .orderBy(col("SAMPLE_ID").asc_nulls_first, col("`RS#`").asc_nulls_first)
    },
      // Hand-derived collapse of the 14 q41 rows (Row.groovy:109-185 + the
      // canCollapse header-order rule, sql/Report.groovy:94-141): p1's dense
      // first row absorbs its trailing all-blank rows; p1's second SNP row
      // ({rs2, G}) cannot merge left (RS#/ALLELE overlap) and p2's context
      // row cannot merge into IT (SAMPLE_ID comes before ALLELE in header
      // order); p2's context row (whose jpv join missed — rs2=T is uncalled)
      // then absorbs its own {rs1, C} SNP row, which extends it rightward.
      """SELECT * FROM (VALUES
           ('p1', CAST(1 AS BIGINT), 1, 1, 'drugA', 'drug', 'g1',
            'homozygote normal', '*1', '*1', '*1', 'rs1', 'A'),
           (CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
            CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'rs2', 'G'),
           ('p2', CAST(2 AS BIGINT), 1, 1, 'drugB', 'some drug', 'g1',
            'nonfunctional', '*2', '*2', '*2', 'rs1', 'C'))
         AS t("SAMPLE_ID", "DRUG_RECOMMENDATION_ID", "HET_COMBO",
              "#HET_COMBOS", "DRUG", "RECOMMENDATION", "GENE", "PHENOTYPE",
              "HAPLOTYPE1", "HAPLOTYPE2", "HAPLOTYPE", "RS#", "ALLELE")
         ORDER BY "SAMPLE_ID" ASC NULLS FIRST, "RS#" ASC NULLS FIRST"""),

    // R3/J8/R4: novel-haplotype matrix report — long→wide pivot of the known
    // matrix plus one row per (patient, chromosome, combo) novel call.
    Query("q43_novel_matrix", (s, dir) => {
      val mats = graft.report.Reports.novelHaplotypeReport(
        s, fixtureStages(s), fixtureRefs(s), 1L)
      mats("g1").orderBy("row_name")
    },
      // Hand-derived golden from the fixture matrix (*1..*5 known rows) plus
      // the two novel hom patients: p4 = unseen combination (rs1 C + rs2 G),
      // p5 = unseen allele (rs1 X, no rs2 call → NULL cell). Combo fields are
      // the hom defaults (1/1).
      """SELECT * FROM (VALUES
           ('*1', 'A', 'G'),
           ('*2', 'C', 'T'),
           ('*3', 'G', 'G'),
           ('*4', 'G', 'A'),
           ('*5', 'A', 'A'),
           ('Sample p4, chrA (1/1)', 'C', 'G'),
           ('Sample p4, chrB (1/1)', 'C', 'G'),
           ('Sample p5, chrA (1/1)', 'X', CAST(NULL AS VARCHAR)),
           ('Sample p5, chrB (1/1)', 'X', CAST(NULL AS VARCHAR)))
         AS t(row_name, rs1, rs2)
         ORDER BY row_name"""),

    // S10/F5: distributed DSV line rendering with the reference's null
    // encoding ('' — concat_ws alone would SKIP nulls and shift fields).
    Query("q42_dsv_render", (s, dir) => {
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
          graft.io.DsvWriter.dsvLine(Seq(
            col("c_name"),
            when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")),
            col("c_nationkey"), col("c_custkey")), sep = "|").as("dsv_line"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
           concat_ws('|',
             coalesce(CAST(c_name AS VARCHAR), ''),
             coalesce(CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
                           ELSE c_mktsegment END AS VARCHAR), ''),
             coalesce(CAST(c_nationkey AS VARCHAR), ''),
             coalesce(CAST(c_custkey AS VARCHAR), '')) AS dsv_line
         FROM customer ORDER BY c_custkey"""),

    // S1: the regex-separator DSV path (Input.groovy:46-140) — the nation
    // table rendered as '|'-separated text with uneven whitespace padding,
    // read back through Dsv.readRegex (header detect + regex split +
    // projection), must round-trip to the parquet original. The 25-row
    // collect is fixture GENERATION, not a data path.
    Query("q89_dsv_regex", (s, dir) => {
      val base = java.nio.file.Paths.get(scratch("graft-q89"))
      val rows = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val pad = Array("", " ", "  ")
      val lines = "n_nationkey|n_name | n_regionkey" +:
        rows.toSeq.zipWithIndex.map { case (r, i) =>
          s"${r.get(0)}${pad(i % 3)}|${pad((i + 1) % 3)}${r.get(1)}${pad((i + 2) % 3)}| ${r.get(2)}"
        }
      java.nio.file.Files.write(base.resolve("nation.dsv"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.io.Dsv.readRegex(s, base.resolve("nation.dsv").toString,
          sepRegex = "\\s*\\|\\s*",
          header = Seq("n_nationkey", "n_name", "n_regionkey"),
          requireHeader = true)
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    },
      // The DSV text render + regex read-back must reproduce the source table.
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey"""),

    // JSONL source round-trip: the documents table exported as JSON-lines
    // shards and read back through the explicit-schema (never inferred)
    // JSONL reader must reproduce the parquet original — the interchange
    // format most LLM corpus tooling ships.
    Query("q92_jsonl_roundtrip", (s, dir) => {
      val base = scratch("graft-q92")
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.io.JsonLines.write(docs, s"$base/docs.jsonl", shards = 4)
      graft.io.JsonLines.read(s, s"$base/docs.jsonl", docs.schema)
        .orderBy("doc_id")
    },
      // The JSONL export/import must reproduce the source table exactly.
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id"""),

    // ORC round-trip: the documents table exported as ORC shards and read
    // back through the explicit-schema reader must reproduce the parquet
    // original — the Hive-lineage columnar interchange twin of q92.
    Query("q97_orc_roundtrip", (s, dir) => {
      val base = scratch("graft-q97")
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.io.Orc.write(docs, s"$base/docs.orc", shards = 4)
      graft.io.Orc.read(s, s"$base/docs.orc", docs.schema).orderBy("doc_id")
    },
      // The ORC export/import must reproduce the source table exactly.
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id"""))

}
