package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Generic delimiter-separated reader.
  *
  * Reference semantics (`/root/reference/src/groovy/haplorec/util/Input.groovy:46-140`):
  * the separator is a REGEX pattern (default `/\t/`); an optional expected
  * header whose presence is detected on the first line (skip it if present,
  * or fail when `requireHeader`); projection of a subset of fields either by
  * header name or by 1-based index; lines too short for the projected
  * fields are rejected.
  *
  * Two paths:
  *  - [[read]] — Spark's native CSV scan for literal separators
  *    (distributed, pushdown-friendly, the fast path for real data);
  *  - [[readRegex]] — a distributed text scan + regex split for the
  *    reference's general separator semantics.
  *
  * Only the first-line header probe touches the driver (O(1), via the
  * Hadoop FileSystem API so any supported scheme — HDFS, S3A, local —
  * works, not just the local FS).
  */
object Dsv {

  final case class InvalidInputException(msg: String) extends RuntimeException(msg)

  /** Read `path` as DSV with columns named by `header` (literal-separator
    * fast path: Spark's native CSV scan).
    *
    * @param header        expected column names, in order
    * @param sep           literal field separator (default tab)
    * @param requireHeader fail unless line 1 equals the header
    * @param fields        project to these columns by name (default: all)
    * @param fieldIndices  project to these 1-based column positions
    *                      (`Input.groovy:63-64` — `fields` given as
    *                      integers); mutually exclusive with `fields`
    * @param failOnBadLine reject lines whose column count differs
    */
  def read(
      spark: SparkSession,
      path: String,
      header: Seq[String],
      sep: String = "\t",
      requireHeader: Boolean = false,
      fields: Seq[String] = Nil,
      fieldIndices: Seq[Int] = Nil,
      failOnBadLine: Boolean = true
  ): DataFrame = {
    require(fields.isEmpty || fieldIndices.isEmpty,
      "fields and fieldIndices are mutually exclusive")
    val firstLine = firstLineOf(spark, path)
    val headerLine = header.mkString(sep)
    val hasHeader = firstLine.contains(headerLine)
    if (requireHeader && !hasHeader)
      throw InvalidInputException(
        s"expected header '$headerLine' as first line of $path, saw '${firstLine.getOrElse("")}'")

    // Duplicate header names (the reference's genotype header repeats
    // HAPLOTYPE) are uniquified for the schema; detection above used the
    // raw names.
    val uniqueNames = uniquify(header)
    val schema = StructType(uniqueNames.map(StructField(_, StringType)))
    val df = spark.read
      .option("sep", sep)
      .option("header", hasHeader.toString)
      .option("mode", if (failOnBadLine) "FAILFAST" else "DROPMALFORMED")
      .option("enforceSchema", "true")
      .schema(schema)
      .csv(path)
    if (fieldIndices.nonEmpty) {
      fieldIndices.find(i => i < 1 || i > uniqueNames.size).foreach { i =>
        throw new IllegalArgumentException(
          s"field index $i outside 1..${uniqueNames.size}")
      }
      df.select(fieldIndices.map(i => col(uniqueNames(i - 1))): _*)
    } else if (fields.nonEmpty) df.select(fields.map(col): _*)
    else df
  }

  /** Read `path` splitting each line by the regex `sepRegex`
    * (`Input.groovy:86` — `line.split(separator)`, Java `split` semantics:
    * trailing empty fields dropped). Distributed: one text scan, the split
    * and projection are codegen'd column expressions.
    *
    * Projection resolution mirrors the reference (`Input.groovy:59-76`):
    * `fieldIndices` wins when given; else `fields` are looked up in
    * `header` (error when absent); else all of `header`. A header is
    * required unless `fieldIndices` alone selects the columns (the frame
    * then names them `_c<i>`).
    *
    * Lines too short for the highest projected index raise the reference's
    * "Expected N columns matching header ..." error
    * (`Input.groovy:115-121`) when `failOnBadLine`, else are dropped.
    */
  def readRegex(
      spark: SparkSession,
      path: String,
      sepRegex: String = "\\t",
      header: Seq[String] = Nil,
      requireHeader: Boolean = false,
      skipHeader: Boolean = false,
      fields: Seq[String] = Nil,
      fieldIndices: Seq[Int] = Nil,
      failOnBadLine: Boolean = true
  ): DataFrame = {
    require(fields.isEmpty || fieldIndices.isEmpty,
      "fields and fieldIndices are mutually exclusive")
    require(header.nonEmpty || fieldIndices.nonEmpty,
      "either a header or explicit fieldIndices is required for a fixed schema")

    // Header-line handling (Input.groovy:91-105): compare the SPLIT first
    // line against the header; skip it when equal, fail when required and
    // absent, or skip line 1 unconditionally under skipHeader.
    val firstFields = firstLineOf(spark, path).map(_.split(sepRegex, 0).toSeq)
    val hasHeader = header.nonEmpty && firstFields.contains(header)
    if (requireHeader && header.nonEmpty && !hasHeader)
      throw InvalidInputException(
        s"Expected header line $header, at line 1, but saw: ${firstFields.getOrElse(Nil)}")

    val indices: Seq[Int] =
      if (fieldIndices.nonEmpty) fieldIndices
      else if (fields.nonEmpty) fields.map { f =>
        val i = header.indexOf(f)
        if (i < 0) throw new IllegalArgumentException(s"no such field $f in header: $header")
        i + 1
      }
      else header.indices.map(_ + 1)
    val names: Seq[String] =
      if (fields.nonEmpty) fields
      else if (header.nonEmpty) {
        val uniq = uniquify(header)
        indices.map(i => uniq(i - 1))
      } else indices.map(i => s"_c$i")
    val maxIdx = indices.max

    import spark.implicits._
    val lines = spark.read.textFile(path)
    val body =
      if (hasHeader || skipHeader)
        // Partition 0 starts at byte 0 of the (single) input file, so its
        // first row is the file's first line. Avoids the extra count job a
        // zipWithIndex drop would run.
        lines.rdd
          .mapPartitionsWithIndex((i, it) => if (i == 0) it.drop(1) else it)
          .toDS()
      else lines

    val arr = split(col("value"), sepRegex, 0)
    val tooShort = size(arr) < maxIdx
    val base = body.toDF("value")
    // `when` evaluates raise_error only on too-short lines (CaseWhen is
    // lazy), surfacing the reference's message from inside the scan.
    val kept =
      if (failOnBadLine)
        base.filter(when(tooShort, raise_error(concat(
          lit(s"Expected $maxIdx columns" +
            (if (header.nonEmpty) s" matching header ${header.mkString(", ")}" else "") +
            ", but saw line: "),
          col("value")))).isNull)
      else base.filter(!tooShort)
    kept.select(indices.zip(names).map { case (i, n) => arr.getItem(i - 1).as(n) }: _*)
  }

  /** Eagerly validate per-line column counts, raising the reference's
    * `InvalidInputException` (`Input.groovy:107-118` — "Expected N columns
    * matching header ...") instead of a deferred task failure. One
    * distributed pass over the raw lines.
    */
  def validate(spark: SparkSession, path: String, header: Seq[String],
      sep: String = "\t"): Unit = {
    val n = header.size
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val bad = spark.read.textFile(path)
      .filter(line => line.nonEmpty && line.split(sepRegex, -1).length != n)
      .take(1)
    bad.headOption.foreach { line =>
      throw InvalidInputException(
        s"Expected $n columns matching header ${header.mkString(", ")}, but saw line: $line")
    }
  }

  private def uniquify(header: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Map[String, Int]()
    header.map { h =>
      val n = seen.getOrElse(h, 0)
      seen(h) = n + 1
      if (n == 0) h else s"$h$n"
    }
  }

  /** First line of `path` via the Hadoop FileSystem API — O(1) driver-side
    * probe that works on any supported filesystem scheme. A directory reads
    * its lexicographically first contained file (the multi-part case).
    */
  private def firstLineOf(spark: SparkSession, path: String): Option[String] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) return None
    val target =
      if (fs.getFileStatus(hPath).isDirectory)
        fs.listStatus(hPath).filter(_.isFile).map(_.getPath)
          .sortBy(_.getName).headOption
      else Some(hPath)
    target.flatMap { p =>
      val in = fs.open(p)
      try {
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        Option(reader.readLine())
      } finally in.close()
    }
  }
}
