package graft.queries

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import Query.t

/** Relational building blocks: exact decimal aggregation, multimodal
  * features, Bloom-pruned joins, salted aggregation, NFC normalization and
  * the Z-order layout.
  */
object RelationalQueries {

  lazy val queries: Seq[Query] = Seq(
    // A1/A2: hash aggregation with exact decimal money math
    Query("q01_agg_pricing", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // Multimodal: binary payloads with REAL header decoding — image
    // dimensions are parsed out of actual PNG/GIF/BMP container bytes
    // (MediaCodec.decodeImage), audio geometry out of a real RIFF/WAVE
    // chunk walk (MediaCodec.decodeWav), and video geometry out of a real
    // ISO-BMFF box walk (MediaCodec.decodeMp4: tkhd dims, stsz samples);
    // the oracle re-derives all three from the fixture's generation rule,
    // so a decoder that misreads any header hash-mismatches.
    Query("q24_media_features", (s, dir) => {
      val media = Multimodal.syntheticMedia(s, t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(s, media)
        .select(col("media_id"), col("kind"), col("format"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"))
        .orderBy("media_id")
    },
      // Image rows: the Spark side decodes width/height from real container
      // header BYTES, audio rows sample rate / channels / PCM frames from a
      // real RIFF chunk walk; the oracle re-derives both from the fixture
      // generation rule (geometry and format are fixed functions of doc_id,
      // header length a per-format constant) — an incorrect header parse
      // cannot hash-match.
      """WITH m AS (
           SELECT doc_id AS media_id,
                  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
                  ['png','gif','bmp','jpg'][CAST((doc_id // 3) % 4 AS INTEGER) + 1] AS img_format,
                  [8000,16000,44100][CAST((doc_id // 3) % 3 AS INTEGER) + 1] AS wav_rate,
                  1 + (doc_id // 3) % 2 AS wav_channels,
                  CAST(octet_length(encode(text)) AS BIGINT) AS body_len
           FROM documents)
         SELECT media_id, kind,
                CASE kind WHEN 'image' THEN img_format
                          WHEN 'audio' THEN 'wav'
                          ELSE 'mp4' END AS format,
                CASE kind WHEN 'image'
                     THEN body_len + CASE img_format WHEN 'png' THEN 45
                                                     WHEN 'gif' THEN 13
                                                     WHEN 'bmp' THEN 54
                                                     ELSE 39 END
                          WHEN 'audio' THEN body_len + 44
                     ELSE body_len + 292 END AS byte_len,
                CASE kind WHEN 'audio' THEN 0
                     ELSE 16 + (media_id * 7919) % 1024 END AS width,
                CASE kind WHEN 'audio' THEN 0
                     ELSE 16 + (media_id * 104729) % 1024 END AS height,
                CASE kind WHEN 'video' THEN 1 + media_id % 300
                          WHEN 'audio' THEN body_len // (wav_channels * 2)
                     ELSE 1 END AS n_frames,
                CASE kind WHEN 'audio' THEN wav_rate ELSE 0 END AS sample_rate,
                CASE kind WHEN 'audio' THEN wav_channels ELSE 0 END AS channels
         FROM m ORDER BY media_id"""),

    // Bloom-pruned fact⋈dim join: sketch the selective order keys, prune
    // lineitem before the shuffle. Result is exact (the join verifies), so
    // the oracle is the plain join — what the sketch buys is shuffle volume.
    Query("q39_bloom_pruned_join", (s, dir) => {
      val fact = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val dim = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.ops.Sketches.bloomPrunedJoin(fact, dim, "l_orderkey", "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, round(o_totalprice, 2) AS o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         ORDER BY l_orderkey, l_linenumber"""),

    // Skew path: two-phase salted aggregation — identical result to the
    // plain aggregate (the oracle), hot keys spread over 16 partial groups.
    Query("q45_salted_agg", (s, dir) => {
      graft.ops.Skew.saltedAggregate(
          t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"), saltBuckets = 16,
          partial = Seq(count(lit(1)).as("c"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("q")),
          merge = Seq(sum(col("c")).as("n_rows"),
            sum(col("q")).cast("double").as("sum_qty")))
        .orderBy("l_returnflag")
    },
      // The salted two-phase aggregate must equal the plain aggregate exactly
      // (decimal partials make the re-aggregation order-insensitive).
      """SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Unicode NFC normalization ahead of fingerprinting: odd docs carry a
    // DECOMPOSED suffix (e + combining acute U+0301), even docs the
    // composed form (U+00E9) — after NFC both render the same codepoints,
    // so the md5 fingerprints line up and exact dedup sees through the
    // encoding difference. The oracle is the engine-native nfc_normalize.
    Query("q94_nfc_normalize", (s, dir) => {
      import graft.functions.UnicodeExpressions
      val suffix = when(col("doc_id") % 2 === 1, lit(" cafe\u0301"))
        .otherwise(lit(" caf\u00e9"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          UnicodeExpressions.nfc(concat(col("text"), suffix)).as("text_nfc"))
        .withColumn("fp", md5(col("text_nfc")))
        .orderBy("doc_id")
    },
      // Decomposed (e + chr(769)) and composed (chr(233)) suffixes NFC-fold
      // to identical codepoints; fingerprints computed on the folded text.
      """SELECT doc_id,
              nfc_normalize(text || CASE WHEN doc_id % 2 = 1
                THEN ' caf' || 'e' || chr(769)
                ELSE ' caf' || chr(233) END) AS text_nfc,
              md5(nfc_normalize(text || CASE WHEN doc_id % 2 = 1
                THEN ' caf' || 'e' || chr(769)
                ELSE ' caf' || chr(233) END)) AS fp
         FROM documents ORDER BY doc_id"""),

    // Multi-dimensional data layout: Z-order clustering audit over
    // lineitem's (part, supplier) keys. 16 = 4² Morton-range buckets →
    // every bucket's min/max envelope spans ≤ ¼ of EACH dimension (a 1-D
    // sort leaves one dimension at full span) — the footer statistics a
    // 100 TB scan prunes multi-predicate queries with.
    Query("q130_zorder_layout", (s, dir) => {
      graft.ops.Layout.zorderLayoutReport(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", bits = 8, nBuckets = 16)
        .orderBy("bucket")
    }, {
      // Z-order replay: identical integer arithmetic (min-max scale via
      // integral division, unrolled 8-bit Morton interleave, equal-width
      // key-range buckets) — bit-for-bit, no floats anywhere.
      val interleave = (0 until 8).map(i =>
        s"((((sa >> $i) & 1) << ${2 * i + 1}) | (((sb >> $i) & 1) << ${2 * i}))")
        .mkString(" | ")
      s"""WITH bounds AS (
           SELECT min(l_partkey) AS alo, max(l_partkey) AS ahi,
                  min(l_suppkey) AS blo, max(l_suppkey) AS bhi FROM lineitem),
         s AS (
           SELECT l_partkey AS a, l_suppkey AS b,
                  ((l_partkey - alo) * 255) // greatest(ahi - alo, 1) AS sa,
                  ((l_suppkey - blo) * 255) // greatest(bhi - blo, 1) AS sb
           FROM lineitem, bounds),
         z AS (SELECT a, b, ($interleave) AS z FROM s),
         k AS (SELECT a, b, (z * 16) // 65536 AS bucket FROM z)
         SELECT bucket, count(*) AS n, min(a) AS min_a, max(a) AS max_a,
                min(b) AS min_b, max(b) AS max_b,
                max(a) - min(a) AS span_a, max(b) - min(b) AS span_b
         FROM k GROUP BY bucket ORDER BY bucket"""
    }))

}
