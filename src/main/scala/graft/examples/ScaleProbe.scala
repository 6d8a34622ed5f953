package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Scale probe for the similarity/dedup operators beyond the sf0.1 test
  * data: a deterministic synthetic embedding corpus (hash-derived floats of
  * the row id — no RNG, so runs are comparable) at 20×–800× the sf0.1 row
  * count. Hash-derived components are near-uniform in [-1, 1], so the
  * hyperplane sign bits distribute buckets the way the n/2^bits sizing
  * assumes — the earlier sin(id·i) corpus was strongly correlated across
  * rows and collapsed most of the corpus into a few LSH buckets, probing
  * the skew guard rather than the operator. Prints per-operator wall
  * times; PLANS.md cites a run.
  *
  * Usage: sbt "runMain graft.examples.ScaleProbe [nRows] [dim]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Similarity

    // Every 100th vector duplicates its predecessor — the near-dup paths
    // see a realistic ~1% duplicate rate instead of zero pairs.
    val contentId = when(pmod(col("id"), lit(100)) === 99, col("id") - 1)
      .otherwise(col("id"))
    val emb = spark.range(n.toLong).select(col("id").as("vec_id"),
        array((1 to dim).map(i =>
          ((pmod(xxhash64(contentId * lit(1000003L) + lit(i)), lit(2001L)) -
            lit(1000L)) / lit(1000.0)).cast("float")): _*)
          .as("embedding"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    emb.count()
    println(s"corpus: $n vectors x $dim dims")

    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // Block isolation (the Bench discipline): drop any operator-persisted
      // intermediates, keep only the corpus cached.
      spark.catalog.clearCache()
      emb.persist(); emb.count()
      r
    }

    // The query is corpus row 7's generation rule — guaranteed in-distribution.
    val q = (1 to dim).map(i =>
      ((Math.floorMod(XXH64.hashLong(7L * 1000003L + i, 42L), 2001L) - 1000L)
        / 1000.0).toFloat)
    timed("exact top-10, one query (full scan)") {
      Similarity.topKForQuery(emb, "vec_id", "embedding", q, 10).collect()
    }
    timed("k-NN join, 8 queries x top-10 (one scan, partial top-k)") {
      Similarity.topKJoin(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding", 10).collect()
    }
    // nlist grows ~√n then plateaus at a realistic index parameter: past
    // ~1M vectors the centroid set is a FIXED configuration (the broadcast
    // bound), and build cost becomes linear in n at constant nlist — the
    // slope the 1M→4M probe points measure.
    val nlist = math.min(1024, math.max(32, math.sqrt(n.toDouble).toInt))
    timed(s"IVF build (nlist=$nlist) + probe") {
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", nlist).persist()
      assigned.count()
      val thr = Similarity.sampleThreshold(nlist.toLong, n.toLong)
      val centroids = emb.filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.ivfTopKForQuery(assigned, centroids, "vec_id", "embedding",
        q, 10, nprobe = 8).collect()
      assigned.unpersist()
    }
    val bits = Similarity.lshBitsFor(n.toLong, targetBucketSize = 32)
    timed(s"LSH near-dup pairs (bits=$bits, threshold=0.9, maxBucket=256)") {
      Similarity.lshNearNeighbors(emb, "vec_id", "embedding", dim,
        threshold = 0.9, bits = bits, maxBucket = 256).count()
    }
    // PQ: codebook build is a bounded collect; encode is scan → project
    // (the slope to watch — one codegen argmin pass over the corpus); the
    // ADC search scans 8-byte codes only.
    timed("PQ (m=8, ks=16): encode + ADC search, 8 queries x top-10 (rerank 100)") {
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8,
        targetKs = 16)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb).persist()
      enc.count()
      Similarity.pqTopK(enc, emb, "vec_id", "embedding", cb,
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        k = 10, rerank = 100).collect()
      enc.unpersist()
    }
    timed("prefix-16 retrieval, 8 queries x top-10 (rerank 100)") {
      Similarity.prefixTopKJoin(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        prefixDim = 16, k = 10, rerank = 100).collect()
    }
    spark.stop()
  }
}
