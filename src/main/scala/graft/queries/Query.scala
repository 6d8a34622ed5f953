package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: `build` runs the operator over a scale-factor dir of
  * parquet tables, and `oracle` is its DuckDB-equivalent SQL over the same
  * tables. Column names and types are aligned pairwise; both sides carry a
  * deterministic ORDER BY. Each family object declares its list as a
  * `lazy val queries` above its helpers, so the list is built only after
  * the helper vals below it are initialized.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** The queries of `families` by name. A name declared twice fails here,
    * naming the query, instead of one declaration silently replacing the
    * other.
    */
  def byName(families: Seq[Query]*): Map[String, Query] =
    families.flatten.foldLeft(Map.empty[String, Query]) { (acc, q) =>
      require(!acc.contains(q.name), s"query ${q.name} is declared twice")
      acc.updated(q.name, q)
    }

  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session-scoped /tmp scratch dir for the interchange/streaming queries
    * (q81/q82/q88/q89/q92/q97). The returned DataFrame of those queries
    * READS from the dir (roundtrip files, streaming state), so the dir
    * cannot be deleted inside the query function — the caller consumes the
    * plan after we return. Instead every scratch dir is registered with ONE
    * JVM shutdown hook that removes them all, so a full Verify+Bench
    * session leaves /tmp exactly as it found it (the r8 leak: ~150
    * `graft-*` dirs per session — an operational problem on shared
    * cluster-local disks).
    */
  private val scratchDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { f =>
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case _: Throwable => () }
      }
    }))
  }
  private[queries] def scratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p.toFile)
    p.toString
  }
}
