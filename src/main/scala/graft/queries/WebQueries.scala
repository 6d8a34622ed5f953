package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Web
import Query.t

/** Web corpora: URL canonicalization, host reports, host-capped
  * sampling and host PageRank over a deterministic messy-URL fixture.
  */
object WebQueries {

  lazy val queries: Seq[Query] = Seq(
    // URL canonicalization over a constructed messy-URL column (the
    // tables carry no URLs, so BOTH engines derive the same raw URL from
    // (doc_id, source) — the rule matrix under test: case folding,
    // default ports, userinfo, www/root-dot, tracking params, param
    // sort, fragments, trailing slashes). Pure scan-projection work —
    // regexps + array HOFs, no shuffle.
    Query("q142_url_canonicalize", (s, dir) => {
      t(s, dir, "documents").withColumn("url", expr(messyUrlSpark))
        .select(col("doc_id"), Web.urlHost(col("url")).as("host"),
          Web.canonicalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id")
    },
      // Rule-for-rule canonicalization replay over the same constructed
      // raw URLs (fixture expression mirrored from messyUrlSpark).
      s"""WITH $urlCanonDuckCtes
         SELECT doc_id, host, canonical FROM canon ORDER BY doc_id"""),

    // Host-level crawl statistics on the same constructed URLs: raw URL
    // count vs distinct canonical pages per host, collapse rate in exact
    // integer ppm — the host-budget signal (a host whose URLs collapse
    // heavily serves churned tracking params). One hash aggregate.
    Query("q143_host_report", (s, dir) => {
      Web.hostReport(
          t(s, dir, "documents").withColumn("url", expr(messyUrlSpark)),
          "url")
        .orderBy("host")
    },
      // Host aggregate over the canon CTE; exact integer-ppm collapse.
      s"""WITH $urlCanonDuckCtes
         SELECT host, count(*) AS n_urls,
                count(DISTINCT canonical) AS n_pages,
                (count(*) - count(DISTINCT canonical)) * 1000000 // count(*)
                  AS collapse_ppm
         FROM canon WHERE canonical IS NOT NULL
         GROUP BY host ORDER BY host"""),

    // Per-host crawl-budget cap (C4/RefinedWeb domain-diversity rule):
    // at most 30 docs per canonical host by the deterministic (md5, id)
    // priority; bounded CollectTopK per host — a zipf-hot host costs the
    // same as a cold one, no per-host sort/window over raw rows.
    Query("q146_host_cap_sample", (s, dir) => {
      Web.hostCapSample(
          t(s, dir, "documents").withColumn("url", expr(messyUrlSpark)),
          "url", "doc_id", maxPerHost = 30)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // Host-cap replay: rank per host by the same (md5, id) priority and
      // keep the cap; the window-rank formulation is the oracle-side
      // equivalent of the bounded CollectTopK aggregate.
      s"""WITH $urlCanonDuckCtes,
         sel AS (SELECT doc_id, row_number() OVER (PARTITION BY host
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                 FROM canon WHERE host <> '')
         SELECT d.doc_id, d.source FROM documents d
         JOIN sel USING (doc_id) WHERE sel.rn <= 30
         ORDER BY d.doc_id"""),

    // Host-authority ranking (Common-Crawl-style seed prioritization):
    // integer-exact PageRank over a deterministic host link graph derived
    // from doc_ids (both engines build the same multigraph). Per
    // iteration ONE edge-side equi-join + ONE dst-key aggregate; rank
    // arithmetic is all-Long micro-units, so the result is a pure
    // function of the edge list — no float folds to drift.
    Query("q147_host_pagerank", (s, dir) => {
      val docs = t(s, dir, "documents")
      def ed(m: Int, a: Int, b: Int) = docs.select(
        expr("concat('h', cast(doc_id % 23 AS string))").as("src"),
        expr(s"concat('h', cast((doc_id * $m + $a) % $b AS string))").as("dst"))
      graft.ops.Graphs.pageRank(
          ed(7, 3, 23).unionByName(ed(5, 1, 23)), "src", "dst", iters = 3)
        .orderBy(col("rank_u").desc, col("node"))
    },
      // PageRank replay: identical multigraph, 3 unrolled iterations of
      // integer floor-division rank flow — exact BIGINT arithmetic, no
      // recursion needed for a fixed iteration count.
      pageRankDuck))

  /** Deterministic messy-URL fixture expression (Spark SQL) for
    * q142/q143: five raw-URL shapes keyed on doc_id % 5, each stressing
    * different canonicalization rules. The DuckDB oracle builds the
    * SAME strings from the same columns.
    */
  private val messyUrlSpark =
    """CASE cast(doc_id % 5 AS int)
       WHEN 0 THEN concat('HTTP://WWW.', source, '.Example.COM:80/Docs/',
         cast(doc_id AS string), '/?utm_source=feed&b=2&a=1#frag')
       WHEN 1 THEN concat('https://u:p@', source, '.example.com:443/docs/',
         cast(doc_id AS string))
       WHEN 2 THEN concat('https://cdn.example.com/', source, '/Page///?gclid=',
         cast(doc_id AS string))
       WHEN 3 THEN concat('http://www.', source,
         '.example.com:8080/path?ref=tw&z=9&y=8')
       ELSE concat('  https://', source, '.example.com./docs?fbclid=1&Q=',
         cast(doc_id AS string), '  ')
       END"""

  /** DuckDB replay of [[graft.ops.Graphs.pageRank]] on q147's derived
    * host multigraph: 3 unrolled iterations, all-BIGINT floor-division
    * arithmetic (`//` ≡ Spark's `div` for the positive values here).
    */
  private lazy val pageRankDuck: String = {
    def iterAt(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""c$k AS (SELECT e2.dst AS node,
             CAST(sum(r.rank_u // d.outdeg) AS BIGINT) AS s
           FROM e2 JOIN $prev r ON r.node = e2.src
                   JOIN deg d ON d.src = e2.src
           GROUP BY e2.dst),
         r$k AS (SELECT n.node,
             (150000 * (SELECT init FROM params)) // 1000000
               + (850000 * coalesce(c$k.s, 0)) // 1000000 AS rank_u
           FROM nodes n LEFT JOIN c$k USING (node))"""
    }
    s"""WITH e AS (
           SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) AS src,
                  'h' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 23 AS VARCHAR),
                  'h' || CAST((doc_id * 5 + 1) % 23 AS VARCHAR)
           FROM documents),
         e2 AS (SELECT src, dst FROM e WHERE src <> dst),
         nodes AS (SELECT DISTINCT node FROM (
           SELECT src AS node FROM e2 UNION SELECT dst FROM e2)),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                 FROM e2 GROUP BY src),
         params AS (SELECT 1000000000000 // (SELECT count(*) FROM nodes)
                      AS init),
         r0 AS (SELECT node, CAST((SELECT init FROM params) AS BIGINT)
                  AS rank_u FROM nodes),
         ${iterAt(1)},
         ${iterAt(2)},
         ${iterAt(3)}
         SELECT node, rank_u FROM r3 ORDER BY rank_u DESC, node"""
  }

  /** DuckDB replay of [[graft.ops.Web.canonicalizeUrl]] (plus the messy-URL
    * fixture) as a WITH-clause body ending in `canon(doc_id, host,
    * canonical)`; shared by the q142/q143 oracles. Regex set restricted to
    * the Java∩RE2 dialect in exact-text form (`\A`/`\z` anchors +
    * DOTALL — bit-aligned with [[graft.ops.Web]]'s Column chain even for
    * newline-bearing URLs), all patterns anchored so first-match
    * `regexp_replace` equals Spark's replace-all.
    */
  private lazy val urlCanonDuckCtes: String = {
    val messyUrlDuck =
      """CASE CAST(doc_id % 5 AS INTEGER)
         WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Docs/'
           || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
         WHEN 1 THEN 'https://u:p@' || source || '.example.com:443/docs/'
           || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN 'https://cdn.example.com/' || source || '/Page///?gclid='
           || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN 'http://www.' || source
           || '.example.com:8080/path?ref=tw&z=9&y=8'
         ELSE '  https://' || source || '.example.com./docs?fbclid=1&Q='
           || CAST(doc_id AS VARCHAR) || '  '
         END"""
    s"""raw AS (SELECT doc_id, $messyUrlDuck AS url FROM documents),
         up AS (SELECT doc_id, trim(url) AS u FROM raw),
         parts AS (SELECT doc_id,
             lower(regexp_extract(u,
               '(?s)\\A([A-Za-z][A-Za-z0-9+.-]*)://.*\\z', 1)) AS scheme,
             lower(regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*\\z', 1))
               AS netloc,
             regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*\\z', 1)
               AS path,
             regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\\?([^#]*).*\\z',
               1) AS query
           FROM up),
         hostp AS (SELECT *, regexp_replace(netloc, '\\A[^@]*@', '') AS noinfo
           FROM parts),
         hostq AS (SELECT *,
             regexp_replace(regexp_replace(regexp_replace(noinfo,
               ':[0-9]*\\z', ''), '\\A(www\\.)+', ''), '\\.+\\z', '')
               AS host,
             regexp_extract(noinfo, ':([0-9]+)\\z', 1) AS rawport
           FROM hostp),
         hostr AS (SELECT *,
             CASE WHEN rawport = '' THEN ''
                  WHEN regexp_replace(rawport, '\\A0+', '') = '' THEN '0'
                  ELSE regexp_replace(rawport, '\\A0+', '') END AS port
           FROM hostq),
         qkeep AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> len(x) > 0 AND NOT regexp_matches(
               lower(string_split(x, '=')[1]),
               '(?s)\\A(utm_.*|gclid|fbclid|msclkid|ref|mc_eid|igshid)\\z'))),
             '&'),
             '') AS kept
           FROM hostr),
         canon AS (SELECT doc_id, host,
             CASE WHEN scheme = '' OR host = '' THEN NULL
                  ELSE scheme || '://' || host
                    || CASE WHEN port <> ''
                          AND NOT ((scheme = 'http' AND port = '80')
                            OR (scheme = 'https' AND port = '443'))
                        THEN ':' || port ELSE '' END
                    || CASE WHEN regexp_replace(path, '/+\\z', '') = ''
                        THEN '/' ELSE regexp_replace(path, '/+\\z', '') END
                    || CASE WHEN kept = '' THEN ''
                        ELSE '?' || kept END
             END AS canonical
           FROM qkeep)"""
  }
}
