package graft.queries

import graft.Pin
import graft.Sessions.table
import graft.functions.Urls
import graft.operators.{Frontier, PublicSuffix, UrlDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Crawl-engine operators exposed over the driver's parquet tables: both
  * the Spark side and the DuckDB oracle derive the same synthetic
  * frontier frame from `events`/`documents`, then the Spark side runs the
  * *production operators* (UrlDedup, Frontier, Urls) while the oracle
  * re-expresses the semantics in SQL. This puts the crawl core under the
  * driver's correctness gate, not just ScalaTest.
  */
object CrawlQueries {

  type Q = (SparkSession, String) => DataFrame

  /** PSL fixture rules for q_registered_domain (real publicsuffix.org
    * syntax: normal, `*.` wildcard, `!` exception).
    */
  private val PslFixtureRules = Seq(
    "com", "uk", "co.uk", "github.io", "*.ck", "!www.ck",
    "jp", "*.kawasaki.jp", "!city.kawasaki.jp")

  /** Synthetic index frame derived deterministically from `events`:
    * url collides across records (the dedup has real work), length/ord
    * give the argmax a total order. Mirrored 1:1 in `indexSql`.
    */
  private def indexFrame(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      concat(lit("https://h"), pmod(col("user_id"), lit(20L)),
             lit(".example.com/p"), pmod(col("event_id"), lit(100L)))
        .as("url"),
      concat(lit("crawl-data/CC-MAIN-2024-"),
             lpad(pmod(col("event_id"), lit(3L)).cast("string"), 2, "0"),
             lit("/part-"),
             lpad(pmod(col("user_id"), lit(4L)).cast("string"), 3, "0"),
             lit(".warc.gz")).as("warc"),
      col("event_id").as("offset"),
      // explicit floor: Spark's double->long cast truncates while DuckDB's
      // rounds, so the truncation must be spelled out on both sides
      floor(col("value") * 100).cast(LongType).as("length"),
      lit(0).as("file_ord"),
      col("event_id").as("line_ord"),
      lit("f0").as("file")
    )

  private val indexSql =
    """SELECT 'https://h' || (user_id % 20) || '.example.com/p' ||
              (event_id % 100) AS url,
              'crawl-data/CC-MAIN-2024-' ||
              lpad(CAST(event_id % 3 AS VARCHAR), 2, '0') || '/part-' ||
              lpad(CAST(user_id % 4 AS VARCHAR), 3, '0') || '.warc.gz' AS warc,
              event_id AS "offset",
              CAST(floor(value * 100) AS BIGINT) AS length,
              0 AS file_ord,
              event_id AS line_ord
       FROM events"""

  /** Shared URL mix for the trap queries: two unbounded URL spaces per
    * host and one bounded one.
    */
  private def trapFixture(s: SparkSession, dir: String): DataFrame = {
    val sel = pmod(col("event_id"), lit(5L))
    table(s, dir, "events").select(
      col("event_id"),
      concat(lit("https://h"), pmod(col("user_id"), lit(20L)),
        lit(".example.com"),
        when(sel === 0, concat(lit("/cal/"), col("event_id"), lit("/day")))
          .when(sel === 1,
            concat(lit("/s?sid="), md5(col("event_id").cast("string"))))
          .otherwise(concat(lit("/p"), pmod(col("event_id"), lit(7L)))))
        .as("url"))
  }

  private val trapFixtureSql =
    """SELECT event_id,
              'https://h' || (user_id % 20) || '.example.com' ||
              CASE event_id % 5
                WHEN 0 THEN '/cal/' || event_id || '/day'
                WHEN 1 THEN '/s?sid=' || md5(CAST(event_id AS VARCHAR))
                ELSE '/p' || (event_id % 7) END AS url
       FROM events"""

  private val trapTemplateSql =
    """SELECT event_id, url,
              regexp_extract(url,
                '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host,
              regexp_replace(regexp_replace(
                regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)', 1),
                '[0-9a-f]{8,}', '~', 'g'), '[0-9]+', '#', 'g') AS template
       FROM u"""

  val defs: Map[String, Q] = Map(
    // Dump-to-dump diff: which URLs were added / removed / changed /
    // same between two snapshots — the change signal the adaptive
    // recrawl schedule consumes. prev = events not divisible by 7,
    // cur = not divisible by 5; every third key's digest mutates. One
    // full-outer join; the oracle replays it.
    "q_dump_diff" -> { (s, dir) =>
      val ev = table(s, dir, "events").select(
        concat(lit("u"), col("event_id")).as("url"),
        col("event_id").cast(LongType).as("eid"), col("props"))
      val prev = ev.filter(pmod(col("eid"), lit(7L)) =!= 0)
        .select(col("url"), md5(col("props")).as("digest"))
      val cur = ev.filter(pmod(col("eid"), lit(5L)) =!= 0)
        .select(col("url"), md5(concat(col("props"),
          when(pmod(col("eid"), lit(3L)) === 0, lit("x"))
            .otherwise(lit("")))).as("digest"))
      graft.operators.CrawlPolicy.dumpDiff(prev, cur)
    },

    // Redirect-chain resolution: functional edge set derived from
    // events (descending chains to multiples of 64, a planted 2-cycle
    // at every 55<->56 mod-100 pair); the production pointer-doubling
    // operator vs DuckDB's native recursive CTE — two independent
    // realizations, loops and >16-hop chains flagged identically.
    "q_redirect_resolve" -> { (s, dir) =>
      val nodes = table(s, dir, "events")
        .select(pmod(col("event_id"), lit(4096L)).as("i")).distinct()
      val edges = nodes.filter(pmod(col("i"), lit(64L)) =!= 0)
        .select(col("i").as("src"),
          when(pmod(col("i"), lit(100L)) === 55, col("i") + 1)
            .otherwise(col("i") - 1).as("dst"))
      graft.operators.Redirects.resolveRedirects(edges, maxHops = 16)
    },

    // Soft-404 gate: 200-status error pages (title/h1 patterns) vs
    // real 404s vs content — the regex runs identically in both
    // engines; fixture titles avoid doc ids (a 'Doc 404' title would
    // genuinely BE a soft 404).
    "q_soft404" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(4L))
      val status = when(m === 3, lit(404)).otherwise(lit(200))
      val html = when(m === 1, concat(
          lit("<html><title>404 - Page Not Found</title>"),
          col("text"), lit("</html>")))
        .when(m === 2, concat(
          lit("<html><h1>This page no longer exists</h1>"),
          col("text"), lit("</html>")))
        .otherwise(concat(lit("<html><title>Welcome</title>"),
          col("text"), lit("</html>")))
      graft.operators.CrawlPolicy.soft404Gate(
        table(s, dir, "documents").select(id.as("page_id"),
          status.as("status"), html.as("html")))
        .select("page_id", "status", "soft404", "gone")
    },

    // IDN-homograph detection: hosts whose confusable-skeleton equals
    // a protected name while the raw host differs; the skeleton
    // replace-chain is generated from ONE confusables table on both
    // sides.
    "q_homoglyph" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(4L))
      val host = when(m === 0, lit("google.com"))
        .when(m === 1, lit(HomoglyphFixture.spoofGoogle))
        .when(m === 2, concat(lit("shop"), id, lit(".example.com")))
        .otherwise(lit(HomoglyphFixture.spoofPaypal))
      val prot = Seq("google.com", "paypal.com")
      table(s, dir, "documents").select(id.as("doc_id"),
          host.as("host"),
          Urls.homoglyphSkeletonCol(host).as("skeleton"))
        .withColumn("spoof",
          col("skeleton").isin(prot: _*) && !col("host").isin(prot: _*))
    },

    // rel=canonical dedup: five page classes (no tag -> self, absolute
    // target, root-relative + href-before-rel, noindex -> dropped,
    // unquoted rel) built from documents; the production extraction/
    // resolution/argmax runs Spark-side, the oracle replays the SAME
    // RE2 regexes + resolution cases + winner window.
    "q_canonical_dedup" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(5L))
      val g = id - m
      val url = concat(lit("https://h"), pmod(id, lit(20L)),
        lit(".example.com/p"), id)
      val tag = when(m === 0, lit(""))
        .when(m === 1, concat(
          lit("<link rel=\"canonical\" href=\"https://h0.example.com/canon/"),
          g, lit("\">")))
        .when(m === 2, concat(
          lit("<link href=\"/canon/"), g, lit("\" rel=\"canonical\">")))
        .when(m === 3, concat(
          lit("<meta name=\"robots\" content=\"noindex\">" +
            "<link rel=\"canonical\" href=\"/canon/"), g, lit("\">")))
        .otherwise(concat(
          lit("<link rel=canonical href=\"/canon/"), g, lit("\">")))
      val pages = table(s, dir, "documents").select(
        id.as("page_id"), url.as("url"),
        concat(lit("<html>"), tag, col("text"), lit("</html>")).as("html"))
      graft.operators.Links.canonicalDedup(pages)
    },

    // Crawl-depth assignment: min link-hops from the seed hosts over
    // the fixture graph, capped at 4 (the crawl-scope contract);
    // oracle = bounded recursive CTE with min-depth fold.
    "q_bfs_depth" -> { (s, dir) =>
      graft.operators.HostRank.bfsDepth(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200),
        s.range(200).toDF("host").filter(pmod(col("host"), lit(37L)) === 0),
        maxDepth = 4)
    },

    // Exact triangle counts per host (link-farm near-clique signal):
    // production plan is degree-oriented wedge closing; the oracle is
    // the plain canonical triple join — same result by construction.
    "q_triangle_hosts" -> { (s, dir) =>
      graft.operators.HostRank.triangles(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200))
    },

    // Per-host link hygiene: out/in degree + reciprocal-edge count
    // (link-exchange fingerprint).
    "q_link_signals" -> { (s, dir) =>
      graft.operators.HostRank.linkSignals(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200))
    },

    // HITS hubs & authorities over the same host graph: 3 fixed
    // iterations, integer micro-units, max-normalized so every step is
    // exact Long division the oracle unrolls with //.
    "q_hits_hosts" -> { (s, dir) =>
      graft.operators.HostRank.hits(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200),
        s.range(200).toDF("host"),
        iters = 3)
    },

    // Host-graph PageRank frontier priority: deterministic sparse link
    // graph from events (out-degree <= 5), 5 fixed iterations of
    // all-integer micro-unit arithmetic — the oracle unrolls the
    // iterations with the identical DIV chain.
    "q_pagerank_hosts" -> { (s, dir) =>
      graft.operators.HostRank.pageRank(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200),
        s.range(200).toDF("host"),
        iters = 5)
    },

    // Directed 2-hop expansion profile over the shared host-link
    // fixture: distinct 1-hop out-neighbours vs NEW nodes at exactly
    // two hops (not self, not direct) — the next crawl ring's size.
    "q_two_hop" -> { (s, dir) =>
      graft.operators.HostRank.twoHopNeighbors(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200))
    },

    // Spearman rank agreement between two per-host importance signals
    // (activity count vs most-recent event) — exact integer d² sums.
    "q_rank_corr" -> { (s, dir) =>
      val hs = table(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(200L)).as("host"))
        .agg(count(lit(1)).as("a"), max(col("event_id")).as("b"))
      graft.operators.HostRank.spearman(hs, "host", "a", "b")
    },

    // Reciprocity + degree assortativity of the host graph (a third of
    // edges get reverses, planting a known reciprocity signal); exact
    // integer Pearson sums until the final divisions.
    "q_graph_mixing" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val src = pmod(col("user_id"), lit(200L))
      val dst = pmod(src * 17 + pmod(col("event_id"), lit(5L)) * 31 + 7,
                     lit(200L))
      val fwd = ev.select(src.as("src"), dst.as("dst"))
        .where(col("src") =!= col("dst"))
      val rev = ev.where(pmod(col("event_id"), lit(3L)) === 0)
        .select(dst.as("src"), src.as("dst"))
        .where(col("src") =!= col("dst"))
      graft.operators.HostRank.mixingStats(
        fwd.unionByName(rev).distinct())
    },

    // Broder bow-tie over a DAG-plus-ring host graph: CORE (the planted
    // 40..49 cycle, if largest), IN (reaches it), OUT (reached from
    // it), OTHER. The coverage-planning table for seed selection.
    "q_bowtie" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val a = pmod(col("user_id"), lit(90L))
      val b = pmod(a * 7 + pmod(col("event_id"), lit(4L)) * 13 + 11,
                   lit(90L))
      val dag = ev.select(a.as("src"), b.as("dst"))
        .where(col("dst") > col("src"))
      val ring = ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select((pmod(col("user_id"), lit(10L)) + 40).as("src"),
                (pmod(col("user_id") + 1, lit(10L)) + 40).as("dst"))
      graft.operators.HostRank.bowtie(dag.unionByName(ring).distinct())
    },

    // Exact SCCs of the directed host graph (redirect/mirror loop
    // classifier): path-doubling closure to fixpoint, component id =
    // smallest mutually-reachable node. The oracle computes the same
    // closure with a recursive CTE.
    "q_scc_hosts" -> { (s, dir) =>
      graft.operators.HostRank.scc(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 100))
    },

    // k-core peeling (k=6, 6 rounds = past fixpoint on this graph):
    // hosts surviving iterated degree-6 peel, with within-core degree.
    "q_kcore_hosts" -> { (s, dir) =>
      graft.operators.HostRank.kCorePeel(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200),
        k = 6, rounds = 6)
    },

    // Mirror-host detection: twin docs (2p, 2p+1) share content 'm'||p
    // when p % 4 = 0, landing on hosts a(p%6) / b(p%6) — so (a0,b0),
    // (a2,b2), (a4,b4) are partial mirrors; every 13th doc carries a
    // shared 'common' banner whose digest sits on all 12 hosts and must
    // be dropped by the maxHostsPerDigest guard on BOTH engines.
    "q_mirror_hosts" -> { (s, dir) =>
      val id = col("doc_id")
      val p = expr("doc_id DIV 2")
      val host = concat(
        when(pmod(id, lit(2L)) === 0, lit("a")).otherwise(lit("b")),
        pmod(p, lit(6L)).cast("string"))
      val content = when(pmod(id, lit(13L)) === 0, lit("common"))
        .when(pmod(p, lit(4L)) === 0, concat(lit("m"), p.cast("string")))
        .otherwise(concat(lit("u"), id.cast("string")))
      graft.operators.CrawlPolicy.mirrorHosts(
        table(s, dir, "documents").select(host.as("host"),
          md5(encode(content, "UTF-8")).as("digest")))
    },

    // TrustRank: same fixture graph, teleport restricted to the 7 seed
    // hosts (host % 29 = 0) — the anti-spam demotion signal; oracle is
    // the unrolled integer iteration with a CASE teleport.
    "q_trustrank" -> { (s, dir) =>
      graft.operators.HostRank.trustRank(
        graft.operators.HostRank.fixtureEdges(
          table(s, dir, "events"), nHosts = 200),
        s.range(200).toDF("host"),
        s.range(200).toDF("host")
          .filter(pmod(col("host"), lit(29L)) === 0),
        iters = 4)
    },

    // Charset sniff + transcode over synthesized payload bytes: five
    // modes per doc_id — plain UTF-8, BOM'd UTF-8, UTF-16LE BOM,
    // declared iso-8859-1 with a true latin-1 byte, and undeclared
    // windows-1252 (0x92 kills UTF-8 validity). The oracle predicts
    // (charset, text) from the same generators via chr() codepoints.
    "q_charset_decode" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val mode = pmod(id, lit(5L))
      val bytes = when(mode === 0, encode(col("text"), "UTF-8"))
        .when(mode === 1, concat(unhex(lit("EFBBBF")),
          encode(concat(lit("café "), col("text")), "UTF-8")))
        .when(mode === 2, concat(unhex(lit("FFFE")),
          encode(concat(lit("w"), pmod(id, lit(10L)).cast("string")),
            "UTF-16LE")))
        .when(mode === 3, concat(
          encode(lit("<meta charset=iso-8859-1>caf"), "US-ASCII"),
          unhex(lit("E9"))))
        .otherwise(concat(encode(lit("it"), "US-ASCII"),
          unhex(lit("92")),
          encode(concat(lit("s "), col("text")), "US-ASCII")))
      graft.functions.Charsets.transcode(
        table(s, dir, "documents").select(col("doc_id"),
          bytes.as("bytes")))
        .select(col("doc_id"), col("charset"), col("text"),
          length(col("text")).cast(LongType).as("n_chars"))
    },

    // Sitemap ingestion: every doc synthesizes a sitemap XML document
    // (every 10th a <sitemapindex>, the rest <urlset> entries with
    // escaped query strings and lastmod), parsed back by the operator's
    // regex columns. The oracle builds the identical XML and parses it
    // with DuckDB's regexp functions.
    "q_sitemap_urls" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val host = pmod(id, lit(30L)).cast("string")
      val m = (pmod(id, lit(9L)) + 1).cast("string")
      val n = pmod(id, lit(3L)) + 1
      val urlEntries = array_join(transform(sequence(lit(0L), n - 1),
        k => concat(lit("<url><loc>https://h"), host, lit("/p"),
          (id * 3 + k).cast("string"), lit("?a=1&amp;b="),
          k.cast("string"), lit("</loc><lastmod>2024-0"), m, lit("-0"),
          (k + 1).cast("string"), lit("</lastmod></url>"))), "")
      val idxEntries = array_join(transform(sequence(lit(0L), n - 1),
        k => concat(lit("<sitemap><loc>https://h"), host, lit("/sitemap"),
          k.cast("string"), lit(".xml</loc></sitemap>"))), "")
      val xml = when(pmod(id, lit(10L)) === 0,
        concat(lit("<sitemapindex>"), idxEntries, lit("</sitemapindex>")))
        .otherwise(concat(lit("<urlset>"), urlEntries, lit("</urlset>")))
      graft.sources.Sitemaps.parse(
        table(s, dir, "documents").select(col("doc_id").as("sitemap_id"),
          xml.as("xml")))
    },

    // Adaptive recrawl schedule: 500 synthetic URLs, ~20 fetches each
    // from events; change-halves / same-doubles interval fold per URL,
    // all-Long arithmetic. The oracle replays the fold as a recursive
    // CTE (like q_seq_pack).
    "q_recrawl_schedule" -> { (s, dir) =>
      val fetches = table(s, dir, "events").select(
        concat(lit("u"), pmod(col("user_id"), lit(20L)), lit("/"),
          pmod(col("event_id"), lit(25L))).as("url"),
        unix_timestamp(col("ts")).as("fetch_epoch"),
        pmod(col("event_id"), lit(4L)).as("version"))
      graft.operators.CrawlPolicy.refreshSchedule(fetches,
        initIntervalS = 86400L, minIntervalS = 3600L,
        maxIntervalS = 1209600L)
    },

    // Between-dump distribution drift: dump split by event_id parity;
    // the current dump shifts mass to ct7, drops ct3 entirely and
    // introduces ctNEW — exercising drifted/gone/new against the
    // chi-square gate. Both engines replay counts, scaled expectation
    // and the χ² terms.
    "q_dump_drift" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val prevKey = concat(lit("ct"), pmod(col("user_id"), lit(8L)))
      val curKey = concat(lit("ct"),
        when(pmod(col("user_id"), lit(16L)) === 0, lit("7"))
          .when(pmod(col("user_id"), lit(8L)) === 3, lit("4"))
          .when(pmod(col("user_id"), lit(31L)) === 5, lit("NEW"))
          .otherwise(pmod(col("user_id"), lit(8L)).cast("string")))
      graft.operators.CorpusStats.distributionDrift(
        ev.filter(pmod(col("event_id"), lit(2L)) === 0)
          .select(prevKey.as("ct")),
        ev.filter(pmod(col("event_id"), lit(2L)) === 1)
          .select(curKey.as("ct")),
        "ct")
    },

    // Heaps'-law vocabulary growth: V(n) at 10 doc checkpoints + the
    // log-log OLS exponent — does the vocabulary saturate or keep
    // flooding (id-noise tell) as the corpus scales?
    "q_heaps_law" -> { (s, dir) =>
      graft.operators.CorpusStats.heapsLaw(table(s, dir, "documents"))
    },

    // Language-agnostic stopword induction: 30 most document-frequent
    // terms + integer-micro IDF — the list the Gopher/C4 stop-ratio
    // signals consume.
    "q_stopword_induct" -> { (s, dir) =>
      graft.operators.CorpusStats.stopwordInduction(
        table(s, dir, "documents"), k = 30)
    },

    // Hashing-trick featurizer profile: md5-fold feature indices in a
    // 2^12 space, per-doc collision accounting (is `bits` big enough
    // before training a hashed linear model?).
    "q_feature_hash" -> { (s, dir) =>
      graft.operators.CorpusStats.featureHashProfile(
        table(s, dir, "documents"), bits = 12)
    },

    // Per-host hourly burst windows: count > 3x the host's lower-median
    // nonempty window — the fetch-anomaly / recrawl trigger.
    "q_burst_hosts" -> { (s, dir) =>
      graft.operators.CorpusStats.burstWindows(
        table(s, dir, "events")
          .select(pmod(col("user_id"), lit(50L)).as("host"), col("ts")),
        "host")
    },

    // Kolmogorov–Smirnov drift over the doc-length distribution between
    // the two half-corpora: exact integer numerator, one final division.
    "q_ks_drift" -> { (s, dir) =>
      val d = table(s, dir, "documents")
      graft.operators.CorpusStats.ksDrift(
        d.filter(pmod(col("doc_id").cast("long"), lit(2L)) === 0),
        d.filter(pmod(col("doc_id").cast("long"), lit(2L)) === 1),
        "n_chars")
    },

    // Gini concentration of the per-host event budget: exact integer
    // sorted-rank formula, one final division.
    "q_gini_hosts" -> { (s, dir) =>
      graft.operators.CorpusStats.gini(
        table(s, dir, "events")
          .select(pmod(col("user_id"), lit(200L)).as("host")),
        "host")
    },

    // Unigram KL/JS drift between the two document half-corpora
    // (doc_id parity = two dumps): the retraining-trigger signal next
    // to q_dump_drift's per-key χ². Exact integer-micro contributions;
    // every ln() input is one integer-operand IEEE division.
    "q_kl_drift" -> { (s, dir) =>
      val d = table(s, dir, "documents")
      graft.operators.CorpusStats.klDivergence(
        d.filter(pmod(col("doc_id").cast("long"), lit(2L)) === 0),
        d.filter(pmod(col("doc_id").cast("long"), lit(2L)) === 1))
    },

    // Synchronous label propagation over 3 disconnected host clusters
    // (cluster = event_id%3 offsets both endpoints): 3 rounds of
    // most-frequent-neighbour-label with (count desc, label) ties.
    // The oracle unrolls the identical rounds as CTEs.
    "q_lpa_communities" -> { (s, dir) =>
      val cluster = pmod(col("event_id"), lit(3L)) * 10
      val e = table(s, dir, "events").select(
        concat(lit("h"), (pmod(col("user_id"), lit(10L)) + cluster)
          .cast("string")).as("src"),
        concat(lit("h"), (pmod(col("event_id"), lit(10L)) + cluster)
          .cast("string")).as("dst"))
      graft.operators.HostRank.labelPropagation(e, iters = 3)
    },

    // Politeness compliance audit of a synthetic fetch log: per-host
    // inter-request gaps (lag over (epoch, event_id)), min/mean and
    // the count under the 3600 s floor.
    "q_politeness_audit" -> { (s, dir) =>
      val fetches = table(s, dir, "events").select(
        concat(lit("h"), pmod(col("user_id"), lit(25L))).as("host"),
        unix_timestamp(col("ts")).as("fetch_epoch"),
        col("event_id").as("ord"))
      graft.operators.CrawlPolicy.politenessAudit(fetches,
        minDelayS = 3600L)
    },

    // EWMA fetch-volume forecast per host over 3 dumps (alpha = 1/4):
    // the fold runs left-to-right inside one tiny array per host; the
    // oracle replays the identical IEEE sequence as a recursive CTE.
    "q_fetch_forecast" -> { (s, dir) =>
      val counts = table(s, dir, "events").groupBy(
        concat(lit("h"), pmod(col("user_id"), lit(25L))).as("host"),
        pmod(col("event_id"), lit(3L)).as("dump"))
        .agg(count(lit(1)).as("x"))
      graft.operators.CrawlPolicy.ewmaForecast(counts, "host", "dump",
        "x")
    },

    // Cho/Garcia-Molina bias-corrected Poisson change-rate estimation
    // over the same synthetic fetch history as q_recrawl_schedule:
    // λ̂ = −ln((n−x+0.5)/(n+0.5))/Ī in changes/day plus the λ-optimal
    // clamped revisit interval. The oracle replays the lag-window
    // change detection and the estimator arithmetic (shared ln +
    // round-6 discipline).
    "q_recrawl_lambda" -> { (s, dir) =>
      val fetches = table(s, dir, "events").select(
        concat(lit("u"), pmod(col("user_id"), lit(20L)), lit("/"),
          pmod(col("event_id"), lit(25L))).as("url"),
        unix_timestamp(col("ts")).as("fetch_epoch"),
        pmod(col("event_id"), lit(4L)).as("version"),
        col("event_id").as("ord"))
      graft.operators.CrawlPolicy.changeRate(fetches)
    },

    // Shuffle-key skew report over a deliberately skewed host column
    // (one hot host takes ~1/3 of all rows): exact per-key counts
    // reduced to max/p50/p90/p99/gini/skew-ratio and the derived salt
    // factor — the pre-flight diagnostic for keying any big shuffle.
    "q_skew_report" -> { (s, dir) =>
      val rows = table(s, dir, "events").select(
        when(pmod(col("event_id"), lit(3L)) === 0,
          lit("hot.example.com"))
          .otherwise(concat(lit("h"), pmod(col("user_id"), lit(50L)),
            lit(".example.com"))).as("host"))
      graft.operators.Layout.skewReport(rows, Seq("host"),
        parallelism = 32)
    },

    // Self-built cluster index + the reference's acquisition flow run
    // against it: 10k captures sort into 40-line gzip cdx blocks (4 per
    // file), cluster.idx carries each block's first key + range; then
    // parse → prune (pattern + predecessor) → ranged gzip decode →
    // line re-match, all through the production S1/O1/S3 operators.
    // The oracle is simply the captures whose domain matches — any
    // error in ordering, block assignment, offsets or pruning loses or
    // duplicates rows and breaks the hash.
    "q_index_acquire" -> { (s, dir) =>
      val rows = table(s, dir, "events").select(
        concat(lit("com,example,h"), pmod(col("user_id"), lit(20L)),
          lit(")/p"), pmod(col("event_id"), lit(100L))).as("surt_path"),
        col("event_id").as("ts"))
      val (files, cidx) = graft.operators.ClusterIndex
        .buildIndex(rows, blockSize = 40, blocksPerFile = 4)
      graft.operators.ClusterIndex.acquire(files, cidx, "com,example,h7")
    },

    // WARC write→read round trip: the storage side of the crawl loop.
    // Each doc is built into a spec-shaped gzip-member response record
    // by the WRITER and read back through the production S4 reader
    // (gzip decode → WARC parse → charset-aware text). The oracle
    // predicts the fields directly from the fixture — write-then-read
    // must be the identity, which is the sink's contract.
    "q_warc_roundtrip" -> { (s, dir) =>
      import graft.sources.WarcGzip
      val id = col("doc_id").cast(LongType)
      val url = concat(lit("https://h"), pmod(id, lit(30L)),
        lit(".example.com/doc"), col("doc_id"))
      val rec = WarcGzip.buildWarcResponseUdf(url,
        lit(1700000000L) + id, encode(col("text"), "UTF-8"))
      val p = WarcGzip.warcResponseUdf(WarcGzip.decodeAllUdf(rec))
      table(s, dir, "documents")
        .select(col("doc_id"), p.as("p"))
        .select(col("doc_id"),
          col("p._1").as("url"), col("p._2").as("status"),
          col("p._3").as("mime"), col("p._4").as("body"),
          length(col("p._4")).cast(LongType).as("n_chars"))
    },

    // WARC index shards + ranged re-read: records are written into
    // 8 shards, the index (surt, offset, length) is a per-shard window
    // sum over member lengths, and every record is RE-READ through the
    // production ranged reader at its indexed (offset, length) — any
    // offset error breaks the gzip/WARC parse and the hash. The
    // shard-bytes join is the verification shape; a real sink streams.
    "q_warc_index" -> { (s, dir) =>
      import graft.sources.WarcGzip
      val id = col("doc_id").cast(LongType)
      val url = concat(lit("https://h"), pmod(id, lit(30L)),
        lit(".example.com/doc"), col("doc_id"))
      val recs = table(s, dir, "documents").select(
        pmod(id, lit(8L)).as("shard"), id.as("ord"), url.as("url"),
        WarcGzip.buildWarcResponseUdf(url, lit(1700000000L) + id,
          encode(col("text"), "UTF-8")).as("rec"))
      val idx = WarcGzip.indexShards(recs)
      val shards = WarcGzip.shardBytes(recs)
      idx.join(shards, "shard")
        .withColumn("p", WarcGzip.warcResponseUdf(
          WarcGzip.gzipMemberAtUdf(col("bytes"), col("offset"),
            col("length"))))
        .select(col("shard"), col("ord"), col("url"), col("surt_key"),
          col("p._1").as("reread_url"),
          length(col("p._4")).cast(LongType).as("n_chars"))
    },

    // Robots Sitemap: seed channel — global lines (never UA-group
    // scoped, per the sitemaps protocol), extracted around comments,
    // case variants and UA groups. Docs with doc_id%2==1 carry a second
    // sitemap line; every 7th file has none and must emit no rows.
    "q_robots_sitemaps" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val nl = lit("\n")
      val first = concat(lit("Sitemap: https://h"), pmod(id, lit(30L)),
        lit(".example.com/sitemap"), pmod(id, lit(3L)), lit(".xml"))
      val second = concat(lit("sitemap:https://h"), pmod(id, lit(30L)),
        lit(".example.com/news"), pmod(id, lit(4L)),
        lit(".xml # seasonal"))
      val content = concat(
        lit("User-agent: *"), nl, lit("Disallow: /tmp"), nl,
        when(pmod(id, lit(7L)) === 0, lit("# no sitemaps here"))
          .otherwise(concat(first,
            when(pmod(id, lit(2L)) === 1, concat(nl, second))
              .otherwise(lit("")))))
      graft.operators.Frontier.robotsSitemaps(
        table(s, dir, "documents").select(
          concat(lit("h"), id).as("host_key"), content.as("content")))
    },

    // Outlink extraction + RFC 3986-style resolution: each page carries
    // five keepable link shapes (root-relative, directory-relative,
    // ../ dot-segment, single-quoted protocol-relative, absolute with
    // an &amp; entity) and five droppable ones (mailto, fragment-only,
    // javascript, empty, rel=nofollow); every 11th page carries a
    // robots-meta nofollow and must emit NOTHING. The oracle replays
    // extraction, both nofollow gates, entity decode, the resolution
    // CASE and the bounded dot-segment passes.
    "q_outlinks" -> { (s, dir) =>
      val e = col("event_id")
      val pages = table(s, dir, "events").select(
        e,
        concat(lit("https://h"), pmod(col("user_id"), lit(20L)),
          lit(".example.com/d"), pmod(e, lit(5L)), lit("/s/page"),
          pmod(e, lit(7L)), lit(".html")).as("url"),
        concat(
          lit("<html>"),
          when(pmod(e, lit(11L)) === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          lit("<a rel=\"nofollow\" href=\"/paid"), pmod(e, lit(3L)),
          lit("\">pd</a>"),
          lit("<a href=\"/top"), pmod(e, lit(9L)), lit("\">t</a>"),
          lit("<a href=\"rel"), pmod(e, lit(4L)), lit(".html\">r</a>"),
          lit("<a href=\"../up"), pmod(e, lit(3L)), lit("\">u</a>"),
          lit("<a href='//cdn.example.org/x"), pmod(e, lit(5L)),
          lit("'>c</a>"),
          lit("<a href=\"https://ext.example.net/a?x=1&amp;y="),
          pmod(e, lit(2L)), lit("\">a</a>"),
          lit("<a href=\"mailto:x@y.z\">m</a><a href=\"#f\">f</a>" +
            "<a href=\"javascript:void(0)\">j</a><a href=\"\">e</a>" +
            "</html>")).as("html"))
      graft.operators.Links.outlinks(pages, "event_id", "url", "html")
    },

    // The discovery half of the crawl loop composed under ONE oracle:
    // fetched pages -> outlink extraction (nofollow honored) -> RFC 3986
    // resolution -> tracking-param strip -> distinct candidates ->
    // seen-set anti join -> per-host politeness waves (quota 5). Every
    // stage is the production operator; the oracle chains the SAME
    // regex/resolution/strip/window CTEs the per-stage oracles use
    // (q_outlinks / q_url_strip_tracking / q_seen_antijoin /
    // q_politeness_rank), composed.
    "q_frontier_pipeline" -> { (s, dir) =>
      val e = col("event_id")
      val pages = table(s, dir, "events").select(
        e,
        concat(lit("https://h"), pmod(col("user_id"), lit(20L)),
          lit(".example.com/d"), pmod(e, lit(5L)), lit("/s/page"),
          pmod(e, lit(7L)), lit(".html")).as("url"),
        concat(
          lit("<html>"),
          when(pmod(e, lit(11L)) === 0,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
            .otherwise(lit("")),
          lit("<a rel=\"nofollow\" href=\"/paid"), pmod(e, lit(3L)),
          lit("\">pd</a>"),
          lit("<a href=\"/top"), pmod(e, lit(9L)), lit("\">t</a>"),
          lit("<a href=\"rel"), pmod(e, lit(4L)), lit(".html\">r</a>"),
          lit("<a href=\"../up"), pmod(e, lit(3L)), lit("\">u</a>"),
          lit("<a href=\"/q?utm_source=m"), pmod(e, lit(4L)),
          lit("&amp;id="), pmod(e, lit(6L)), lit("\">q</a>"),
          lit("<a href='//cdn.example.org/x"), pmod(e, lit(5L)),
          lit("'>c</a>"),
          lit("<a href=\"mailto:x@y.z\">m</a><a href=\"#f\">f</a>" +
            "</html>")).as("html"))
      // pin the extraction ONCE: three consumers (seen derivation,
      // anti-join probe, rank) would otherwise each re-run the whole
      // regex/resolution chain (measured 27 s -> ~10 s at sf0.1)
      val cands = Pin(graft.operators.Links.frontierCandidates(
        pages, "event_id", "url", "html"))
      val seen = cands
        .filter(substring(md5(col("url")), 1, 1).isin("0", "1", "2", "3"))
        .select("url")
      val fresh = graft.operators.UrlDedup.antiJoinSeen(cands, seen, s)
      val ranked = graft.operators.Frontier.politenessRank(
        fresh.withColumn("host_key",
          graft.functions.Urls.hostCol(col("url"))),
        "host_key", Seq(asc("url")), quota = 5)
      ranked.select(col("host_key"), col("url"),
        col("wave").cast(LongType).as("wave"))
    },

    // Tracking-parameter stripping: utm_*/gclid/fbclid/... query pairs
    // removed, leading '?' re-promoted when its pair went, fragments
    // untouched (the '#utm_inside' case must survive). Collapses the
    // unbounded synthetic URL variants of one page before seen-hashing.
    "q_url_strip_tracking" -> { (s, dir) =>
      val base = concat(lit("https://h"), pmod(col("user_id"), lit(20L)),
        lit(".example.com/p"), pmod(col("event_id"), lit(50L)))
      val sel = pmod(col("event_id"), lit(5L))
      val url = concat(base, when(sel === 0, lit(""))
        .when(sel === 1, concat(lit("?utm_source=mail"), col("event_id"),
          lit("&id="), pmod(col("event_id"), lit(9L))))
        .when(sel === 2, concat(lit("?id="), pmod(col("event_id"), lit(9L)),
          lit("&fbclid=x"), col("event_id")))
        .when(sel === 3, concat(lit("?gclid=g"), col("event_id"),
          lit("&utm_campaign=c"), col("event_id"), lit("&page=2")))
        .otherwise(lit("?a=1#utm_inside=keep")))
      table(s, dir, "events").select(col("event_id"), url.as("url"),
        graft.functions.Urls.stripTrackingCol(url).as("clean_url"))
    },

    // RFC 3986 outlink resolution against a per-doc base: nine href
    // shapes (empty, path-relative, ../, ./ with query, rooted,
    // protocol-relative, absolute with dot-segments + fragment, opaque
    // mailto:, query-only) selected by doc_id%9. The oracle states each
    // case's resolved form in closed form; the generic algorithm (incl.
    // the RFC §5.4 reference vectors) is spec-verified in UrlsSpec.
    "q_url_resolve" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val base = concat(lit("https://www."), col("source"),
        lit(".example.com/a/b/index.html?x=1"))
      val href = element_at(array(
        lit(""),
        lit("img/photo.png"),
        lit("../up.html"),
        lit("./here.html?q=2"),
        lit("/rooted/x.html"),
        lit("//cdn.example.net/lib.js"),
        lit("https://other.org/p/../q.html#frag"),
        lit("mailto:admin@example.com"),
        lit("?only=query")), (pmod(id, lit(9L)) + 1).cast("int"))
      table(s, dir, "documents").select(col("doc_id"), base.as("base"),
        href.as("href"), Urls.resolveUrlCol(base, href).as("resolved"))
    },

    // Public-Suffix-List registered-domain extraction: eight host
    // shapes exercise normal rules, multi-label suffixes, wildcard
    // *.ck / *.kawasaki.jp zones, both ! exceptions, the no-rule TLD
    // fallback and the host-IS-a-suffix null case. The oracle replays
    // the full PSL algorithm (suffix candidates, wildcard-as-parent
    // match, exception-over-longest prevail) generically in SQL.
    "q_registered_domain" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val k = pmod(id, lit(20L)).cast("string")
      val host = element_at(array(
        concat(lit("www.foo"), k, lit(".com")),
        concat(lit("a.b.site"), k, lit(".co.uk")),
        concat(lit("user"), k, lit(".github.io")),
        lit("www.ck"),
        concat(lit("shop"), k, lit(".foo.ck")),
        lit("city.kawasaki.jp"),
        lit("x.y.z.kawasaki.jp"),
        when(pmod(id, lit(16L)) === 7, lit("co.uk"))
          .otherwise(concat(lit("unknown"), k, lit(".test")))),
        (pmod(id, lit(8L)) + 1).cast("int"))
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
      val rules = PublicSuffix.rulesDf(s, PslFixtureRules)
      PublicSuffix.registeredDomain(docs, "host", rules)
        .select(col("doc_id"), col("host"), col("public_suffix"),
          col("reg_domain"))
    },

    // Anchor-text aggregation: per link target, in-link totals and the
    // top-3 anchors by frequency ((cnt desc, anchor) deterministic).
    // The raw-link shuffle happens once, on (dst, anchor) — no
    // collect_list over raw links.
    "q_anchor_text" -> { (s, dir) =>
      val links = table(s, dir, "events").select(
        concat(lit("h"), pmod(col("user_id"), lit(20L))).as("src_host"),
        concat(lit("https://t"), pmod(col("event_id"), lit(40L)),
          lit(".org/")).as("dst"),
        element_at(array(lit("click here"), lit("read more"), lit("home"),
            lit("docs"), lit("api reference"), lit("blog")),
          (pmod(col("event_id"), lit(6L)) + 1).cast("int")).as("anchor"))
      graft.operators.HostRank.anchorText(links)
    },

    // Crawler-trap detection: synthesized URL mix per host — calendar
    // paths ('/cal/<event_id>/day', distinct per event), session-id
    // query strings ('/s?sid=<md5>'), and a bounded normal page set
    // ('/p<0..6>'). The first two generalize to one exploding template
    // each (~100 distinct URLs/host > 50), the normal set stays at 7.
    "q_trap_urls" -> { (s, dir) =>
      graft.operators.CrawlPolicy.trapTemplates(trapFixture(s, dir))
        .select(col("host"), col("template"), col("n_urls"), col("trap"))
    },

    // The gate: candidates inside flagged templates are dropped before
    // frontier scheduling (anti join against the tiny template table).
    "q_trap_gate" -> { (s, dir) =>
      val urls = trapFixture(s, dir)
      val traps = graft.operators.CrawlPolicy.trapTemplates(urls)
      graft.operators.CrawlPolicy.trapGate(urls, traps)
        .select(col("event_id"), col("url"))
    },

    // WARC revisit-record dedup: first capture per digest stays a
    // response, later captures become revisit records pointing at it.
    "q_warc_revisit" -> { (s, dir) =>
      val captures = table(s, dir, "events").select(
        concat(lit("u"), pmod(col("user_id"), lit(20L)), lit("/"),
          pmod(col("event_id"), lit(25L))).as("url"),
        unix_timestamp(col("ts")).as("fetch_epoch"),
        md5(pmod(col("event_id"), lit(150L)).cast("string")).as("digest"))
      graft.operators.CrawlPolicy.revisitRecords(captures)
    },

    // S2 ranged fetch through the PRODUCTION retry loop: the documents
    // table doubles as the remote store (file = doc_id, bytes = ASCII
    // text — the sandbox's network stand-in, NOT a data-path collect:
    // in production the transport reads external storage and nothing
    // ships from the driver). Each doc fetches two byte ranges through
    // Fetch.fetchBatches (per-partition transport, retry/backoff state
    // machine); the oracle recomputes the parts as substrings.
    "q_fetch_ranges" -> { (s, dir) =>
      import s.implicits._
      val store = table(s, dir, "documents")
        .select(col("doc_id").cast("string"), col("text"))
        .as[(String, String)].collect()
        .map { case (id, t) => id -> t.getBytes("US-ASCII") }.toMap
      val batches = table(s, dir, "documents")
        .select(col("doc_id").cast("string").as("file_name"))
        .select(col("file_name"), explode(array(
          struct(lit(4L).as("range_start"), lit(24L).as("range_end")),
          struct(lit(30L).as("range_start"), lit(40L).as("range_end"))))
          .as("r"))
        .select(col("file_name"), col("r.range_start"), col("r.range_end"))
      graft.sources.Fetch.fetchBatches(batches,
          () => graft.sources.Fetch.storeTransport(store, failFirst = 1),
          retries = 3, delayMs = 0)
        .select(col("file_name").cast(LongType).as("doc_id"),
                col("range_start"),
                md5(col("bytes")).as("part_md5"),
                length(col("bytes")).cast(LongType).as("n_bytes"))
    },

    // F4/F7/F8: URL canonicalization — percent-decode fixpoint, www strip,
    // netloc, SURT key, via the production column functions.
    "q_url_canonical" -> { (s, dir) =>
      val urls = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("https://www."), col("source"),
               lit(".example.com/d/a%2561b/"), col("doc_id")).as("url"))
      urls.select(
        col("doc_id"),
        Urls.canonicalUrlCol(col("url")).as("canon_url"),
        Urls.domainCol(col("url")).as("domain"),
        Urls.surtKeyCol(Urls.hostCol(col("url"))).as("surt_key"),
        Urls.bareUrlCol(col("url")).as("bare_url"))
    },

    // A0: URL-seen winner per URL (keep=biggest, strict-greater ties ->
    // earliest ord) via the production UrlDedup.winners aggregation.
    "q_urlseen_winners" -> { (s, dir) =>
      UrlDedup.winners(indexFrame(s, dir), "biggest")
        .select(col("url"), col("warc"), col("offset"), col("length"))
    },

    // J2: anti-join of "today's" URLs against the seen set (bloom
    // pre-pass + exact anti-join) via UrlDedup.antiJoinSeen.
    "q_seen_antijoin" -> { (s, dir) =>
      val idx  = indexFrame(s, dir)
      val seen = idx.filter(col("offset") < 5000).select("url").distinct()
      val neu  = idx.filter(col("offset") >= 5000)
      UrlDedup.antiJoinSeen(neu, seen, s)
        .select("url").distinct()
    },

    // O3: crawl-order global sort with contiguous ord, via the fused
    // winner window (A0+J3 in one shuffle) + crawlOrderByWarc, the
    // frontier job's path (per-warc group counts: no single-partition
    // window, no range sort, no pin) — oracled here so the job's
    // ordering stays driver-verified.
    "q_crawl_order" -> { (s, dir) =>
      val idx  = indexFrame(s, dir)
      val kept = UrlDedup.winnersKept(idx)
      UrlDedup.crawlOrderByWarc(kept).select("ord", "url", "warc", "offset")
    },

    // J8: robots gating — longest-prefix rules, allow-by-default — via
    // Frontier.robotsGate with an in-query rules table.
    "q_robots_gate" -> { (s, dir) =>
      import s.implicits._
      val cand = indexFrame(s, dir).select(
        regexp_extract(col("url"), "^https://([^/]*)", 1).as("host_key"),
        col("url"),
        regexp_extract(col("url"), "^https://[^/]*(/.*)$", 1).as("path"),
        col("offset"))
      // prefix rules: disallow /p1* on every 5th host, /p19 override;
      // RFC 9309 wildcard rules: every 4th host disallows paths ending
      // in 7 ("/p*7$"), with a longer allow override for /p77
      val rules = ((0 until 20).filter(_ % 5 == 0).flatMap { h =>
        Seq((s"h$h.example.com", "/p1", false),
            (s"h$h.example.com", "/p19", true))
      } ++ (0 until 20).filter(_ % 4 == 0).flatMap { h =>
        Seq((s"h$h.example.com", "/p*7$", false),
            (s"h$h.example.com", "/p*77$", true))
      }).toDF("host_key", "path_prefix", "allow")
      Frontier.robotsGate(cand, rules)
        .groupBy("host_key")
        .agg(count(lit(1)).as("n_allowed"),
             countDistinct(col("url")).as("n_urls"))
    },

    // RFC 9309 robots.txt PARSER (the input side of q_robots_gate):
    // synthesized robots files per host exercise comment stripping, an
    // inapplicable exact-agent group, group-boundary detection, the
    // empty-Disallow no-op and Crawl-delay; the oracle predicts the
    // chosen group's rules from the construction.
    "q_robots_parse" -> { (s, dir) =>
      val hosts = indexFrame(s, dir).select(
        regexp_extract(col("url"), "^https://([^/]*)", 1).as("host_key"))
        .distinct()
      val hn = regexp_extract(col("host_key"), "^h(\\d+)", 1).cast("long")
      val files = hosts.withColumn("content", concat(
        lit("# robots for "), col("host_key"),
        lit("\nUser-agent: googlebot\nDisallow: /gbot-only"),
        lit("\nUser-agent: *\nAllow: /pub"), hn,
        lit("\nDisallow: /priv"), hn,
        lit("\nCrawl-delay: "), pmod(hn, lit(5)) + 1,
        lit("\nDisallow:\n")))
      Frontier.robotsRules(files)
        .select("host_key", "path_prefix", "allow", "crawl_delay")
    },

    // Politeness ranking: per-host priority order + emission quota via
    // Frontier.politenessRank.
    "q_politeness_rank" -> { (s, dir) =>
      val cand = indexFrame(s, dir).select(
        regexp_extract(col("url"), "^https://([^/]*)", 1).as("host_key"),
        col("url"), col("offset"), col("length"))
      Frontier.politenessRank(
        cand, "host_key",
        Seq(desc("length"), asc("offset")), quota = 5)
        .select("host_key", "url", "offset", "wave")
    },

    // Politeness schedule as data: not_before = t0 + (wave-1) * per-host
    // crawl delay (hosts ending in an even digit get a 2 s delay, the
    // rest the reference's 1 s default) — the fetch-executor contract
    // that makes politeness a column, not a thread sleep.
    "q_schedule_waves" -> { (s, dir) =>
      val cand = indexFrame(s, dir).select(
        regexp_extract(col("url"), "^https://([^/]*)", 1).as("host_key"),
        col("url"), col("offset"), col("length"))
      val ranked = Frontier.politenessRank(
          cand, "host_key", Seq(desc("length"), asc("offset")), quota = 5)
        .withColumn("delay",
          when(pmod(regexp_extract(col("host_key"), "h(\\d+)", 1)
                      .cast(LongType), lit(2L)) === 0L, 2L).otherwise(1L))
      Frontier.scheduleWaves(ranked, lit(1700000000L), col("delay"))
        .select(col("host_key"), col("url"),
                col("wave").cast(LongType).as("wave"),
                col("not_before_epoch"))
    }
  )

  /** One unrolled PageRank iteration: rank table `in` -> `out`.
    * Teleport/damping constants are interpolated from the same Long
    * arithmetic the operator uses; `//` == Spark `DIV` on non-negative
    * Longs.
    */
  private def prIterCte(in: String, out: String, teleport: Long): String =
    s"""$out AS (
         SELECT n.host,
                $teleport + coalesce(sum(((c.r * 85) // 100) // c.deg), 0)
                  AS r
         FROM n LEFT JOIN (
           SELECT ed.dst, p.r, od.deg
           FROM ed JOIN $in p ON p.host = ed.src
           JOIN od ON od.src = ed.src) c ON c.dst = n.host
         GROUP BY 1)"""

  /** Homograph fixture hosts as explicit escapes (source-encoding-
    * proof): Cyrillic о in 'google', Cyrillic р/а/у in 'paypal'.
    */
  private object HomoglyphFixture {
    val spoofGoogle = "gооgle.com"
    val spoofPaypal = "рауpal.com"
  }

  /** One HITS iteration as chained CTEs (MATERIALIZED — inline chained
    * CTEs blow up exponentially in DuckDB's planner).
    */
  private def hitsIterCte(inH: String, tag: Int, scale: Long): String =
    s"""a${tag}raw AS MATERIALIZED (
         SELECT n.host, CAST(coalesce(sum(q.v), 0) AS BIGINT) AS raw
         FROM n LEFT JOIN (
           SELECT ed.dst AS g, p.v
           FROM ed JOIN $inH p ON p.host = ed.src) q ON q.g = n.host
         GROUP BY 1),
       a$tag AS MATERIALIZED (
         SELECT host,
                (raw * $scale) // (SELECT max(raw) FROM a${tag}raw) AS v
         FROM a${tag}raw),
       h${tag}raw AS MATERIALIZED (
         SELECT n.host, CAST(coalesce(sum(q.v), 0) AS BIGINT) AS raw
         FROM n LEFT JOIN (
           SELECT ed.src AS g, p.v
           FROM ed JOIN a$tag p ON p.host = ed.dst) q ON q.g = n.host
         GROUP BY 1),
       h$tag AS MATERIALIZED (
         SELECT host,
                (raw * $scale) // (SELECT max(raw) FROM h${tag}raw) AS v
         FROM h${tag}raw)"""

  private val hitsOracle: String = {
    val hN = 200L
    val scale = 1000000L
    s"""WITH ed AS MATERIALIZED (
         SELECT DISTINCT user_id % $hN AS src,
                ((user_id % $hN) * 17 + (event_id % 5) * 31 + 7) % $hN
                  AS dst
         FROM events
         WHERE user_id % $hN
               <> ((user_id % $hN) * 17 + (event_id % 5) * 31 + 7) % $hN),
       n AS (SELECT unnest(range($hN)) AS host),
       h0 AS (SELECT host, CAST($scale AS BIGINT) AS v FROM n),
       ${hitsIterCte("h0", 1, scale)},
       ${hitsIterCte("h1", 2, scale)},
       ${hitsIterCte("h2", 3, scale)}
       SELECT a3.host, a3.v AS auth_mu, h3.v AS hub_mu,
              round(CAST(a3.v AS DOUBLE) / $scale, 6) AS auth,
              round(CAST(h3.v AS DOUBLE) / $scale, 6) AS hub
       FROM a3 JOIN h3 ON a3.host = h3.host"""
  }

  private val prOracle: String = {
    val h = 200L
    val scale = 1000000000000L
    val tel = (scale * 15L / 100L) / h
    val init = scale / h
    s"""WITH ed AS MATERIALIZED (
         SELECT DISTINCT user_id % $h AS src,
                ((user_id % $h) * 17 + (event_id % 5) * 31 + 7) % $h AS dst
         FROM events
         WHERE user_id % $h
               <> ((user_id % $h) * 17 + (event_id % 5) * 31 + 7) % $h),
       od AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       n AS (SELECT unnest(range($h)) AS host),
       r0 AS (SELECT host, $init AS r FROM n),
       ${prIterCte("r0", "r1", tel)},
       ${prIterCte("r1", "r2", tel)},
       ${prIterCte("r2", "r3", tel)},
       ${prIterCte("r3", "r4", tel)},
       ${prIterCte("r4", "r5", tel)}
       SELECT host, CAST(r AS BIGINT) AS rank_mu,
              round(CAST(r AS DOUBLE) / $scale, 6) AS rank
       FROM r5"""
  }

  private val trustOracle: String = {
    val h = 200L
    val scale = 1000000000000L
    val nSeeds = 7L // hosts 0,29,58,87,116,145,174
    val telSeed = (scale * 15L / 100L) / nSeeds
    val init = scale / nSeeds
    def iter(in: String, out: String): String =
      s"""$out AS (
           SELECT n.host,
                  CASE WHEN n.host % 29 = 0 THEN $telSeed ELSE 0 END
                  + coalesce(sum(((c.r * 85) // 100) // c.deg), 0) AS r
           FROM n LEFT JOIN (
             SELECT ed.dst, p.r, od.deg
             FROM ed JOIN $in p ON p.host = ed.src
             JOIN od ON od.src = ed.src) c ON c.dst = n.host
           GROUP BY 1)"""
    s"""WITH ed AS MATERIALIZED (
         SELECT DISTINCT user_id % $h AS src,
                ((user_id % $h) * 17 + (event_id % 5) * 31 + 7) % $h AS dst
         FROM events
         WHERE user_id % $h
               <> ((user_id % $h) * 17 + (event_id % 5) * 31 + 7) % $h),
       od AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
       n AS (SELECT unnest(range($h)) AS host),
       r0 AS (SELECT host,
                     CASE WHEN host % 29 = 0 THEN $init ELSE 0 END AS r
              FROM n),
       ${iter("r0", "r1")},
       ${iter("r1", "r2")},
       ${iter("r2", "r3")},
       ${iter("r3", "r4")}
       SELECT host, CAST(r AS BIGINT) AS trust_mu,
              round(CAST(r AS DOUBLE) / $scale, 6) AS trust
       FROM r4"""
  }

  private val kcoreOracle: String = {
    val k = 6
    def round(i: Int): String =
      s"""e$i AS MATERIALIZED (
           SELECT e.a, e.b FROM e${i - 1} e
           JOIN k${i - 1} x ON x.host = e.a
           JOIN k${i - 1} y ON y.host = e.b),
         k$i AS MATERIALIZED (
           SELECT host, count(*) AS deg FROM (
             SELECT a AS host FROM e$i
             UNION ALL SELECT b AS host FROM e$i)
           GROUP BY 1 HAVING count(*) >= $k)"""
    s"""WITH raw AS (
         SELECT user_id % 200 AS src,
                ((user_id % 200) * 17 + (event_id % 5) * 31 + 7) % 200
                  AS dst
         FROM events),
       e1 AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM raw WHERE src <> dst),
       k1 AS MATERIALIZED (
         SELECT host, count(*) AS deg FROM (
           SELECT a AS host FROM e1 UNION ALL SELECT b AS host FROM e1)
         GROUP BY 1 HAVING count(*) >= $k),
       ${round(2)}, ${round(3)}, ${round(4)}, ${round(5)}, ${round(6)}
       SELECT host, deg FROM k6"""
  }

  val oracles: Map[String, String] = Map(
    "q_trustrank" -> trustOracle,
    "q_kcore_hosts" -> kcoreOracle,

    "q_mirror_hosts" ->
      """WITH d AS (
           SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END
                    || ((doc_id // 2) % 6) AS host,
                  md5(CASE WHEN doc_id % 13 = 0 THEN 'common'
                           WHEN (doc_id // 2) % 4 = 0
                             THEN 'm' || (doc_id // 2)
                           ELSE 'u' || doc_id END) AS digest
           FROM documents),
         hd AS (SELECT DISTINCT host, digest FROM d),
         keep AS (SELECT digest FROM hd GROUP BY 1 HAVING count(*) <= 8),
         k AS (SELECT hd.host, hd.digest FROM hd JOIN keep USING (digest)),
         sz AS (SELECT host, count(*) AS n FROM k GROUP BY 1),
         pairs AS (
           SELECT x.host AS host_a, y.host AS host_b,
                  count(*) AS n_shared
           FROM k x JOIN k y ON x.digest = y.digest AND x.host < y.host
           GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT p.host_a, p.host_b, p.n_shared, sa.n AS n_a, sb.n AS n_b,
                round(CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n), 6)
                  AS mirror_score
         FROM pairs p
         JOIN sz sa ON sa.host = p.host_a
         JOIN sz sb ON sb.host = p.host_b""",

    "q_dump_diff" ->
      """WITH e AS (
           SELECT 'u' || event_id AS url, event_id AS eid, props
           FROM events),
         prev AS (
           SELECT url, md5(props) AS d FROM e WHERE eid % 7 <> 0),
         cur AS (
           SELECT url, md5(props ||
                    CASE WHEN eid % 3 = 0 THEN 'x' ELSE '' END) AS d
           FROM e WHERE eid % 5 <> 0)
         SELECT coalesce(prev.url, cur.url) AS url,
                CASE WHEN prev.url IS NULL THEN 'added'
                     WHEN cur.url IS NULL THEN 'removed'
                     WHEN prev.d = cur.d THEN 'same'
                     ELSE 'changed' END AS status
         FROM prev FULL OUTER JOIN cur ON prev.url = cur.url""",

    "q_redirect_resolve" ->
      """WITH RECURSIVE
           nodes AS (SELECT DISTINCT event_id % 4096 AS i FROM events),
           edges AS (
             SELECT i AS src,
                    CASE WHEN i % 100 = 55 THEN i + 1 ELSE i - 1 END AS dst
             FROM nodes WHERE i % 64 <> 0),
           walk AS (
             SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM edges
             UNION ALL
             SELECT w.src, e.dst, w.hops + 1
             FROM walk w JOIN edges e ON w.cur = e.src
             WHERE w.hops < 16),
           term AS (
             SELECT w.src, w.cur, w.hops FROM walk w
             WHERE w.cur NOT IN (SELECT src FROM edges))
         SELECT e.src, t.cur AS final_id, t.hops,
                t.src IS NOT NULL AS resolved
         FROM edges e LEFT JOIN term t ON e.src = t.src""",

    // CTEs p..r mirror q_outlinks (same fixture + one tracking-param
    // anchor); stripped mirrors q_url_strip_tracking; fresh/ranked
    // mirror q_seen_antijoin / q_politeness_rank.
    "q_frontier_pipeline" ->
      """WITH p AS (
           SELECT event_id,
                  'https://h' || (user_id % 20) || '.example.com/d' ||
                  (event_id % 5) || '/s/page' || (event_id % 7) || '.html'
                    AS url,
                  '<html>' ||
                  CASE WHEN event_id % 11 = 0
                       THEN '<meta name="robots" ' ||
                            'content="noindex, nofollow">'
                       ELSE '' END ||
                  '<a rel="nofollow" href="/paid' || (event_id % 3) ||
                  '">pd</a>' ||
                  '<a href="/top' || (event_id % 9) || '">t</a>' ||
                  '<a href="rel' || (event_id % 4) || '.html">r</a>' ||
                  '<a href="../up' || (event_id % 3) || '">u</a>' ||
                  '<a href="/q?utm_source=m' || (event_id % 4) ||
                  '&amp;id=' || (event_id % 6) || '">q</a>' ||
                  '<a href=''//cdn.example.org/x' || (event_id % 5) ||
                  '''>c</a>' ||
                  '<a href="mailto:x@y.z">m</a><a href="#f">f</a>' ||
                  '</html>' AS html
           FROM events),
         tg AS (
           SELECT event_id, url,
                  unnest(regexp_extract_all(html, '(?i)<a\s[^>]*>'))
                    AS tag
           FROM p
           WHERE NOT regexp_matches(html,
             '(?i)<meta\s[^>]*name\s*=\s*["'']?robots["'']?[^>]*' ||
             'content\s*=\s*["''][^"'']*nofollow')),
         h AS (
           SELECT event_id, url,
                  CASE WHEN regexp_extract(tag,
                         '(?i)href\s*=\s*"([^"]*)"', 1) <> ''
                       THEN regexp_extract(tag,
                         '(?i)href\s*=\s*"([^"]*)"', 1)
                       ELSE regexp_extract(tag,
                         '(?i)href\s*=\s*''([^'']*)''', 1) END AS raw
           FROM tg
           WHERE NOT regexp_matches(tag,
             '(?i)rel\s*=\s*["'']?[^"''>]*nofollow')),
         d AS (
           SELECT event_id, url,
                  replace(replace(replace(replace(replace(raw,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&apos;', ''''), '&amp;', '&') AS href
           FROM h),
         parts AS (
           SELECT event_id, url, href,
                  regexp_extract(url,
                    '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS scheme,
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host,
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                    AS path
           FROM d),
         j AS (
           SELECT event_id, url,
                  CASE
                    WHEN regexp_matches(href, '^(?i)(https?)://') THEN href
                    WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
                      THEN NULL
                    WHEN href LIKE '//%' THEN scheme || ':' || href
                    WHEN href LIKE '/%' THEN scheme || '://' || host || href
                    WHEN href = '' OR href LIKE '#%' THEN NULL
                    ELSE scheme || '://' || host ||
                         CASE WHEN path = '' THEN '/'
                              ELSE regexp_replace(path, '[^/]*$', '') END ||
                         regexp_replace(href, '^(\./)+', '')
                  END AS link0
           FROM parts),
         r AS (
           SELECT event_id, url,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(link0, '#.*$', ''),
                    '/[^/.][^/]*/\.\./', '/', 'g'),
                    '/[^/.][^/]*/\.\./', '/', 'g'),
                    '/[^/.][^/]*/\.\./', '/', 'g'),
                    '/[^/.][^/]*/\.\./', '/', 'g') AS link
           FROM j WHERE link0 IS NOT NULL),
         stripped AS (
           SELECT DISTINCT
                  regexp_replace(
                    regexp_replace(link,
                      '[?&](?:utm_[^=&#]*|gclid|fbclid|msclkid|mc_eid|igshid|yclid|_ga|ref_src)=[^&#]*',
                      '', 'g'),
                    '^([^?#]+)&', '\1?') AS url
           FROM r),
         fresh AS (
           SELECT url FROM stripped
           WHERE substr(md5(url), 1, 1) NOT IN ('0', '1', '2', '3')),
         ranked AS (
           SELECT regexp_extract(url,
                    '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1)
                    AS host_key,
                  url,
                  CAST(row_number() OVER (
                    PARTITION BY regexp_extract(url,
                      '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1)
                    ORDER BY url) AS BIGINT) AS wave
           FROM fresh)
         SELECT host_key, url, wave FROM ranked WHERE wave <= 5""",

    "q_soft404" ->
      s"""WITH pg AS (
           SELECT doc_id AS page_id,
                  CASE WHEN doc_id % 4 = 3 THEN 404 ELSE 200 END
                    AS status,
                  CASE doc_id % 4
                    WHEN 1 THEN '<html><title>404 - Page Not Found</title>'
                                || text || '</html>'
                    WHEN 2 THEN '<html><h1>This page no longer exists</h1>'
                                || text || '</html>'
                    ELSE '<html><title>Welcome</title>' || text
                         || '</html>'
                  END AS html
           FROM documents)
         SELECT page_id, status,
                (status = 200 AND regexp_matches(html,
                  '(?i)<(?:title|h1)>[^<]*(?:404|page not found|not found|no longer (?:exists|available)|page does not exist)'))
                  AS soft404,
                (status >= 400 OR (status = 200 AND regexp_matches(html,
                  '(?i)<(?:title|h1)>[^<]*(?:404|page not found|not found|no longer (?:exists|available)|page does not exist)')))
                  AS gone
         FROM pg""",

    "q_homoglyph" -> {
      val sg = HomoglyphFixture.spoofGoogle
      val sp = HomoglyphFixture.spoofPaypal
      s"""WITH h AS (
           SELECT doc_id,
                  CASE doc_id % 4
                    WHEN 0 THEN 'google.com'
                    WHEN 1 THEN '$sg'
                    WHEN 2 THEN 'shop' || doc_id || '.example.com'
                    ELSE '$sp'
                  END AS host
           FROM documents),
         sk AS (
           SELECT doc_id, host,
                  ${Urls.homoglyphSkeletonSql("host")} AS skeleton
           FROM h)
         SELECT doc_id, host, skeleton,
                (skeleton IN ('google.com', 'paypal.com')
                 AND host NOT IN ('google.com', 'paypal.com')) AS spoof
         FROM sk"""
    },

    "q_canonical_dedup" ->
      """WITH pg AS (
           SELECT doc_id AS page_id,
                  'https://h' || (doc_id % 20) || '.example.com/p' || doc_id
                    AS url,
                  (doc_id % 20) AS hn,
                  '<html>' || CASE doc_id % 5
                    WHEN 0 THEN ''
                    WHEN 1 THEN '<link rel="canonical" href="https://h0.example.com/canon/'
                                || (doc_id - doc_id % 5) || '">'
                    WHEN 2 THEN '<link href="/canon/' || (doc_id - doc_id % 5)
                                || '" rel="canonical">'
                    WHEN 3 THEN '<meta name="robots" content="noindex"><link rel="canonical" href="/canon/'
                                || (doc_id - doc_id % 5) || '">'
                    ELSE '<link rel=canonical href="/canon/'
                         || (doc_id - doc_id % 5) || '">'
                  END || text || '</html>' AS html
           FROM documents),
         ext AS (
           SELECT page_id, url, hn, html,
                  CASE WHEN regexp_extract(html,
                         '(?i)<link\s[^>]*rel\s*=\s*["'']?canonical["'']?[^>]*href\s*=\s*["'']([^"'']*)["'']',
                         1) <> ''
                       THEN regexp_extract(html,
                         '(?i)<link\s[^>]*rel\s*=\s*["'']?canonical["'']?[^>]*href\s*=\s*["'']([^"'']*)["'']',
                         1)
                       ELSE regexp_extract(html,
                         '(?i)<link\s[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*rel\s*=\s*["'']?canonical',
                         1)
                  END AS href
           FROM pg
           WHERE NOT regexp_matches(html,
             '(?i)<meta\s[^>]*name\s*=\s*["'']?robots["'']?[^>]*content\s*=\s*["''][^"'']*noindex')),
         canon AS (
           SELECT page_id, html,
                  CASE WHEN href = '' THEN url
                       WHEN href LIKE 'http%' THEN href
                       ELSE 'https://h' || hn || '.example.com' || href
                  END AS canonical
           FROM ext),
         ranked AS (
           SELECT canonical, page_id,
                  row_number() OVER (PARTITION BY canonical
                    ORDER BY length(html) DESC, page_id ASC) AS rn,
                  count(*) OVER (PARTITION BY canonical) AS n_members
           FROM canon)
         SELECT canonical, page_id AS winner_id, n_members
         FROM ranked WHERE rn = 1""",

    "q_bfs_depth" ->
      """WITH RECURSIVE
           ed AS (
             SELECT DISTINCT user_id % 200 AS src,
                    ((user_id % 200) * 17 + (event_id % 5) * 31 + 7) % 200
                      AS dst
             FROM events),
           seeds AS (
             SELECT unnest(range(200)) AS host),
           walk AS (
             SELECT host, CAST(0 AS BIGINT) AS depth
             FROM seeds WHERE host % 37 = 0
             UNION ALL
             SELECT e.dst, w.depth + 1
             FROM walk w JOIN ed e ON e.src = w.host
             WHERE w.depth < 4)
         SELECT host, min(depth) AS depth FROM walk GROUP BY 1""",

    "q_triangle_hosts" ->
      """WITH raw AS (
           SELECT user_id % 200 AS src,
                  ((user_id % 200) * 17 + (event_id % 5) * 31 + 7) % 200
                    AS dst
           FROM events),
         e AS (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM raw WHERE src <> dst),
         t AS (
           SELECT ab.a AS x, ab.b AS y, bc.b AS z
           FROM e ab
           JOIN e bc ON bc.a = ab.b
           JOIN e ac ON ac.a = ab.a AND ac.b = bc.b),
         ex AS (SELECT unnest([x, y, z]) AS host FROM t)
         SELECT host, count(*) AS n_triangles FROM ex GROUP BY 1""",

    "q_link_signals" ->
      """WITH raw AS (
           SELECT user_id % 200 AS src,
                  ((user_id % 200) * 17 + (event_id % 5) * 31 + 7) % 200
                    AS dst
           FROM events),
         ed AS (SELECT DISTINCT src AS s, dst AS t FROM raw
                WHERE src <> dst),
         o AS (SELECT s AS host, count(*) AS out_deg FROM ed GROUP BY 1),
         i AS (SELECT t AS host, count(*) AS in_deg FROM ed GROUP BY 1),
         r AS (SELECT e1.s AS host, count(*) AS n_reciprocal
               FROM ed e1 JOIN ed e2 ON e1.s = e2.t AND e1.t = e2.s
               GROUP BY 1)
         SELECT coalesce(o.host, i.host) AS host,
                coalesce(out_deg, 0) AS out_deg,
                coalesce(in_deg, 0) AS in_deg,
                coalesce(n_reciprocal, 0) AS n_reciprocal
         FROM o FULL OUTER JOIN i ON o.host = i.host
         LEFT JOIN r ON coalesce(o.host, i.host) = r.host""",

    "q_hits_hosts" -> hitsOracle,
    "q_pagerank_hosts" -> prOracle,

    "q_rank_corr" ->
      """WITH h AS (
           SELECT user_id % 200 AS host, count(*)::BIGINT AS a,
                  CAST(max(event_id) AS BIGINT) AS b
           FROM events GROUP BY 1),
         r AS (
           SELECT host,
                  CAST(row_number() OVER (ORDER BY a DESC, host ASC)
                       AS BIGINT) AS ra,
                  CAST(row_number() OVER (ORDER BY b DESC, host ASC)
                       AS BIGINT) AS rb
           FROM h),
         s AS (
           SELECT count(*)::BIGINT AS n,
                  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
           FROM r)
         SELECT n, sum_d2,
                CASE WHEN n > 1
                     THEN round(1.0e0 - CAST(6 * sum_d2 AS DOUBLE)
                                / CAST(n * (n * n - 1) AS DOUBLE), 6)
                     ELSE 1.0e0 END AS rho
         FROM s""",
    "q_graph_mixing" ->
      """WITH ed AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT user_id % 200 AS src,
                    ((user_id % 200) * 17 + (event_id % 5) * 31 + 7)
                      % 200 AS dst
             FROM events
             UNION ALL
             SELECT ((user_id % 200) * 17 + (event_id % 5) * 31 + 7)
                      % 200,
                    user_id % 200
             FROM events WHERE event_id % 3 = 0)
           WHERE src <> dst),
         od AS (SELECT src, count(*)::BIGINT AS xd FROM ed GROUP BY 1),
         idg AS (SELECT dst, count(*)::BIGINT AS yd FROM ed GROUP BY 1),
         s AS (
           SELECT count(*)::BIGINT AS m,
                  CAST(sum(xd) AS BIGINT) AS sx,
                  CAST(sum(yd) AS BIGINT) AS sy,
                  CAST(sum(xd * yd) AS BIGINT) AS sxy,
                  CAST(sum(xd * xd) AS BIGINT) AS sxx,
                  CAST(sum(yd * yd) AS BIGINT) AS syy
           FROM ed JOIN od USING (src) JOIN idg USING (dst)),
         rc AS (
           SELECT count(*)::BIGINT AS nr
           FROM ed f JOIN ed r ON f.src = r.dst AND f.dst = r.src)
         SELECT s.m AS n_edges, rc.nr AS n_reciprocal,
                round(CAST(rc.nr AS DOUBLE) / CAST(s.m AS DOUBLE), 6)
                  AS reciprocity,
                CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                     THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
                                / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                                       * CAST(m * syy - sy * sy
                                              AS DOUBLE)), 6)
                     ELSE 0.0e0 END AS assortativity
         FROM s, rc""",
    "q_bowtie" ->
      """WITH RECURSIVE ed AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM (
             SELECT user_id % 90 AS src,
                    ((user_id % 90) * 7 + (event_id % 4) * 13 + 11) % 90
                      AS dst
             FROM events
             WHERE ((user_id % 90) * 7 + (event_id % 4) * 13 + 11) % 90
                   > user_id % 90
             UNION ALL
             SELECT 40 + user_id % 10, 40 + (user_id + 1) % 10
             FROM events WHERE event_id % 7 = 0)),
         n AS (SELECT src AS v FROM ed UNION SELECT dst FROM ed),
         reach(a, b) AS (
           SELECT v, v FROM n
           UNION
           SELECT r.a, e.dst FROM reach r JOIN ed e ON e.src = r.b),
         ids AS MATERIALIZED (
           SELECT r1.a AS host, min(r1.b) AS scc_id
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY 1),
         sz AS (SELECT scc_id, count(*)::BIGINT AS scc_size
                FROM ids GROUP BY 1),
         core AS (SELECT scc_id FROM sz
                  ORDER BY scc_size DESC, scc_id ASC LIMIT 1),
         ch AS MATERIALIZED (
           SELECT host FROM ids
           WHERE scc_id = (SELECT scc_id FROM core))
         SELECT i.host, i.scc_id,
                CASE WHEN i.scc_id = (SELECT scc_id FROM core)
                       THEN 'core'
                     WHEN EXISTS (SELECT 1 FROM reach r
                                  JOIN ch ON ch.host = r.b
                                  WHERE r.a = i.host) THEN 'in'
                     WHEN EXISTS (SELECT 1 FROM reach r
                                  JOIN ch ON ch.host = r.a
                                  WHERE r.b = i.host) THEN 'out'
                     ELSE 'other' END AS part
         FROM ids i""",
    "q_scc_hosts" ->
      """WITH RECURSIVE ed AS MATERIALIZED (
           SELECT DISTINCT user_id % 100 AS a,
                  ((user_id % 100) * 17 + (event_id % 5) * 31 + 7) % 100
                    AS b
           FROM events
           WHERE user_id % 100
                 <> ((user_id % 100) * 17 + (event_id % 5) * 31 + 7)
                    % 100),
         n AS (SELECT a AS v FROM ed UNION SELECT b FROM ed),
         reach(a, b) AS (
           SELECT v, v FROM n
           UNION
           SELECT r.a, e.b FROM reach r JOIN ed e ON e.a = r.b),
         ids AS (
           SELECT r1.a AS host, min(r1.b) AS scc_id
           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
           GROUP BY 1),
         sz AS (SELECT scc_id, count(*)::BIGINT AS scc_size
                FROM ids GROUP BY 1)
         SELECT ids.host, ids.scc_id, sz.scc_size
         FROM ids JOIN sz USING (scc_id)""",
    "q_two_hop" ->
      """WITH ed AS MATERIALIZED (
           SELECT DISTINCT user_id % 200 AS a,
                  ((user_id % 200) * 17 + (event_id % 5) * 31 + 7) % 200
                    AS b
           FROM events
           WHERE user_id % 200
                 <> ((user_id % 200) * 17 + (event_id % 5) * 31 + 7)
                    % 200),
         one AS (SELECT a AS node, count(*)::BIGINT AS n_1hop
                 FROM ed GROUP BY 1),
         two AS (
           SELECT t.a AS node, count(*)::BIGINT AS n_2hop_new FROM (
             SELECT DISTINCT e1.a, e2.b AS c
             FROM ed e1 JOIN ed e2 ON e1.b = e2.a
             WHERE e1.a <> e2.b) t
           LEFT JOIN ed d ON d.a = t.a AND d.b = t.c
           WHERE d.a IS NULL
           GROUP BY 1)
         SELECT one.node, one.n_1hop,
                coalesce(two.n_2hop_new, 0)::BIGINT AS n_2hop_new
         FROM one LEFT JOIN two USING (node)""",

    "q_charset_decode" ->
      """SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN 'utf-8'
                  WHEN 1 THEN 'utf-8'
                  WHEN 2 THEN 'utf-16le'
                  WHEN 3 THEN 'iso-8859-1'
                  ELSE 'windows-1252'
                END AS charset,
                CASE doc_id % 5
                  WHEN 0 THEN text
                  WHEN 1 THEN 'caf' || chr(233) || ' ' || text
                  WHEN 2 THEN 'w' || (doc_id % 10)
                  WHEN 3 THEN '<meta charset=iso-8859-1>caf' || chr(233)
                  ELSE 'it' || chr(8217) || 's ' || text
                END AS text,
                CAST(length(CASE doc_id % 5
                  WHEN 0 THEN text
                  WHEN 1 THEN 'caf' || chr(233) || ' ' || text
                  WHEN 2 THEN 'w' || (doc_id % 10)
                  WHEN 3 THEN '<meta charset=iso-8859-1>caf' || chr(233)
                  ELSE 'it' || chr(8217) || 's ' || text
                END) AS BIGINT) AS n_chars
         FROM documents""",

    "q_sitemap_urls" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 30 AS host, doc_id % 9 + 1 AS m,
                  doc_id % 3 + 1 AS n
           FROM documents),
         x AS (
           SELECT doc_id AS sitemap_id,
                  CASE WHEN doc_id % 10 = 0 THEN
                    '<sitemapindex>' || array_to_string(
                      list_transform(range(0, n), k ->
                        '<sitemap><loc>https://h' || host || '/sitemap'
                        || k || '.xml</loc></sitemap>'), '')
                    || '</sitemapindex>'
                  ELSE
                    '<urlset>' || array_to_string(
                      list_transform(range(0, n), k ->
                        '<url><loc>https://h' || host || '/p'
                        || (doc_id * 3 + k) || '?a=1&amp;b=' || k
                        || '</loc><lastmod>2024-0' || m || '-0'
                        || (k + 1) || '</lastmod></url>'), '')
                    || '</urlset>'
                  END AS xml
           FROM d),
         u AS (
           SELECT sitemap_id, 'url' AS kind,
                  unnest(regexp_extract_all(
                    regexp_extract(xml,
                      '(?s)<urlset(?:\s[^>]*)?>(.*)</urlset>', 1),
                    '(?s)<url(?:\s[^>]*)?>(.*?)</url>', 1)) AS e
           FROM x
           UNION ALL
           SELECT sitemap_id, 'sitemap' AS kind,
                  unnest(regexp_extract_all(
                    regexp_extract(xml,
                      '(?s)<sitemapindex(?:\s[^>]*)?>(.*)</sitemapindex>',
                      1),
                    '(?s)<sitemap(?:\s[^>]*)?>(.*?)</sitemap>', 1)) AS e
           FROM x)
         SELECT sitemap_id, kind,
                replace(replace(replace(replace(replace(
                  trim(regexp_extract(e,
                    '(?s)<loc(?:\s[^>]*)?>(.*?)</loc>', 1)),
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&apos;', ''''), '&amp;', '&') AS url,
                trim(regexp_extract(e,
                  '(?s)<lastmod(?:\s[^>]*)?>(.*?)</lastmod>', 1))
                  AS lastmod
         FROM u
         WHERE trim(regexp_extract(e,
                 '(?s)<loc(?:\s[^>]*)?>(.*?)</loc>', 1)) <> ''""",

    "q_index_acquire" ->
      """SELECT 'com,example,h' || (user_id % 20) || ')/p' ||
                (event_id % 100) AS surt_path,
                event_id AS ts
         FROM events
         WHERE user_id % 20 = 7""",

    "q_warc_index" ->
      """WITH u AS (
           SELECT CAST(doc_id AS BIGINT) AS id, text,
                  'https://h' || (CAST(doc_id AS BIGINT) % 30) ||
                  '.example.com/doc' || doc_id AS url,
                  'h' || (CAST(doc_id AS BIGINT) % 30) ||
                  '.example.com' AS host
           FROM documents)
         SELECT id % 8 AS shard, id AS ord, url,
                array_to_string(list_reverse(string_split(host, '.')),
                                ',') AS surt_key,
                url AS reread_url,
                CAST(length(text) AS BIGINT) AS n_chars
         FROM u""",

    "q_warc_roundtrip" ->
      """SELECT doc_id,
           'https://h' || (CAST(doc_id AS BIGINT) % 30) ||
           '.example.com/doc' || doc_id AS url,
           CAST(200 AS INT) AS status,
           'text/html' AS mime,
           text AS body,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents""",

    "q_robots_sitemaps" ->
      """WITH f AS (
           SELECT 'h' || CAST(doc_id AS BIGINT) AS host_key,
                  'User-agent: *' || chr(10) || 'Disallow: /tmp' ||
                  chr(10) ||
                  CASE WHEN CAST(doc_id AS BIGINT) % 7 = 0
                       THEN '# no sitemaps here'
                       ELSE 'Sitemap: https://h' ||
                            (CAST(doc_id AS BIGINT) % 30) ||
                            '.example.com/sitemap' ||
                            (CAST(doc_id AS BIGINT) % 3) || '.xml' ||
                            CASE WHEN CAST(doc_id AS BIGINT) % 2 = 1
                                 THEN chr(10) || 'sitemap:https://h' ||
                                      (CAST(doc_id AS BIGINT) % 30) ||
                                      '.example.com/news' ||
                                      (CAST(doc_id AS BIGINT) % 4) ||
                                      '.xml # seasonal'
                                 ELSE '' END
                  END AS content
           FROM documents),
         l AS (
           SELECT host_key,
                  trim(regexp_replace(
                    unnest(string_split(content, chr(10))),
                    '#.*$', '')) AS line
           FROM f)
         SELECT host_key,
                trim(substr(line, position(':' IN line) + 1))
                  AS sitemap_url
         FROM l WHERE lower(line) LIKE 'sitemap:%'""",

    "q_outlinks" ->
      s"""WITH p AS (
           SELECT event_id,
                  'https://h' || (user_id % 20) || '.example.com/d' ||
                  (event_id % 5) || '/s/page' || (event_id % 7) || '.html'
                    AS url,
                  '<html>' ||
                  CASE WHEN event_id % 11 = 0
                       THEN '<meta name="robots" ' ||
                            'content="noindex, nofollow">'
                       ELSE '' END ||
                  '<a rel="nofollow" href="/paid' || (event_id % 3) ||
                  '">pd</a>' ||
                  '<a href="/top' || (event_id % 9) || '">t</a>' ||
                  '<a href="rel' || (event_id % 4) || '.html">r</a>' ||
                  '<a href="../up' || (event_id % 3) || '">u</a>' ||
                  '<a href=''//cdn.example.org/x' || (event_id % 5) ||
                  '''>c</a>' ||
                  '<a href="https://ext.example.net/a?x=1&amp;y=' ||
                  (event_id % 2) || '">a</a>' ||
                  '<a href="mailto:x@y.z">m</a><a href="#f">f</a>' ||
                  '<a href="javascript:void(0)">j</a><a href="">e</a>' ||
                  '</html>' AS html
           FROM events),
         tg AS (
           SELECT event_id, url,
                  unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*>'))
                    AS tag
           FROM p
           WHERE NOT regexp_matches(html,
             '(?i)<meta\\s[^>]*name\\s*=\\s*["'']?robots["'']?[^>]*' ||
             'content\\s*=\\s*["''][^"'']*nofollow')),
         h AS (
           SELECT event_id, url,
                  CASE WHEN regexp_extract(tag,
                         '(?i)href\\s*=\\s*"([^"]*)"', 1) <> ''
                       THEN regexp_extract(tag,
                         '(?i)href\\s*=\\s*"([^"]*)"', 1)
                       ELSE regexp_extract(tag,
                         '(?i)href\\s*=\\s*''([^'']*)''', 1) END AS raw
           FROM tg
           WHERE NOT regexp_matches(tag,
             '(?i)rel\\s*=\\s*["'']?[^"''>]*nofollow')),
         d AS (
           SELECT event_id, url,
                  replace(replace(replace(replace(replace(raw,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&apos;', ''''), '&amp;', '&') AS href
           FROM h),
         parts AS (
           SELECT event_id, url, href,
                  regexp_extract(url,
                    '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS scheme,
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS host,
                  regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                    AS path
           FROM d),
         j AS (
           SELECT event_id, url,
                  CASE
                    WHEN regexp_matches(href, '^(?i)(https?)://') THEN href
                    WHEN regexp_matches(href, '^[a-zA-Z][a-zA-Z0-9+.-]*:')
                      THEN NULL
                    WHEN href LIKE '//%' THEN scheme || ':' || href
                    WHEN href LIKE '/%' THEN scheme || '://' || host || href
                    WHEN href = '' OR href LIKE '#%' THEN NULL
                    ELSE scheme || '://' || host ||
                         CASE WHEN path = '' THEN '/'
                              ELSE regexp_replace(path, '[^/]*$$', '') END ||
                         regexp_replace(href, '^(\\./)+', '')
                  END AS link0
           FROM parts),
         r AS (
           SELECT event_id, url,
                  regexp_replace(regexp_replace(regexp_replace(
                    regexp_replace(regexp_replace(link0, '#.*$$', ''),
                    '/[^/.][^/]*/\\.\\./', '/', 'g'),
                    '/[^/.][^/]*/\\.\\./', '/', 'g'),
                    '/[^/.][^/]*/\\.\\./', '/', 'g'),
                    '/[^/.][^/]*/\\.\\./', '/', 'g') AS link
           FROM j WHERE link0 IS NOT NULL)
         SELECT DISTINCT event_id, url, link FROM r""",

    "q_url_resolve" ->
      """WITH d AS (
           SELECT doc_id,
                  'https://www.' || source || '.example.com' AS r,
                  'https://www.' || source ||
                    '.example.com/a/b/index.html?x=1' AS base,
                  CAST(doc_id AS BIGINT) % 9 AS c
           FROM documents)
         SELECT doc_id, base,
                CASE c WHEN 0 THEN ''
                       WHEN 1 THEN 'img/photo.png'
                       WHEN 2 THEN '../up.html'
                       WHEN 3 THEN './here.html?q=2'
                       WHEN 4 THEN '/rooted/x.html'
                       WHEN 5 THEN '//cdn.example.net/lib.js'
                       WHEN 6 THEN 'https://other.org/p/../q.html#frag'
                       WHEN 7 THEN 'mailto:admin@example.com'
                       ELSE '?only=query' END AS href,
                CASE c WHEN 0 THEN base
                       WHEN 1 THEN r || '/a/b/img/photo.png'
                       WHEN 2 THEN r || '/a/up.html'
                       WHEN 3 THEN r || '/a/b/here.html?q=2'
                       WHEN 4 THEN r || '/rooted/x.html'
                       WHEN 5 THEN 'https://cdn.example.net/lib.js'
                       WHEN 6 THEN 'https://other.org/q.html'
                       WHEN 7 THEN 'mailto:admin@example.com'
                       ELSE r || '/a/b/index.html?only=query' END
                  AS resolved
         FROM d""",

    "q_registered_domain" ->
      """WITH h AS (
           SELECT doc_id,
                  CASE CAST(doc_id AS BIGINT) % 8
                    WHEN 0 THEN 'www.foo' || (doc_id % 20) || '.com'
                    WHEN 1 THEN 'a.b.site' || (doc_id % 20) || '.co.uk'
                    WHEN 2 THEN 'user' || (doc_id % 20) || '.github.io'
                    WHEN 3 THEN 'www.ck'
                    WHEN 4 THEN 'shop' || (doc_id % 20) || '.foo.ck'
                    WHEN 5 THEN 'city.kawasaki.jp'
                    WHEN 6 THEN 'x.y.z.kawasaki.jp'
                    ELSE CASE WHEN doc_id % 16 = 7 THEN 'co.uk'
                              ELSE 'unknown' || (doc_id % 20) || '.test'
                         END
                  END AS host
           FROM documents),
         rules(key, kind) AS (
           VALUES ('com','n'),('uk','n'),('co.uk','n'),('github.io','n'),
                  ('ck','w'),('www.ck','e'),('jp','n'),
                  ('kawasaki.jp','w'),('city.kawasaki.jp','e')),
         l AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
         c AS (SELECT doc_id, ls, len(ls) AS nl,
                      unnest(range(1, len(ls) + 1)) AS i
               FROM l),
         sx AS (SELECT doc_id, i,
                       array_to_string(ls[(nl-i+1):nl], '.') AS sfx,
                       CASE WHEN i > 1
                            THEN array_to_string(ls[(nl-i+2):nl], '.')
                            ELSE '' END AS par
                FROM c),
         m AS (
           SELECT doc_id,
                  CASE WHEN r.kind = 'e' THEN 1 ELSE 0 END AS exc,
                  CASE WHEN r.kind = 'e' THEN i - 1 ELSE i END AS psn,
                  CASE WHEN r.kind = 'e' THEN par ELSE sfx END AS ps
           FROM sx JOIN rules r
             ON (r.kind IN ('n','e') AND sfx = r.key)
             OR (r.kind = 'w' AND par = r.key)),
         b AS (
           SELECT doc_id, psn, ps,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY exc DESC, psn DESC, ps DESC) AS rn
           FROM m)
         SELECT l.doc_id, l.host,
                coalesce(b.ps, l.ls[len(l.ls)]) AS public_suffix,
                CASE WHEN len(l.ls) > coalesce(b.psn, 1)
                     THEN array_to_string(
                       l.ls[(len(l.ls) - coalesce(b.psn, 1)):len(l.ls)],
                       '.')
                     ELSE NULL END AS reg_domain
         FROM l LEFT JOIN (SELECT * FROM b WHERE rn = 1) b
           USING (doc_id)""",

    "q_url_strip_tracking" ->
      s"""WITH u AS (
           SELECT event_id,
                  'https://h' || (user_id % 20) || '.example.com/p' ||
                  (event_id % 50) ||
                  CASE event_id % 5
                    WHEN 0 THEN ''
                    WHEN 1 THEN '?utm_source=mail' || event_id ||
                                '&id=' || (event_id % 9)
                    WHEN 2 THEN '?id=' || (event_id % 9) ||
                                '&fbclid=x' || event_id
                    WHEN 3 THEN '?gclid=g' || event_id ||
                                '&utm_campaign=c' || event_id || '&page=2'
                    ELSE '?a=1#utm_inside=keep' END AS url
           FROM events)
         SELECT event_id, url,
                regexp_replace(
                  regexp_replace(url,
                    '[?&](?:${graft.functions.Urls.TrackingParams})=[^&#]*',
                    '', 'g'),
                  '^([^?#]+)&', '\\1?') AS clean_url
         FROM u""",

    "q_anchor_text" ->
      """WITH l AS (
           SELECT 'h' || (user_id % 20) AS src_host,
                  'https://t' || (event_id % 40) || '.org/' AS dst,
                  ['click here', 'read more', 'home', 'docs',
                   'api reference', 'blog'][CAST(event_id % 6 AS INT) + 1]
                    AS anchor
           FROM events),
         pa AS (
           SELECT dst, anchor, count(*)::BIGINT AS cnt
           FROM l GROUP BY 1, 2),
         r AS (
           SELECT dst, anchor, cnt,
                  row_number() OVER (PARTITION BY dst
                    ORDER BY cnt DESC, anchor ASC) AS rk
           FROM pa),
         tops AS (
           SELECT dst, max(CASE WHEN rk = 1 THEN anchor END) AS top_anchor,
                  string_agg(anchor, ' | ' ORDER BY rk) AS top_anchors
           FROM r WHERE rk <= 3 GROUP BY 1),
         tot AS (
           SELECT dst, count(*)::BIGINT AS n_links,
                  count(DISTINCT src_host)::BIGINT AS n_src_hosts
           FROM l GROUP BY 1)
         SELECT tot.dst, n_links, n_src_hosts, top_anchor, top_anchors
         FROM tot JOIN tops ON tot.dst = tops.dst""",

    "q_trap_urls" ->
      s"""WITH u AS ($trapFixtureSql),
          t AS ($trapTemplateSql)
          SELECT host, template, count(DISTINCT url)::BIGINT AS n_urls,
                 count(DISTINCT url) > 50 AS trap
          FROM t GROUP BY 1, 2""",

    "q_trap_gate" ->
      s"""WITH u AS ($trapFixtureSql),
          t AS ($trapTemplateSql),
          f AS (
            SELECT host, template FROM t
            GROUP BY 1, 2 HAVING count(DISTINCT url) > 50)
          SELECT t.event_id, t.url
          FROM t LEFT JOIN f
            ON t.host = f.host AND t.template = f.template
          WHERE f.host IS NULL""",

    "q_dump_drift" ->
      """WITH p AS (
           SELECT 'ct' || (user_id % 8) AS ct, count(*)::BIGINT AS np
           FROM events WHERE event_id % 2 = 0 GROUP BY 1),
         c AS (
           SELECT 'ct' ||
                  CASE WHEN user_id % 16 = 0 THEN '7'
                       WHEN user_id % 8 = 3 THEN '4'
                       WHEN user_id % 31 = 5 THEN 'NEW'
                       ELSE CAST(user_id % 8 AS VARCHAR) END AS ct,
                  count(*)::BIGINT AS nc
           FROM events WHERE event_id % 2 = 1 GROUP BY 1),
         t AS (SELECT (SELECT sum(np) FROM p) AS tp,
                      (SELECT sum(nc) FROM c) AS tc),
         j AS (
           SELECT coalesce(p.ct, c.ct) AS ct,
                  coalesce(p.np, 0)::BIGINT AS np,
                  coalesce(c.nc, 0)::BIGINT AS nc,
                  t.tp, t.tc
           FROM p FULL OUTER JOIN c ON p.ct = c.ct, t),
         e AS (
           SELECT ct, np, nc,
                  np * tc * 1.0 / tp AS exp,
                  (nc - np * tc * 1.0 / tp) * (nc - np * tc * 1.0 / tp)
                    / (np * tc * 1.0 / tp) AS chi2
           FROM j)
         SELECT ct, np AS n_prev, nc AS n_cur,
                CASE WHEN np > 0 THEN round(exp, 4) END AS exp_cur,
                CASE WHEN np > 0 THEN round(chi2, 6) END AS chi2_term,
                CASE WHEN np = 0 THEN 'new'
                     WHEN nc = 0 THEN 'gone'
                     WHEN chi2 > 3.84 THEN 'drifted'
                     ELSE 'stable' END AS status
         FROM e""",

    "q_heaps_law" ->
      """WITH dd AS (
           SELECT DISTINCT CAST(doc_id AS BIGINT) AS d FROM documents),
         r AS (
           SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT)
                       AS rn,
                  count(*) OVER () AS n
           FROM dd),
         cps AS (
           SELECT i, CAST(ceil(CAST(n AS DOUBLE) * i / 10.0e0)
                          AS BIGINT) AS pos, CAST(n AS BIGINT) AS n
           FROM (SELECT unnest(range(1, 11)) AS i),
                (SELECT max(n) AS n FROM r)),
         cp AS (
           SELECT cps.i, r.rn AS ni, r.d AS dmax, cps.n
           FROM cps JOIN r ON r.rn = cps.pos),
         fa AS (
           SELECT term, min(d) AS fd FROM (
             SELECT CAST(doc_id AS BIGINT) AS d,
                    unnest(string_split_regex(trim(lower(text)), '\s+'))
                      AS term
             FROM documents)
           GROUP BY 1),
         v AS (
           SELECT cp.i, cp.ni, cp.n, count(*)::BIGINT AS vi
           FROM fa JOIN cp ON fa.fd <= cp.dmax
           GROUP BY 1, 2, 3),
         pts AS (
           SELECT n, ni, vi,
                  ln(CAST(ni AS DOUBLE)) AS x,
                  ln(CAST(vi AS DOUBLE)) AS y
           FROM v),
         s AS (
           SELECT CAST(max(n) AS BIGINT) AS n_docs,
                  CAST(max(CASE WHEN ni = n THEN vi END) AS BIGINT)
                    AS vocab,
                  count(*)::BIGINT AS k,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * y) AS sxy, sum(x * x) AS sxx
           FROM pts)
         SELECT n_docs, vocab,
                round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
                  AS heaps_beta,
                round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx))
                       * sx) / k, 6) AS heaps_lnk
         FROM s""",
    "q_stopword_induct" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\s+'))
                    AS term
           FROM documents),
         f AS (SELECT term, count(*)::BIGINT AS df FROM tok GROUP BY 1),
         n AS (SELECT count(*)::BIGINT AS n FROM documents),
         t AS (
           SELECT term, df,
                  CAST(row_number() OVER (ORDER BY df DESC, term ASC)
                       AS BIGINT) AS rank
           FROM f)
         SELECT rank, term, df,
                CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE))
                           * 1e8, 0) AS BIGINT) AS idf_micro
         FROM t, n WHERE rank <= 30""",
    "q_feature_hash" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\s+'))
                    AS term
           FROM documents),
         nt AS (SELECT doc_id, count(*)::BIGINT AS n_tokens
                FROM tok GROUP BY 1),
         d AS (SELECT DISTINCT doc_id, term FROM tok),
         f AS (
           SELECT doc_id,
                  list_reduce(
                    list_transform(
                      string_split(substr(md5(term), 1, 6), ''),
                      c -> CAST(strpos('0123456789abcdef', c) - 1
                                AS BIGINT)),
                    (a, b) -> a * 16 + b) % 4096 AS fi
           FROM d),
         a AS (
           SELECT doc_id, count(*)::BIGINT AS n_terms,
                  count(DISTINCT fi)::BIGINT AS n_features
           FROM f GROUP BY 1)
         SELECT nt.doc_id, nt.n_tokens, a.n_terms, a.n_features,
                (a.n_terms - a.n_features)::BIGINT AS n_collisions
         FROM nt JOIN a USING (doc_id)""",
    "q_burst_hosts" ->
      """WITH c AS (
           SELECT user_id % 50 AS host,
                  CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600.0)
                       AS BIGINT) AS w,
                  count(*)::BIGINT AS cnt
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT host, w, cnt,
                  CAST(row_number() OVER (PARTITION BY host
                                          ORDER BY cnt ASC, w ASC)
                       AS BIGINT) AS rw,
                  count(*) OVER (PARTITION BY host) AS n
           FROM c),
         m AS (
           SELECT host, CAST(n AS BIGINT) AS n_windows,
                  cnt AS median_cnt
           FROM r
           WHERE rw = CAST(floor((n + 1) / 2.0) AS BIGINT))
         SELECT m.host, m.n_windows, m.median_cnt,
                CAST(sum(CASE WHEN c.cnt > 3 * m.median_cnt
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts
         FROM c JOIN m USING (host)
         GROUP BY 1, 2, 3""",
    "q_ks_drift" ->
      """WITH p AS (
           SELECT n_chars AS v, count(*)::BIGINT AS c1
           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         q AS (
           SELECT n_chars AS v, count(*)::BIGINT AS c2
           FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
         j AS (
           SELECT coalesce(p.v, q.v) AS v,
                  coalesce(p.c1, 0)::BIGINT AS c1,
                  coalesce(q.c2, 0)::BIGINT AS c2
           FROM p FULL OUTER JOIN q ON p.v = q.v),
         c AS (
           SELECT sum(c1) OVER (ORDER BY v) AS f1,
                  sum(c2) OVER (ORDER BY v) AS f2
           FROM j),
         t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                      CAST(sum(c2) AS BIGINT) AS n2 FROM j)
         SELECT n1 AS n_prev, n2 AS n_cur,
                CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
                round(CAST(max(abs(f1 * n2 - f2 * n1)) AS DOUBLE)
                      / CAST(n1 * n2 AS DOUBLE), 6) AS ks
         FROM c, t GROUP BY 1, 2""",
    "q_gini_hosts" ->
      """WITH c AS (
           SELECT user_id % 200 AS host, count(*)::BIGINT AS x
           FROM events GROUP BY 1),
         r AS (
           SELECT x, CAST(row_number() OVER (ORDER BY x ASC, host ASC)
                          AS BIGINT) AS i
           FROM c),
         s AS (SELECT count(*)::BIGINT AS n,
                      CAST(sum(x) AS BIGINT) AS t,
                      CAST(sum(i * x) AS BIGINT) AS s
               FROM r)
         SELECT n AS n_keys, t AS n_total,
                round(CAST(2 * s - (n + 1) * t AS DOUBLE)
                      / CAST(n * t AS DOUBLE), 6) AS gini
         FROM s""",
    "q_kl_drift" ->
      """WITH tp0 AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                    AS term
           FROM documents WHERE CAST(doc_id AS BIGINT) % 2 = 0),
         tq0 AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                    AS term
           FROM documents WHERE CAST(doc_id AS BIGINT) % 2 = 1),
         p AS (SELECT term, count(*)::BIGINT AS np FROM tp0 GROUP BY 1),
         q AS (SELECT term, count(*)::BIGINT AS nq FROM tq0 GROUP BY 1),
         j AS (
           SELECT coalesce(p.term, q.term) AS term,
                  coalesce(p.np, 0)::BIGINT AS np,
                  coalesce(q.nq, 0)::BIGINT AS nq
           FROM p FULL OUTER JOIN q ON p.term = q.term),
         t AS (SELECT CAST(sum(np) AS BIGINT) AS tp,
                      CAST(sum(nq) AS BIGINT) AS tq,
                      count(*)::BIGINT AS v
               FROM j),
         c AS (
           SELECT t.tp, t.tq, t.v,
                  CAST(np + 1 AS DOUBLE) / CAST(tp + v AS DOUBLE) AS pp,
                  CAST(nq + 1 AS DOUBLE) / CAST(tq + v AS DOUBLE) AS qq
           FROM j, t),
         m AS (
           SELECT tp, tq, v,
                  CAST(round(pp * ln(pp / qq) * 1e8, 0) AS BIGINT) AS c_pq,
                  CAST(round(qq * ln(qq / pp) * 1e8, 0) AS BIGINT) AS c_qp,
                  CAST(round((0.5e0 * pp * ln(pp / ((pp + qq) / 2.0e0))
                              + 0.5e0 * qq * ln(qq / ((pp + qq) / 2.0e0)))
                             * 1e8, 0) AS BIGINT) AS c_js
           FROM c)
         SELECT v AS vocab, tp AS tok_prev, tq AS tok_cur,
                CAST(sum(c_pq) AS BIGINT) AS kl_pq_micro,
                CAST(sum(c_qp) AS BIGINT) AS kl_qp_micro,
                CAST(sum(c_js) AS BIGINT) AS js_micro
         FROM m GROUP BY 1, 2, 3""",
    "q_lpa_communities" ->
      (s"""WITH e0 AS (
           SELECT 'h' || ((user_id % 10) + (event_id % 3) * 10) AS src,
                  'h' || ((event_id % 10) + (event_id % 3) * 10) AS dst
           FROM events),
         sym AS MATERIALIZED (
           SELECT DISTINCT a, b FROM (
             SELECT src AS a, dst AS b FROM e0
             UNION ALL SELECT dst, src FROM e0)
           WHERE a <> b),
         n AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
         l0 AS (SELECT node, node AS label FROM n),""" +
        (1 to 3).map { i =>
          s"""
         r$i AS (
           SELECT s.a AS node, l.label AS nl, count(*) AS cnt
           FROM sym s JOIN l${i - 1} l ON l.node = s.b GROUP BY 1, 2),
         b$i AS (
           SELECT node, nl FROM (
             SELECT *, row_number() OVER (PARTITION BY node
               ORDER BY cnt DESC, nl) AS rn FROM r$i) WHERE rn = 1),
         l$i AS (
           SELECT n.node, coalesce(b$i.nl, n.node) AS label
           FROM n LEFT JOIN b$i USING (node))"""
        }.mkString(",") +
        "\n         SELECT node, label FROM l3"),

    "q_politeness_audit" ->
      """WITH f AS (
           SELECT 'h' || (user_id % 25) AS host,
                  CAST(floor(epoch(ts)) AS BIGINT) AS e,
                  event_id AS ord
           FROM events),
         g AS (
           SELECT host, e,
                  e - lag(e) OVER (PARTITION BY host
                                   ORDER BY e, ord) AS gap
           FROM f)
         SELECT host,
                count(*)::BIGINT AS n_fetches,
                count(gap)::BIGINT AS n_gaps,
                min(gap)::BIGINT AS min_gap_s,
                round(avg(gap), 4) AS mean_gap_s,
                sum(CASE WHEN gap < 3600 THEN 1 ELSE 0 END)::BIGINT
                  AS n_violations
         FROM g GROUP BY host""",

    "q_fetch_forecast" ->
      """WITH RECURSIVE c AS (
           SELECT 'h' || (user_id % 25) AS host, event_id % 3 AS dump,
                  count(*)::BIGINT AS x
           FROM events GROUP BY 1, 2),
         o AS MATERIALIZED (
           SELECT host, x,
                  row_number() OVER (PARTITION BY host
                                     ORDER BY dump) AS rn,
                  count(*) OVER (PARTITION BY host) AS np
           FROM c),
         f(host, rn, e) AS (
           SELECT host, rn, CAST(x AS DOUBLE) FROM o WHERE rn = 1
           UNION ALL
           SELECT o.host, o.rn, (o.x * 1 + f.e * 3) / 4
           FROM f JOIN o ON o.host = f.host AND o.rn = f.rn + 1),
         m AS (SELECT host, max(rn) AS mr, max(np) AS np
               FROM o GROUP BY 1)
         SELECT f.host, m.np::BIGINT AS n_points,
                round(f.e, 4) AS forecast
         FROM f JOIN m ON m.host = f.host AND f.rn = m.mr""",

    "q_recrawl_lambda" ->
      """WITH src AS (
           SELECT 'u' || (user_id % 20) || '/' || (event_id % 25) AS url,
                  CAST(floor(epoch(ts)) AS BIGINT) AS e,
                  event_id % 4 AS v, event_id AS ord
           FROM events),
         w AS (
           SELECT url, e, v,
                  lag(v) OVER (PARTITION BY url ORDER BY e, ord) AS pv
           FROM src),
         a AS (
           SELECT url, count(*) - 1 AS n_revisits,
                  sum(CASE WHEN pv IS NOT NULL AND v <> pv
                           THEN 1 ELSE 0 END)::BIGINT AS n_changes,
                  min(e) AS e0, max(e) AS e1
           FROM w GROUP BY 1),
         f AS (
           SELECT url, n_revisits, n_changes, e1,
                  (e1 - e0) * 1.0 / n_revisits AS ibar,
                  -ln((n_revisits - n_changes + 0.5) / (n_revisits + 0.5))
                    / ((e1 - e0) * 1.0 / n_revisits) AS lam
           FROM a WHERE n_revisits >= 1 AND e1 > e0),
         g AS (
           SELECT url, n_revisits, n_changes, ibar, lam, e1,
                  CASE WHEN n_changes = 0 THEN 1209600
                       ELSE least(1209600, greatest(3600,
                         CAST(floor(1.0 / lam) AS BIGINT))) END AS next_s
           FROM f)
         SELECT url, n_revisits::BIGINT AS n_revisits, n_changes,
                round(ibar, 4) AS mean_gap_s,
                round(lam * 86400.0, 6) AS lambda_day,
                next_s::BIGINT AS next_s,
                (e1 + next_s)::BIGINT AS due_epoch
         FROM g""",

    "q_skew_report" ->
      """WITH r AS (
           SELECT CASE WHEN event_id % 3 = 0 THEN 'hot.example.com'
                       ELSE 'h' || (user_id % 50) || '.example.com'
                  END AS host
           FROM events),
         k AS (SELECT host, count(*)::BIGINT AS cnt FROM r GROUP BY 1),
         i AS (SELECT cnt,
                      row_number() OVER (ORDER BY cnt, host) AS ix,
                      count(*) OVER () AS nk
               FROM k),
         a AS (
           SELECT max(nk) AS n_keys, sum(cnt)::BIGINT AS n_rows,
                  max(cnt) AS max_cnt,
                  sum(cnt * ix)::BIGINT AS iw,
                  max(CASE WHEN ix = CAST(ceil(nk * 0.5) AS BIGINT)
                           THEN cnt END) AS p50,
                  max(CASE WHEN ix = CAST(ceil(nk * 0.9) AS BIGINT)
                           THEN cnt END) AS p90,
                  max(CASE WHEN ix = CAST(ceil(nk * 0.99) AS BIGINT)
                           THEN cnt END) AS p99
           FROM i)
         SELECT n_keys::BIGINT AS n_keys, n_rows, max_cnt, p50, p90, p99,
                round(max_cnt * n_keys * 1.0 / n_rows, 4) AS skew_ratio,
                round(2.0 * iw / (n_keys * n_rows)
                      - (n_keys + 1.0) / n_keys, 6) AS gini,
                greatest(1, CAST(ceil(max_cnt * 32 * 1.0 / n_rows)
                                 AS BIGINT))::BIGINT AS suggested_salt
         FROM a""",

    "q_recrawl_schedule" ->
      """WITH RECURSIVE src AS (
           SELECT 'u' || (user_id % 20) || '/' || (event_id % 25) AS url,
                  CAST(floor(epoch(ts)) AS BIGINT) AS e,
                  event_id % 4 AS v
           FROM events),
         f AS (
           SELECT url, e, v,
                  row_number() OVER (PARTITION BY url ORDER BY e, v)
                    AS rn
           FROM src),
         r(url, rn, e, v, i, c) AS (
           SELECT url, rn, e, v, CAST(86400 AS BIGINT), CAST(0 AS BIGINT)
           FROM f WHERE rn = 1
           UNION ALL
           SELECT f.url, f.rn, f.e, f.v,
                  CASE WHEN f.v <> r.v
                       THEN greatest(3600, r.i // 2)
                       ELSE least(1209600, r.i * 2) END,
                  r.c + CASE WHEN f.v <> r.v THEN 1 ELSE 0 END
           FROM r JOIN f ON f.url = r.url AND f.rn = r.rn + 1),
         last AS (
           SELECT url, rn, e, i, c,
                  row_number() OVER (PARTITION BY url ORDER BY rn DESC)
                    AS rev
           FROM r)
         SELECT url, CAST(rn AS BIGINT) AS n_fetches,
                c AS n_changes, i AS interval_s,
                e + i AS next_due_epoch
         FROM last WHERE rev = 1""",

    "q_warc_revisit" ->
      """WITH src AS (
           SELECT 'u' || (user_id % 20) || '/' || (event_id % 25) AS url,
                  CAST(floor(epoch(ts)) AS BIGINT) AS fetch_epoch,
                  md5(CAST(event_id % 150 AS VARCHAR)) AS digest
           FROM events),
         w AS (
           SELECT url, fetch_epoch, digest,
                  row_number() OVER (PARTITION BY digest
                                     ORDER BY fetch_epoch, url) AS rn,
                  first_value(url) OVER (PARTITION BY digest
                                         ORDER BY fetch_epoch, url)
                    AS ou,
                  first_value(fetch_epoch) OVER (PARTITION BY digest
                                                 ORDER BY fetch_epoch,
                                                          url) AS oe
           FROM src)
         SELECT url, fetch_epoch, digest,
                CASE WHEN rn = 1 THEN 'response' ELSE 'revisit' END
                  AS record_type,
                CASE WHEN rn = 1 THEN NULL ELSE ou END AS refers_to_url,
                CASE WHEN rn = 1 THEN NULL ELSE oe END
                  AS refers_to_epoch
         FROM w""",
    // every documents.text is ASCII (driver fixture), so byte ranges ==
    // character substrings; min text length is 44 (measured) >= the
    // largest range end (40) — shrink the ranges before the fixture
    "q_fetch_ranges" ->
      """SELECT doc_id, CAST(4 AS BIGINT) AS range_start,
                md5(substr(text, 5, 20)) AS part_md5,
                CAST(20 AS BIGINT) AS n_bytes
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(30 AS BIGINT), md5(substr(text, 31, 10)),
                CAST(10 AS BIGINT)
         FROM documents""",
    "q_url_canonical" ->
      """SELECT doc_id,
           'https://www.' || source || '.example.com/d/aab/' || doc_id AS canon_url,
           source || '.example.com' AS domain,
           'com,example,' || source AS surt_key,
           'www.' || source || '.example.com/d/a%2561b/' || doc_id AS bare_url
         FROM documents""",
    "q_urlseen_winners" ->
      s"""WITH idx AS ($indexSql)
          SELECT url, warc, "offset", length FROM (
            SELECT url, warc, "offset", length,
                   row_number() OVER (PARTITION BY url
                     ORDER BY length DESC, file_ord ASC, line_ord ASC) AS rn
            FROM idx) WHERE rn = 1""",
    "q_seen_antijoin" ->
      s"""WITH idx AS ($indexSql)
          SELECT DISTINCT url FROM idx
          WHERE "offset" >= 5000
            AND url NOT IN (SELECT url FROM idx WHERE "offset" < 5000)""",
    "q_crawl_order" ->
      s"""WITH idx AS ($indexSql),
          win AS (
            SELECT url, warc, "offset", length FROM (
              SELECT url, warc, "offset", length,
                     row_number() OVER (PARTITION BY url
                       ORDER BY length DESC, file_ord ASC, line_ord ASC) AS rn
              FROM idx) WHERE rn = 1),
          kept AS (
            SELECT i.* FROM idx i
            WHERE EXISTS (SELECT 1 FROM win w
                          WHERE w.url = i.url AND w.warc = i.warc
                            AND w."offset" = i."offset"
                            AND w.length = i.length))
          SELECT row_number() OVER (ORDER BY warc, "offset", url,
                                    file_ord, line_ord) - 1 AS ord,
                 url, warc, "offset"
          FROM kept""",
    "q_robots_parse" ->
      s"""WITH idx AS ($indexSql),
          hosts AS (
            SELECT DISTINCT regexp_extract(url, '^https://([^/]*)', 1)
                   AS host_key
            FROM idx),
          h AS (
            SELECT host_key,
                   CAST(regexp_extract(host_key, '^h(\\d+)', 1) AS BIGINT)
                     AS hn
            FROM hosts)
          SELECT host_key, '/pub' || hn AS path_prefix, true AS allow,
                 hn % 5 + 1 AS crawl_delay
          FROM h
          UNION ALL
          SELECT host_key, '/priv' || hn, false, hn % 5 + 1 FROM h""",

    "q_robots_gate" ->
      s"""WITH idx AS ($indexSql),
          cand AS (
            SELECT regexp_extract(url, '^https://([^/]*)', 1) AS host_key,
                   url,
                   regexp_extract(url, '^https://[^/]*(/.*)$$', 1) AS path,
                   "offset"
            FROM idx),
          rules AS (
            SELECT 'h' || h || '.example.com' AS host_key, pat, rx, allow
            FROM (
              SELECT unnest(range(20)) AS h) hosts,
              (VALUES ('/p1',    '^/p1',      false, 5),
                      ('/p19',   '^/p19',     true,  5),
                      ('/p*7$$',  '^/p.*7$$',   false, 4),
                      ('/p*77$$', '^/p.*77$$',  true,  4)) r(pat, rx, allow, m)
            WHERE h % m = 0),
          verdict AS (
            SELECT host_key, url, allow
            FROM (
              SELECT c.host_key, c.url, r.allow,
                     row_number() OVER (
                       PARTITION BY c.host_key, c.url
                       ORDER BY length(r.pat) DESC, r.allow DESC) AS rw
              FROM (SELECT DISTINCT host_key, url, path FROM cand) c
              JOIN rules r ON r.host_key = c.host_key
                          AND regexp_matches(c.path, r.rx))
            WHERE rw = 1)
          SELECT c.host_key, count(*) AS n_allowed,
                 count(DISTINCT c.url) AS n_urls
          FROM cand c
          LEFT JOIN verdict v ON v.host_key = c.host_key AND v.url = c.url
          WHERE coalesce(v.allow, true)
          GROUP BY c.host_key""",
    "q_politeness_rank" ->
      s"""WITH idx AS ($indexSql),
          cand AS (
            SELECT regexp_extract(url, '^https://([^/]*)', 1) AS host_key,
                   url, "offset", length
            FROM idx)
          SELECT host_key, url, "offset", wave FROM (
            SELECT host_key, url, "offset",
                   row_number() OVER (PARTITION BY host_key
                     ORDER BY length DESC, "offset" ASC) AS wave
            FROM cand) WHERE wave <= 5""",
    "q_schedule_waves" ->
      s"""WITH idx AS ($indexSql),
          cand AS (
            SELECT regexp_extract(url, '^https://([^/]*)', 1) AS host_key,
                   url, "offset", length
            FROM idx),
          ranked AS (
            SELECT host_key, url, wave,
                   CASE WHEN CAST(regexp_extract(host_key, 'h(\\d+)', 1)
                               AS BIGINT) % 2 = 0
                        THEN 2 ELSE 1 END AS delay
            FROM (
              SELECT host_key, url,
                     row_number() OVER (PARTITION BY host_key
                       ORDER BY length DESC, "offset" ASC) AS wave
              FROM cand) WHERE wave <= 5)
          SELECT host_key, url, CAST(wave AS BIGINT) AS wave,
                 1700000000 + (wave - 1) * delay AS not_before_epoch
          FROM ranked"""
  )
}
