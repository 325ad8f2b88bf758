package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FrontierSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("O2 coalesceRanges merges contiguous runs and caps batch size") {
    // file A: contiguous 0-100-200 (one run), gap, 500-600 (second run)
    // file B: 7 contiguous clusters -> capped at 3/batch => 3 batches
    val clusters =
      Seq(("A", 0L, 100L), ("A", 100L, 100L), ("A", 200L, 100L),
          ("A", 500L, 100L)) ++
        (0 until 7).map(i => ("B", i * 50L, 50L))
    val df = clusters.toDF("file_name", "offset", "length")
    val got = Frontier.coalesceRanges(df, maxClusters = 3)
      .select("file_name", "range_start", "range_end", "n_clusters")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("A", 0L, 300L, 3L), ("A", 500L, 600L, 1L),
      ("B", 0L, 150L, 3L), ("B", 150L, 300L, 3L), ("B", 300L, 350L, 1L)))
  }

  test("politenessRank emits at most quota per host in priority order") {
    val cand = (0 until 40).map(i =>
      (s"h${i % 4}", s"u$i", i.toLong)).toDF("host_key", "url", "pri")
    val got = Frontier.politenessRank(cand, "host_key",
      Seq(asc("pri")), quota = 3)
      .select("host_key", "url", "wave")
      .as[(String, String, Int)].collect()
    assert(got.length == 12)
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    // wave 1 of h0 is its smallest-pri url
    assert(got.filter(r => r._1 == "h0" && r._3 == 1).head._2 == "u0")
  }

  test("unbounded quota: exact waves, skew-free (no per-host window task)") {
    // one mega-host owns 50% of rows — the failure shape where a
    // host-partitioned window would put half the data into one task
    val rows = (0 until 2000).map { i =>
      val h = if (i % 2 == 0) "mega.example.com" else s"h${i % 37}.example.com"
      (h, s"u$i", i.toLong)
    }
    val cand = rows.toDF("host_key", "url", "pri").repartition(8)
    val got = Frontier.politenessRank(
      cand, "host_key", Seq(asc("pri")), quota = Int.MaxValue)
    // reference semantics: the plain per-host window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"host_key").orderBy(asc("pri"))
    val want = cand.withColumn("wave", row_number().over(w))
      .select("host_key", "url", "wave")
      .as[(String, String, Int)].collect().toSet
    // unbounded-path wave is LongType (mega-host counts can exceed Int)
    val gotSet = got.select(col("host_key"), col("url"),
        col("wave").cast("int"))
      .as[(String, String, Int)].collect().toSet
    assert(gotSet == want)
    // the mega-host got 1000 distinct waves 1..1000
    assert(gotSet.filter(_._1 == "mega.example.com").map(_._3) ==
      (1 to 1000).toSet)
    // plan assertion: no window PARTITIONED BY HOST anywhere — the only
    // window allowed is the partition-offsets one (one row per physical
    // partition, bounded by the partition count, never by host skew)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(host_key"),
           s"host-partitioned window in plan:\n$plan")
    assert(!plan.contains("row_number"),
           s"per-host row_number in plan:\n$plan")
  }

  test("politenessRankByFile == per-host window rank; skew unit is (host, file)") {
    // mega-host skew shape again, but rows now carry (file_ord, line_ord)
    // like real index lines: line_ord unique within each file
    val rows = (0 until 3000).map { i =>
      val h = if (i % 2 == 0) "mega.example.com" else s"h${i % 41}.example.com"
      (h, s"u$i", (i % 7).toLong, i.toLong) // 7 files, global line_ord
    }
    val cand = rows.toDF("host_key", "url", "file_ord", "line_ord")
      .repartition(8)
    val got = Frontier.politenessRankByFile(cand, "host_key")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"host_key").orderBy(asc("file_ord"), asc("line_ord"))
    val want = cand.withColumn("wave", row_number().over(w).cast("long"))
      .select("host_key", "url", "wave")
      .as[(String, String, Long)].collect().toSet
    val gotSet = got.select("host_key", "url", "wave")
      .as[(String, String, Long)].collect().toSet
    assert(gotSet == want)
    assert(gotSet.filter(_._1 == "mega.example.com").map(_._3) ==
      (1L to 1500L).toSet)
    val plan = got.queryExecution.executedPlan.toString
    // every window over host_key must also partition by file_ord — the
    // task unit is capped by lines-per-index-shard, never by host size
    assert(!plan.contains("windowspecdefinition(host_key#") ||
           plan.split("windowspecdefinition\\(host_key#").drop(1)
             .forall(s => s.take(60).contains("file_ord")),
           s"host-only window in plan:\n$plan")
    // no range sort / checkpoint machinery on this path
    assert(!plan.contains("rangepartitioning"),
           s"unexpected range exchange:\n$plan")
  }

  test("politenessRankByFile: big side of the cum join does not re-exchange") {
    val cand = (0 until 400).map(i =>
      (s"h${i % 5}", s"u$i", (i % 4).toLong, i.toLong))
      .toDF("host_key", "url", "file_ord", "line_ord").repartition(4)
    val got = Frontier.politenessRankByFile(cand, "host_key")
    got.count()
    val plan = got.queryExecution.executedPlan.toString
    // the rank window hash-partitions on exactly the join keys
    // (host_key, file_ord); a correct plan re-exchanges only the narrow
    // cum side — so at most 3 exchanges total: window, cum's groupBy,
    // cum's per-host running sum (+0 for the join's big side)
    val nEx = "ShuffleExchange|Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(plan.split("Exchange hashpartitioning").length - 1 <= 3,
           s"big side re-exchanged before the cum join ($nEx exchanges):\n$plan")
  }

  test("finite quota routed to the unbounded path is still enforced") {
    // salts high enough that quota=3 crosses the Int.MaxValue/salts
    // routing threshold -> exercises the skew-free path, which before r5
    // silently dropped the quota filter
    val cand = (0 until 40).map(i =>
      (s"h${i % 4}", s"u$i", i.toLong)).toDF("host_key", "url", "pri")
    val got = Frontier.politenessRank(cand, "host_key",
      Seq(asc("pri")), quota = 3, salts = Int.MaxValue)
      .select(col("host_key"), col("url"), col("wave").cast("int"))
      .as[(String, String, Int)].collect()
    assert(got.length == 12, s"quota unenforced: ${got.length} rows")
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    assert(got.forall(_._3 <= 3))
    assert(got.filter(r => r._1 == "h0" && r._3 == 1).head._2 == "u0")
  }

  test("robotsGate plans without a mandatory BroadcastExchange") {
    // At web scale the all-hosts rules table is GBs; a forced
    // broadcast() hint would OOM the driver no matter what AQE thinks.
    // Simulate "rules side exceeds the threshold" by disabling
    // auto-broadcast: the gate must still plan (as a shuffle join).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = Seq(("h1", "u1", "/a/b/c"), ("h1", "u2", "/other"))
        .toDF("host_key", "url", "path")
      val rules = Seq(("h1", "/a", false))
        .toDF("host_key", "path_prefix", "allow")
      val got = Frontier.robotsGate(cand, rules)
      assert(got.select("url").as[String].collect().toSet == Set("u2"))
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
             s"rules join must not force a broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("robotsRules: groups, agent specificity, merged groups, delays") {
    val h1 =
      """# comment to strip
        |User-agent: googlebot
        |Disallow: /private
        |
        |User-agent: *
        |Allow: /public   # trailing comment
        |Disallow: /tmp
        |Crawl-delay: 5
        |Disallow:
        |""".stripMargin
    // consecutive UA lines share ONE group (RFC 9309 §2.2.1)
    val h2 = "User-agent: special\nUser-agent: *\nDisallow: /x\n"
    // rules before any group are ignored; no applicable group -> no rows
    val h3 = "Disallow: /orphan\nUser-agent: otherbot\nDisallow: /y\n"
    val files = Seq(("h1", h1), ("h2", h2), ("h3", h3))
      .toDF("host_key", "content")
    val got = Frontier.robotsRules(files)
      .select("host_key", "path_prefix", "allow", "crawl_delay")
      .as[(String, String, Boolean, Long)].collect().toSet
    assert(got == Set(
      ("h1", "/public", true, 5L),
      ("h1", "/tmp", false, 5L),
      ("h2", "/x", false, 1L)))
    // exact agent match beats the wildcard group
    val gbot = Frontier.robotsRules(files, agent = "googlebot")
      .filter($"host_key" === "h1")
      .select("path_prefix", "allow", "crawl_delay")
      .as[(String, Boolean, Long)].collect().toSet
    assert(gbot == Set(("/private", false, 1L)))
  }

  private def rulesOf(files: Seq[(String, String)])
      : Set[(String, String, Boolean, Long)] =
    Frontier.robotsRules(files.toDF("host_key", "content"))
      .select("host_key", "path_prefix", "allow", "crawl_delay")
      .as[(String, String, Boolean, Long)].collect().toSet

  test("robotsRules: CRLF and CR line ends split lines (RFC 9309 §2.2)") {
    // split on LF alone, `User-agent: *\r` would match no agent and the
    // file would lose every rule
    val got = rulesOf(Seq(
      "crlf" -> "User-agent: *\r\nDisallow: /a\r\nAllow: /a/b # c\r\nCrawl-delay: 3\r\n",
      "cr"   -> "User-agent: *\rDisallow: /c\r"))
    assert(got == Set(("crlf", "/a", false, 3L), ("crlf", "/a/b", true, 3L),
                      ("cr", "/c", false, 1L)))
  }

  test("robotsRules: tabs are trimmed around lines and values") {
    // trimmed of spaces alone, a tab-led line would be skipped and a tab
    // after the colon would stay in the value
    val got = rulesOf(Seq(
      "h" -> "User-agent:\t*\n\tDisallow: /t\nDisallow:\t/u\t\nAllow: /v\t# c\n"))
    assert(got == Set(("h", "/t", false, 1L), ("h", "/u", false, 1L),
                      ("h", "/v", true, 1L)))
  }

  test("robotsRules: fractional delays round up, malformed ones are ignored") {
    // a long cast of these values throws CAST_INVALID_INPUT under ANSI mode
    val got = rulesOf(Seq(
      "half"  -> "User-agent: *\nDisallow: /a\nCrawl-delay: 0.5\n",
      "frac"  -> "User-agent: *\nDisallow: /a\nCrawl-delay: 2.01\nCrawl-delay: 4\n",
      "bad"   -> "User-agent: *\nDisallow: /a\nCrawl-delay: fast\n",
      "mixed" -> "User-agent: *\nDisallow: /a\nCrawl-delay: soon\nCrawl-delay: 7\n",
      "huge"  -> "User-agent: *\nDisallow: /a\nCrawl-delay: 99999999999999999999\n"))
    assert(got == Set(("half", "/a", false, 1L), ("frac", "/a", false, 3L),
                      ("bad", "/a", false, 1L), ("mixed", "/a", false, 7L),
                      ("huge", "/a", false, 1L)))
    assert(Frontier.crawlDelaySeconds("5") == Some(5L))
    assert(Frontier.crawlDelaySeconds("1.") == Some(1L))
    assert(Frontier.crawlDelaySeconds(".2") == Some(1L))
    assert(Frontier.crawlDelaySeconds("1e3").isEmpty)
    assert(Frontier.crawlDelaySeconds("").isEmpty)
  }

  test("scheduleWaves: not_before = t0 + (wave-1) * per-host delay") {
    val cand = (0 until 12).map(i =>
      (s"h${i % 2}", s"u$i", i.toLong)).toDF("host_key", "url", "pri")
    val ranked = Frontier.politenessRank(cand, "host_key",
      Seq(asc("pri")), quota = 100)
      // h0 uses a 2s crawl-delay, h1 the default 1s
      .withColumn("delay", when($"host_key" === "h0", 2L).otherwise(1L))
    val got = Frontier.scheduleWaves(ranked, lit(1000L), $"delay")
      .select("host_key", "wave", "not_before_epoch")
      .as[(String, Int, Long)].collect()
    assert(got.forall { case (h, w, t) =>
      t == 1000L + (w - 1).toLong * (if (h == "h0") 2 else 1)
    })
    // each host's waves are strictly increasing in time
    got.groupBy(_._1).foreach { case (_, rows) =>
      val ts = rows.sortBy(_._2).map(_._3)
      assert(ts.zip(ts.tail).forall { case (a, b) => b > a })
    }
  }

  test("robotsGate: longest prefix wins, allow on tie, default allow") {
    val cand = Seq(
      ("h1", "u1", "/a/b/c"),   // disallowed by /a
      ("h1", "u2", "/a/ok/x"),  // re-allowed by longer /a/ok
      ("h1", "u3", "/other"),   // no matching rule -> allowed
      ("h2", "u4", "/a/b")      // host without rules -> allowed
    ).toDF("host_key", "url", "path")
    val rules = Seq(
      ("h1", "/a", false), ("h1", "/a/ok", true)
    ).toDF("host_key", "path_prefix", "allow")
    val got = Frontier.robotsGate(cand, rules)
      .select("url").as[String].collect().toSet
    assert(got == Set("u2", "u3", "u4"))
  }

  test("robotsRegex: RFC 9309 wildcard compile") {
    assert(Frontier.robotsRegex("/a") == "^/a")
    assert(Frontier.robotsRegex("/a*.php$") == "^/a.*\\.php$")
    assert(Frontier.robotsRegex("/p*7$") == "^/p.*7$")
    // non-trailing $ is literal
    assert(Frontier.robotsRegex("/x$y") == "^/x\\$y")
    assert("/account.php".matches(Frontier.robotsRegex("/a*.php$")))
    assert(!"/account.php3".matches(Frontier.robotsRegex("/a*.php$")))
  }

  test("robotsGate: wildcard rules match, longest pattern wins") {
    val cand = Seq(
      ("h1", "u1", "/files/x.pdf"),     // disallowed by /files/*.pdf$
      ("h1", "u2", "/files/ok.pdfx"),   // $ anchor -> no match, allowed
      ("h1", "u3", "/files/keep.pdf"),  // longer allow override
      ("h1", "u4", "/plain")            // no rule -> allowed
    ).toDF("host_key", "url", "path")
    val rules = Seq(
      ("h1", "/files/*.pdf$", false),
      ("h1", "/files/keep*.pdf$", true)
    ).toDF("host_key", "path_prefix", "allow")
    val got = Frontier.robotsGate(cand, rules)
      .select("url").as[String].collect().toSet
    assert(got == Set("u2", "u3", "u4"))
  }

  test("SQL registry functions are callable from spark.sql") {
    graft.functions.Registry.register(spark)
    val r = spark.sql(
      """SELECT graft_unquote('a%2561b') AS u,
                graft_surt(graft_host('https://www.elte.hu/x')) AS s,
                graft_simhash('a b c') AS sh""").head()
    assert(r.getString(0) == "aab")
    assert(r.getString(1) == "hu,elte")
    assert(r.getLong(2) == graft.functions.TextAnalysis.simhash64("a b c"))

    // the native kernels' SQL names, each equal to its Column form
    import graft.expressions._
    val t = "the cat und der hund caf\u00e9"
    val df = Seq((t, "https://a.com/d/p.html", "../x.html",
      Seq(1.0, 2.0), Seq(0.5, 4.0))).toDF("t", "b", "h", "x", "y")
    val viaSql = df.selectExpr("graft_lang_id(t)", "graft_lcp(b, h)",
      "graft_minhash_bands(t, 8)", "graft_nfc(t)", "graft_strip_accents(t)",
      "graft_fix_mojibake(t)", "graft_resolve_url(b, h)", "graft_dot(x, y)",
      "graft_sqdist(x, y)", "graft_winnow(t, 4, 3)").head()
    val viaCol = df.select(LangExpressions.langIdCol(col("t")),
      LcpExpressions.lcpCol(col("b"), col("h")),
      MinHashExpressions.bandsCol(col("t"), 8),
      NormalizeExpressions.nfcCol(col("t")),
      NormalizeExpressions.stripAccentsCol(col("t")),
      NormalizeExpressions.fixMojibakeCol(col("t")),
      UrlExpressions.resolveUrlCol(col("b"), col("h")),
      VectorExpressions.dotCol(col("x"), col("y")),
      VectorExpressions.sqDistCol(col("x"), col("y")),
      WinnowExpressions.winnowCol(col("t"), 4, 3)).head()
    assert(viaSql == viaCol)
    // graft_minhash_sig has no Column form: compare with its Scala twin
    assert(df.selectExpr("graft_minhash_sig(t)").head().getSeq[Long](0) ==
      graft.functions.MinHashF.signature(t).toSeq)
  }

  test("robotsSitemaps: global lines, comments stripped, first-colon split") {
    val s = spark
    import s.implicits._
    val content =
      """User-agent: crawler
        |Disallow: /x
        |Sitemap: https://a.com/s1.xml
        |User-agent: other
        |sitemap:https://a.com/s2.xml  # comment after
        |# Sitemap: https://a.com/commented-out.xml
        |SITEMAP: https://a.com/s3.xml""".stripMargin
    val out = graft.operators.Frontier.robotsSitemaps(
      Seq(("a.com", content)).toDF("host_key", "content"))
      .collect().map(_.getString(1)).toSet
    // group scoping must NOT apply; the fully-commented line must
    assert(out == Set("https://a.com/s1.xml", "https://a.com/s2.xml",
      "https://a.com/s3.xml"))
  }

  test("robotsSitemaps: CRLF, CR and tab-led lines yield clean URLs") {
    val s = spark
    import s.implicits._
    val files = Seq(
      ("crlf.com", "User-agent: *\r\nDisallow: /a\r\nSitemap: https://crlf.com/s.xml\r\n"),
      ("cr.com", "User-agent: *\rSitemap: https://cr.com/s.xml\rDisallow: /b"),
      ("tab.com", "User-agent: *\n\tSitemap:\thttps://tab.com/s.xml\t\n"))
    val out = graft.operators.Frontier.robotsSitemaps(
      files.toDF("host_key", "content"))
      .as[(String, String)].collect().toSet
    assert(out == Set(("crlf.com", "https://crlf.com/s.xml"),
      ("cr.com", "https://cr.com/s.xml"), ("tab.com", "https://tab.com/s.xml")))
  }
}
