package graft.perfbench

import graft.fixtures.{CrawlFixtures, DocFixtures}
import graft.fixtures.CrawlFixtures.{draw, mix}
import graft.model.{Doc, RawIndexLine, Span}
import org.apache.spark.sql.SparkSession

/** Seeded benchmark inputs. The seed selects a fixture id range; the
  * programs under test only ever see the generated rows, pre-written as
  * parquet during set-up.
  */
object Inputs {

  /** Ids of one seed never overlap another seed's. */
  def idOffset(seed: Long): Long = seed << 32

  /** Crawl-index dump `d`: fixture lines [off + d*n, off + (d+1)*n). */
  def writeIndexDump(spark: SparkSession, seed: Long, d: Int, n: Long,
                     p: CrawlFixtures.Params, path: String): Unit = {
    import spark.implicits._
    val off = idOffset(seed) + d * n
    val pp = p
    spark.range(n).map { j =>
      val i = off + j
      val part = draw(i, 16, pp.filesPerDump).toInt
      RawIndexLine(CrawlFixtures.fileOf(i, pp), part, j,
                   CrawlFixtures.rawLine(i, pp))
    }.write.mode("overwrite").parquet(path)
  }

  /** The three host names a fixture host id appears under
    * (CrawlFixtures.urlOf's prefix variants).
    */
  def hostKeys(h: Long): Seq[String] = {
    val tld = if (h % 7 == 0) "org" else "com"
    Seq("", "www.", "www2.").map(pre => s"${pre}h$h.example.$tld")
  }

  /** The pure prefix `Disallow` rules a host's robots.txt carries for
    * agent `*` — exactly the rules the polite-workload check enforces.
    * Hosts with prefix rules carry no `Allow` lines, so under RFC 9309
    * longest-match every URL path starting with one of these is
    * disallowed. Empty for hosts of the other kinds.
    */
  def prefixDisallows(seed: Long, h: Long, variant: Int): Seq[String] =
    robotsKind(seed, h, variant) match {
      case 0 => Seq("/")
      case 1 | 2 | 3 => Seq(s"/p/${1 + draw(key(seed, h, variant), 61, 9)}")
      case _ => Seq.empty
    }

  private def key(seed: Long, h: Long, variant: Int): Long =
    mix(idOffset(seed) + h * 3 + variant)

  private def robotsKind(seed: Long, h: Long, variant: Int): Long =
    draw(key(seed, h, variant), 60, 10)

  /** Deterministic robots.txt text for one host name: disallow-all (10%),
    * prefix rules (30%), wildcard rules with an allow override (30%),
    * no group for `*` (30%). Every file also carries a group for another
    * agent that disallows everything, which the parser must ignore.
    */
  def robotsTxt(seed: Long, h: Long, variant: Int): String = {
    val k = key(seed, h, variant)
    val other = "User-agent: otherbot\nDisallow: /\n\n"
    val star = robotsKind(seed, h, variant) match {
      case 0 | 1 | 2 | 3 =>
        "User-agent: *\n" +
          prefixDisallows(seed, h, variant).map(p => s"Disallow: $p\n").mkString +
          "Crawl-delay: 2\n"
      case 4 | 5 | 6 =>
        val d = 1 + draw(k, 62, 9)
        "User-agent: *\n# wildcard rules\nDisallow: /*?q=\n" +
          s"Disallow: /p/*$d$$\nAllow: /p/$d$d*\n"
      case _ => ""
    }
    other + star
  }

  /** One robots file per host name of every fixture host. */
  def writeRobots(spark: SparkSession, seed: Long, nHosts: Long,
                  path: String): Unit = {
    import spark.implicits._
    val files = for {
      h <- 0L until nHosts
      (hk, v) <- hostKeys(h).zipWithIndex
    } yield (hk, robotsTxt(seed, h, v))
    files.toDF("host_key", "content").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Document `j` of the seed's range: DocFixtures.docOf's composition,
    * with the planted exact/near duplicates pointing at an earlier doc
    * of the SAME range, so duplicate rates do not depend on the seed and
    * later dumps re-crawl earlier ones (cross-dump duplicates).
    */
  def doc(seed: Long, j: Long, p: DocFixtures.Params): Doc = {
    val off  = idOffset(seed)
    val i    = off + j
    val kind = draw(i, 40, 10)
    val baseJ =
      if (j > 20 && kind <= 2) java.lang.Long.remainderUnsigned(mix(i * 5 + 1), j)
      else j
    val baseI    = off + baseJ
    val template = draw(baseI, 41, p.nTemplates)
    val nParas   = 2 + draw(baseI, 42, 6).toInt
    val muts     = kind match {
      case 0     => 0
      case 1 | 2 => 1
      case _     => 4
    }
    val variantSeed = if (kind == 1 || kind == 2) i else baseI
    val hostId = hostIdOf(baseI, p)
    val host   = s"d$hostId.example.com"
    val idJ    = if (draw(i, 43, 50) == 0 && j > 10) j - 7 else j
    val body = (0 until nParas).flatMap { slot =>
      val para = Span("p",
        DocFixtures.paragraph(p, template, slot, muts, variantSeed), "", 0)
      if (draw(i * 31 + slot, 44, 20) == 0)
        Seq(para, Span("media", "",
          s"media://$host/img/${draw(i * 31 + slot, 45, 1000)}", 0))
      else Seq(para)
    }
    val footer =
      if (draw(i, 46, 10) < 7)
        Seq(Span("p", DocFixtures.paragraph(p, p.nTemplates + hostId, 0, 0, hostId), "", 0))
      else Seq.empty
    val banner =
      if (draw(i, 47, 10) < 3)
        Seq(Span("p", DocFixtures.paragraph(p, 2 * p.nTemplates + hostId, 1, 0, hostId), "", 0))
      else Seq.empty
    val spans = (banner ++ body ++ footer).zipWithIndex
      .map { case (s, idx) => s.copy(offset = idx) }
    Doc(s"https://$host/doc/$idJ", spans)
  }

  private def hostIdOf(i: Long, p: DocFixtures.Params): Long = {
    val r = draw(i * 3 + 7, 31, 1L << 20).toDouble / (1L << 20)
    math.min((p.nHosts * r * r).toLong, p.nHosts - 1)
  }

  /** Corpus dump `d` as (domain, ord, doc_id, spans): docs [d*n, (d+1)*n). */
  def writeCorpusDump(spark: SparkSession, seed: Long, d: Int, n: Long,
                      p: DocFixtures.Params, path: String): Unit = {
    import spark.implicits._
    val pp = p
    val s  = seed
    spark.range(d * n, (d + 1) * n).map { j =>
      val dc = doc(s, j, pp)
      (graft.functions.Urls.host(dc.doc_id), j, dc.doc_id, dc.spans)
    }.toDF("domain", "ord", "doc_id", "spans")
      .write.mode("overwrite").parquet(path)
  }
}
