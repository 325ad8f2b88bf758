package graft.operators

import java.nio.file.Files

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import graft.functions.Urls
import graft.model.RawIndexLine
import graft.ref.RefInterpreter
import graft.state.Snapshots
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the frontier's polite path (robots rules and a finite
  * per-host quota) against an expected output built on the driver from
  * the reference interpreter: two dumps into one table, each batch's
  * rows (every column), seen delta and manifest counts.
  */
class FrontierPoliteParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val params = CrawlFixtures.Params(nRecords = 2400, nUrls = 1200,
                                    nHosts = 30)
  val quota = 4
  val batchSize = 50L
  lazy val lines: Seq[RawIndexLine] = CrawlFixtures.rawLines(params)
  lazy val dumps: Seq[Seq[RawIndexLine]] = {
    val (d1, d2) = lines.partition(_.file_ord < 3)
    Seq(d1, d2)
  }

  // (host_key, path_prefix, allow) for every www variant of each host:
  // prefix rules with a longer re-allow, an equal-length tie, a wildcard
  // rule, a host-wide block, and hosts with no rules at all
  lazy val rules: Seq[(String, String, Boolean)] =
    (0L until params.nHosts).flatMap { h =>
      val name = if (h % 7 == 0) s"h$h.example.org" else s"h$h.example.com"
      Seq("", "www.", "www2.").flatMap { pre =>
        val hk = pre + name
        (h % 4, pre) match {
          case (0, _) => Seq((hk, "/p/1", false), (hk, "/p/12", true))
          case (1, _) => Seq((hk, "/p/*7$", false), (hk, "/p/3", false),
                             (hk, "/p/3", true))
          case (2, "www.") => Seq((hk, "/", false))
          case _ => Seq.empty
        }
      }
    }

  private val PathRe = "^[a-z]+://[^/]*(/.*)$".r

  /** RFC 9309 verdict: the longest matching pattern decides, allow wins
    * an equal-length tie, no matching rule allows.
    */
  private def allowed(hostKey: String, path: String): Boolean = {
    val matching = rules.filter { case (hk, pat, _) =>
      hk == hostKey && {
        if (pat.contains("*") || pat.endsWith("$"))
          java.util.regex.Pattern.compile(Frontier.robotsRegex(pat))
            .matcher(path).find()
        else path.startsWith(pat)
      }
    }
    matching.isEmpty ||
      matching.maxBy { case (_, pat, allow) => (pat.length, allow) }._3
  }

  type Row = (String, String, Long, Long, String, Int, Long, String, Long,
              Long, Long)

  case class Expected(rows: Set[Row], seen: Set[String], winners: Long,
                      blocked: Int, capped: Int)

  /** The frontier's output for one dump, given the URLs seen before it.
    * The job keeps raw input order as processing order (no per-file
    * re-sort), so each reference line is mapped back to its raw line_ord;
    * winners are unaffected, since the reference's stable (domain, url)
    * sort keeps one URL's lines in raw order.
    */
  def expected(dump: Seq[RawIndexLine], seenBefore: Set[String]): Expected = {
    val rawOrd: Map[(String, String, String, String, String), Long] =
      dump.flatMap { l =>
        RefInterpreter.readFields(l.line).map { case (u, w, o, n, _, _) =>
          (l.file, u, w, o, n) -> l.line_ord }
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    val filtered = RefInterpreter.filterIndex(dump)
    val winners = RefInterpreter.collectWinners(filtered, "biggest",
                                                skipUrls = seenBefore)
    val kept = RefInterpreter.keepWinners(filtered, winners)
      .map { k =>
        val f = k.fields
        k.copy(lineOrd = rawOrd((k.file, f.url, f.warc, f.offset, f.length)))
      }
      .groupBy(_.fields.url).values
      .map(_.minBy(k => (k.fileOrd, k.lineOrd))).toSeq
    val gated = kept.filter { k =>
      val path = PathRe.findFirstMatchIn(k.fields.url).map(_.group(1))
        .getOrElse("")
      allowed(Urls.host(k.fields.url), path)
    }
    val waved = gated.groupBy(k => Urls.host(k.fields.url)).values.flatMap {
      ks => ks.sortBy(k => (k.fileOrd, k.lineOrd)).zipWithIndex
        .map { case (k, i) => (k, i + 1L) }
    }.filter(_._2 <= quota).toMap
    val rows = RefInterpreter.crawlOrder(waved.keys.toSeq).zipWithIndex.map {
      case (k, ord) =>
        val f = k.fields
        (f.url, f.warc, f.offset.toLong, f.length.toLong, k.file, k.fileOrd,
         k.lineOrd, Urls.host(f.url), waved(k), ord.toLong, ord / batchSize)
    }
    Expected(rows.toSet, winners.keySet.toSet, winners.size.toLong,
             kept.size - gated.size, gated.size - waved.size)
  }

  test("polite runBatch (robots + quota) matches the reference, two dumps") {
    val table = Files.createTempDirectory("frontier-polite").toString
    val rulesDf = rules.toDF("host_key", "path_prefix", "allow")
    var seen = Set.empty[String]
    dumps.zipWithIndex.foreach { case (dump, d) =>
      val exp = expected(dump, seen)
      assert(exp.blocked > 0 && exp.capped > 0,
        s"dump $d must exercise both the robots gate and the quota")
      val r = FrontierJob.runBatch(spark, dump.toDF(), table,
        robots = Some(rulesDf), politenessQuota = quota,
        fetchBatchSize = batchSize, dumpId = s"d$d")

      assert(r.batches.columns.toSet == Set("url", "warc", "offset",
        "length", "file", "file_ord", "line_ord", "host_key", "wave", "ord",
        "batch_id"))
      val got = r.batches
        .select("url", "warc", "offset", "length", "file", "file_ord",
                "line_ord", "host_key", "wave", "ord", "batch_id")
        .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
          x.getLong(3), x.getString(4), x.getAs[Number](5).intValue,
          x.getLong(6), x.getString(7), x.getAs[Number](8).longValue,
          x.getLong(9), x.getLong(10)): Row)
      assert(got.length == exp.rows.size, s"dump $d: duplicate batch rows")
      assert(got.toSet == exp.rows, s"dump $d batches")

      val delta = spark.read.parquet(s"$table/${r.manifest.dataPath}")
        .as[String].collect()
      assert(delta.length == exp.seen.size, s"dump $d: one delta row per winner")
      assert(delta.toSet == exp.seen, s"dump $d seen delta")

      seen ++= exp.seen
      val m = r.manifest.metrics
      assert(m("n_winners") == exp.winners)
      assert(m("n_scheduled") == exp.rows.size.toLong)
      assert(m("n_seen_urls") == seen.size.toLong)
      assert(Snapshots.latest(table).get.snapshotId == d.toLong)
    }
  }
}
