package graft.operators

import scala.util.Random

import graft.TestSpark
import graft.ref.RefRobots
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Frontier's robots kernels against the window/join chains they replaced
  * (graft.ref.RefRobots), on randomized LF files with space indentation
  * and integer delays: the same rule rows for the parser, the same rows
  * and column order for the gate.
  */
class RobotsParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // equal-length pairs ("/a*"/"/ab", "/*"/"/😀" in code points), `$`
  // anchors, a literal non-trailing `$`, a prefix of another pattern
  private val patterns = Seq("/", "/a", "/ab", "/a*", "/a/b", "/*.php$",
    "/a$", "/x$y", "/p/1", "/p/12", "/*", "/😀", "/*b$")
  private val paths = Seq("/", "/a", "/ab", "/a/b", "/a/b.php", "/x$y",
    "/p/12", "/p/1x", "/😀", "/😀b", "/zz", "")
  private val agents = Seq("*", "googlebot", "GoogleBot", "otherbot")

  /** A robots file: rules before the first group, unknown and comment
    * lines between user-agent lines, duplicates, empty Disallow lines.
    */
  private def file(rnd: Random): String =
    Seq.fill(rnd.nextInt(12)) {
      def pat = patterns(rnd.nextInt(patterns.size))
      rnd.nextInt(11) match {
        case 0 | 1 => s"User-agent: ${agents(rnd.nextInt(agents.size))}"
        case 2 => s"Disallow: $pat"
        case 3 => s"  allow:$pat   # why"
        case 4 => s"ALLOW: $pat"
        case 5 => "Disallow:"
        case 6 => s"Crawl-delay: ${rnd.nextInt(10)}"
        case 7 => s"# note ${rnd.nextInt(9)}"
        case 8 => s"Sitemap: https://x.example/s${rnd.nextInt(3)}.xml"
        case 9 => "unknown line"
        case _ => ""
      }
    }.mkString("", "\n", if (rnd.nextBoolean()) "\n" else "")

  private def files(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    val fs = (0 until 40).map(i => (Option(s"h$i"), Option(file(rnd)))) ++
      Seq((None, Some("User-agent: *\nDisallow: /")), (Some("h-null"), None))
    fs.toDF("host_key", "content")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("robotsRules equals the reference chain on randomized files") {
    Seq(1, 2, 3).foreach { seed =>
      val fs = files(seed)
      Seq("*", "googlebot").foreach { agent =>
        val got = Frontier.robotsRules(fs, agent)
        val want = RefRobots.robotsRules(fs, agent)
        assert(got.columns.toSeq == want.columns.toSeq)
        assert(sorted(got) == sorted(want), s"seed $seed agent $agent")
      }
    }
  }

  test("robotsGate equals the reference chain, nulls included") {
    Seq(4, 5, 6).foreach { seed =>
      val rnd = new Random(seed)
      val parsed = Frontier.robotsRules(files(seed))
        .select("host_key", "path_prefix", "allow").as[(String, String, Boolean)]
        .collect().toSeq
        .map { case (h, p, a) => (Option(h), Option(p), Option(a)) }
      // null host, prefix and allow rows next to the parsed ones
      val extra = Seq.fill(12) {
        (Option.when(rnd.nextInt(4) > 0)(s"h${rnd.nextInt(40)}"),
         Option.when(rnd.nextInt(4) > 0)(patterns(rnd.nextInt(patterns.size))),
         Option.when(rnd.nextInt(3) > 0)(rnd.nextBoolean()))
      }
      val rules = (parsed ++ extra).toDF("host_key", "path_prefix", "allow")
      // the path is a function of the url (as in the job), null for some;
      // urls repeat across rows and some are null
      val cand = Seq.fill(300) {
        val k = rnd.nextInt(150)
        val host = if (k % 17 == 0) None else Some(s"h${rnd.nextInt(45)}")
        val url = if (k % 23 == 0) None else Some(s"u$k")
        val path = if (k % 19 == 0) None else Some(paths(k % paths.size))
        (rnd.nextInt(1000).toLong, url, path, host)
      }.toDF("offset", "url", "path", "host_key")
      val got = Frontier.robotsGate(cand, rules)
      val want = RefRobots.robotsGate(cand, rules)
      assert(got.columns.toSeq == Seq("host_key", "url", "offset", "path"))
      assert(got.columns.toSeq == want.columns.toSeq)
      val (g, w) = (sorted(got), sorted(want))
      assert(g.size < 300 && g.size > 0, s"seed $seed: the gate must drop some rows")
      assert(g == w, s"seed $seed")
    }
  }

  test("robotsGate ranks pattern length in code points, as the reference") {
    val cand = Seq(("h", "u1", "/😀")).toDF("host_key", "url", "path")
    // "/*" and "/😀" are both two code points: allow wins the tie
    val rules = Seq(("h", "/*", true), ("h", "/😀", false))
      .toDF("host_key", "path_prefix", "allow")
    val got = Frontier.robotsGate(cand, rules).collect().toSeq
    assert(got == RefRobots.robotsGate(cand, rules).collect().toSeq)
    assert(got.map(_.getString(1)) == Seq("u1"))
    assert(got.head == Row("h", "u1", "/😀"))
  }
}
