package graft.operators

import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Frontier scheduling: per-host politeness quotas, robots gating and
  * byte-range coalescing (SURVEY.md §7.1 item 3; reference constants §6).
  *
  * Politeness is *data layout*, not threads (§2.7): candidates are ranked
  * per host_key; `wave` is the emission round — one URL per host per wave,
  * so a fetch executor that processes waves in order respects per-host
  * delay budgets, and a mega-host cannot stall a partition (its URLs land
  * in later waves while other hosts' early waves proceed).
  */
object Frontier {

  /** Rank candidates per host by priority; emit at most `quota` per host.
    * `wave` = within-host rank: the politeness emission round.
    *
    * Skew safety: a mega-host would put its every URL into one task's
    * window sort. When the quota is bounded, a salted pre-prune runs
    * first — per (host, salt) keep the top `quota` rows — so the exact
    * final window only sees <= quota * salts rows per host. Any row in a
    * host's true top-quota ranks <= quota within its salt bucket too, so
    * the pre-prune never drops a final survivor: results are identical to
    * the direct window for any total priority order.
    */
  def politenessRank(candidates: DataFrame,
                     hostCol: String,
                     priorityCols: Seq[Column],
                     quota: Int,
                     salts: Int = 16): DataFrame =
    politenessRankEx(candidates, hostCol, priorityCols, quota, salts)._1

  /** As politenessRank, also returning the pins taken by the unbounded
    * path (empty when the bounded/window path ran); free them with
    * `Pin.release` once the result is consumed.
    */
  def politenessRankEx(candidates: DataFrame,
                       hostCol: String,
                       priorityCols: Seq[Column],
                       quota: Int,
                       salts: Int = 16): (DataFrame, Seq[DataFrame]) = {
    if (quota >= Int.MaxValue / math.max(salts, 1)) {
      // Large/unbounded quota: the window below would put a mega-host's
      // EVERY row into one task (the pre-prune keeps quota*salts rows per
      // host — no bound when quota is this large) — straggler/OOM at a
      // skewed host distribution. Exact skew-free path instead; a FINITE
      // quota routed here is still enforced by filtering on the exact
      // wave (it was silently dropped before r5).
      val (ranked, caches) =
        politenessRankUnbounded(candidates, hostCol, priorityCols)
      val limited =
        if (quota < Int.MaxValue) ranked.filter(col("wave") <= quota)
        else ranked
      (limited, caches)
    } else {
      val w = Window.partitionBy(col(hostCol)).orderBy(priorityCols: _*)
      val pruned =
        if (salts <= 1) candidates
        else {
          // bucket assignment only affects which non-survivors are pruned
          // early, never the final result -> a cheap row-id salt is fine
          val wPre = Window.partitionBy(col(hostCol), col("__salt"))
            .orderBy(priorityCols: _*)
          candidates
            .withColumn("__salt", pmod(monotonically_increasing_id(), lit(salts.toLong)))
            .withColumn("__prn", row_number().over(wPre))
            .filter(col("__prn") <= quota)
            .drop("__salt", "__prn")
        }
      (pruned
        .withColumn("wave", row_number().over(w))
        .filter(col("wave") <= quota), Seq.empty)
    }
  }

  /** Exact per-host rank with no per-host task: a global range sort on
    * (host, priority...) gives each row a contiguous ord
    * (UrlDedup.ordByPartitionOffsets, which spreads a mega-host across
    * range partitions), and wave = ord − min(ord per host) + 1. The
    * per-host minimum is map-side combined, and AQE picks the join back:
    * broadcast when the host table is small, skew-split sort-merge when
    * it is not. Wave is LongType: this path exists for mega-hosts, where
    * an Int would wrap past 2^31 candidates. Ties in `priorityCols` get
    * arbitrary-but-deterministic waves.
    */
  private[graft] def politenessRankUnbounded(
      candidates: DataFrame,
      hostCol: String,
      priorityCols: Seq[Column]): (DataFrame, Seq[DataFrame]) = {
    // the range sort samples its child before it shuffles it; pinned, the
    // candidates' chain runs once for both (unpinned: ~+30% per batch at
    // 8 cores), and is free once the eager sorted pin holds the rows
    val pre = Pin(candidates)
    val ord = UrlDedup.ordByPartitionOffsets(pre,
      col(hostCol).asc +: priorityCols, "__ord")
    Pin.release(pre)
    val firsts = ord.groupBy(col(hostCol)).agg(min(col("__ord")).as("__h0"))
    val ranked = ord.join(firsts, Seq(hostCol))
      .withColumn("wave", col("__ord") - col("__h0") + 1L)
      .drop("__ord", "__h0")
    (ranked, Seq(ord))
  }

  /** Exact per-host politeness rank for the frontier's own priority
    * order (file_ord, line_ord): one hash shuffle, no range sort, no
    * pin. Since line_ord is unique within a file, the rank decomposes
    * per (host, index file) — UrlDedup.ordByGroupCounts restarted per
    * host — so the window task unit is a host's lines in one index
    * shard, capped by the format, not by the host's size. Output wave is
    * LongType, 1-based.
    *
    * Requires: lineCol unique within (hostCol, fileCol) — true for
    * index lines by construction. For arbitrary priority columns use
    * politenessRank/politenessRankEx.
    */
  def politenessRankByFile(candidates: DataFrame,
                           hostCol: String,
                           fileCol: String = "file_ord",
                           lineCol: String = "line_ord"): DataFrame =
    UrlDedup.ordByGroupCounts(candidates, groupCol = fileCol,
        innerSort = Seq(asc(lineCol)), ordCol = "wave",
        within = Seq(hostCol))
      .withColumn("wave", col("wave") + 1L)

  /** Politeness schedule: earliest-fetch epoch second per candidate —
    * wave w of a host fetches no earlier than t0 + (w-1) * its
    * crawl-delay (the reference's 1 s/host budget, get_indexfiles.py
    * politeness; robots Crawl-delay can override per host via the
    * delaySeconds column). Pure column arithmetic over politenessRank's
    * `wave`, so the schedule is data, not threads — any fetch executor
    * that respects `not_before_epoch` is polite by construction.
    */
  def scheduleWaves(ranked: DataFrame,
                    t0Epoch: Column,
                    delaySeconds: Column = lit(1L)): DataFrame =
    ranked.withColumn("not_before_epoch",
      t0Epoch + (col("wave") - 1).cast(LongType) * delaySeconds)

  /** RFC 9309 path pattern → anchored Java regex: `*` matches any char
    * run, a trailing `$` anchors the end; everything else is literal
    * (a non-trailing `$` included). Without a trailing `$` the regex is
    * only start-anchored — prefix-style matching.
    */
  def robotsRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    val endAnchor = pattern.endsWith("$")
    val body = if (endAnchor) pattern.dropRight(1) else pattern
    body.foreach {
      case '*' => sb.append(".*")
      case c if "\\.^$+?(){}[]|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    if (endAnchor) sb.append('$')
    sb.toString
  }

  /** One rule of the group a robots file applies to the agent, with the
    * file's crawl delay: the struct robotsRules explodes per file.
    */
  case class RobotsRule(path_prefix: String, allow: Boolean, crawl_delay: Long)

  /** A rules-table row as robotsGate's verdict reads it. */
  case class RobotsPattern(path_prefix: String, allow: Option[Boolean])

  /** robotsGate's per-row verdict (RFC 9309 §2.2.2): the longest matching
    * pattern decides, allow wins an equal-length tie, no matching rule
    * allows. A null path or prefix matches nothing; a null allow ranks
    * below disallow and allow of its length, and allows if it decides.
    * Pattern length counts code points. Each task deserializes its own
    * instance, so `*`/`$` patterns compile once per pattern per task.
    */
  private final class RobotsVerdict
      extends ((String, Seq[RobotsPattern]) => Boolean) with Serializable {
    @transient private lazy val compiled = mutable.HashMap.empty[String, Pattern]

    def apply(path: String, rules: Seq[RobotsPattern]): Boolean = {
      if (path == null || rules == null) return true
      var bestLen = -1
      var bestRank = -1 // 0 null allow, 1 disallow, 2 allow
      rules.foreach { r =>
        val p = r.path_prefix
        if (p != null) {
          val hit =
            if (p.indexOf('*') >= 0 || p.endsWith("$"))
              compiled.getOrElseUpdate(p, Pattern.compile(robotsRegex(p)))
                .matcher(path).find()
            else path.startsWith(p)
          if (hit) {
            val len = p.codePointCount(0, p.length)
            val rank = r.allow.fold(0)(a => if (a) 2 else 1)
            if (len > bestLen || (len == bestLen && rank > bestRank)) {
              bestLen = len
              bestRank = rank
            }
          }
        }
      }
      bestRank != 1
    }
  }

  private val robotsVerdictUdf = udf(new RobotsVerdict)

  /** J8 robots gating: keep candidates not disallowed by the most
    * specific matching rule for their host (RFC 9309: longest pattern
    * wins, `*`/`$` wildcards supported); hosts with no matching rule, and
    * candidates with a null host_key or url, are allowed. The rules
    * group per host into one list (the only exchange that touches just
    * the rules), each candidate left-outer joins its host's list on
    * host_key, and a per-row kernel gives the verdict. The join strategy
    * is AQE's call, NOT a forced broadcast: at fixture scale the rules
    * side is tiny and AQE broadcasts it anyway, but at web scale the
    * all-hosts rules table is GBs — a mandatory BroadcastExchange would
    * OOM the driver, while the host_key sort-merge path stays skew-split
    * capable. Output columns: host_key, url, then the candidates' others.
    */
  def robotsGate(candidates: DataFrame, rules: DataFrame,
                 urlCol: String = "url",
                 urlPathCol: String = "path"): DataFrame = {
    val perHost = rules
      .groupBy(col("host_key"))
      .agg(collect_list(struct(col("path_prefix"), col("allow"))).as("__rules"))
    val out = Seq("host_key", urlCol) ++
      candidates.columns.filterNot(Set("host_key", urlCol))
    candidates
      .join(perHost, Seq("host_key"), "left_outer")
      .filter(col(urlCol).isNull ||
        robotsVerdictUdf(col(urlPathCol), col("__rules")))
      .select(out.map(col): _*)
  }

  private val LineBreak = Pattern.compile("\r\n|\r|\n")
  private val DelayValue = Pattern.compile("[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)")

  /** `s` without leading and trailing spaces and tabs. */
  private def trimBlank(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && (s.charAt(i) == ' ' || s.charAt(i) == '\t')) i += 1
    while (j > i && (s.charAt(j - 1) == ' ' || s.charAt(j - 1) == '\t')) j -= 1
    s.substring(i, j)
  }

  /** A Crawl-delay value in whole seconds: an integer as written, a
    * decimal rounded up (0.5 -> 1), anything else None.
    */
  private[graft] def crawlDelaySeconds(v: String): Option[Long] =
    if (!DelayValue.matcher(v).matches()) None
    else
      try Some(new java.math.BigDecimal(v)
        .setScale(0, java.math.RoundingMode.CEILING).longValueExact())
      catch { case _: ArithmeticException => None }

  /** One robots file's rules for `agent`, in one pass over its lines (see
    * robotsRules). A group's state: its best agent match (2 exact, 1 `*`),
    * its rules in file order and its smallest valid delay.
    */
  private def parseRobots(content: String, agent: String): Seq[RobotsRule] = {
    if (content == null) return Nil
    final class Group {
      var spec = 0
      val rules = mutable.ArrayBuffer.empty[(String, Boolean)]
      var delay = Option.empty[Long]
    }
    val agentLower = agent.toLowerCase(Locale.ROOT)
    val groups = mutable.ArrayBuffer.empty[Group]
    var prevUa = false
    LineBreak.split(content).foreach { raw =>
      val hash = raw.indexOf('#')
      val line = trimBlank(if (hash >= 0) raw.substring(0, hash) else raw)
      val low = line.toLowerCase(Locale.ROOT)
      val kind =
        if (low.startsWith("user-agent:")) 'u'
        else if (low.startsWith("allow:")) 'a'
        else if (low.startsWith("disallow:")) 'd'
        else if (low.startsWith("crawl-delay:")) 'c'
        else ' '
      if (kind != ' ') {
        val value = trimBlank(line.substring(line.indexOf(':') + 1))
        kind match {
          case 'u' =>
            if (!prevUa) groups += new Group
            val spec =
              if (value.toLowerCase(Locale.ROOT) == agentLower) 2
              else if (value == "*") 1 else 0
            groups.last.spec = math.max(groups.last.spec, spec)
          case 'a' | 'd' =>
            if (groups.nonEmpty && value.nonEmpty)
              groups.last.rules += ((value, kind == 'a'))
          case _ =>
            if (groups.nonEmpty) crawlDelaySeconds(value).foreach { d =>
              groups.last.delay = Some(groups.last.delay.fold(d)(math.min(_, d)))
            }
        }
        prevUa = kind == 'u'
      }
    }
    val best = groups.iterator.map(_.spec).maxOption.getOrElse(0)
    if (best == 0) Nil
    else {
      val chosen = groups.filter(_.spec == best)
      val delay = chosen.flatMap(_.delay).minOption.getOrElse(1L)
      chosen.flatMap(_.rules).map { case (p, a) => RobotsRule(p, a, delay) }.toSeq
    }
  }

  /** RFC 9309 robots.txt parser: (host_key, content) files → the rules
    * table robotsGate consumes, (host_key, path_prefix, allow,
    * crawl_delay). Every rule is scoped to its own file, so this is one
    * narrow pass: a per-file kernel parses the content and its rules
    * explode, with no shuffle. Per file: lines split on CRLF, CR or LF
    * (RFC 9309 §2.2) → strip `#` comments and surrounding spaces and tabs
    * → classify (user-agent / allow / disallow / crawl-delay; other lines
    * are skipped and do not end a run of user-agent lines) → group
    * boundaries (a user-agent line NOT preceded by another user-agent
    * line starts a group, RFC 9309 §2.2.1: consecutive UA lines share one
    * group; rules before the first group are ignored) → pick every group
    * of the most specific applicable kind (exact agent match,
    * case-insensitive, beats `*`; no match → no rules = allow all) → emit
    * their allow/disallow rules in file order, duplicates kept. Empty
    * Disallow: lines are allow-all no-ops and emit nothing. Files with a
    * null host_key or content emit nothing.
    *
    * crawl_delay is the smallest Crawl-delay of the chosen groups, 1 s when
    * they give none. A fractional value rounds up to whole seconds (0.5 →
    * 1), so politeness is never looser than asked; a malformed value (e.g.
    * `fast`, or past the Long range) is ignored, as if the line were
    * absent.
    */
  def robotsRules(files: DataFrame, agent: String = "*",
                  hostCol: String = "host_key",
                  contentCol: String = "content"): DataFrame = {
    val parse = udf((content: String) => parseRobots(content, agent))
    files
      .filter(col(hostCol).isNotNull)
      .select(col(hostCol), explode(parse(col(contentCol))).as("__r"))
      .select(col(hostCol), col("__r.path_prefix").as("path_prefix"),
              col("__r.allow").as("allow"),
              col("__r.crawl_delay").as("crawl_delay"))
  }

  /** `Sitemap:` lines from robots files — the sitemaps-protocol seed
    * channel ([[graft.sources.Sitemaps]] parses what these point at).
    * Per the protocol these are GLOBAL, not user-agent-group-scoped,
    * so this is a plain line scan: strip comments, keep sitemap lines,
    * take everything after the FIRST colon (the URL's own '://' colon
    * comes later). As in `robotsRules`, CRLF, CR or LF ends a line, and
    * spaces and tabs are trimmed. Pure columns, no window.
    */
  def robotsSitemaps(files: DataFrame,
                     hostCol: String = "host_key",
                     contentCol: String = "content"): DataFrame = {
    def blankTrimmed(c: Column) = regexp_replace(c, "^[ \t]+|[ \t]+$", "")
    files
      .select(col(hostCol),
        explode(split(col(contentCol), LineBreak.pattern)).as("raw"))
      .withColumn("line", blankTrimmed(regexp_replace(col("raw"), "#.*$", "")))
      .filter(lower(col("line")).startsWith("sitemap:"))
      .select(col(hostCol),
        blankTrimmed(expr("substring(line, instr(line, ':') + 1)"))
          .as("sitemap_url"))
  }

  /** O2 byte-range coalescing: group cluster ranges by file, merge
    * byte-contiguous runs (offset == previous end), cap each batch at
    * `maxClusters` (cc_corpus/index.py:187–241; ≤100 clusters/request,
    * get_indexfiles.py:64–70).  Output: one row per (file, batch) with
    * the merged [start, end) range and member count.
    */
  def coalesceRanges(clusters: DataFrame, maxClusters: Int = 100): DataFrame = {
    val w = Window.partitionBy("file_name").orderBy(asc("offset"))
    val runs = clusters
      .withColumn("prev_end", lag(col("offset") + col("length"), 1).over(w))
      .withColumn("is_break",
        when(col("prev_end").isNull || col("prev_end") =!= col("offset"), 1L)
          .otherwise(0L))
      .withColumn("run_id",
        sum(col("is_break")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("pos_in_run",
        row_number().over(
          Window.partitionBy(col("file_name"), col("run_id"))
            .orderBy(asc("offset"))))
      .withColumn("batch_in_run",
        ((col("pos_in_run") - 1) / maxClusters).cast(LongType))
    runs
      .groupBy("file_name", "run_id", "batch_in_run")
      .agg(
        min("offset").as("range_start"),
        max(col("offset") + col("length")).as("range_end"),
        count(lit(1)).as("n_clusters")
      )
  }
}
