package graft.ref

import graft.operators.Frontier.robotsRegex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The robots parser and gate as window/join chains over columns, kept
  * as the parity reference for Frontier's per-file kernels (test oracle
  * only): `robotsRules` numbers each file's lines with posexplode and
  * finds group boundaries with lag/sum windows, `robotsGate` takes a
  * distinct → join → groupBy argmax → join-back round trip. Two inputs
  * they mishandle are out of their contract: CRLF or tab-indented files
  * (lines split on LF, trimmed of spaces only) and non-integer
  * Crawl-delay values (the long cast throws under ANSI mode).
  */
object RefRobots {

  private val robotsRegexUdf = udf(robotsRegex _)

  /** J8 robots gating: keep candidates not disallowed by the most
    * specific matching rule for their host (RFC 9309: longest pattern
    * wins, `*`/`$` wildcards supported); hosts with no matching rule are
    * allowed. Patterns compile to regexes once on the rules side, then
    * a host_key join, match, and a longest-pattern argmax per candidate.
    * The join strategy is AQE's call, NOT a forced broadcast: at
    * fixture scale the rules side is tiny and AQE broadcasts it anyway,
    * but at web scale the all-hosts rules table is GBs — a mandatory
    * BroadcastExchange would OOM the driver, while the host_key
    * sort-merge path stays skew-split capable. Plain prefix rules (no
    * `*`/`$`) keep the codegen'd startsWith fast path.
    */
  def robotsGate(candidates: DataFrame, rules: DataFrame,
                 urlCol: String = "url",
                 urlPathCol: String = "path"): DataFrame = {
    val compiled = rules
      .withColumn("__wild",
        col("path_prefix").contains("*") || col("path_prefix").endsWith("$"))
      .withColumn("__rx",
        when(col("__wild"), robotsRegexUdf(col("path_prefix"))))
    // Verdict per distinct (host_key, url): longest matching pattern
    // wins; no matching rule -> allowed. Distinct first so the broadcast
    // join and argmax run once per URL, not once per candidate row.
    val verdicts = candidates
      .select(col("host_key"), col(urlCol), col(urlPathCol))
      .distinct()
      .join(compiled, Seq("host_key"), "inner")
      .filter(
        when(col("__wild"), regexp_like(col(urlPathCol), col("__rx")))
          .otherwise(col(urlPathCol).startsWith(col("path_prefix"))))
      .groupBy("host_key", urlCol)
      // longest pattern wins; equal-length tie -> allow (RFC 9309 §2.2.2)
      .agg(max_by(col("allow"), struct(length(col("path_prefix")), col("allow")))
        .as("__allowed"))
    candidates
      .join(verdicts, Seq("host_key", urlCol), "left_outer")
      .filter(coalesce(col("__allowed"), lit(true)))
      .drop("__allowed")
  }

  /** RFC 9309 robots.txt parser: (host_key, content) files → the rules
    * table robotsGate consumes, as pure column/window work (windows are
    * per robots FILE — bounded by file size, never by corpus skew):
    * lines → strip comments → classify (user-agent / allow / disallow /
    * crawl-delay) → group boundaries (a user-agent line NOT preceded by
    * another user-agent line starts a group, RFC 9309 §2.2.1: consecutive
    * UA lines share one group) → per host pick the most specific
    * applicable group (exact agent match beats `*`; no match → no rules
    * = allow all) → emit (host_key, path_prefix, allow, crawl_delay).
    * Empty Disallow: lines are allow-all no-ops and emit nothing.
    */
  def robotsRules(files: DataFrame, agent: String = "*",
                  hostCol: String = "host_key",
                  contentCol: String = "content"): DataFrame = {
    val wFile  = Window.partitionBy(col(hostCol)).orderBy(asc("line_idx"))
    val lines = files
      .select(col(hostCol),
              posexplode(split(col(contentCol), "\n")).as(Seq("line_idx", "raw")))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(length(col("line")) > 0)
      .withColumn("kind",
        when(lower(col("line")).startsWith("user-agent:"), "ua")
          .when(lower(col("line")).startsWith("allow:"), "allow")
          .when(lower(col("line")).startsWith("disallow:"), "disallow")
          .when(lower(col("line")).startsWith("crawl-delay:"), "delay"))
      .filter(col("kind").isNotNull)
      .withColumn("value",
        trim(expr("substring(line, instr(line, ':') + 1)")))
      .withColumn("grp_start",
        (col("kind") === "ua" &&
          coalesce(lag(col("kind"), 1).over(wFile), lit("")) =!= "ua")
          .cast("long"))
      .withColumn("grp",
        sum(col("grp_start")).over(
          wFile.rowsBetween(Window.unboundedPreceding, 0)))
    // group applicability: exact agent name beats the wildcard
    val groups = lines.filter(col("kind") === "ua")
      .groupBy(hostCol, "grp")
      .agg(max(when(lower(col("value")) === agent.toLowerCase, 2)
          .when(col("value") === "*", 1).otherwise(0)).as("spec"))
      .filter(col("spec") > 0)
    val wHost = Window.partitionBy(col(hostCol))
    val chosen = groups
      .withColumn("best", max(col("spec")).over(wHost))
      .filter(col("spec") === col("best"))
      .select(col(hostCol), col("grp"))
    val rules = lines
      .join(chosen, Seq(hostCol, "grp"), "left_semi")
      .filter(col("kind").isin("allow", "disallow", "delay"))
    val delays = rules.filter(col("kind") === "delay")
      .groupBy(hostCol)
      .agg(min(col("value").cast("long")).as("crawl_delay"))
    rules
      .filter(col("kind").isin("allow", "disallow") && length(col("value")) > 0)
      .select(col(hostCol), col("value").as("path_prefix"),
              (col("kind") === "allow").as("allow"))
      .join(delays, Seq(hostCol), "left_outer")
      .withColumn("crawl_delay", coalesce(col("crawl_delay"), lit(1L)))
  }
}
