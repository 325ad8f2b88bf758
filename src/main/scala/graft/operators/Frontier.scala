package graft.operators

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

  /** As politenessRank, also returning the cache intermediates pinned by
    * the unbounded path (empty when the bounded/window path ran); batch
    * drivers should release each via UrlDedup.releaseOrderCache once the
    * result is consumed, mirroring crawlOrderEx.
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

  /** Exact per-host rank with NO per-host task, all codegen: global
    * range sort on (host, priority...) gives each row a contiguous
    * global ord (the crawlOrder partition-offset idiom — a mega-host
    * SPREADS across range partitions since boundaries fall inside the
    * host, the opposite of a host-partitioned window); then
    * wave = ord − min(ord per host) + 1. The per-host minimum is a
    * partial-aggregated groupBy (map-side combine ⇒ skew-free) and the
    * join back is AQE territory: broadcast when the host table is small,
    * skew-split sort-merge when it is not — either way no single task
    * ever owns a whole mega-host. An earlier mapPartitions
    * streaming-counter variant computed the same thing but paid ~45%
    * wall (full-row object deser/ser ×2, task GC ×2 at 8M URLs on this
    * box) versus this plan's staying inside Tungsten end-to-end.
    *
    * Ties in `priorityCols` order get arbitrary-but-deterministic waves
    * (same caveat as row_number over a non-total order).
    */
  private[graft] def politenessRankUnbounded(
      candidates: DataFrame,
      hostCol: String,
      priorityCols: Seq[Column]): (DataFrame, Seq[DataFrame]) = {
    val mask = lit((1L << 33) - 1)
    // Pin the sort INPUT first: a range sort runs its boundary-sampling
    // pass over its child before the shuffle, and here the child is the
    // whole parse→anti-join→winner chain — unpinned, that chain executes
    // TWICE (sampling + sort), which measured ~+30% per batch at 8
    // cores. The legacy window paid no sampling (hash exchange); this
    // checkpoint buys the same single-execution property back for one
    // pass through the block manager.
    val pre = candidates.localCheckpoint()
    val sorted = pre
      .orderBy((col(hostCol).asc +: priorityCols): _*)
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint()
    // ONE auxiliary scan of the checkpoint feeds both partition offsets
    // and per-host minimum: group to (partition, host) — host-scale, with
    // map-side combine — then derive each from that small frame
    val aux = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"), col(hostCol))
      .agg(count(lit(1)).as("__cnt"), min(col("__mid")).as("__minmid"))
      .localCheckpoint(false)
    val offsets = aux
      .groupBy(col("__pid")).agg(sum(col("__cnt")).as("__cnt"))
      .withColumn("__offset",
        coalesce(
          sum(col("__cnt")).over(
            org.apache.spark.sql.expressions.Window.orderBy(asc("__pid"))
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__offset"))
    // per-host global first ord; tiny per-host groups (<= one row per
    // partition the host touches), so the agg cannot skew
    val firsts = aux
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn("__mord", col("__offset") + col("__minmid").bitwiseAND(mask))
      .groupBy(col(hostCol)).agg(min(col("__mord")).as("__h0"))
    val ranked = sorted
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offsets), Seq("__pid"))
      // host-keyed join: AQE picks broadcast when the host table is
      // small, skew-split sort-merge when it is not — no single task
      // ever owns a whole mega-host
      .join(firsts, Seq(hostCol))
      // wave stays LongType here: this path exists precisely for
      // mega-hosts, where an Int cast would wrap past 2^31 candidates
      // (and the quota filter would then keep negative waves). The
      // window path's wave is IntegerType but is quota-bounded by
      // construction, so the narrower type is safe there.
      .withColumn("wave",
        col("__offset") + col("__mid").bitwiseAND(mask)
          - col("__h0") + 1L)
      .drop("__pid", "__mid", "__offset", "__h0")
    (ranked, Seq(pre, sorted, aux))
  }

  /** Exact per-host politeness rank for the frontier's own priority
    * order (file_ord, line_ord) — ONE hash shuffle, no range sort, no
    * checkpoint. The decomposition: line_ord is unique within a file,
    * so
    *
    *   wave = Σ_{f' < file_ord} count(host, f')            (cum table)
    *        + row_number within (host, file_ord) by line_ord
    *
    * Skew: the window task group is (host, file_ord) — bounded by a
    * host's lines in ONE index shard, which the FORMAT caps (cdx/cluster
    * shards are fixed-size, cc_corpus/index.py shard layout), not by how
    * popular the host is: a mega-host spreads across shards. The cum
    * table is one narrow row per distinct (host, file) — ≤ input rows,
    * ~40 bytes each, map-side combined — and its per-host running sum
    * windows over ≤ files-per-dump rows. The final join's big side needs
    * NO re-exchange: the window already hash-partitioned it on exactly
    * the join keys (host, file) and sorted by a (host, file) prefix, so
    * only the narrow cum side shuffles.
    *
    * Versus politenessRankUnbounded this eliminates, per batch: the
    * range-sort boundary-sampling pass, the full-width sorted
    * localCheckpoint (write + 2 reads through the block manager), and
    * the aux/firsts join chain — the wave column is a deterministic
    * function of the data (no monotonically_increasing_id), so repeated
    * consumers recompute consistently without pinning. Output wave is
    * LongType (mega-host ranks can exceed Int).
    *
    * Requires: lineCol unique within (hostCol, fileCol) — true for
    * index lines by construction. For arbitrary priority columns use
    * politenessRank/politenessRankEx.
    */
  def politenessRankByFile(candidates: DataFrame,
                           hostCol: String,
                           fileCol: String = "file_ord",
                           lineCol: String = "line_ord"): DataFrame = {
    val wGrp = Window.partitionBy(col(hostCol), col(fileCol))
      .orderBy(asc(lineCol))
    val cum = candidates
      .groupBy(col(hostCol), col(fileCol))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum",
        coalesce(
          sum(col("__c")).over(
            Window.partitionBy(col(hostCol)).orderBy(asc(fileCol))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(hostCol), col(fileCol), col("__cum"))
    candidates
      .withColumn("__rn", row_number().over(wGrp))
      .join(cum, Seq(hostCol, fileCol))
      .withColumn("wave", col("__cum") + col("__rn"))
      .drop("__rn", "__cum")
  }

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

  /** `Sitemap:` lines from robots files — the sitemaps-protocol seed
    * channel ([[graft.sources.Sitemaps]] parses what these point at).
    * Per the protocol these are GLOBAL, not user-agent-group-scoped,
    * so this is a plain line scan: strip comments, keep sitemap lines,
    * take everything after the FIRST colon (the URL's own '://' colon
    * comes later). Pure columns, no window.
    */
  def robotsSitemaps(files: DataFrame,
                     hostCol: String = "host_key",
                     contentCol: String = "content"): DataFrame =
    files
      .select(col(hostCol),
        explode(split(col(contentCol), "\n")).as("raw"))
      .withColumn("line", trim(regexp_replace(col("raw"), "#.*$", "")))
      .filter(lower(col("line")).startsWith("sitemap:"))
      .select(col(hostCol),
        trim(expr("substring(line, instr(line, ':') + 1)"))
          .as("sitemap_url"))

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
