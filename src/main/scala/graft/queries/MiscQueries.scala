package graft.queries

import graft.Sessions.table
import graft.functions.Urls
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Remaining SURVEY.md §2 operators under the driver gate: A6 index
  * statistics, O5 corpus ordering with http/https twin dedup, O10's
  * replacement (salted two-phase aggregation for hot-key skew), and the
  * BPE-ish token count.
  */
object MiscQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Same derived index frame as CrawlQueries (kept in sync with its
    * `indexSql`), with a scheme column for twin-dedup.
    */
  private def urlFrame(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events").select(
      concat(
        when(pmod(col("event_id"), lit(4L)) === 0, lit("http://"))
          .otherwise(lit("https://")),
        lit("h"), pmod(col("user_id"), lit(20L)),
        lit(".example.com/p"), pmod(col("event_id"), lit(100L))).as("url"),
      col("event_id").as("ord"),
      floor(col("value") * 100).cast(LongType).as("length"))

  private val urlFrameSql =
    """SELECT CASE WHEN event_id % 4 = 0 THEN 'http://' ELSE 'https://' END
              || 'h' || (user_id % 20) || '.example.com/p' ||
              (event_id % 100) AS url,
              event_id AS ord,
              CAST(floor(value * 100) AS BIGINT) AS length
       FROM events"""

  val defs: Map[String, Q] = Map(
    // Z-order layout: Morton keys over two derived dims, fixed z-range
    // buckets (what a z-sorted file layout gives each file), per-bucket
    // footer stats + box-pruning verdict; sum(z) makes the oracle
    // sensitive to every bit of every row's key.
    "q_zorder_layout" -> { (s, dir) =>
      val pts = table(s, dir, "events").select(
        (col("user_id") * 41).bitwiseAND(lit(1023L)).as("x"),
        floor(col("value") * 100).cast(LongType)
          .bitwiseAND(lit(1023L)).as("y"))
      graft.operators.Layout.boxCandidates(
        graft.operators.Layout.zBucketStats(pts, "x", "y",
          bits = 10, bucketBits = 6),
        x0 = 200, x1 = 400, y0 = 300, y1 = 600)
    },

    // Per-epoch training shuffle plan: md5-keyed pseudorandom shard +
    // in-shard position, reproducible with no stored permutation — the
    // loader-side read order for one epoch as a query.
    "q_epoch_shuffle" -> { (s, dir) =>
      graft.operators.Layout.epochShuffle(
        table(s, dir, "documents"), epoch = 3, nShards = 16)
    },

    // Rendezvous (HRW) shard routing with the stability property IN
    // the result: assignment under 5 nodes, under 5+1, and the moved
    // flag — every moved key must land on the ADDED node (asserted by
    // spec; the oracle hash-checks all three columns).
    "q_rendezvous" -> { (s, dir) =>
      val urls = urlFrame(s, dir).select("url").distinct()
      val n5 = (0 until 5).map(i => s"node$i")
      val a5 = graft.operators.TableOps.rendezvousAssign(urls, "url", n5)
        .withColumnRenamed("node", "node5")
      val a6 = graft.operators.TableOps.rendezvousAssign(
          a5, "url", n5 :+ "nodeX")
        .withColumnRenamed("node", "node6")
      a6.withColumn("moved", col("node5") =!= col("node6"))
    },

    // MERGE upsert+delete: change batch (U on every 5th key, D on every
    // 15th, I on fresh keys) applied to the base table through the
    // anti-join + union plan; oracle replays with NOT IN / UNION ALL.
    "q_merge_upsert" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val base = ev.select(col("event_id").as("k"),
        floor(col("value") * 100).cast(LongType).as("cents"))
      val upd = ev.filter(pmod(col("event_id"), lit(5L)) === 0)
        .select(col("event_id").as("k"),
          (floor(col("value") * 100).cast(LongType) + 7).as("cents"),
          when(pmod(col("event_id"), lit(15L)) === 0, lit("D"))
            .otherwise(lit("U")).as("op"))
      val ins = ev.filter(pmod(col("event_id"), lit(7L)) === 0)
        .select((col("event_id") + 10000000L).as("k"),
          floor(col("value") * 100).cast(LongType).as("cents"),
          lit("I").as("op"))
      graft.operators.TableOps.mergeUpsert(base, upd.unionByName(ins), "k")
    },

    // Compaction planning: per-directory file listing -> target-sized
    // bins via the cumulative-size-before rule (crossing file ships).
    "q_compaction_plan" -> { (s, dir) =>
      val files = table(s, dir, "events").select(
        concat(lit("d"), pmod(col("user_id"), lit(8L))).as("dir"),
        col("event_id").as("file_id"),
        (floor(col("value") * 100).cast(LongType) + 1).as("size"))
      graft.operators.TableOps.compactionPlan(files, targetBytes = 50000L)
    },

    // Snapshot-retention planner over a synthetic manifest (distinct
    // event minutes as snapshot epochs): keep the 3 most recent plus
    // each UTC day's first snapshot; the rest expire. The oracle
    // replays both windows and the label precedence.
    "q_retention_plan" -> { (s, dir) =>
      val snaps = table(s, dir, "events")
        .groupBy(pmod(col("event_id"), lit(500L)).as("snap_id"))
        .agg(min(unix_timestamp(col("ts"))).as("epoch"))
      graft.operators.TableOps.retentionPlan(snaps, "snap_id", "epoch",
        keepLast = 3)
    },

    // SCD2 history build: validity intervals from a change log
    // ((key, ts) argmax-deduped first — the A0 idiom).
    "q_scd2_intervals" -> { (s, dir) =>
      val log = table(s, dir, "events")
        .groupBy(col("user_id").as("k"), col("ts"))
        .agg(max(floor(col("value") * 100).cast(LongType)).as("cents"))
      graft.operators.TableOps.scd2Intervals(log, "k", "ts")
    },

    // A6 index statistics: per-domain URL/byte/distinctness counters.
    "q_index_stats" -> { (s, dir) =>
      urlFrame(s, dir)
        .withColumn("domain", Urls.domainCol(col("url")))
        .groupBy("domain")
        .agg(
          count(lit(1)).as("n_entries"),
          countDistinct(col("url")).as("n_urls"),
          sum("length").as("sum_bytes"))
    },

    // O5 corpus order: sort by (surt, protocol-less url, ord), keep the
    // first of each http/https twin pair (frequent_paragraphs.py:217–263).
    "q_corpus_order" -> { (s, dir) =>
      val w = Window
        .partitionBy("bare_url")
        .orderBy(asc("surt_key"), asc("bare_url"), asc("ord"))
      urlFrame(s, dir)
        .withColumn("bare_url", Urls.bareUrlCol(col("url")))
        .withColumn("surt_key", Urls.surtKeyCol(Urls.hostCol(col("url"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("surt_key", "bare_url", "url", "ord")
    },

    // O10 replacement: salted two-phase aggregation — hot hosts are
    // split across `salt` sub-keys for the partial phase, then merged;
    // results equal the direct aggregation, plans avoid single-task keys.
    "q_salted_count" -> { (s, dir) =>
      urlFrame(s, dir)
        .withColumn("host", Urls.hostCol(col("url")))
        .withColumn("salt", pmod(col("ord"), lit(8L)))
        .groupBy("host", "salt")
        .agg(count(lit(1)).as("pc"), sum("length").as("pl"))
        .groupBy("host")
        .agg(sum("pc").as("n"), sum("pl").as("sum_len"))
    },

    // F24-adjacent: BPE-ish token counting (letter runs / digit runs /
    // single punctuation marks), next to the whitespace count.
    "q_token_bpe" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        regexp_count(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast(LongType)
          .as("n_bpe_tokens"))
    },

    // Deterministic HyperLogLog: per-event-type distinct-user sketches.
    // Registers are exact integers from md5 string arithmetic — the
    // oracle rebuilds them bit-for-bit; only the final estimate touches
    // floats (identical literal expressions both sides). `exact` is the
    // true distinct count, joined in so the artifact shows sketch error.
    "q_hll_distinct" -> { (s, dir) =>
      val ev = table(s, dir, "events")
        .withColumn("key", col("user_id").cast("string"))
      val regs = graft.operators.Sketches
        .hllRegisters(ev, "key", Seq("event_type"))
      graft.operators.Sketches.hllEstimate(regs, Seq("event_type"))
        .join(ev.groupBy("event_type")
          .agg(countDistinct("key").as("exact")), "event_type")
        .select(col("event_type"), col("zeros"), col("est"), col("exact"))
    },

    // KMV (bottom-k) sketch overlap: per-event-type user sets are
    // sketched to the 64 smallest 60-bit hashes, then every type pair's
    // union/Jaccard/intersection is ESTIMATED from the sketches alone
    // and joined with the exact values — the cross-dump "how much of B
    // did A already cover" planner. The oracle replays hashing, the
    // bottom-64, the combined-sketch algebra and the estimator floats.
    "q_kmv_overlap" -> { (s, dir) =>
      val K = 64
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("u"))
      val sk = graft.operators.Sketches.kmvSketch(ev, "u", K, "event_type")
      val est = graft.operators.Sketches.kmvOverlap(sk, "event_type", K)
      val d = ev.distinct()
      val cnts = d.groupBy("event_type").agg(count(lit(1)).as("n"))
      val x = d.select(col("event_type").as("g_a"), col("u").as("u_a"))
      val y = d.select(col("event_type").as("g_b"), col("u").as("u_b"))
      val inter = x
        .join(y, col("u_a") === col("u_b") && col("g_a") < col("g_b"))
        .groupBy("g_a", "g_b").agg(count(lit(1)).as("__i"))
      est
        .join(inter, Seq("g_a", "g_b"), "left")
        .join(cnts.select(col("event_type").as("g_a"),
          col("n").as("__na")), "g_a")
        .join(cnts.select(col("event_type").as("g_b"),
          col("n").as("__nb")), "g_b")
        .withColumn("exact_inter", coalesce(col("__i"), lit(0L)))
        .withColumn("exact_union",
          col("__na") + col("__nb") - col("exact_inter"))
        .select(col("g_a"), col("g_b"), col("est_union"),
          col("est_jaccard"), col("est_intersection"),
          col("exact_union"), col("exact_inter"),
          round(col("exact_inter") / col("exact_union"), 6)
            .as("exact_jaccard"))
    },

    // Sketch MERGEABILITY on the driver gate: per-type register sets
    // are merged (max per bucket) into one global sketch and estimated.
    // The oracle computes the global sketch DIRECTLY — merge
    // associativity is the property under test, so the two paths must
    // hash-match.
    // Count-min sketch point queries: the sketch is depth·width exact
    // Long counters (deterministic md5 hashing -> oracle-checkable);
    // est_cnt >= exact always, == except on bucket collisions. Three
    // absent keys exercise the zero-cell (left-join) path.
    "q_cms_counts" -> { (s, dir) =>
      import s.implicits._
      val ev = table(s, dir, "events")
        .select(col("user_id").cast("string").as("key"))
      val sketch = graft.operators.Sketches.cmsBuild(ev, "key")
      val probes = ev.distinct()
        .unionByName(Seq("absent-1", "absent-2", "absent-3").toDF("key"))
      graft.operators.Sketches.cmsQuery(probes, "key", sketch)
        .join(ev.groupBy("key").agg(count(lit(1)).as("exact")),
          Seq("key"), "left")
        .select(col("key"), col("est_cnt"),
          coalesce(col("exact"), lit(0L)).as("exact"))
    },

    "q_hll_merge" -> { (s, dir) =>
      val ev = table(s, dir, "events")
        .withColumn("key", col("user_id").cast("string"))
      val perType = graft.operators.Sketches
        .hllRegisters(ev, "key", Seq("event_type"))
      val merged = graft.operators.Sketches
        .hllMerge(perType.drop("event_type"))
      graft.operators.Sketches.hllEstimate(merged)
        .select(col("zeros"), col("est"))
    },

    // Bloom-prefiltered seen-set check: the sketch decision itself
    // (might_seen — pure shift/mask columns against the embedded word
    // array) AND the exact outcome (is_new — anti-join confirm on the
    // maybe sliver only) are both in the artifact, so the oracle
    // hash-checks the false-positive pattern bit-for-bit, and
    // is_new ⇒ might_seen violations (a false NEGATIVE — the one thing
    // a Bloom filter must never do) would break the hash too. The
    // DuckDB twin replays the probe as a position JOIN — an independent
    // realization of the same bit arithmetic.
    "q_bloom_seen" -> { (s, dir) =>
      val u = urlFrame(s, dir)
      val cand = u.select("url").distinct()
      val seen = u.filter(pmod(col("ord"), lit(3L)) === 0).select("url")
      graft.operators.Sketches.bloomSeenFlags(cand, "url", seen, "url")
        .select(col("url"), col("might_seen"), col("is_new"))
    },

    // Histogram quantile sketch over event values: 256 bins of width
    // 4.0, quantiles at 6 permille points. Counts and thresholds are
    // exact integers (ceil as (N*q+999) DIV 1000); the estimate is the
    // first bin whose cumulative count reaches the threshold, reported
    // as the bin's upper edge. The oracle rebuilds bins, cumsum and
    // the integer threshold rule.
    "q_quantile_hist" -> { (s, dir) =>
      val hist = graft.operators.Sketches.histBuild(
        table(s, dir, "events"), "value", binWidth = 4.0, nBins = 256)
      graft.operators.Sketches.histQuantiles(hist,
        Seq(100, 250, 500, 750, 900, 990), binWidth = 4.0)
    },

    // Winsorization: clip a feature at the histogram sketch's p05/p95
    // edges — the outlier-robust normalization pass before any scoring
    // model consumes a heavy-tailed column. Thresholds are two
    // model-scale scalars from the SAME deterministic sketch
    // q_quantile_hist oracles; the clip itself is pure columns.
    "q_winsorize" -> { (s, dir) =>
      val ev = table(s, dir, "events")
      val hist = graft.operators.Sketches.histBuild(
        ev, "value", binWidth = 4.0, nBins = 256)
      val qs = graft.operators.Sketches.histQuantiles(hist,
          Seq(50, 950), binWidth = 4.0)
        .select("q_permille", "est_hi").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (lo, hi) = (qs(50L), qs(950L))
      ev.select(col("event_id"), round(col("value"), 2).as("value"),
        round(least(greatest(col("value"), lit(lo)), lit(hi)), 2)
          .as("clipped"),
        (col("value") < lo || col("value") > hi).as("was_clipped"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q_rendezvous" -> {
      val n5 = (0 until 5).map(i => s"node$i")
      val n6 = n5 :+ "nodeX"
      def wSql(n: String) = s"md5('$n' || ':' || url)"
      def pick(ns: Seq[String], g: String) =
        ns.map(n => s"WHEN ${wSql(n)} = $g THEN '$n'")
          .mkString("CASE ", " ", " END")
      s"""WITH u AS (SELECT DISTINCT url FROM ($urlFrameSql)),
          g AS (
            SELECT url,
                   ${n5.map(wSql).mkString("greatest(", ", ", ")")} AS g5,
                   ${n6.map(wSql).mkString("greatest(", ", ", ")")} AS g6
            FROM u),
          a AS (
            SELECT url,
                   ${pick(n5, "g5")} AS node5,
                   ${pick(n6, "g6")} AS node6
            FROM g)
          SELECT url, node5, node6, node5 <> node6 AS moved FROM a"""
    },

    "q_epoch_shuffle" ->
      """WITH k AS (
           SELECT doc_id,
                  md5(CAST(doc_id AS VARCHAR) || ':3') AS key
           FROM documents),
         s AS (
           SELECT doc_id, key,
                  list_reduce(
                    list_transform(string_split(substr(key, 1, 6), ''),
                      c -> CAST(strpos('0123456789abcdef', c) - 1
                                AS BIGINT)),
                    (a, b) -> a * 16 + b) % 16 AS shard
           FROM k)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard
                                        ORDER BY key, doc_id) AS BIGINT)
                  AS pos
         FROM s""",

    "q_merge_upsert" ->
      """WITH base AS (
           SELECT event_id AS k, CAST(floor(value * 100) AS BIGINT) AS cents
           FROM events),
         chg AS (
           SELECT event_id AS k,
                  CAST(floor(value * 100) AS BIGINT) + 7 AS cents,
                  CASE WHEN event_id % 15 = 0 THEN 'D' ELSE 'U' END AS op
           FROM events WHERE event_id % 5 = 0
           UNION ALL
           SELECT event_id + 10000000 AS k,
                  CAST(floor(value * 100) AS BIGINT) AS cents, 'I' AS op
           FROM events WHERE event_id % 7 = 0)
         SELECT b.k, b.cents FROM base b
         WHERE b.k NOT IN (SELECT k FROM chg)
         UNION ALL
         SELECT k, cents FROM chg WHERE op <> 'D'""",

    "q_retention_plan" ->
      """WITH s AS (
           SELECT event_id % 500 AS snap_id,
                  min(CAST(floor(epoch(ts)) AS BIGINT)) AS epoch
           FROM events GROUP BY 1),
         r AS (
           SELECT snap_id, epoch,
                  row_number() OVER (ORDER BY epoch DESC,
                                     snap_id DESC) <= 3 AS recent,
                  row_number() OVER (PARTITION BY epoch // 86400
                                     ORDER BY epoch, snap_id) = 1
                    AS anchor
           FROM s)
         SELECT snap_id, epoch, recent OR anchor AS keep,
                CASE WHEN recent THEN 'recent'
                     WHEN anchor THEN 'day_anchor'
                     ELSE 'expired' END AS reason
         FROM r""",

    "q_compaction_plan" ->
      """WITH f AS (
           SELECT 'd' || (user_id % 8) AS dir, event_id AS file_id,
                  CAST(floor(value * 100) AS BIGINT) + 1 AS size
           FROM events),
         c AS (
           SELECT dir, file_id, size,
                  CAST(coalesce(sum(size) OVER (
                    PARTITION BY dir ORDER BY file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum
           FROM f)
         SELECT dir, file_id, size,
                CAST((cum - cum % 50000) / 50000 AS BIGINT) AS bin
         FROM c""",

    "q_scd2_intervals" ->
      """WITH log AS (
           SELECT user_id AS k, ts,
                  max(CAST(floor(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2)
         SELECT k, ts, cents, ts AS valid_from,
                lead(ts) OVER (PARTITION BY k ORDER BY ts) AS valid_to,
                lead(ts) OVER (PARTITION BY k ORDER BY ts) IS NULL
                  AS is_current
         FROM log""",

    // z expression GENERATED by Layout.zorderSql — the Column builder
    // and the SQL replay share one shape, so they cannot drift.
    "q_zorder_layout" ->
      s"""WITH pts AS (
            SELECT (user_id * 41) & 1023 AS x,
                   CAST(floor(value * 100) AS BIGINT) & 1023 AS y
            FROM events),
          z AS (SELECT x, y,
                       ${graft.operators.Layout.zorderSql("x", "y", 10)} AS z
                FROM pts),
          st AS (
            SELECT z >> 14 AS bucket, count(*) AS n,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y,
                   CAST(sum(z) AS BIGINT) AS sum_z
            FROM z GROUP BY 1)
          SELECT bucket, n, min_x, max_x, min_y, max_y, sum_z,
                 NOT (max_x < 200 OR min_x > 400 OR
                      max_y < 300 OR min_y > 600) AS candidate
          FROM st""",

    "q_index_stats" ->
      s"""WITH u AS ($urlFrameSql)
          SELECT regexp_replace(regexp_extract(url,
                   '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1),
                   '^(?:www|ww2|ww3|www2|www3)\\.', '') AS domain,
                 count(*) AS n_entries,
                 count(DISTINCT url) AS n_urls,
                 CAST(sum(length) AS BIGINT) AS sum_bytes
          FROM u GROUP BY 1""",
    "q_corpus_order" ->
      s"""WITH u AS ($urlFrameSql),
          v AS (
            SELECT url, ord,
                   substring(url, position('://' IN url) + 3) AS bare_url,
                   array_to_string(list_reverse(string_split(
                     regexp_extract(url,
                       '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1),
                     '.')), ',') AS surt_key
            FROM u)
          SELECT surt_key, bare_url, url, ord FROM (
            SELECT surt_key, bare_url, url, ord,
                   row_number() OVER (PARTITION BY bare_url
                     ORDER BY surt_key ASC, bare_url ASC, ord ASC) AS rn
            FROM v) WHERE rn = 1""",
    "q_salted_count" ->
      s"""WITH u AS ($urlFrameSql)
          SELECT regexp_extract(url,
                   '^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)', 1) AS host,
                 count(*) AS n, CAST(sum(length) AS BIGINT) AS sum_len
          FROM u GROUP BY 1""",
    "q_token_bpe" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents""",
    "q_hll_distinct" ->
      s"""WITH $hllRegSql,
          est AS ($hllEstSql GROUP BY event_type)
          SELECT est.event_type, zeros, est, exact
          FROM est JOIN (
            SELECT event_type,
                   count(DISTINCT CAST(user_id AS VARCHAR)) AS exact
            FROM events GROUP BY 1) x ON est.event_type = x.event_type""",
    "q_hll_merge" ->
      // merge associativity: max-per-bucket over the per-type registers
      // IS the sketch of the union, so the oracle computes it directly
      s"""WITH $hllRegSql,
          m AS (SELECT bucket, max(r) AS r FROM reg GROUP BY 1),
          est AS (${hllEstSql.replace("FROM reg", "FROM m")
                             .replace("event_type,", "")})
          SELECT zeros, est FROM est""",
    "q_kmv_overlap" ->
      """WITH h AS (SELECT DISTINCT event_type AS g,
               CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15)
                 AS BIGINT) AS h
             FROM events),
         bk AS (SELECT g, h FROM h
                QUALIFY row_number() OVER (PARTITION BY g ORDER BY h)
                  <= 64),
         sk AS (SELECT g, list_sort(list(h)) AS kmv FROM bk GROUP BY g),
         p AS (SELECT a.g AS g_a, b.g AS g_b, a.kmv AS ka, b.kmv AS kb
               FROM sk a JOIN sk b ON a.g < b.g),
         c AS (SELECT g_a, g_b, ka, kb,
                      list_sort(list_distinct(ka || kb))[1:64] AS comb
               FROM p),
         e AS (SELECT g_a, g_b, len(comb) AS nc, comb[64] AS hk,
                      len(list_filter(comb, x -> list_contains(ka, x)
                        AND list_contains(kb, x))) AS cnt
               FROM c),
         est AS (SELECT g_a, g_b,
                   CASE WHEN nc < 64 THEN nc::DOUBLE
                        ELSE 63.0e0 * 1152921504606846976.0e0
                             / hk::DOUBLE END AS u,
                   cnt::DOUBLE / least(64, nc)::DOUBLE AS j
                 FROM e),
         d AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
         n AS (SELECT g, count(*) AS n FROM d GROUP BY 1),
         i AS (SELECT x.g AS g_a, y.g AS g_b, count(*) AS ii
               FROM d x JOIN d y ON x.u = y.u AND x.g < y.g
               GROUP BY 1, 2)
         SELECT est.g_a, est.g_b, round(u, 6) AS est_union,
                round(j, 6) AS est_jaccard,
                round(j * u, 6) AS est_intersection,
                (na.n + nb.n - coalesce(i.ii, 0))::BIGINT AS exact_union,
                coalesce(i.ii, 0)::BIGINT AS exact_inter,
                round(coalesce(i.ii, 0)
                      / (na.n + nb.n - coalesce(i.ii, 0)), 6)
                  AS exact_jaccard
         FROM est
         JOIN n na ON na.g = est.g_a
         JOIN n nb ON nb.g = est.g_b
         LEFT JOIN i ON i.g_a = est.g_a AND i.g_b = est.g_b""",
    "q_cms_counts" ->
      """WITH e AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
         k AS (SELECT DISTINCT key FROM e
               UNION ALL SELECT 'absent-' || i
                         FROM (VALUES (1), (2), (3)) v(i)),
         d AS (SELECT unnest(range(4)) AS j),
         cells AS (
           SELECT d.j,
                  CAST('0x' || substr(md5(d.j || ':' || e.key), 1, 2)
                       AS BIGINT) % 64 AS bucket,
                  count(*)::BIGINT AS cnt
           FROM e, d GROUP BY 1, 2),
         probes AS (
           SELECT k.key, d.j,
                  CAST('0x' || substr(md5(d.j || ':' || k.key), 1, 2)
                       AS BIGINT) % 64 AS bucket
           FROM k, d),
         est AS (
           SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
           FROM probes LEFT JOIN cells USING (j, bucket) GROUP BY 1),
         ex AS (SELECT key, count(*)::BIGINT AS exact FROM e GROUP BY 1)
         SELECT est.key, est_cnt,
                CAST(coalesce(exact, 0) AS BIGINT) AS exact
         FROM est LEFT JOIN ex USING (key)""",
    "q_bloom_seen" ->
      s"""WITH u AS ($urlFrameSql),
         cand AS (SELECT DISTINCT url FROM u),
         seen AS (SELECT DISTINCT url FROM u WHERE ord % 3 = 0),
         d AS (SELECT unnest(range(3)) AS j),
         bits AS (
           SELECT DISTINCT
                  CAST('0x' || substr(md5(j || ':' || url), 1, 5)
                       AS BIGINT) % 4096 AS pos
           FROM seen, d),
         probe AS (
           SELECT c.url, d.j,
                  CAST('0x' || substr(md5(d.j || ':' || c.url), 1, 5)
                       AS BIGINT) % 4096 AS pos
           FROM cand c, d),
         might AS (
           SELECT url, count(b.pos) = 3 AS might_seen
           FROM probe p LEFT JOIN bits b USING (pos) GROUP BY 1)
         SELECT m.url, m.might_seen, s.url IS NULL AS is_new
         FROM might m LEFT JOIN seen s ON m.url = s.url""",
    "q_quantile_hist" ->
      """WITH h AS (
           SELECT CAST(least(floor(value / 4.0), 255) AS BIGINT) AS bin,
                  count(*)::BIGINT AS cnt
           FROM events GROUP BY 1),
         c AS (
           SELECT bin, sum(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM h),
         t AS (SELECT sum(cnt)::BIGINT AS n FROM h),
         q AS (SELECT unnest([100, 250, 500, 750, 900, 990]) AS qp)
         SELECT CAST(q.qp AS BIGINT) AS q_permille,
                min(c.bin) AS bin,
                (min(c.bin) + 1) * 4.0e0 AS est_hi
         FROM q, c, t
         WHERE c.cum >= (t.n * q.qp + 999) // 1000
         GROUP BY 1""",

    "q_winsorize" ->
      """WITH h AS (
           SELECT CAST(least(floor(value / 4.0), 255) AS BIGINT) AS bin,
                  count(*)::BIGINT AS cnt
           FROM events GROUP BY 1),
         c AS (
           SELECT bin, sum(cnt) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM h),
         t AS (SELECT sum(cnt)::BIGINT AS n FROM h),
         thr AS (
           SELECT
             (SELECT (min(bin) + 1) * 4.0e0 FROM c, t
              WHERE cum >= (n * 50 + 999) // 1000) AS lo,
             (SELECT (min(bin) + 1) * 4.0e0 FROM c, t
              WHERE cum >= (n * 950 + 999) // 1000) AS hi)
         SELECT event_id, round(value, 2) AS value,
                round(least(greatest(value, lo), hi), 2) AS clipped,
                (value < lo OR value > hi) AS was_clipped
         FROM events, thr"""
  )

  /** Shared HLL register construction (the SQL twin of
    * Sketches.hllRegisters over md5-hex string arithmetic): rho =
    * 4·(leading '0' hex chars) + the first non-zero digit's own
    * leading zeros + 1; all-zero 56-bit tail -> 57. The '1' sentinel
    * appended before the digit extraction keeps the cast non-empty in
    * that case (the CASE ignores it).
    */
  private def hllRegSql: String =
    """h AS (
        SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      f AS (
        SELECT event_type,
               CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
               length(regexp_extract(substr(h, 3, 14), '^0*')) AS z,
               CAST('0x' || substr(substr(h, 3, 14) || '1',
                 length(regexp_extract(substr(h, 3, 14), '^0*')) + 1, 1)
                 AS BIGINT) AS d
        FROM h),
      rho AS (
        SELECT event_type, bucket,
               CASE WHEN z = 14 THEN 57
                    ELSE 4*z + CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
                                    WHEN d >= 2 THEN 2 ELSE 3 END + 1
               END AS rho
        FROM f),
      reg AS (
        SELECT event_type, bucket, max(rho) AS r FROM rho GROUP BY 1, 2)"""

  /** Shared HLL estimate (the SQL twin of Sketches.hllEstimate):
    * exact integer register terms, float only in the final identical-
    * literal expression (e0 suffixes force DOUBLE in DuckDB — bare
    * decimals would stay DECIMAL-typed and round differently).
    */
  private def hllEstSql: String =
    """SELECT event_type,
              CAST(256 - count(*) AS BIGINT) AS zeros,
              round(CASE WHEN 0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)
                              * 65536.0e0 * 144115188075855872.0e0
                              / (CAST(sum(1::BIGINT << CAST(57 - r AS INT))
                                      AS DOUBLE)
                                 + CAST(256 - count(*) AS DOUBLE)
                                   * 144115188075855872.0e0) <= 640.0e0
                              AND 256 - count(*) > 0
                         THEN 256.0e0 * round(ln(256.0e0 /
                                CAST(256 - count(*) AS DOUBLE)), 6)
                         ELSE 0.7213e0 / (1.0e0 + 1.079e0 / 256.0e0)
                              * 65536.0e0 * 144115188075855872.0e0
                              / (CAST(sum(1::BIGINT << CAST(57 - r AS INT))
                                      AS DOUBLE)
                                 + CAST(256 - count(*) AS DOUBLE)
                                   * 144115188075855872.0e0)
                    END, 4) AS est
       FROM reg"""
}
