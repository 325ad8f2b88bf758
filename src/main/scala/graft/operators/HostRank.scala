package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Host-graph PageRank for frontier prioritization — the classic
  * crawl-ordering signal (a Cho/Garcia-Molina-style importance metric;
  * production crawlers feed host or page rank into the frontier's
  * priority, which is exactly where `Frontier.politenessRank` consumes
  * a per-URL priority in this engine).
  *
  * Determinism contract: FIXED iteration count and ALL-INTEGER
  * arithmetic — ranks live in micro-units (`scale`), each edge
  * contribution is `((r * dampNum) div dampDen) div outdeg` in Long
  * division, the teleport term is the same expression on both engines —
  * so every iteration is a bit-exact Long sum and the DuckDB oracle
  * replays the unrolled iterations with `//`. (Truncating division on
  * non-negative values is identical in Spark `DIV` and DuckDB `//`.)
  *
  * Scale shape: one hash-join + partial-agg shuffle per iteration,
  * keyed by host — the web's host graph (~10^8 hosts) partitions
  * cleanly; outdegrees are computed once; each iteration's result is
  * pinned (narrow two-column table) so lineage stays O(1)
  * across iterations instead of O(iters), with the previous iteration's
  * blocks released as soon as the next is materialized. Dangling-host
  * mass is dropped (ranks no longer sum to `scale`), which preserves
  * the ORDER of ranks — the only thing the frontier consumes — and
  * keeps the replay free of a global dangling-sum term.
  */
object HostRank {

  /** PageRank over `edges` (srcCol, dstCol — one row per distinct
    * link) restricted to the node universe `nodes` (idCol). Output:
    * (idCol, rank_mu: Long micro-unit rank, rank: Double = rank_mu /
    * scale rounded to 6dp for display). PageRank is [[trustRank]] with
    * every node a seed: the same teleport, initial rank and step.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame,
               iters: Int = 5,
               scale: Long = 1000000000000L,
               dampNum: Long = 85L, dampDen: Long = 100L,
               srcCol: String = "src", dstCol: String = "dst",
               idCol: String = "host"): DataFrame =
    seededRank(edges, nodes, None, iters, scale, dampNum, dampDen, srcCol,
      dstCol, idCol, "rank", "pageRank needs a non-empty node universe")

  /** TrustRank (Gyöngyi/Garcia-Molina/Pedersen 2004): PageRank with the
    * teleport mass restricted to a hand-verified SEED set — trust flows
    * out from known-good hosts, so spam farms unreachable from the seeds
    * converge to 0 regardless of how densely they interlink. The
    * anti-spam companion to [[pageRank]] (which a farm can inflate) and
    * the standard crawl-frontier demotion signal. Output: (idCol,
    * trust_mu, trust).
    */
  def trustRank(edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
                iters: Int = 5,
                scale: Long = 1000000000000L,
                dampNum: Long = 85L, dampDen: Long = 100L,
                srcCol: String = "src", dstCol: String = "dst",
                idCol: String = "host"): DataFrame =
    seededRank(edges, nodes, Some(seeds), iters, scale, dampNum, dampDen,
      srcCol, dstCol, idCol, "trust",
      "trustRank needs at least one seed inside nodes")

  /** The rank both share, with `seeds` = None meaning every node. The
    * teleport term is `(scale*(1-d))/|S|` for seed hosts and 0 otherwise,
    * the initial rank `scale/|S|` on seeds, and each edge contribution
    * `((r*dampNum) DIV dampDen) DIV outdeg`, so the DuckDB oracle replays
    * unrolled iterations with `//`. Ids keep the CALLER's type
    * (hostnames are strings in a real host graph — a long cast would null
    * them all out silently); ranks are the only Long-typed state. The
    * node universe (with its seed flag, so no per-iteration seed join)
    * and the edge distinct are pinned once, not paid per iteration.
    * Output: (idCol, `<out>_mu`, `<out>`).
    */
  private def seededRank(edges: DataFrame, nodes: DataFrame,
                         seeds: Option[DataFrame], iters: Int, scale: Long,
                         dampNum: Long, dampDen: Long, srcCol: String,
                         dstCol: String, idCol: String, out: String,
                         noSeeds: String): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen)
    val hosts = nodes.select(col(idCol).as("host")).distinct()
    val base = Pin(seeds match {
      case Some(sd) => hosts
        .join(sd.select(col(idCol).as("host")).distinct()
            .withColumn("__s", lit(true)),
          Seq("host"), "left")
        .select(col("host"), coalesce(col("__s"), lit(false)).as("is_seed"))
      case None => hosts.withColumn("is_seed", lit(true))
    })
    val nSeeds = base.where(col("is_seed")).count()
    require(nSeeds > 0, noSeeds)
    val telSeed = (scale * (dampDen - dampNum) / dampDen) / nSeeds
    val teleport = when(col("is_seed"), lit(telSeed)).otherwise(lit(0L))
    val ed = Pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    val outdeg = Pin(ed.groupBy("src").agg(count(lit(1)).as("deg")))
    var ranks = base.select(col("host"), col("is_seed"),
      when(col("is_seed"), lit(scale / nSeeds)).otherwise(lit(0L)).as("r"))
    (1 to iters).foreach { i =>
      val contrib = ed.join(ranks, ed("src") === ranks("host"))
        .join(outdeg, "src")
        .select(col("dst"),
          expr(s"((r * $dampNum) DIV $dampDen) DIV deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val next = Pin(base.join(contrib, base("host") === contrib("dst"), "left")
        .select(col("host"), col("is_seed"),
          (teleport + coalesce(col("s"), lit(0L))).as("r")))
      // `next` is materialized: the previous round's pin can go (the
      // first round's ranks project base, which stays until the end)
      if (i > 1) Pin.release(ranks)
      ranks = next
    }
    // after the loop the returned plan reads only the LAST iteration's
    // pin — base/ed/outdeg can go (kept when iters == 0, where ranks
    // still projects base)
    if (iters > 0) Pin.release(base, ed, outdeg)
    ranks.select(col("host").as(idCol), col("r").as(s"${out}_mu"),
      round(col("r").cast("double") / scale, 6).as(out))
  }

  /** The deterministic host-link fixture shared with the oracle: hosts
    * 0..nHosts-1, out-degree capped at 5 per src (dst depends only on
    * src and event_id mod 5) so the graph is sparse and the rank
    * distribution has real variance — pure int64 formulas on both
    * engines.
    */
  def fixtureEdges(events: DataFrame, nHosts: Int): DataFrame = {
    val src = pmod(col("user_id"), lit(nHosts.toLong))
    val dst = pmod(src * 17 + pmod(col("event_id"), lit(5L)) * 31 + 7,
      lit(nHosts.toLong))
    events.select(src.as("src"), dst.as("dst"))
      .where(col("src") =!= col("dst")).distinct()
  }

  /** Anchor-text aggregation — the other classic link-graph signal
    * (how the web DESCRIBES a page, used for ranking and as retrieval
    * text for pages never fetched). Per target: in-link count,
    * distinct linking hosts, and the top-k anchors by frequency with
    * a deterministic (count desc, anchor asc) order.
    *
    * Plan: one partial-agg groupBy on (dst, anchor) — the
    * high-cardinality shuffle — then a window over dst (group-scale
    * rows only) plus one dst-keyed agg for the host count. No
    * collect_list over raw links: a mega-target's millions of in-links
    * collapse at the first groupBy.
    */
  def anchorText(links: DataFrame, k: Int = 3,
                 srcCol: String = "src_host", dstCol: String = "dst",
                 anchorCol: String = "anchor"): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    val perAnchor = links.groupBy(col(dstCol), col(anchorCol))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(dstCol))
      .orderBy(desc("cnt"), asc(anchorCol))
    val ranked = perAnchor.withColumn("rk", row_number().over(w))
    val tops = ranked.where(col("rk") <= k)
      .groupBy(dstCol)
      .agg(
        max(when(col("rk") === 1, col(anchorCol))).as("top_anchor"),
        array_join(transform(
          sort_array(collect_list(struct(col("rk"), col(anchorCol)))),
          s => s(anchorCol)), " | ").as("top_anchors"))
    val totals = links.groupBy(dstCol).agg(
      count(lit(1)).as("n_links"),
      countDistinct(col(srcCol)).as("n_src_hosts"))
    totals.join(tops, dstCol)
  }

  /** HITS hubs & authorities (Kleinberg) — the bidirectional companion
    * to [[pageRank]]: a good HUB links to many good authorities (seed
    * lists, directories — what a crawler wants for frontier seeding), a
    * good AUTHORITY is linked from many good hubs (what it wants for
    * priority). Same determinism contract as pageRank: fixed iteration
    * count, all-integer micro-unit arithmetic — normalization is by the
    * MAX (L-infinity) instead of the usual L2 norm precisely so it stays
    * in exact Long division (`(raw * scale) DIV max`) that DuckDB's `//`
    * replays bit-for-bit; the norm choice rescales but never reorders,
    * and ordering is all the frontier consumes. Per half-step: one
    * hash-join + partial-agg shuffle keyed by host, plus a model-scale
    * max. Each raw table is pinned so lineage stays O(1);
    * the previous iteration's blocks release once superseded.
    */
  def hits(edges: DataFrame, nodes: DataFrame,
           iters: Int = 3, scale: Long = 1000000L,
           srcCol: String = "src", dstCol: String = "dst",
           idCol: String = "host"): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val base = Pin(nodes.select(col(idCol).as("host")).distinct())
    val ed = Pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src") =!= col("dst")).distinct())
    // contribution flows along edge matchCol -> groupCol; returns the
    // normalized lazy frame plus its pinned raw table
    def halfStep(x: DataFrame, matchCol: String,
                 groupCol: String): (DataFrame, DataFrame) = {
      val c = ed.join(x, ed(matchCol) === x("host"))
        .groupBy(col(groupCol).as("__g")).agg(sum("v").as("s"))
      val raw = Pin(base.join(c, base("host") === c("__g"), "left")
        .select(base("host"), coalesce(col("s"), lit(0L)).as("raw")))
      val m = raw.agg(max("raw")).head().getLong(0)
      require(m > 0, "hits: no edge touches the node universe")
      (raw.select(col("host"), expr(s"(raw * $scale) DIV $m").as("v")), raw)
    }
    var h = base.withColumn("v", lit(scale))
    var a = h
    var prevRaws: Seq[DataFrame] = Seq.empty
    (1 to iters).foreach { _ =>
      val (a2, aRaw) = halfStep(h, "src", "dst")
      val (h2, hRaw) = halfStep(a2, "dst", "src")
      Pin.release(prevRaws: _*)
      prevRaws = Seq(aRaw, hRaw)
      a = a2; h = h2
    }
    Pin.release(ed, base)
    a.select(col("host"), col("v").as("auth_mu"))
      .join(h.select(col("host"), col("v").as("hub_mu")), Seq("host"))
      .select(col("host").as(idCol), col("auth_mu"), col("hub_mu"),
        round(col("auth_mu").cast("double") / scale, 6).as("auth"),
        round(col("hub_mu").cast("double") / scale, 6).as("hub"))
  }

  /** Depth-limited BFS from a seed set: min link-hops from any seed,
    * nodes beyond `maxDepth` absent — the crawl-depth assignment every
    * production crawler runs (depth caps ARE the crawl-scope contract;
    * frontier priority usually folds depth in). One hash-join +
    * min-groupBy per level — the frontier for level d is exactly the
    * nodes whose FINAL depth is d−1 (a min over rounds ≤ d−1 cannot
    * drop later), so each edge expands at most once per endpoint
    * level; a pin per level keeps lineage O(1) like
    * pageRank/hits, previous levels released when superseded.
    */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
               srcCol: String = "src", dstCol: String = "dst",
               idCol: String = "host"): DataFrame = {
    require(maxDepth >= 0)
    val ed = Pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    var depths = Pin(seeds.select(col(idCol).as("host")).distinct()
      .withColumn("depth", lit(0L)))
    (1 to maxDepth).foreach { d =>
      val frontier = depths.filter(col("depth") === (d - 1).toLong)
        .select(col("host").as("__f"))
      val next = ed.join(frontier, ed("src") === col("__f"))
        .select(col("dst").as("host"), lit(d.toLong).as("depth"))
      val merged = Pin(depths.unionByName(next)
        .groupBy("host").agg(min("depth").as("depth")))
      Pin.release(depths)
      depths = merged
    }
    Pin.release(ed)
    depths.select(col("host").as(idCol), col("depth"))
  }

  /** k-core peeling over the UNDIRECTED host graph: repeatedly remove
    * hosts with fewer than `k` distinct neighbors until only the k-core
    * remains — with [[triangles]] the other classic link-farm density
    * signal (spam rings sit in deep cores; organic hosts peel early).
    * Runs a FIXED `rounds` peel iterations so the DuckDB oracle can
    * replay them as unrolled CTEs; at fixpoint (survivors stop
    * changing — on real graphs a handful of rounds) the survivor set IS
    * the k-core, and the spec asserts fixpoint against a brute-force
    * peel. Output: surviving hosts with their within-core degree.
    *
    * Scale shape per round: two semi-joins to restrict the live edge
    * set + one explode/partial-agg degree count — all keyed by host; the
    * live edge set shrinks monotonically, and a pin per
    * round keeps lineage O(1) like the other iterative operators here.
    */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int = 6,
                srcCol: String = "src", dstCol: String = "dst",
                idCol: String = "host"): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val canon = Pin(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct())
    def degrees(ed: DataFrame): DataFrame = ed
      .select(explode(array(col("a"), col("b"))).as("host"))
      .groupBy("host").agg(count(lit(1)).as("deg"))
    var live = canon
    var out = Pin(degrees(live).where(col("deg") >= k))
    (2 to rounds).foreach { _ =>
      val keep = out.select("host")
      val nextLive = Pin(live
        .join(keep.withColumnRenamed("host", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("host", "b"), Seq("b"), "left_semi"))
      val nextOut = Pin(degrees(nextLive).where(col("deg") >= k))
      Pin.release(live, out)
      live = nextLive
      out = nextOut
    }
    Pin.release(live)
    out.select(col("host").as(idCol), col("deg"))
  }

  /** Exact per-node triangle counts over the UNDIRECTED host graph —
    * the classic link-farm signal (spam rings are near-cliques; organic
    * neighborhoods are sparse). The scale device is degree orientation:
    * each canonical edge points from its lower-(degree, id) endpoint to
    * the higher, which bounds every node's out-neighborhood by
    * O(sqrt(m)) — so the wedge self-join (the quadratic step of the
    * naive algorithm) is per-node-bounded regardless of how big a hub
    * is. Wedges close against the oriented edge set; each triangle is
    * found exactly once, then fans out to its three corners with one
    * explode + partial-agg count. Orientation is a PLAN device only —
    * the result equals the plain canonical triple join the oracle runs.
    */
  def triangles(edges: DataFrame,
                srcCol: String = "src", dstCol: String = "dst",
                idCol: String = "host"): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = canon.select(col("a").as("n"))
      .unionAll(canon.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient: lower (deg, id) -> higher; ties by id keep it a total order
    val withDeg = canon
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    val oriented = withDeg.select(
      when(ka < kb, col("a")).otherwise(col("b")).as("u"),
      when(ka < kb, col("b")).otherwise(col("a")).as("v"),
      // the higher endpoint's (deg, id) key: wedge neighbors order by
      // THIS so the closing pair is oriented exactly as stored
      when(ka < kb, kb).otherwise(ka).as("vord"))
    val e1 = oriented.select(col("u"), col("v").as("x"), col("vord").as("xo"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("vord").as("yo"))
    val wedges = e1.join(e2, Seq("u")).where(col("xo") < col("yo"))
      .select(col("u"), col("x"), col("y"))
    val tri = wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"),
      "left_semi")
    tri.select(explode(array(col("u"), col("x"), col("y"))).as(idCol))
      .groupBy(idCol).agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-host link hygiene signals: out/in degree over the distinct
    * directed graph and the RECIPROCAL edge count (u→v with v→u) — a
    * high reciprocal fraction between unrelated hosts is the classic
    * link-exchange fingerprint. One distinct + one self-join keyed on
    * the flipped pair + partial-agg counts.
    */
  def linkSignals(edges: DataFrame,
                  srcCol: String = "src", dstCol: String = "dst",
                  idCol: String = "host"): DataFrame = {
    val ed = edges.select(col(srcCol).as("s"), col(dstCol).as("t"))
      .where(col("s") =!= col("t")).distinct()
    val recip = ed.join(
      ed.select(col("t").as("s"), col("s").as("t")), Seq("s", "t"),
      "left_semi")
    val outs = ed.groupBy(col("s").as(idCol))
      .agg(count(lit(1)).as("out_deg"))
    val ins = ed.groupBy(col("t").as(idCol))
      .agg(count(lit(1)).as("in_deg"))
    val recips = recip.groupBy(col("s").as(idCol))
      .agg(count(lit(1)).as("n_reciprocal"))
    outs.join(ins, Seq(idCol), "full_outer")
      .join(recips, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
  }

  /** Directed 2-hop neighbourhood profile: per node, the distinct
    * 1-hop out-neighbours and the distinct nodes reachable in exactly
    * two hops that are NEW (not self, not already 1-hop) — the
    * link-discovery frontier a 2-level crawl expansion would add, and
    * the classic "friend-of-friend" candidate count. One self-join on
    * the edge table keyed by the middle node + distinct + anti
    * conditions; at web scale the middle-node key is the shuffle and
    * hub middles are the skew to salt (they are also exactly the
    * nodes trapGate/budget caps would bound first).
    *
    * Output: (node, n_1hop, n_2hop_new).
    */
  def twoHopNeighbors(edges: DataFrame, srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame = {
    val e = Pin(edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val oneHop = e.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("n_1hop"))
    val twoHop = e.select(col("a"), col("b").as("m"))
      .join(e.select(col("a").as("m"), col("b").as("c")), "m")
      .select(col("a"), col("c")).distinct()
      .filter(col("a") =!= col("c"))
      .join(e.select(col("a"), col("b").as("c"))
        .withColumn("__direct", lit(1)), Seq("a", "c"), "left_anti")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("n_2hop_new"))
    oneHop.join(twoHop, Seq("node"), "left")
      .select(col("node"), col("n_1hop"),
        coalesce(col("n_2hop_new"), lit(0L)).as("n_2hop_new"))
  }

  /** Synchronous deterministic label propagation (Raghavan et al.
    * 2007, the community detector that needs no parameter k): labels
    * start as node ids; each round, EVERY node simultaneously takes
    * the most frequent label among its (undirected) neighbours, ties
    * to the smallest label; isolated nodes keep their own. `iters` is
    * fixed (synchronous LPA oscillates on bipartite-ish structures —
    * a bounded budget with deterministic ties is the reproducible
    * form; the async coin-flip variant cannot be oracled). Hosts in
    * one mirror network / link farm converge to one label within a
    * couple of rounds — the community complement of the pairwise
    * [[graft.operators.CrawlPolicy.mirrorHosts]] evidence.
    *
    * Plan per round: one (node, label) count agg + one argmax window
    * keyed by node — shuffles keyed on node ids, no collect; the
    * round count bounds plan depth.
    *
    * Output: (node, label) after `iters` rounds.
    */
  def labelPropagation(edges: DataFrame, iters: Int,
                       srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    require(iters >= 1 && iters <= 10, "bounded synchronous rounds")
    import org.apache.spark.sql.expressions.Window
    val sym = Pin(edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .unionByName(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .filter(col("a") =!= col("b"))
      .distinct())
    val nodes = sym.select(col("a").as("node")).distinct()
    var labels = nodes.withColumn("label", col("node"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("cnt").desc, col("nl"))
    for (i <- 1 to iters) {
      val best = sym
        .join(labels.withColumnRenamed("node", "b")
          .withColumnRenamed("label", "nl"), "b")
        .groupBy(col("a").as("node"), col("nl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("nl"))
      val next = Pin(nodes.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("node")).as("label")))
      // `next` is materialized: the previous round's pin can go (the
      // first round's labels project sym, which the loop still reads)
      if (i > 1) Pin.release(labels)
      labels = next
    }
    Pin.release(sym)
    labels
  }

  /** Strongly connected components of the DIRECTED host graph — the
    * redirect/link-loop classifier (mirror rings and spam loops are
    * SCCs; organic link structure is mostly a DAG of small components).
    * Exact, not a fixed-round approximation: the reflexive-transitive
    * closure is built by path DOUBLING (C ← C ∪ C∘C), so convergence
    * takes ⌈log₂ diameter⌉ join rounds, each checkpointed; v's component
    * id is the smallest node mutually reachable with it. Host-graph
    * metadata scale by design (closure is |SCC-condensation| bounded) —
    * corpus-scale duplicate graphs use LshDedup's union-find instead.
    * Output: (host, scc_id, scc_size).
    */
  def scc(edges: DataFrame, srcCol: String = "src",
          dstCol: String = "dst", idCol: String = "host"): DataFrame =
    componentsFromClosure(closure(edges, srcCol, dstCol))

  /** Reflexive-transitive closure (a, b) = "b reachable from a" by path
    * doubling to fixpoint — ⌈log₂ diameter⌉ checkpointed join rounds.
    * Host-graph metadata scale by design (bounded by the condensation
    * reachability, not the corpus).
    */
  def closure(edges: DataFrame, srcCol: String = "src",
              dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .distinct()
    val nodes = e.select(col("a")).union(e.select(col("b"))).distinct()
    var c = Pin(e.unionByName(nodes.select(col("a"), col("a").as("b")))
      .distinct())
    var n = c.count()
    var done = false
    while (!done) {
      val c2 = Pin(c.as("x").join(c.as("y"), col("x.b") === col("y.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .unionByName(c).distinct())
      val n2 = c2.count()
      done = n2 == n
      Pin.release(c)
      c = c2; n = n2
    }
    // the last pin stays live: returned plans read it lazily (callers
    // release per query with Pin.releaseAll)
    c
  }

  private def componentsFromClosure(c: DataFrame): DataFrame = {
    val ids = c.as("f")
      .join(c.as("r"),
        col("f.a") === col("r.b") && col("f.b") === col("r.a"))
      .select(col("f.a").as("host"), col("f.b").as("m"))
      .groupBy("host").agg(min("m").as("scc_id"))
    val sizes = ids.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    ids.join(sizes, Seq("scc_id"))
      .select(col("host"), col("scc_id"), col("scc_size"))
  }

  /** Spearman rank correlation between two per-key measures — "do my
    * two importance signals agree before I blend them?" (e.g. activity
    * vs audience size per host). Ranks are deterministic
    * (measure desc, key asc); ρ = 1 − 6Σd²/(n(n²−1)) stays exact
    * integers until the single division. Output row: (n, sum_d2, rho).
    */
  def spearman(df: DataFrame, keyCol: String, aCol: String,
               bCol: String): DataFrame = {
    // both rank assignments via the distributed ordinal (range sort +
    // partition offsets) instead of two single-partition row_number
    // windows over the whole key table; (measure desc, key asc) is a
    // total order (key unique), so ranks are identical to the old
    // row_number and the deterministic tie-break is preserved
    val base = Pin(df.select(col(keyCol), col(aCol), col(bCol)))
    val ra = UrlDedup.ordByPartitionOffsets(
        base.select(col(keyCol), col(aCol)),
        Seq(col(aCol).desc, col(keyCol).asc), "__i")
      .select(col(keyCol), (col("__i") + 1L).as("ra"))
    val rb = UrlDedup.ordByPartitionOffsets(
        base.select(col(keyCol), col(bCol)),
        Seq(col(bCol).desc, col(keyCol).asc), "__i")
      .select(col(keyCol), (col("__i") + 1L).as("rb"))
    ra.join(rb, Seq(keyCol))
      .select(((col("ra") - col("rb")) * (col("ra") - col("rb")))
        .as("d2"))
      .agg(count(lit(1)).as("n"), sum("d2").as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        when(col("n") > 1,
          round(lit(1.0) - (lit(6L) * col("sum_d2")).cast("double") /
            (col("n") * (col("n") * col("n") - 1L)).cast("double"), 6))
          .otherwise(lit(1.0)).as("rho"))
  }

  /** Link-structure mixing stats, one row: edge reciprocity (the mirror
    * /spam-ring tell — organic webs sit near 0.05–0.2, rings near 1)
    * and directed degree assortativity (Pearson over edges of src
    * out-degree vs dst in-degree — hub-to-hub vs hub-to-leaf wiring).
    * Everything until the final divisions is exact integer sums, so
    * both engines agree bit-for-bit; degenerate (zero-variance) degree
    * distributions report assortativity 0 by convention.
    */
  def mixingStats(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst"): DataFrame = {
    val e = Pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct())
    val outd = e.groupBy("src").agg(count(lit(1)).as("xd"))
    val ind  = e.groupBy("dst").agg(count(lit(1)).as("yd"))
    val sums = e.join(outd, Seq("src")).join(ind, Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum("xd").as("sx"), sum("yd").as("sy"),
        sum(col("xd") * col("yd")).as("sxy"),
        sum(col("xd") * col("xd")).as("sxx"),
        sum(col("yd") * col("yd")).as("syy"))
    val recip = e.as("f")
      .join(e.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"),
        "left_semi")
      .agg(count(lit(1)).as("nr"))
    val dx = col("m") * col("sxx") - col("sx") * col("sx")
    val dy = col("m") * col("syy") - col("sy") * col("sy")
    sums.crossJoin(recip).select(
      col("m").as("n_edges"), col("nr").as("n_reciprocal"),
      round(col("nr").cast("double") / col("m").cast("double"), 6)
        .as("reciprocity"),
      when(dx > 0 && dy > 0,
        round((col("m") * col("sxy") - col("sx") * col("sy"))
                .cast("double") /
              sqrt(dx.cast("double") * dy.cast("double")), 6))
        .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Broder bow-tie decomposition of the directed host graph: CORE =
    * the largest SCC (ties to the smallest component id), IN = hosts
    * that reach the core without being in it, OUT = hosts the core
    * reaches, OTHER = tendrils/tubes/disconnected. The claim "a crawl
    * seeded anywhere in IN∪CORE covers CORE∪OUT" is this table. One
    * closure, classification by two semi-join flags against the
    * broadcast core set. Output: (host, scc_id, part).
    */
  def bowtie(edges: DataFrame, srcCol: String = "src",
             dstCol: String = "dst"): DataFrame = {
    val c = closure(edges, srcCol, dstCol)
    val comps = Pin(componentsFromClosure(c))
    val coreId = comps.orderBy(desc("scc_size"), asc("scc_id"))
      .select("scc_id").limit(1)
    val coreHosts = comps
      .join(broadcast(coreId.withColumnRenamed("scc_id", "__cid")),
        col("scc_id") === col("__cid"))
      .select(col("host").as("__ch"))
    val reachesCore = c.join(broadcast(coreHosts), col("b") === col("__ch"))
      .select(col("a").as("host")).distinct()
      .withColumn("__to_core", lit(true))
    val fromCore = c.join(broadcast(coreHosts), col("a") === col("__ch"))
      .select(col("b").as("host")).distinct()
      .withColumn("__from_core", lit(true))
    comps
      .join(broadcast(coreId.withColumnRenamed("scc_id", "__cid2")),
        col("scc_id") === col("__cid2"), "left")
      .join(reachesCore, Seq("host"), "left")
      .join(fromCore, Seq("host"), "left")
      .select(col("host"), col("scc_id"),
        when(col("__cid2").isNotNull, "core")
          .when(col("__to_core"), "in")
          .when(col("__from_core"), "out")
          .otherwise("other").as("part"))
  }
}
