package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CurationSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("scrubPii: counts and redacts emails, IPs, phones in rule order") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "write a@b.co or x.y_z%q+1@sub.domain.org thanks"),
      (2L, "servers 10.0.0.1 and 255.255.255.255, version 1.2 no"),
      (3L, "call +1-555-123-4567 or +44-201-555-0100 now"),
      (4L, "mixed bob@ex.com at 192.168.1.9 tel +1-555-000-1111"),
      (5L, "clean text with no sensitive spans at all")
    ).toDF("id", "text")
    val out = Curation.scrubPii(df, "text")
      .select("id", "n_email", "n_ip", "n_phone", "clean_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4))).toMap
    assert(out(1L)._1 == ((2L, 0L, 0L)))
    assert(out(1L)._2 == "write <EMAIL> or <EMAIL> thanks")
    assert(out(2L)._1 == ((0L, 2L, 0L)))
    assert(out(2L)._2 == "servers <IP> and <IP>, version 1.2 no")
    assert(out(3L)._1 == ((0L, 0L, 2L)))
    assert(out(4L)._1 == ((1L, 1L, 1L)))
    assert(out(4L)._2 == "mixed <EMAIL> at <IP> tel <PHONE>")
    assert(out(5L)._1 == ((0L, 0L, 0L)))
    assert(out(5L)._2 == "clean text with no sensitive spans at all")
  }

  test("scrubPii: email redaction shields its digits from the IP rule") {
    val s = spark
    import s.implicits._
    // local/domain digit runs that would LOOK like an IP if the email
    // rule didn't run first — the rule-order contract
    val df = Seq((1L, "u1.2.3.4@h5.6.7.8.example.com stays one email"))
      .toDF("id", "text")
    val r = Curation.scrubPii(df, "text")
      .select("n_email", "n_ip", "clean_text").head()
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 0L)
    assert(r.getString(2) == "<EMAIL> stays one email")
  }

  test("decontaminate: planted overlap found, clean docs zero, no corpus shuffle by gram") {
    val s = spark
    import s.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota"
    val corpus = Seq(
      // full 9-token copy -> two shared 8-grams
      (0L, benchText),
      // 8-token window copied mid-doc -> exactly one shared gram
      (1L, "xx yy alpha beta gamma delta epsilon zeta eta theta zz"),
      // 7-token overlap only -> no shared 8-gram
      (2L, "alpha beta gamma delta epsilon zeta eta SOMETHING else here"),
      (3L, "totally unrelated words nine of them right here now ok"),
      (4L, "short doc") // < 8 tokens
    ).toDF("doc_id", "text")
    val bench = Seq(benchText).toDF("text")
    val out = Curation.decontaminate(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out(0L) == ((2L, true)))
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((0L, false)))
    // scale contract: the benchmark side broadcasts; the corpus side
    // must not exchange by gram
    val plan = Curation.decontaminate(corpus, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark gram join should broadcast:\n$plan")
  }

  test("mixSources: hits target mix in expectation, exact int64 decisions") {
    val s = spark
    import s.implicits._
    // two sources, 100 docs each; weights 3:1 over den 4, target 80
    // -> expected kept 60 of a, 20 of b
    val docs = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("doc_id", "source")
    val weights = Seq(("a", 3L), ("b", 1L)).toDF("source", "w_num")
    val out = Curation.mixSources(docs, "doc_id", "source", weights,
      weightDen = 4L, targetTotal = 80L)
    val kept = out.filter(col("kept")).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // u is uniform-ish: allow slack around 60/20 but enforce the ratio
    assert(kept("a") > kept("b") * 2, s"mix off: $kept")
    assert(math.abs(kept("a") - 60L) <= 15, s"a kept ${kept("a")}")
    assert(math.abs(kept("b") - 20L) <= 10, s"b kept ${kept("b")}")
    // decisions are deterministic: same input -> identical frame
    val again = Curation.mixSources(docs, "doc_id", "source", weights, 4L, 80L)
      .collect().toSet
    assert(out.collect().toSet == again)
    // over-weighted source keeps everything
    val all = Curation.mixSources(docs, "doc_id", "source",
      Seq(("a", 4L), ("b", 4L)).toDF("source", "w_num"), 4L, 1000L)
    assert(all.filter(col("kept")).count() == 200L)
  }

  test("repetitionSignals: planted dup grams and paragraphs measured") {
    val s = spark
    import s.implicits._
    val par = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val docs = Seq(
      // 24 tokens = the same 12-token paragraph twice: dup_par 1/2;
      // 5-grams: 20 total, starts 12..19 repeat starts 0..7 (the
      // boundary-crossing starts 8..11 are unique) -> dup 8/20
      (1L, s"$par $par"),
      (2L, "all unique words here so nothing repeats at all ok"),
      (3L, "tiny doc") // < 5 tokens -> 0 grams, frac 0
    ).toDF("doc_id", "text")
    val out = Curation.repetitionSignals(docs, "text")
      .select("doc_id", "n_grams", "dup_gram_frac", "n_pars", "dup_par_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((20L, 0.4, 2L, 0.5)))
    assert(out(2L)._2 == 0.0 && out(2L)._4 == 0.0)
    assert(out(3L) == ((0L, 0.0, 1L, 0.0)))
  }

  test("packSequences: greedy fill, per-shard reset, oversize doc alone") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // shard 0, ordered: 80+90 fit in 200; 60 opens w1; 300 oversize w2;
      // 10 after oversize opens w3
      (0L, 0L, 80L), (1L, 0L, 90L), (2L, 0L, 60L), (3L, 0L, 300L),
      (4L, 0L, 10L),
      // shard 1 resets numbering
      (10L, 1L, 200L), (11L, 1L, 1L)
    ).toDF("doc_id", "shard", "nt")
    val out = Curation
      .packSequences(docs, "doc_id", "shard", "doc_id", "nt", budget = 200L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
    assert(out(0L) == ((0L, 0L)))
    assert(out(1L) == ((0L, 80L)))
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((2L, 0L)))   // oversize gets its own window
    assert(out(4L) == ((3L, 0L)))   // and never shares it
    assert(out(10L) == ((0L, 0L)))  // shard boundary resets window/fill
    assert(out(11L) == ((1L, 0L)))  // window 0 is exactly full -> next
  }

  test("packSequences: windows never exceed budget unless single-doc") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 400L).map(i =>
      (i, i % 5, (rnd.nextInt(120) + 1).toLong)).toDF("doc_id", "shard", "nt")
    val out = Curation
      .packSequences(docs, "doc_id", "shard", "doc_id", "nt", budget = 256L)
    val byWindow = out.groupBy("shard", "window_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .collect()
    byWindow.foreach { r =>
      val tot = r.getLong(2); val n = r.getLong(3)
      assert(tot <= 256L || n == 1L,
        s"window ${r.getLong(0)}/${r.getLong(1)} holds $tot tokens in $n docs")
    }
    // every doc packed exactly once, offsets are prefix sums in order
    assert(out.count() == 400L)
    val offs = out.orderBy("shard", "window_id", "doc_id")
      .collect().groupBy(r => (r.getLong(1), r.getLong(2)))
    offs.values.foreach { rows =>
      var expect = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(4) == expect,
          s"doc ${r.getLong(0)} offset ${r.getLong(4)} != $expect")
        expect += r.getLong(3)
      }
    }
  }

  test("dedupParagraphs: first occurrence survives, later copies drop") {
    val s = spark
    import s.implicits._
    // 12-token banner X prepended to docs 1 and 3; doc 2 clean.
    // Chunks: doc1 = [X, a1], doc2 = [b1], doc3 = [X, c1] where the
    // tails are unique -> X survives only in doc "1".
    val x = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    val docs = Seq(
      ("1", s"$x alpha beta"),
      ("2", "gamma delta"),
      ("3", s"$x epsilon zeta")).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_pars"), r.getAs[Long]("n_kept"),
         r.getAs[String]("clean_text"))).toMap
    assert(out("1") == (2L, 2L, s"$x alpha beta"))
    assert(out("2") == (1L, 1L, "gamma delta"))
    assert(out("3") == (2L, 1L, "epsilon zeta"))
  }

  test("dedupParagraphs: fully-duplicate doc reconstructs to empty") {
    val s = spark
    import s.implicits._
    val x = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
    val docs = Seq(("a", x), ("b", x)).toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
    assert(out("a") == (1L, x))
    assert(out("b") == (0L, ""))
  }

  test("dedupParagraphs: surviving paragraphs keep document order") {
    val s = spark
    import s.implicits._
    // doc "2" duplicates doc "1"'s single chunk as its MIDDLE chunk:
    // reconstruction must stitch chunks 0 and 2 in order
    val d = (1 to 12).map(i => s"d$i").mkString(" ")
    val head = (1 to 12).map(i => s"h$i").mkString(" ")
    val tail = (1 to 12).map(i => s"t$i").mkString(" ")
    val docs = Seq(("1", d), ("2", s"$head $d $tail"))
      .toDF("doc_id", "text")
    val out = Curation.dedupParagraphs(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) -> r.getAs[String]("clean_text")).toMap
    assert(out("2") == s"$head $tail")
  }

  test("cdcChunks: boundaries are content-defined, so a shared passage " +
       "yields identical interior chunks at ANY offset") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def words(tag: String, n: Int) =
      (0 until n).map(i => s"$tag${rnd.nextInt(1000)}x$i").mkString(" ")
    val banner = words("b", 60)
    val a = s"${words("p", 3)} $banner ${words("s", 9)}"
    val b = s"${words("q", 17)} $banner ${words("r", 4)}"
    val chunks = Curation.cdcChunks(
      Seq(("a", a), ("b", b)).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    def of(id: String) = chunks.filter(_.getString(0) == id)
      .map(_.getAs[String]("chunk_text")).toSet
    val shared = of("a").intersect(of("b"))
    // interior banner chunks are identical despite 3- vs 17-token
    // prefixes — the alignment shift that kills fixed-window dedup
    assert(shared.nonEmpty, "no shared chunk across offsets")
    assert(shared.forall(banner.contains(_)))
  }

  test("cdcChunks: chunks partition the token stream exactly") {
    val s = spark
    import s.implicits._
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val chunks = Curation.cdcChunks(
      Seq(("d", text)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_id").collect()
    val rebuilt = chunks.map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(rebuilt == text)
    assert(chunks.map(_.getAs[Long]("n_toks")).sum == 100L)
  }

  test("cdcDedup: an exact duplicate doc is all duplicate tokens") {
    val s = spark
    import s.implicits._
    val text = (1 to 80).map(i => s"t$i").mkString(" ")
    val out = Curation.cdcDedup(
      Seq(("1", text), ("2", text)).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_kept"), r.getAs[Long]("toks_total"),
         r.getAs[Long]("toks_dup"))).toMap
    assert(out("1")._1 > 0L && out("1")._3 == 0L,
      "first copy keeps everything")
    assert(out("2")._1 == 0L && out("2")._3 == 80L,
      "second copy is 100% duplicate tokens")
  }

  test("capHostBudget: the doc crossing the budget line still ships") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("h1", 1L, 1L, 5L), ("h1", 2L, 2L, 4L),
      ("h1", 3L, 3L, 3L), ("h1", 4L, 4L, 2L),
      ("h2", 5L, 1L, 100L), ("h2", 6L, 2L, 1L)
    ).toDF("host", "doc_id", "ord", "nt")
    val out = Curation.capHostBudget(docs, "doc_id", "host", "ord", "nt",
        budget = 7L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cum_before"), r.getAs[Boolean]("kept"))).toMap
    // h1: cum_before 0,5,9,12 -> doc 2 (0+5 < 7) ships though 5+4 > 7
    assert(out(1L) == (0L, true) && out(2L) == (5L, true))
    assert(out(3L) == (9L, false) && out(4L) == (12L, false))
    // h2: an over-budget FIRST doc still ships (cum_before 0), and its
    // successor is cut
    assert(out(5L) == (0L, true) && out(6L) == (100L, false))
  }

  test("samplePerGroup: k rows per group, deterministic across layouts") {
    val s = spark
    import s.implicits._
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 7}"))
      .toDF("doc_id", "grp")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Curation.samplePerGroup(d, "grp", "doc_id", k = 4)
        .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("rk"))).toSet
    val a = ids(df.repartition(1))
    val b = ids(df.repartition(13, col("doc_id")))
    assert(a == b, "sample must not depend on partition layout")
    val perGroup = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup.values.forall(_ == 4) && perGroup.size == 7)
    assert(a.forall(_._3 <= 4L))
  }

  test("sampleStratified: exact ceil quotas per stratum, layout-invariant") {
    val s = spark
    import s.implicits._
    // strata sizes 7, 10, 1 at 3/10 -> quotas ceil(2.1)=3, 3, 1
    val rows = (0L until 7L).map(i => (i, "a")) ++
      (100L until 110L).map(i => (i, "b")) ++ Seq((200L, "c"))
    val run = (parts: Int) => Curation.sampleStratified(
        rows.toDF("doc_id", "st").repartition(parts), Seq("st"), "doc_id",
        num = 3L, den = 10L)
      .select("st", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val a = run(1)
    assert(a == run(13), "stratified sample must be layout-invariant")
    val quota = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(quota == Map("a" -> 3, "b" -> 3, "c" -> 1))
  }

  test("keepTopFraction: per-group quotas follow the score, small " +
      "groups keep their own bar") {
    val s = spark
    import s.implicits._
    // en: scores 10..1 (10 rows, 30% -> ceil(3)); de: 2 rows -> ceil(0.6)=1
    val rows = (1L to 10L).map(i => (i, "en", i)) ++
      Seq((100L, "de", 1L), (101L, "de", 99L))
    val out = Curation.keepTopFraction(rows.toDF("id", "lang", "score"),
        Seq("lang"), "score", "id", num = 3L, den = 10L)
      .filter(col("kept")).select("id").collect()
      .map(_.getLong(0)).toSet
    // en keeps the top-3 scores (ids 8,9,10); de keeps its best (101)
    assert(out == Set(8L, 9L, 10L, 101L))
  }

  test("scrubLuhn: checksum separates real cards from regex look-alikes") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "pay 4539578763621486 now"),
      (2L, "id 4539578763621487 is not a card"),       // bad check digit
      (3L, "two: 4111111111111111 and 1234567812345670"),
      (4L, "repeat 4111111111111111 then 4111111111111111"),
      (5L, "short 123456 and words only")
    ).toDF("doc_id", "text")
    val out = Curation.scrubLuhn(df, "text")
      .select("doc_id", "n_cc", "clean_text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out(1L) == ((1L, "pay <CC> now")))
    assert(out(2L) == ((0L, "id 4539578763621487 is not a card")),
      "Luhn-invalid 16-digit runs must survive")
    assert(out(3L) == ((2L, "two: <CC> and <CC>")))
    assert(out(4L) == ((2L, "repeat <CC> then <CC>")))
    assert(out(5L) == ((0L, "short 123456 and words only")))
  }

  test("compressionSignal: repetitive spam compresses far below " +
      "natural text") {
    val s = spark
    import s.implicits._
    val spam = Seq.fill(60)("buy now").mkString(" ")
    val natural = "the quick brown fox jumps over a lazy dog while " +
      "seventeen quirky gnomes vexed by fog plot zany schemes"
    val df = Seq((1L, spam), (2L, natural)).toDF("doc_id", "text")
    val out = Curation.compressionSignal(df, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L)._3 > 8.0, s"spam ratio ${out(1L)._3} should be high")
    assert(out(2L)._3 < 2.0, s"natural ratio ${out(2L)._3} should be low")
    assert(out(1L)._1 == spam.length.toLong)
  }

  test("evalPairs: confusion counts and metrics on a known overlap") {
    val s = spark
    import s.implicits._
    val pred = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("a", "b")
    val truth = Seq((1L, 2L), (4L, 5L), (6L, 7L), (8L, 9L))
      .toDF("a", "b")
    val r = Curation.evalPairs(pred, truth, Seq("a", "b")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 0.6667 && r.getDouble(4) == 0.5)
    // f1 = 2*2/(4+1+2) = 0.5714
    assert(r.getDouble(5) == 0.5714)
  }

  test("sampleWeighted: exact k kept, heavier rows win in expectation, " +
      "layout-invariant") {
    val s = spark
    import s.implicits._
    // 200 light rows (w=1) + 200 heavy rows (w=50)
    val rows = (0L until 200L).map(i => (i, 1L)) ++
      (200L until 400L).map(i => (i, 50L))
    val df = rows.toDF("doc_id", "w")
    val run = (parts: Int) => Curation.sampleWeighted(
        df.repartition(parts), "doc_id", "w", k = 80)
      .filter(col("kept")).collect().map(_.getLong(0)).sorted.toSeq
    val a = run(1)
    assert(a.size == 80)
    assert(a == run(13), "sample must not depend on partition layout")
    val heavy = a.count(_ >= 200L)
    // ES with w=50 vs w=1 makes heavy rows overwhelmingly likely
    assert(heavy > 60, s"expected heavy rows to dominate, got $heavy/80")
  }

  test("sampleWeighted: a null key is never kept, a duplicated winning " +
      "key keeps every row that has it") {
    val s = spark
    import s.implicits._
    def kept(rows: Seq[(String, Double, Int)], k: Int): Seq[Int] = {
      val out = Curation.sampleWeighted(rows.toDF("key", "w", "row"),
          "key", "w", k)
        .select("row", "kept").as[(Int, Boolean)].collect()
      assert(out.map(_._1).sorted.toSeq == rows.map(_._3).sorted,
        "one output row per input row")
      out.filter(_._2).map(_._1).sorted.toSeq
    }
    // k above the row count puts the null key among the winners, but
    // it is still not kept
    assert(kept(Seq((null, 1e12, 0), ("a", 1.0, 1), ("b", 1.0, 2)), 10) ==
      Seq(1, 2))
    // the heavy "d" row takes the only slot; its light twin, which
    // ranks last on its own, is kept with it
    assert(kept(Seq(("a", 1.0, 1), ("b", 1.0, 2), ("d", 1e12, 4),
      ("d", 1e-6, 5)), 1) == Seq(4, 5))
    // both "d" rows rank in the top k: each still comes out once
    assert(kept(Seq(("a", 1.0, 1), ("d", 1.0, 4), ("d", 1.0, 5)), 3) ==
      Seq(1, 4, 5))
  }

  test("chunkWithStride: coverage, overlap, short tails, sub-window " +
      "docs") {
    val s = spark
    import s.implicits._
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, ten), (2L, "a b c")).toDF("doc_id", "text")
    val out = Curation.chunkWithStride(df, "doc_id", "text",
        window = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // n=10, W=4, S=3 -> ceil(6/3)+1 = 3 chunks at offsets 0,3,6
    assert(out((1L, 0L)) == ((0L, 4L, "w1 w2 w3 w4")))
    assert(out((1L, 1L)) == ((3L, 4L, "w4 w5 w6 w7")))
    assert(out((1L, 2L)) == ((6L, 4L, "w7 w8 w9 w10")))
    // shorter than one window: single whole-doc chunk
    assert(out((2L, 0L)) == ((0L, 3L, "a b c")))
    assert(out.size == 4)
    // stride == window -> disjoint cover with a short tail
    val disj = Curation.chunkWithStride(df, "doc_id", "text", 4, 4)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(3), r.getString(4)))
    assert(disj.map(_._1).sum == 10L, "disjoint chunks partition tokens")
  }

  test("crossDupGramFraction: shared passages count, within-doc " +
      "repeats alone do not") {
    val s = spark
    import s.implicits._
    val shared = "alpha beta gamma delta epsilon"
    val df = Seq(
      // docs 1 and 2 share a 5-token passage -> 1 dup occurrence each
      (1L, s"$shared unique one two three four"),
      (2L, s"zz yy $shared ww vv"),
      // doc 3 repeats ITS OWN gram twice: both occurrences of the
      // repeated gram live in one doc -> nd == 1 -> not cross-dup
      (3L, "p q r s t p q r s t"),
      // doc 4: all-unique soup
      (4L, "k l m n o j i h g f"),
      // doc 5: too short for any 5-gram
      (5L, "just four words here")).toDF("doc_id", "text")
    val out = Curation.crossDupGramFraction(df, "doc_id", "text", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 6L && out(1L)._2 == 0.1667)
    assert(out(2L)._1 == 5L && out(2L)._2 == 0.2)
    assert(out(3L)._1 == 6L && out(3L)._2 == 0.0,
      "self-repeats are not cross-document duplication")
    assert(out(4L) == ((6L, 0.0)))
    assert(out(5L) == ((0L, 0.0)))
  }

  test("allocateBudget: saturated prefix, proportional fill, " +
      "largest-remainder, conservation") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", 10L, 1L), ("b", 100L, 2L), ("c", 100L, 1L))
      .toDF("src", "cap", "w")
    val out = Curation.allocateBudget(df, "src", "cap", "w", 100L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getBoolean(4))))
      .toMap
    // a saturates at 10; remaining 90 splits 2:1 -> b 60, c 30
    assert(out("a") == ((10L, true)))
    assert(out("b") == ((60L, false)))
    assert(out("c") == ((30L, false)))
  }

  test("allocateBudget: remainder +1s, degenerate targets, cap ceiling") {
    val s = spark
    import s.implicits._
    val eq = Seq(("a", 100L, 1L), ("b", 100L, 1L), ("c", 100L, 1L))
      .toDF("src", "cap", "w")
    // 100/3: floors 33 each, one +1 by (frac desc, key) -> 'a'
    val r1 = Curation.allocateBudget(eq, "src", "cap", "w", 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(r1 == Map("a" -> 34L, "b" -> 33L, "c" -> 33L))
    // target above total capacity: everyone saturates at cap
    val r2 = Curation.allocateBudget(eq, "src", "cap", "w", 10000L)
      .collect().map(r => (r.getLong(3), r.getBoolean(4)))
    assert(r2.forall(_ == ((100L, true))))
    // zero target: zero allocations
    val r3 = Curation.allocateBudget(eq, "src", "cap", "w", 0L)
      .collect().map(_.getLong(3))
    assert(r3.forall(_ == 0L))
    // conservation + cap ceiling on a lumpier instance
    val lumpy = Seq(("a", 7L, 10L), ("b", 500L, 1L), ("c", 40L, 6L),
      ("d", 3L, 9L), ("e", 90L, 2L)).toDF("src", "cap", "w")
    for (t <- Seq(1L, 17L, 100L, 333L, 639L, 640L, 641L, 2000L)) {
      val rows = Curation.allocateBudget(lumpy, "src", "cap", "w", t)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      assert(rows.map(_._3).sum == math.min(t, 640L), s"target=$t")
      rows.foreach { case (k, cap, alloc) =>
        assert(alloc >= 0L && alloc <= cap, s"target=$t src=$k")
      }
    }
  }

  test("c4Filter: line predicate, page gates, clean_text rebuild") {
    val s = spark
    import s.implicits._
    val goodPage = Seq(
      "this line ends with a period.",   // kept
      "does this line survive too?",     // kept
      "short one.",                      // 2 words -> dropped
      "no terminal punctuation here",    // dropped
      "she said \"keep the quote line.\"", // ends in quote -> kept
      "please enable javascript to proceed.", // bad word -> dropped
      "three more words kept!",          // kept
      "yet another sentence stays."      // kept -> 5 kept total
    ).mkString("\n")
    val loremPage = "a full sentence right here.\n" * 6 + "lorem ipsum."
    val bracePage = ("good sentence number one two three.\n" * 6) +
      "var x = { a: 1 }"
    val thinPage = "only one surviving sentence here.\nnope\nnah"
    val df = Seq((1L, goodPage), (2L, loremPage), (3L, bracePage),
      (4L, thinPage)).toDF("doc_id", "text")
    val out = Curation.c4Filter(df, "text")
      .select("doc_id", "n_lines", "n_kept", "has_bad_phrase", "keep",
        "clean_text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4),
          r.getString(5))))
      .toMap
    assert(out(1L)._1 == 8L && out(1L)._2 == 5L)
    assert(out(1L)._4, "5 kept lines, no bad phrase -> page kept")
    assert(out(1L)._5 == Seq(
      "this line ends with a period.",
      "does this line survive too?",
      "she said \"keep the quote line.\"",
      "three more words kept!",
      "yet another sentence stays.").mkString("\n"))
    assert(out(2L)._3 && !out(2L)._4 && out(2L)._5 == "",
      "lorem ipsum kills the page even with enough sentences")
    assert(out(3L)._3 && !out(3L)._4,
      "a brace anywhere on the page kills it")
    assert(!out(4L)._3 && !out(4L)._4 && out(4L)._2 == 1L,
      "clean page below minSentences is dropped, not flagged")
  }

  test("c4Filter: thresholds and word lists are parameters") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "tracking pixel ads everywhere today.\nfine line."))
      .toDF("doc_id", "text")
    val strict = Curation.c4Filter(df, "text", minLineWords = 2,
        minSentences = 1, pageBadPhrases = Seq("malware"),
        lineBadWords = Seq("tracking", "ads"))
      .select("n_kept", "keep", "clean_text").head()
    assert(strict.getLong(0) == 1L && strict.getBoolean(1))
    assert(strict.getString(2) == "fine line.")
  }
}
