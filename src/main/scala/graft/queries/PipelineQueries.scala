package graft.queries

import graft.Pin
import graft.Sessions.table
import graft.operators.{DocPipeline, FrequentParagraphs, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Document-pipeline operators (WARC→spans, wc, frequent paragraphs,
  * multimodal plumbing) over synthetic frames derived from the driver's
  * tables. The spanize chain carries a DuckDB oracle (the derived HTML is
  * simple enough to mirror in SQL list functions); the stateful/hash
  * stages are rows-only and parity-tested in ScalaTest.
  */
object PipelineQueries {

  type Q = (SparkSession, String) => DataFrame

  /** documents.text rendered as a small HTML page: paragraphs split on
    * the word " slow ", one img tag per doc.
    */
  private def htmlFrame(s: SparkSession, dir: String): DataFrame =
    // repartition: the sf table is one parquet file -> one scan task,
    // which would serialize the spanize + paragraph-minhash CPU; at
    // corpus scale the scan is already wide and this is a no-op
    table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(
      col("doc_id"),
      col("source"),
      concat(lit("<p>"),
             replace(col("text"), lit(" slow "),
                           lit("</p><p>")),
             lit("</p><p>common footer paragraph for "), col("source"),
             lit(" shared across documents</p>"),
             lit("<img src=\"http://img.example.com/"), col("doc_id"),
             lit(".png\">")).as("chunk_body"),
      lit("text/html").as("mime"))

  /** Real 16x16 gray PNGs for the perceptual-hash queries: doc_id div 2
    * picks the pixel base (even/odd twins), odd twins get pixel (15,15)
    * shifted +180 mod 256. The oracle replays the identical formula.
    */
  private def phashMedia(s: SparkSession, dir: String): DataFrame = {
    val pngUdf = udf((id: Long) =>
      Multimodal.encodeGrayPng(16, 16, (x, y) =>
        (((x * 31 + y * 17 + (id / 2) * 7) % 256 +
          (if (id % 2 == 1 && x == 15 && y == 15) 180L else 0L))
          % 256).toInt))
    table(s, dir, "documents").select(
      concat(lit("media://img/"), col("doc_id")).as("media_ref"),
      pngUdf(col("doc_id").cast(LongType)).as("bytes"))
  }

  val defs: Map[String, Q] = Map(
    // S4/F13–F15/F20 + A7: html -> spans -> word/char counts through the
    // full production spanize chain.
    "q_spanize_wc" -> { (s, dir) =>
      val sp = DocPipeline.spanize(htmlFrame(s, dir))
      sp.select(
        col("doc_id"),
        size(col("spans")).cast(LongType).as("n_spans"),
        DocPipeline.wcWords(col("spans")).cast(LongType).as("n_words"),
        DocPipeline.wcChars(col("spans")).cast(LongType).as("n_chars"))
    },

    // Span-sequence invariant validator (the input table's per-row
    // contract): five fixture classes — valid / offset regression /
    // unknown kind / empty text span / media span without media_ref;
    // the oracle predicts the verdicts from the same generator.
    "q_span_validate" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(5L))
      def sp(kind: org.apache.spark.sql.Column,
             text: org.apache.spark.sql.Column,
             ref: org.apache.spark.sql.Column,
             off: org.apache.spark.sql.Column) =
        struct(kind.as("kind"), text.as("text"), ref.as("media_ref"),
          off.cast("int").as("offset"))
      val s1 = sp(lit("text"),
        when(m === 3, lit("")).otherwise(substring(col("text"), 1, 20)),
        lit(""), lit(0))
      val s2 = sp(when(m === 2, lit("vidio")).otherwise(lit("image")),
        lit(""),
        when(m === 4, lit("")).otherwise(concat(lit("img:"), id)),
        lit(20))
      val s3 = sp(lit("text"), substring(col("text"), 21, 20), lit(""),
        when(m === 1, lit(10)).otherwise(lit(40)))
      val docs = table(s, dir, "documents").select(col("doc_id"),
        array(s1, s2, s3).as("spans"))
      DocPipeline.validateSpans(docs)
    },

    // Interleaved-span profile over the input-contract shape
    // (doc_id, spans<kind,text,media_ref,offset>): doc_id%4 varies the
    // media kind, adds an all-text doc and a two-media doc. The oracle
    // states each class's counts/chars/fraction in closed form from
    // the same substring arithmetic.
    // Span normalization: degenerate spans dropped, consecutive text
    // runs merged (single-space join), offsets re-derived as cumulative
    // merged-text chars. One row per normalized span; the oracle
    // replays the islands windows generically.
    "q_span_merge" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(3L))
      def sp(kind: org.apache.spark.sql.Column,
             text: org.apache.spark.sql.Column,
             ref: org.apache.spark.sql.Column, off: Int) =
        struct(kind.as("kind"), text.as("text"), ref.as("media_ref"),
          lit(off).as("offset"))
      val t1 = substring(col("text"), 1, 20)
      val t2 = substring(col("text"), 21, 20)
      val t3 = substring(col("text"), 41, 20)
      val spans = when(m === 0, array(
          sp(lit("text"), t1, lit(""), 0),
          sp(lit("text"), t2, lit(""), 1),
          sp(lit("image"), lit(""), concat(lit("img:"), id), 2),
          sp(lit("text"), t3, lit(""), 3),
          sp(lit("text"), lit(""), lit(""), 4)))
        .when(m === 1, array(
          sp(lit("text"), lit(""), lit(""), 0),
          sp(lit("image"), lit(""), concat(lit("img:"), id), 1),
          sp(lit("audio"), lit(""), concat(lit("aud:"), id), 2),
          sp(lit("text"), t1, lit(""), 3),
          sp(lit("text"), t2, lit(""), 4),
          sp(lit("text"), t3, lit(""), 5)))
        .otherwise(array(sp(lit("text"), t1, lit(""), 0)))
      DocPipeline.normalizeSpans(table(s, dir, "documents")
        .select(col("doc_id"), spans.as("spans")))
    },

    // Context-budget truncation over the span_stats fixture: 40-char
    // budget cuts inside the first or second text span depending on
    // doc shape; media spans fall with the cut.
    "q_span_truncate" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(4L))
      def sp(kind: org.apache.spark.sql.Column,
             text: org.apache.spark.sql.Column,
             ref: org.apache.spark.sql.Column, off: Int) =
        struct(kind.as("kind"), text.as("text"), ref.as("media_ref"),
          lit(off).as("offset"))
      val s1 = sp(lit("text"), substring(col("text"), 1, 30), lit(""), 0)
      val s2 = sp(
        when(m === 0, lit("image")).when(m === 1, lit("audio"))
          .when(m === 2, lit("video")).otherwise(lit("text")),
        when(m === 3, substring(col("text"), 31, 30)).otherwise(lit("")),
        when(m === 0, concat(lit("img:"), id))
          .when(m === 1, concat(lit("aud:"), id))
          .when(m === 2, concat(lit("vid:"), id)).otherwise(lit("")),
        30)
      val s3 = sp(lit("text"), substring(col("text"), 61, 30), lit(""),
        60)
      val s4 = when(m === 2,
        array(sp(lit("image"), lit(""), concat(lit("img2:"), id), 90)))
        .otherwise(array().cast(
          "array<struct<kind:string,text:string,media_ref:string," +
            "offset:int>>"))
      DocPipeline.truncateSpans(
        table(s, dir, "documents").select(col("doc_id"),
          concat(array(s1, s2, s3), s4).as("spans")),
        maxChars = 40L)
    },

    "q_span_stats" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(4L))
      def sp(kind: org.apache.spark.sql.Column,
             text: org.apache.spark.sql.Column,
             ref: org.apache.spark.sql.Column, off: Int) =
        struct(kind.as("kind"), text.as("text"), ref.as("media_ref"),
          lit(off).as("offset"))
      val s1 = sp(lit("text"), substring(col("text"), 1, 30), lit(""), 0)
      val s2 = sp(
        when(m === 0, lit("image")).when(m === 1, lit("audio"))
          .when(m === 2, lit("video")).otherwise(lit("text")),
        when(m === 3, substring(col("text"), 31, 30)).otherwise(lit("")),
        when(m === 0, concat(lit("img:"), id))
          .when(m === 1, concat(lit("aud:"), id))
          .when(m === 2, concat(lit("vid:"), id)).otherwise(lit("")),
        30)
      val s3 = sp(lit("text"), substring(col("text"), 61, 30), lit(""),
        60)
      val s4 = when(m === 2,
        array(sp(lit("image"), lit(""), concat(lit("img2:"), id), 90)))
        .otherwise(array().cast(
          "array<struct<kind:string,text:string,media_ref:string," +
            "offset:int>>"))
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat(array(s1, s2, s3), s4).as("spans"))
      DocPipeline.spanStats(docs)
        .select(col("doc_id"), col("n_spans"), col("n_text"),
          col("n_media"), col("text_chars"), col("n_media_refs"),
          col("media_frac"))
    },

    // Caption–media pairing over the interleaved contract: m=0 docs
    // exercise the nearest-PRECEDING-text rule twice (image@30 <- t1,
    // audio@90 <- t2), m=1 docs the following-text fallback
    // (image@0 <- t1 'after'), m=2 docs the no-text 'none' case. The
    // oracle replays the span construction and both IGNORE NULLS
    // window scans.
    "q_caption_pairs" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(3L))
      def sp(kind: String, text: org.apache.spark.sql.Column,
             ref: org.apache.spark.sql.Column, off: Int) =
        struct(lit(kind).as("kind"), text.as("text"),
          ref.as("media_ref"), lit(off).as("offset"))
      val t1  = substring(col("text"), 1, 30)
      val t2  = substring(col("text"), 31, 30)
      val img = concat(lit("img:"), id.cast("string"))
      val aud = concat(lit("aud:"), id.cast("string"))
      val spans =
        when(m === 0, array(
          sp("text", t1, lit(""), 0),
          sp("image", lit(""), img, 30),
          sp("text", t2, lit(""), 60),
          sp("audio", lit(""), aud, 90)))
        .when(m === 1, array(
          sp("image", lit(""), img, 0),
          sp("text", t1, lit(""), 30)))
        .otherwise(array(
          sp("image", lit(""), img, 0)))
      Multimodal.captionPairs(
        table(s, dir, "documents").select(col("doc_id"),
          spans.as("spans")))
    },

    // A5 same-doc span dedup on top of spanize (counts after dedup).
    "q_span_dedup" -> { (s, dir) =>
      val sp = DocPipeline.spanize(htmlFrame(s, dir))
        .withColumn("spans", DocPipeline.sameDocDedup(col("spans")))
      sp.select(col("doc_id"), size(col("spans")).cast(LongType).as("n_spans"))
    },

    // A3 frequent-paragraph collection per "domain" (= source), docs in
    // doc_id order, via the production secondary-sort collector. Fully
    // oracled: the decayed frequent-items state machine replays as a
    // DuckDB recursive CTE (one step per paragraph, the PData table
    // carried as a LIST of STRUCTs; double decay arithmetic is IEEE-
    // identical on both sides).
    "q_frequent_collect" -> { (s, dir) =>
      val b = graft.functions.MinHashF.optimalBands(0.95)
      val docs = DocPipeline.spanize(htmlFrame(s, dir))
        .select(col("source").as("domain"),
                col("doc_id").cast(LongType).as("ord"),
                col("doc_id"), col("spans"))
        .withColumn("pbands", FrequentParagraphs.paragraphBandsCol(
          FrequentParagraphs.textSpans(col("spans")), b))
      FrequentParagraphs.collect(docs)
        .select(col("domain"), col("pdata_id").cast(LongType).as("pdata_id"),
                col("score"), col("count"))
    },

    // A4 frequent-paragraph removal end-to-end (doc survival counts).
    // Oracled on top of the A3 replay: the removal itself is pure
    // join/window SQL (min-pdata hit per paragraph, occurrence rank per
    // (domain, frequent), drop rank >= min_freq).
    "q_frequent_filter" -> { (s, dir) =>
      val b = graft.functions.MinHashF.optimalBands(0.95)
      // the spanize + per-paragraph 256-perm minhash chain is the
      // dominant cost and is consumed 3x (collect, band rows, final join)
      val docs = Pin(DocPipeline.spanize(htmlFrame(s, dir))
        .select(col("source").as("domain"),
                col("doc_id").cast(LongType).as("ord"),
                col("doc_id"), col("spans"))
        .withColumn("pbands", FrequentParagraphs.paragraphBandsCol(
          FrequentParagraphs.textSpans(col("spans")), b)))
      val freq = FrequentParagraphs.collect(docs)
      FrequentParagraphs.filterFrequent(docs, freq)
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
             sum(size(col("spans"))).as("n_spans"))
    },

    // THE FULL CORPUS PIPELINE under one oracle: spanize → length filter
    // → doc-level minhash → first-wins self-dedup → per-domain frequent-
    // paragraph removal → renumber, via CorpusJob's resumable
    // snapshot-committed runner. The oracle composes the spanize
    // derivation, the prefixed doc-level minhash chain, the LSH replay,
    // and the frequent machine restricted to dedup survivors — every
    // stage's semantics hash-checked end to end in one row set.
    "q_corpus_pipeline" -> { (s, dir) =>
      val docs = DocPipeline.spanize(htmlFrame(s, dir))
        .select(col("source").as("domain"),
                col("doc_id").cast(LongType).as("ord"),
                col("doc_id"), col("spans"))
      // tmpfs when available: the job writes each stage's full output
      // as its snapshot delta — five rounds of parquet I/O that the
      // ~150 MB/s VM disk would serialize
      val scratchRoot =
        if (java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
        else sys.props("java.io.tmpdir")
      val tbl = java.nio.file.Paths.get(scratchRoot,
        s"graft-corpusjob-${Integer.toHexString(dir.hashCode)}-" +
          ProcessHandle.current().pid()).toString
      // ALWAYS start from an empty table: a repeated in-process
      // invocation would otherwise resume (a no-op masquerading as a
      // timed run), and a SIGKILLed predecessor's snapshots could be
      // inherited by a pid-reusing successor as stale query results
      val tp = java.nio.file.Paths.get(tbl)
      if (java.nio.file.Files.isDirectory(tp)) {
        val walk = java.nio.file.Files.walk(tp)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
      graft.Sessions.deleteOnExit(tbl)
      val ms = graft.operators.CorpusJob.runPipeline(
        s, docs, tbl, langs = None, minTokens = 2, simThreshold = 0.9)
      s.read.parquet(s"$tbl/${ms.last.dataPath}")
        .select(col("doc_id"), col("ord"))
    },

    // emtsv analysis stage through the deterministic analyzer stand-in
    // (the NLP service is environment-bound; the seam is documented at
    // sources/Emtsv.Analyzer): quntoken-semantics tokenization → Unit
    // tree → exploded token view with lemma/xpostag. The fixture text
    // is punctuation-free single-sentence prose, so the oracle derives
    // the same view from a whitespace split + the stand-in's rules; the
    // sentence-split and ≤3-punct-run semantics are spec-tested.
    "q_emtsv_tokenize" -> { (s, dir) =>
      graft.sources.Emtsv.analyzeTokens(
          table(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id").cast(LongType).as("doc_id"),
                col("p_id").cast(LongType).as("p_id"),
                col("s_id").cast(LongType).as("s_id"),
                col("t_id").cast(LongType).as("t_id"),
                col("form"), col("lemma"), col("xpostag"))
    },

    // J6 bootstrapped A3: epoch 1 = even-ord docs, epoch 2 = odd-ord docs
    // seeded with epoch 1's frequents (carried score/count, synthetic
    // keys) through the domain-keyed JOIN path — no driver-side state.
    // Oracle: two instances of the recursive replay machine, the second
    // seeded from the first's kept list.
    "q_frequent_bootstrap" -> { (s, dir) =>
      val b = graft.functions.MinHashF.optimalBands(0.95)
      val docs = Pin(DocPipeline.spanize(htmlFrame(s, dir))
        .select(col("source").as("domain"),
                col("doc_id").cast(LongType).as("ord"),
                col("doc_id"), col("spans"))
        .withColumn("pbands", FrequentParagraphs.paragraphBandsCol(
          FrequentParagraphs.textSpans(col("spans")), b)))
      val boot = FrequentParagraphs.collect(docs.filter(col("ord") % 2 === 0))
      FrequentParagraphs.collect(docs.filter(col("ord") % 2 === 1),
                                 bootstrapDf = Some(boot))
        .select(col("domain"), col("pdata_id").cast(LongType).as("pdata_id"),
                col("score"), col("count"))
    },

    // A4 OLD-frequents path, two epochs (frequent_paragraphs.py:632–748
    // main_filter with --old-frequents): epoch 1's collected frequents
    // become old_frequents for filtering epoch 2 — EVERY occurrence of
    // an old frequent is dropped (no min_freq grace), and old hits are
    // excluded before new-frequent matching. Oracle: two replay
    // machines + the drop-all/min-freq SQL composed.
    "q_frequent_filter_epoch2" -> { (s, dir) =>
      val b = graft.functions.MinHashF.optimalBands(0.95)
      val docs = Pin(DocPipeline.spanize(htmlFrame(s, dir))
        .select(col("source").as("domain"),
                col("doc_id").cast(LongType).as("ord"),
                col("doc_id"), col("spans"))
        .withColumn("pbands", FrequentParagraphs.paragraphBandsCol(
          FrequentParagraphs.textSpans(col("spans")), b)))
      val epoch1 = docs.filter(col("ord") % 2 === 0)
      val epoch2 = docs.filter(col("ord") % 2 === 1)
      val oldFreq = FrequentParagraphs.collect(epoch1)
      val newFreq = FrequentParagraphs.collect(epoch2)
      FrequentParagraphs.filterFrequent(epoch2, newFreq,
          oldFrequents = Some(oldFreq))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
             sum(size(col("spans"))).as("n_spans"))
    },

    // JusText-core boilerplate classification: HTML with a link-heavy nav
    // block, content paragraphs and a © footer; the Spark side runs the
    // production parser + column/window classifier (Boilerplate.classify),
    // the oracle re-derives blocks from the generative recipe and mirrors
    // the context-free rules and neighbour revision in SQL windows.
    "q_boilerplate" -> { (s, dir) =>
      val html = table(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(
          lit("<div><a href=\"/\">Home</a> <a href=\"/about\">About links navigation</a></div>"),
          lit("<h2>Section about "), col("source"), lit("</h2><p>"),
          replace(col("text"), lit(" slow "), lit("</p><p>")),
          lit("</p><p>© 2024 footer for "), col("source"), lit("</p>")
        ).as("chunk_body"))
      graft.functions.Boilerplate.classify(html, "chunk_body", "doc_id")
        .select(col("doc_id"), col("p_idx").cast(LongType).as("p_idx"),
                col("cf"), col("final_class"))
    },

    // emtsv TSV Unit tree (reference tsv.py:19–126): content synthesized
    // per doc with a known 1-par/1-sent/<=5-token shape, parsed by the
    // real state machine; the oracle predicts every output from the
    // construction. Any parse defect (comment routing, token splitting,
    // flush order) breaks the match.
    "q_tsv_parse" -> { (s, dir) =>
      val parseUdf = udf((content: String) => {
        val (_, docs) = graft.sources.TsvUnits.parseDocs(content, useHeaders = false)
        val d = docs.head
        val sents = d.paragraphs.flatMap(_.sentences)
        (d.paragraphs.size, sents.size, sents.map(_.tokens.size).sum,
         sents.head.comment)
      })
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("words", slice(split(trim(col("text")), "\\s+"), 1, 5))
        .withColumn("content", concat(
          lit("# newdoc id = "), col("doc_id"),
          lit("\n# newpar id = "), col("doc_id"), lit("_p1\n# text = "),
          array_join(col("words"), " "), lit("\n"),
          array_join(transform(col("words"),
            w => concat(w, lit("\t"), upper(w))), "\n")))
        .withColumn("r", parseUdf(col("content")))
        .select(col("doc_id"),
                col("r._1").cast(LongType).as("n_pars"),
                col("r._2").cast(LongType).as("n_sents"),
                col("r._3").cast(LongType).as("n_tokens"),
                col("r._4").as("sent_text"))
    },

    // BERT-input conversion (scripts/convert_tsv.py:169–228, text mode +
    // lowercase): parse the synthesized tsv, emit one sentence line +
    // the document separator line. Oracle predicts both lines.
    "q_tsv_bert" -> { (s, dir) =>
      val linesUdf = udf((content: String) => {
        val (_, docs) =
          graft.sources.TsvUnits.parseDocs(content, useHeaders = false)
        graft.sources.TsvUnits.trainingLines(
          docs.head, Map.empty, "text", "bert", lowerCase = true)
      })
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("words", slice(split(trim(col("text")), "\\s+"), 1, 5))
        .withColumn("content", concat(
          lit("# newdoc id = "), col("doc_id"),
          lit("\n# newpar id = "), col("doc_id"), lit("_p1\n# text = "),
          array_join(col("words"), " "), lit("\n"),
          array_join(transform(col("words"),
            w => concat(w, lit("\t"), upper(w))), "\n")))
        .select(col("doc_id"),
                posexplode(linesUdf(col("content"))).as(Seq("line_idx", "line")))
        .withColumn("line_idx", col("line_idx").cast(LongType))
    },

    // A8 over the CoNLL surface (scripts/top_n_conll.py): parse the
    // synthesized tsv into the Unit tree, explode to the token view,
    // count the lowered lemma column, top-n with a total tie-break.
    "q_conll_topn" -> { (s, dir) =>
      val parseUdf = udf((content: String) =>
        graft.sources.TsvUnits.parseDocs(content, useHeaders = false)._2.head)
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("words", slice(split(trim(col("text")), "\\s+"), 1, 5))
        .withColumn("content", concat(
          lit("# newdoc id = "), col("doc_id"),
          lit("\n# newpar id = "), col("doc_id"), lit("_p1\n# text = "),
          array_join(col("words"), " "), lit("\n"),
          array_join(transform(col("words"),
            w => concat(w, lit("\t"), upper(w))), "\n")))
        .withColumn("doc", parseUdf(col("content")))
        .select(col("doc_id"), col("doc.paragraphs").as("paragraphs"))
        .transform(graft.sources.TsvUnits.tokensView)
        .select(lower(element_at(col("fields"), 2)).as("v"))
        .groupBy("v").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("v")).limit(50)
    },

    // fix_corpus over the Unit tree (fix_corpus.py:52–88): synthesized
    // tsv whose token lines carry ONLY the form field — every line gets
    // the invalid-line expansion, then the wsafter field is derived from
    // the `# text` raw string. The oracle predicts the fixed fields.
    "q_tsv_fix" -> { (s, dir) =>
      val fixUdf = udf((content: String) => {
        val (_, docs) =
          graft.sources.TsvUnits.parseDocs(content, useHeaders = false)
        val (fixed, n) = graft.sources.TsvUnits.fixInvalidLines(docs.head, 4)
        val ws = graft.sources.TsvUnits.addWsafter(fixed)
        val toks = ws.paragraphs.flatMap(_.sentences).flatMap(_.tokens)
        (n, toks.head.mkString("|"), toks.last(1))
      })
      table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("words", slice(split(trim(col("text")), "\\s+"), 1, 5))
        .withColumn("content", concat(
          lit("# newdoc id = "), col("doc_id"),
          lit("\n# newpar id = "), col("doc_id"), lit("_p1\n# text = "),
          array_join(col("words"), " "), lit("\n"),
          array_join(col("words"), "\n")))
        .withColumn("r", fixUdf(col("content")))
        .select(col("doc_id"),
                col("r._1").as("n_fixed"),
                col("r._2").as("first_fields"),
                col("r._3").as("last_ws"))
    },

    // emMorph xpostag cleanup (tsv.py:142–154) as a codegen'd
    // regexp_replace chain; dirty tags drawn deterministically per doc.
    "q_xpostag_clean" -> { (s, dir) =>
      val dirty = array(Seq(
        "[/N][Acc][]", "[1][Sg]", "[2][S][g]", "[3][Pl]",
        "[1][P][l]", "[N][Nom]", "[[[Adj]", "[V][[Prs]").map(lit): _*)
      table(s, dir, "documents")
        .select(col("doc_id"),
          element_at(dirty,
            (pmod(ascii(expr("right(doc_id, 1)")), lit(8)) + 1)
              .cast("int")).as("raw"))
        .withColumn("cleaned",
          graft.sources.TsvUnits.cleanXpostagCol(col("raw")))
    },

    // Trafilatura-style second extractor (the reference's alternative to
    // justext, boilerplate.py:61–74): page skeleton exercises every
    // pruning rule — nav/header/footer/aside discarded wholesale, the
    // <article> restricts extraction, a pure-link paragraph dies on link
    // density, "tiny" on min length, and the repeated share-paragraph on
    // the duplicate filter. The oracle predicts the surviving sequence
    // from the known structure.
    "q_trafilatura" -> { (s, dir) =>
      val page = table(s, dir, "documents").select(
        col("doc_id"), col("source"),
        concat(
          lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>"),
          lit("<header><h1>Site title banner</h1></header>"),
          lit("<article><h2>Section about "), col("source"), lit("</h2><p>"),
          replace(col("text"), lit(" slow "), lit("</p><p>")),
          lit("</p><p>tiny</p>"),
          lit("<p><a href=\"#\">read more and more links</a></p>"),
          lit("<p>Share this article with friends</p>"),
          lit("<p>Share this article with friends</p></article>"),
          lit("<aside><p>related articles sidebar list</p></aside>"),
          lit("<footer><p>site footer notice text</p></footer>")
        ).as("page"))
      graft.functions.Trafilatura.extract(page, "page", "doc_id")
    },

    // REAL image decode end-to-end: deterministic 8-bit gray PNGs are
    // encoded from a pixel formula (fixture side), then
    // Multimodal.imageFeatures decodes them with javax.imageio and emits
    // decoded dimensions + the luminance-histogram energy. PNG is
    // lossless, so the oracle predicts the features straight from the
    // pixel formula — any decode defect breaks the match.
    // 64-bit average perceptual hash over REAL 16x16 gray PNGs: docs
    // pair up (doc_id div 2 shares a pixel base), odd twins get one
    // corner pixel shifted +180 — the resized/re-encoded-copy shape
    // byte digests miss. Integer cross-multiplied cell-vs-global mean
    // bits, two 32-bit halves; the oracle replays pixels -> cells ->
    // bits -> halves from the same formula.
    "q_image_phash" -> { (s, dir) =>
      Multimodal.imageAHashes(phashMedia(s, dir))
        .select(col("media_ref"), col("width"), col("height"),
          col("hash_hi"), col("hash_lo"))
    },

    // DCT perceptual hash over the same REAL PNGs: two-pass 8×8
    // low-frequency DCT-II in exact integers (the quantized cosine
    // table is generated once in Scala and embedded verbatim in the
    // oracle), lower-median AC threshold, 64 bits. The oracle replays
    // pixels → row pass → col pass → median → bits → halves.
    "q_phash_dct" -> { (s, dir) =>
      Multimodal.imageDctHashes(phashMedia(s, dir))
    },

    // Perceptual near-dup image pairs: aHash + 4x16-bit band blocking
    // (exact for Hamming <= 3) + codegen'd bit_count(xor) verification.
    // The planted odd twins land within a few bits of their even base;
    // the oracle replays hashing, banding, the string-ref pair order
    // and the Hamming filter.
    "q_image_neardup" -> { (s, dir) =>
      Multimodal.imageNearDupPairs(phashMedia(s, dir), maxDist = 3)
    },

    // Media dedup wired end-to-end over the interleaved contract:
    // perceptual-hash near-dup pairs -> connected components (the SAME
    // hybrid union-find the text LSH dedup runs) -> every doc's image
    // ref rewritten to its component's canonical (min doc id) image.
    // The oracle chains the pixel replay, banded pairs and a
    // transitive-closure CC.
    "q_media_dedup" -> { (s, dir) =>
      val pairs = Multimodal
        .imageNearDupPairs(phashMedia(s, dir), maxDist = 3)
        .select(
          regexp_extract(col("a_ref"), "([0-9]+)$", 1).cast(LongType)
            .as("src"),
          regexp_extract(col("b_ref"), "([0-9]+)$", 1).cast(LongType)
            .as("dst"))
      val comps = graft.operators.LshDedup.connectedComponents(pairs)
        .withColumnRenamed("ord", "doc_id")
      table(s, dir, "documents").select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("canon_id"),
          (coalesce(col("comp"), col("doc_id")) =!= col("doc_id"))
            .as("rewritten"))
    },

    // Executable exactness claim: aHash 4x16 band blocking is lossless
    // for Hamming <= 3 (pigeonhole), so evaluating the banded pairs
    // against the EXHAUSTIVE all-pairs truth must score P = R = F1 = 1
    // with fp = fn = 0. Both engines compute prediction, truth, the
    // full-outer confusion counts and the metrics independently.
    "q_dedup_eval" -> { (s, dir) =>
      val media = phashMedia(s, dir)
      // hash (and therefore PNG-decode) ONCE: the pinned table feeds
      // both the banded prediction and the exhaustive truth join
      val h = Pin(graft.operators.Multimodal.imageAHashes(media))
      val pred = graft.operators.Multimodal
        .nearDupPairsFromHashes(h, maxDist = 3)
        .select(col("a_ref"), col("b_ref"))
      val truth = h.alias("a").join(h.alias("b"),
          col("a.media_ref") < col("b.media_ref"))
        .filter(
          (bit_count(col("a.hash_hi").bitwiseXOR(col("b.hash_hi"))) +
            bit_count(col("a.hash_lo").bitwiseXOR(col("b.hash_lo"))))
            <= 3)
        .select(col("a.media_ref").as("a_ref"),
          col("b.media_ref").as("b_ref"))
      graft.operators.Curation.evalPairs(pred, truth,
        Seq("a_ref", "b_ref"))
    },

    "q_media_decode" -> { (s, dir) =>
      val pngUdf = udf((ord: Long, w: Int, h: Int) =>
        Multimodal.encodeGrayPng(w, h,
          (x, y) => ((x * 31 + y * 17 + ord) % 256).toInt))
      val media = table(s, dir, "documents").select(
        concat(lit("media://img/"), col("doc_id")).as("media_ref"),
        pngUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 9 + 8).cast("int"),
               (col("doc_id").cast(LongType) % 7 + 8).cast("int"))
          .as("bytes"))
      Multimodal.imageFeatures(media).select(
        col("media_ref"),
        col("dec_width").cast(LongType).as("width"),
        col("dec_height").cast(LongType).as("height"),
        aggregate(col("lum_hist"), lit(0L),
                  (acc, x) => acc + x * x).as("feat_sq"))
    },

    // REAL audio decode end-to-end: deterministic 8-bit PCM WAVs are
    // encoded from a sample formula, then Multimodal.audioFeatures
    // parses the RIFF container and computes exact-integer features —
    // the oracle predicts them straight from the formula, so any decode
    // defect (chunk walk, sample centering, sign logic) breaks the match.
    "q_audio_decode" -> { (s, dir) =>
      val wavUdf = udf((ord: Long, n: Int) =>
        Multimodal.encodePcmWav(8000, 1, 8,
          (0 until n).map(i => (((i * 37 + ord) % 256) - 128).toInt).toArray))
      val media = table(s, dir, "documents").select(
        concat(lit("media://wav/"), col("doc_id")).as("media_ref"),
        wavUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 200 + 300).cast("int"))
          .as("bytes"))
      Multimodal.audioFeatures(media).select(
        col("media_ref"),
        col("wav.sample_rate").cast(LongType).as("sample_rate"),
        col("wav.n_frames").as("n_frames"),
        col("wav.duration_ms").as("duration_ms"),
        col("wav.sum_sq").as("sum_sq"),
        col("wav.zero_crossings").as("zc"))
    },

    // Voice-activity detection over REAL PCM payloads: the sample
    // formula gates every third 80-sample stretch to silence, the
    // production RIFF walk frames channel 0 into exact-integer energies
    // and the gaps-and-islands windows segment the active runs. The
    // oracle predicts frames/segments straight from the formula.
    "q_audio_vad" -> { (s, dir) =>
      val wavUdf = udf((ord: Long, n: Int) =>
        Multimodal.encodePcmWav(8000, 1, 8,
          (0 until n).map { i =>
            if ((i / 80) % 3 == 0) 0
            else (((i * 37 + ord) % 256) - 128).toInt
          }.toArray))
      val media = table(s, dir, "documents").select(
        concat(lit("media://vad/"), col("doc_id")).as("media_ref"),
        wavUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 200 + 300).cast("int"))
          .as("bytes"))
      Multimodal.audioVad(media, frameLen = 40, meanSqThreshold = 500L)
    },

    // Scene-cut detection over REAL y4m payloads: constant-luma frames
    // jump by ±97 mod 256 every 3 frames; the decode's luma sums turn
    // back into exact per-frame means and the lag window finds every
    // scene boundary. Oracle predicts cuts from the luma formula.
    "q_video_scenes" -> { (s, dir) =>
      val y4mUdf = udf((ord: Long, w: Int, h: Int, n: Int) =>
        Multimodal.encodeY4m(w, h, fpsNum = 25, fpsDen = 1, nFrames = n,
          (f, x, y) => ((ord * 13 + (f / 3) * 97) % 256).toInt))
      val media = table(s, dir, "documents").select(
        concat(lit("media://scene/"), col("doc_id")).as("media_ref"),
        y4mUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 5 * 2 + 8).cast("int"),
               (col("doc_id").cast(LongType) % 3 * 2 + 6).cast("int"),
               (col("doc_id").cast(LongType) % 6 + 4).cast("int"))
          .as("bytes"))
      Multimodal.sceneCuts(media, everyN = 1, threshold = 20L)
    },

    // REAL compressed-audio decode: mono IMA-ADPCM (format 0x11, the one
    // codec with a fully public pure-integer spec). Payloads are encoded
    // from a 16-bit sample formula, decoded through the production RIFF
    // walk + nibble state machine; the oracle replays the SAME
    // encoder+decoder state recursion in SQL (the encoder tracks the
    // decoder's predictor, so one pass yields the decoded samples) —
    // any drift in step table, clamping or index adjustment breaks it.
    "q_audio_adpcm" -> { (s, dir) =>
      val wavUdf = udf((ord: Long, n: Int) =>
        Multimodal.encodeImaAdpcmWav(8000,
          (0 until n)
            .map(i => ((((i * 37 + ord) % 256) - 128) * 256).toInt)
            .toArray))
      val media = table(s, dir, "documents").select(
        concat(lit("media://adpcm/"), col("doc_id")).as("media_ref"),
        wavUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 150 + 100).cast("int"))
          .as("bytes"))
      Multimodal.audioFeatures(media).select(
        col("media_ref"),
        col("wav.bits").cast(LongType).as("bits"),
        col("wav.n_frames").as("n_frames"),
        col("wav.duration_ms").as("duration_ms"),
        col("wav.sum_sq").as("sum_sq"),
        col("wav.zero_crossings").as("zc"))
    },

    // REAL compressed telephony audio: G.711 mu-law (even docs) and
    // A-law (odd docs) payloads — every byte value 0..255 appears —
    // expanded through the production RIFF walk + ITU integer formulas.
    // The oracle replays the expansion per byte in SQL (shift/xor
    // arithmetic) including the strict-sign-change zero crossings.
    "q_audio_g711" -> { (s, dir) =>
      val g711Udf = udf((ord: Long, n: Int, mulaw: Boolean) =>
        Multimodal.encodeG711Wav(8000, mulaw,
          (0 until n).map(i => ((i * 7 + ord) % 256).toByte).toArray))
      val id = col("doc_id").cast(LongType)
      val media = table(s, dir, "documents").select(
        concat(lit("media://g711/"), col("doc_id")).as("media_ref"),
        (pmod(id, lit(2L)) === 0).as("is_ulaw"),
        g711Udf(id, (pmod(id, lit(150L)) + 100).cast("int"),
          pmod(id, lit(2L)) === 0).as("bytes"))
      Multimodal.audioFeatures(media).select(
        col("media_ref"), col("is_ulaw"),
        col("wav.n_frames").as("n_frames"),
        col("wav.duration_ms").as("duration_ms"),
        col("wav.sum_sq").as("sum_sq"),
        col("wav.zero_crossings").as("zc"))
    },

    // REAL video decode end-to-end: uncompressed YUV4MPEG2 payloads are
    // encoded from a luma formula, then Multimodal.videoFeatures walks
    // the container (header tags, FRAME markers, planar C420 frames),
    // samples every 2nd frame and sums its luma plane in exact integers.
    // The oracle replays the formula per sampled frame.
    "q_video_decode" -> { (s, dir) =>
      val y4mUdf = udf((ord: Long, w: Int, h: Int, n: Int) =>
        Multimodal.encodeY4m(w, h, fpsNum = 25, fpsDen = 1, nFrames = n,
          (f, x, y) => ((x * 31 + y * 17 + f * 7 + ord) % 256).toInt))
      val media = table(s, dir, "documents").select(
        concat(lit("media://y4m/"), col("doc_id")).as("media_ref"),
        y4mUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 5 * 2 + 8).cast("int"),
               (col("doc_id").cast(LongType) % 3 * 2 + 6).cast("int"),
               (col("doc_id").cast(LongType) % 4 + 3).cast("int"))
          .as("bytes"))
      Multimodal.videoFeatures(media, everyN = 2).select(
        col("media_ref"),
        col("y4m.width").cast(LongType).as("width"),
        col("y4m.height").cast(LongType).as("height"),
        col("y4m.n_frames").as("n_frames"),
        col("y4m.duration_ms").as("duration_ms"),
        aggregate(col("y4m.luma_sum"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        aggregate(col("y4m.frame_ms"), lit(0L), (a, x) => a + x)
          .as("ms_total"))
    },

    // REAL compressed-video decode: MJPEG-in-AVI. Frames are grayscale
    // JPEGs at quality 1.0 with CONSTANT per-frame luma — constant
    // frames are DC-only blocks under all-ones quantization tables, so
    // the javax.imageio encode+decode round-trip is bit-exact and the
    // oracle predicts decoded luma sums straight from the gray formula.
    // Any defect in the RIFF/AVI walk (header geometry, stream-table
    // match, chunk alignment, frame sampling) or the JPEG decode path
    // breaks the match.
    "q_video_mjpeg" -> { (s, dir) =>
      val aviUdf = udf((ord: Long, w: Int, h: Int, n: Int) =>
        Multimodal.encodeMjpegAvi(w, h, usPerFrame = 40000, nFrames = n,
          (f, _, _) => ((f * 41 + ord * 13) % 256).toInt))
      val media = table(s, dir, "documents").select(
        concat(lit("media://avi/"), col("doc_id")).as("media_ref"),
        aviUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 6 + 9).cast("int"),
               (col("doc_id").cast(LongType) % 5 + 7).cast("int"),
               (col("doc_id").cast(LongType) % 4 + 2).cast("int"))
          .as("bytes"))
      Multimodal.mjpegFeatures(media, everyN = 2).select(
        col("media_ref"),
        col("avi.width").cast(LongType).as("width"),
        col("avi.height").cast(LongType).as("height"),
        col("avi.n_frames").as("n_frames"),
        col("avi.duration_ms").as("duration_ms"),
        aggregate(col("avi.luma_sum"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        aggregate(col("avi.frame_ms"), lit(0L), (a, x) => a + x)
          .as("ms_total"))
    },

    // REAL compressed-animation decode: animated GIF89a. GIF's LZW is
    // lossless, so the oracle predicts decoded luma straight from the
    // palette formula; frame timing comes from each frame's GCE delay
    // read out of the decoder's metadata, not assumed. Any defect in
    // the encoder's LZW/bit-packing, the container fields, or the
    // multi-frame imageio drive breaks the match.
    "q_video_gif" -> { (s, dir) =>
      val gifUdf = udf((ord: Long, w: Int, h: Int, n: Int, d: Int) =>
        Multimodal.encodeGif(w, h, delayCs = d, nFrames = n,
          f => ((f * 41 + ord * 13) % 256).toInt))
      val media = table(s, dir, "documents").select(
        concat(lit("media://gif/"), col("doc_id")).as("media_ref"),
        gifUdf(col("doc_id").cast(LongType),
               (col("doc_id").cast(LongType) % 6 + 9).cast("int"),
               (col("doc_id").cast(LongType) % 5 + 7).cast("int"),
               (col("doc_id").cast(LongType) % 4 + 2).cast("int"),
               (col("doc_id").cast(LongType) % 3 + 4).cast("int"))
          .as("bytes"))
      Multimodal.gifFeatures(media, everyN = 2).select(
        col("media_ref"),
        col("gif.width").cast(LongType).as("width"),
        col("gif.height").cast(LongType).as("height"),
        col("gif.n_frames").as("n_frames"),
        col("gif.duration_ms").as("duration_ms"),
        aggregate(col("gif.luma_sum"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        aggregate(col("gif.frame_ms"), lit(0L), (a, x) => a + x)
          .as("ms_total"))
    },

    // Multimodal plumbing: media bytes as a binary column with typed
    // metadata -> byte-histogram features (real, decode-free) -> feature
    // norm. The binary path is what's exercised; the oracle recomputes
    // the histogram from the characters (payload is ASCII text bytes).
    "q_media_features" -> { (s, dir) =>
      val media = table(s, dir, "documents").select(
        concat(lit("media://img/"), col("doc_id")).as("media_ref"),
        lit("image/png").as("mime"),
        encode(col("text"), "UTF-8").as("bytes"),
        (length(col("text")) % 640).cast("int").as("width"),
        (length(col("text")) % 480 + 1).cast("int").as("height"),
        lit(null).cast(LongType).as("duration_ms"))
      Multimodal.byteFeatures(media, bins = 16)
        .select(col("media_ref"),
          aggregate(col("features"), lit(0L),
                    (acc, x) => acc + x * x).as("feat_sq"))
    }
  )

  /** StopwordsEn as a DuckDB list literal — must match Boilerplate. */
  /** SQL replay of the phashMedia pixel formula through cell sums to
    * the two aHash halves (shared by q_image_phash / q_image_neardup).
    * (A % 256 + 180) % 256 == (A + 180) % 256 for non-negative A, so
    * the perturbation composes into one modulus.
    */
  private val phashPxSql =
    """px AS MATERIALIZED (
         SELECT d.doc_id, t.range % 16 AS x, t.range // 16 AS y,
                ((t.range % 16) * 31 + (t.range // 16) * 17
                 + (CAST(d.doc_id AS BIGINT) // 2) * 7
                 + CASE WHEN d.doc_id % 2 = 1 AND t.range % 16 = 15
                         AND t.range // 16 = 15
                        THEN 180 ELSE 0 END) % 256 AS p
         FROM documents d, range(256) t)"""

  /** The 8×16 quantized DCT-II table as SQL VALUES — generated from
    * the SAME Multimodal.dctCosQ(16) ints the Spark UDF multiplies by,
    * so both engines share the exact integer table.
    */
  private val dct16Sql: String = {
    val t = graft.operators.Multimodal.dctCosQ(16)
    val rows = for (j <- 0 until 8; x <- 0 until 16)
      yield s"($j,$x,${t(j)(x)})"
    "dctt(j, xx, cc) AS (VALUES " + rows.mkString(",") + ")"
  }

  private val phashBaseSql =
    phashPxSql + """,
       c AS (
         SELECT doc_id, (y * 8 // 16) * 8 + (x * 8 // 16) AS cell,
                sum(p)::BIGINT AS cs, count(*)::BIGINT AS cn
         FROM px GROUP BY 1, 2),
       tot AS (SELECT doc_id, sum(p)::BIGINT AS ts FROM px GROUP BY 1),
       bits AS (
         SELECT c.doc_id, c.cell,
                CASE WHEN c.cs * 256 > t.ts * c.cn THEN 1 ELSE 0 END AS b
         FROM c JOIN tot t USING (doc_id)),
       hh AS MATERIALIZED (
         SELECT doc_id,
                sum(CASE WHEN cell >= 32
                         THEN b * (1::BIGINT << (cell - 32))
                         ELSE 0 END)::BIGINT AS hash_hi,
                sum(CASE WHEN cell < 32
                         THEN b * (1::BIGINT << cell)
                         ELSE 0 END)::BIGINT AS hash_lo
         FROM bits GROUP BY 1)"""

  private val stopListSql = graft.functions.Boilerplate.StopwordsEn
    .toSeq.sorted.map(w => s"'$w'").mkString("[", ",", "]")

  /** The A3 decayed frequent-items replay as DuckDB CTEs (ends with
    * `kept(domain, entries)` = surviving PData in insertion order):
    *
    *   pdocs/pp  paragraph lists per doc (the spanize derivation, same
    *             as the q_spanize_wc oracle)
    *   src→bands TextQueries.minhashBandsCte keyed ord*10000+p_id
    *   steps     one row per paragraph in (domain, ord, p_id) order
    *   st        recursive state machine: one step per paragraph, the
    *             PData table as LIST<STRUCT(key, bands, score, cnt)>;
    *             doc boundaries (p_id=1) apply the previous doc's purge
    *             (score < 0.5) and this doc's decay (*0.99); a paragraph
    *             increments every band-matched entry not already
    *             incremented for this doc, else inserts itself — incl.
    *             the reference quirk where a paragraph whose only hits
    *             were already incremented inserts a duplicate entry.
    *
    * Float parity: score ops are the same IEEE binary64 sequence the
    * Collector runs, so even unrounded doubles hash-match.
    */
  private def frequentReplayCte(b: Int): String =
    frequentBaseCte(b) + ",\n" + frequentMachineCte(b, "", "TRUE", None)

  /** Shared paragraph/minhash derivation (domain-split independent). */
  private def frequentBaseCte(b: Int): String =
    s"""pdocs AS MATERIALIZED (
         SELECT doc_id, CAST(doc_id AS BIGINT) AS ord, source AS domain,
                list_append(
                  list_filter(
                    list_transform(string_split(text, ' slow '),
                                   x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                    x -> length(x) >= 10),
                  'common footer paragraph for ' || source ||
                  ' shared across documents') AS paras
         FROM documents),
       pp AS MATERIALIZED (
         SELECT doc_id, ord, domain,
                CAST(generate_subscripts(paras, 1) AS BIGINT) AS p_id,
                unnest(paras) AS ptext
         FROM pdocs),
       src AS (SELECT ord * 10000 + p_id AS k, ptext AS text FROM pp),
       ${TextQueries.minhashBandsCte(b)},
       pmh AS MATERIALIZED (
         SELECT k, list(bhash ORDER BY band ASC) AS mh FROM bands GROUP BY k)"""

  /** One instance of the recursive state machine over the docs matched
    * by `pred` (on pp.ord), CTE names prefixed with `p` so two machines
    * can share one WITH RECURSIVE list. `bootCte`, when set, names a CTE
    * of (domain, entries) seeding each domain's initial PData state —
    * the J6 bootstrap (carried score/count, synthetic "1".."n" keys,
    * exactly Collector.bootstrap). Ends with `${p}kept`.
    */
  private def frequentMachineCte(b: Int, p: String, pred: String,
                                 bootCte: Option[String]): String = {
    val bandIdx = (1 to b).mkString("[", ",", "]")
    val entriesT =
      "STRUCT(key VARCHAR, bands BIGINT[], score DOUBLE, cnt BIGINT)[]"
    val (baseEntries, baseFrom) = bootCte match {
      case None =>
        (s"CAST([] AS $entriesT)",
         s"(SELECT DISTINCT domain FROM ${p}steps)")
      case Some(bc) =>
        (s"coalesce(bt.entries, CAST([] AS $entriesT))",
         s"(SELECT DISTINCT domain FROM ${p}steps) d LEFT JOIN $bc bt USING (domain)")
    }
    s"""${p}steps AS MATERIALIZED (
         SELECT pp.domain, pp.ord, pp.p_id,
                row_number() OVER (PARTITION BY pp.domain
                                   ORDER BY pp.ord, pp.p_id) AS sidx,
                pp.p_id = 1 AS isf,
                pp.doc_id || '_' || pp.p_id AS pkey,
                pmh.mh AS mh
         FROM pp JOIN pmh ON pmh.k = pp.ord * 10000 + pp.p_id
         WHERE $pred),
       ${p}st(domain, i, entries, inc) AS (
         SELECT domain, CAST(0 AS BIGINT),
                $baseEntries,
                CAST([] AS VARCHAR[])
         FROM $baseFrom
         UNION ALL
         SELECT domain, i, e2 AS entries,
                CASE WHEN len(newkeys) = 0 THEN list_append(i0, pkey)
                     ELSE list_concat(i0, newkeys) END AS inc
         FROM (
           SELECT q1.*,
                  CASE WHEN len(newkeys) = 0
                       THEN list_append(e1, struct_pack(key := pkey,
                              bands := mh, score := CAST(1.0 AS DOUBLE),
                              cnt := CAST(1 AS BIGINT)))
                       ELSE e1 END AS e2
           FROM (
             SELECT q0.*,
                    list_transform(
                      list_filter(e0, e -> (NOT list_contains(i0, e.key)) AND
                        len(list_filter($bandIdx,
                                        ix -> e.bands[ix] = mh[ix])) > 0),
                      e -> e.key) AS newkeys,
                    list_transform(e0, e ->
                      CASE WHEN (NOT list_contains(i0, e.key)) AND
                             len(list_filter($bandIdx,
                                             ix -> e.bands[ix] = mh[ix])) > 0
                           THEN struct_pack(key := e.key, bands := e.bands,
                                  score := e.score + CAST(1.0 AS DOUBLE),
                                  cnt := e.cnt + 1)
                           ELSE e END) AS e1
             FROM (
               SELECT ${p}st.domain, ${p}st.i + 1 AS i, s.pkey, s.mh,
                      CASE WHEN s.isf
                           THEN list_transform(
                                  list_filter(${p}st.entries,
                                    e -> e.score >= CAST(0.5 AS DOUBLE)),
                                  e -> struct_pack(key := e.key,
                                         bands := e.bands,
                                         score := e.score * CAST(0.99 AS DOUBLE),
                                         cnt := e.cnt))
                           ELSE ${p}st.entries END AS e0,
                      CASE WHEN s.isf THEN CAST([] AS VARCHAR[])
                           ELSE ${p}st.inc END AS i0
               FROM ${p}st JOIN ${p}steps s ON s.domain = ${p}st.domain
                                   AND s.sidx = ${p}st.i + 1) q0) q1) q2),
       ${p}fin AS (
         SELECT domain, entries FROM (
           SELECT domain, entries,
                  row_number() OVER (PARTITION BY domain
                                     ORDER BY i DESC) AS rw
           FROM ${p}st) WHERE rw = 1),
       ${p}kept AS (
         SELECT domain,
                list_filter(
                  list_filter(entries, e -> e.score >= CAST(0.5 AS DOUBLE)),
                  e -> e.cnt >= 2) AS entries
         FROM ${p}fin)"""
  }

  val oracles: Map[String, String] = Map(
    "q_frequent_collect" -> {
      val b = graft.functions.MinHashF.optimalBands(0.95)
      s"""WITH RECURSIVE ${frequentReplayCte(b)}
          SELECT domain,
                 CAST(generate_subscripts(entries, 1) AS BIGINT) AS pdata_id,
                 unnest(entries).score AS score,
                 unnest(entries).cnt AS count
          FROM kept"""
    },
    "q_corpus_pipeline" -> {
      val b = graft.functions.MinHashF.optimalBands(0.9)
      s"""WITH RECURSIVE ${frequentBaseCte(b)},
          docsL AS MATERIALIZED (
            SELECT doc_id, ord, domain,
                   array_to_string(paras, chr(10)) AS text
            FROM pdocs
            WHERE len(string_split_regex(
                    trim(array_to_string(paras, chr(10))), '\\s+')) >= 2),
          srcL AS (SELECT ord AS k, text FROM docsL),
          ${TextQueries.minhashBandsCte(b, "L", "srcL")},
          ${TextQueries.lshReplayCte("L", "docsL", "Lbands")},
          ${frequentMachineCte(b, "f",
            "pp.ord IN (SELECT ord FROM Lkept)", None)},
          fb AS (
            SELECT k2.domain, k2.pdata_id,
                   CAST(generate_subscripts(k2.bands, 1) - 1 AS BIGINT)
                     AS band,
                   unnest(k2.bands) AS bhash
            FROM (SELECT domain, generate_subscripts(entries, 1) AS pdata_id,
                         unnest(entries).bands AS bands
                  FROM fkept) k2),
          pband AS (
            SELECT pp.domain, pp.ord, pp.p_id, b.band, b.bhash
            FROM pp JOIN bands b ON b.k = pp.ord * 10000 + pp.p_id
            WHERE pp.ord IN (SELECT ord FROM Lkept)),
          nh AS (
            SELECT p.domain, p.ord, p.p_id, min(f.pdata_id) AS freq_id
            FROM pband p JOIN fb f
              ON f.domain = p.domain AND f.band = p.band AND f.bhash = p.bhash
            GROUP BY 1, 2, 3),
          rk AS (
            SELECT domain, ord, freq_id,
                   row_number() OVER (PARTITION BY domain, freq_id
                                      ORDER BY ord ASC) AS rnk
            FROM (SELECT DISTINCT domain, ord, freq_id FROM nh)),
          dropp AS (
            SELECT DISTINCT nh.domain, nh.ord, nh.p_id
            FROM nh JOIN rk ON rk.domain = nh.domain AND rk.ord = nh.ord
                           AND rk.freq_id = nh.freq_id
            WHERE rk.rnk >= 2),
          dcount AS (
            SELECT domain, ord, count(*) AS ndrop FROM dropp GROUP BY 1, 2),
          fin AS (
            SELECT d.domain, d.doc_id,
                   len(d.paras) - coalesce(c.ndrop, 0) AS np_left
            FROM pdocs d
            JOIN Lkept k ON k.ord = d.ord
            LEFT JOIN dcount c ON c.domain = d.domain AND c.ord = d.ord)
          SELECT doc_id,
                 row_number() OVER (ORDER BY domain ASC, doc_id ASC) - 1
                   AS ord
          FROM fin WHERE np_left > 0"""
    },
    "q_emtsv_tokenize" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         w AS (
           SELECT doc_id, generate_subscripts(t, 1) AS i,
                  unnest(t) AS form
           FROM toks)
         SELECT doc_id, CAST(1 AS BIGINT) AS p_id, CAST(1 AS BIGINT) AS s_id,
                CAST(i AS BIGINT) AS t_id, form, lower(form) AS lemma,
                CASE WHEN regexp_full_match(form, '[0-9]+')
                       THEN '[/Num][Nom]'
                     WHEN regexp_full_match(form, '[A-Z].*')
                       THEN '[/N][Nom]'
                     ELSE '[/V][Prs.NDef.3Sg]' END AS xpostag
         FROM w""",
    "q_frequent_bootstrap" -> {
      val b = graft.functions.MinHashF.optimalBands(0.95)
      s"""WITH RECURSIVE ${frequentBaseCte(b)},
          ${frequentMachineCte(b, "a", "pp.ord % 2 = 0", None)},
          boot AS (
            SELECT domain,
                   list(struct_pack(key := CAST(i AS VARCHAR),
                          bands := bands, score := score, cnt := cnt)
                        ORDER BY i) AS entries
            FROM (SELECT domain,
                         generate_subscripts(entries, 1) AS i,
                         unnest(entries).bands AS bands,
                         unnest(entries).score AS score,
                         unnest(entries).cnt AS cnt
                  FROM akept)
            GROUP BY domain),
          ${frequentMachineCte(b, "n", "pp.ord % 2 = 1", Some("boot"))}
          SELECT domain,
                 CAST(generate_subscripts(entries, 1) AS BIGINT) AS pdata_id,
                 unnest(entries).score AS score,
                 unnest(entries).cnt AS count
          FROM nkept"""
    },
    "q_frequent_filter_epoch2" -> {
      val b = graft.functions.MinHashF.optimalBands(0.95)
      s"""WITH RECURSIVE ${frequentBaseCte(b)},
          ${frequentMachineCte(b, "a", "pp.ord % 2 = 0", None)},
          ${frequentMachineCte(b, "n", "pp.ord % 2 = 1", None)},
          ofb AS (
            SELECT k2.domain,
                   CAST(generate_subscripts(k2.bands, 1) - 1 AS BIGINT) AS band,
                   unnest(k2.bands) AS bhash
            FROM (SELECT domain, unnest(entries).bands AS bands
                  FROM akept) k2),
          fb AS (
            SELECT k2.domain, k2.pdata_id,
                   CAST(generate_subscripts(k2.bands, 1) - 1 AS BIGINT) AS band,
                   unnest(k2.bands) AS bhash
            FROM (SELECT domain, generate_subscripts(entries, 1) AS pdata_id,
                         unnest(entries).bands AS bands
                  FROM nkept) k2),
          pband AS (
            SELECT pp.domain, pp.ord, pp.p_id, b.band, b.bhash
            FROM pp JOIN bands b ON b.k = pp.ord * 10000 + pp.p_id
            WHERE pp.ord % 2 = 1),
          oldhit AS (
            SELECT DISTINCT p.domain, p.ord, p.p_id
            FROM pband p JOIN ofb o
              ON o.domain = p.domain AND o.band = p.band AND o.bhash = p.bhash),
          nh AS (
            SELECT p.domain, p.ord, p.p_id, min(f.pdata_id) AS freq_id
            FROM pband p JOIN fb f
              ON f.domain = p.domain AND f.band = p.band AND f.bhash = p.bhash
            WHERE NOT EXISTS (SELECT 1 FROM oldhit h
                              WHERE h.domain = p.domain AND h.ord = p.ord
                                AND h.p_id = p.p_id)
            GROUP BY 1, 2, 3),
          rk AS (
            SELECT domain, ord, freq_id,
                   row_number() OVER (PARTITION BY domain, freq_id
                                      ORDER BY ord ASC) AS rnk
            FROM (SELECT DISTINCT domain, ord, freq_id FROM nh)),
          dropp AS (
            SELECT domain, ord, p_id FROM (
              SELECT DISTINCT nh.domain, nh.ord, nh.p_id
              FROM nh JOIN rk ON rk.domain = nh.domain AND rk.ord = nh.ord
                             AND rk.freq_id = nh.freq_id
              WHERE rk.rnk >= 2
              UNION
              SELECT domain, ord, p_id FROM oldhit)),
          dcount AS (
            SELECT domain, ord, count(*) AS ndrop FROM dropp GROUP BY 1, 2),
          surv AS (
            SELECT d.domain, d.ord,
                   len(d.paras) - coalesce(c.ndrop, 0) AS np_left
            FROM pdocs d LEFT JOIN dcount c
              ON c.domain = d.domain AND c.ord = d.ord
            WHERE d.ord % 2 = 1)
          SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(np_left + 1) AS BIGINT) AS n_spans
          FROM surv WHERE np_left > 0 GROUP BY domain"""
    },
    "q_frequent_filter" -> {
      val b = graft.functions.MinHashF.optimalBands(0.95)
      s"""WITH RECURSIVE ${frequentReplayCte(b)},
          fb AS (
            SELECT k2.domain, k2.pdata_id,
                   CAST(generate_subscripts(k2.bands, 1) - 1 AS BIGINT) AS band,
                   unnest(k2.bands) AS bhash
            FROM (SELECT domain, generate_subscripts(entries, 1) AS pdata_id,
                         unnest(entries).bands AS bands
                  FROM kept) k2),
          pband AS (
            SELECT pp.domain, pp.ord, pp.p_id, b.band, b.bhash
            FROM pp JOIN bands b ON b.k = pp.ord * 10000 + pp.p_id),
          nh AS (
            SELECT p.domain, p.ord, p.p_id, min(f.pdata_id) AS freq_id
            FROM pband p JOIN fb f
              ON f.domain = p.domain AND f.band = p.band AND f.bhash = p.bhash
            GROUP BY 1, 2, 3),
          rk AS (
            SELECT domain, ord, freq_id,
                   row_number() OVER (PARTITION BY domain, freq_id
                                      ORDER BY ord ASC) AS rnk
            FROM (SELECT DISTINCT domain, ord, freq_id FROM nh)),
          dropp AS (
            SELECT DISTINCT nh.domain, nh.ord, nh.p_id
            FROM nh JOIN rk ON rk.domain = nh.domain AND rk.ord = nh.ord
                           AND rk.freq_id = nh.freq_id
            WHERE rk.rnk >= 2),
          dcount AS (
            SELECT domain, ord, count(*) AS ndrop FROM dropp GROUP BY 1, 2),
          surv AS (
            SELECT d.domain, d.ord,
                   len(d.paras) - coalesce(c.ndrop, 0) AS np_left
            FROM pdocs d LEFT JOIN dcount c
              ON c.domain = d.domain AND c.ord = d.ord)
          SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(np_left + 1) AS BIGINT) AS n_spans
          FROM surv WHERE np_left > 0 GROUP BY domain"""
    },
    "q_media_dedup" ->
      s"""WITH RECURSIVE $phashBaseSql,
         bands AS (
           SELECT doc_id, hash_hi, hash_lo, 0 AS band,
                  hash_lo % 65536 AS bh FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 1, hash_lo // 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 3, hash_hi // 65536 FROM hh),
         pr AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh
            AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                 + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
         sym AS MATERIALIZED (
           SELECT ai AS x, bi AS y FROM pr
           UNION SELECT bi, ai FROM pr),
         reach(a, b) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r.a, s.y FROM reach r JOIN sym s ON s.x = r.b),
         cc AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a)
         SELECT doc_id, comp AS canon_id,
                comp <> doc_id AS rewritten
         FROM cc""",

    "q_dedup_eval" ->
      s"""WITH $phashBaseSql,
         bands AS (
           SELECT doc_id, hash_hi, hash_lo, 0 AS band,
                  hash_lo % 65536 AS bh FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 1, hash_lo // 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 3, hash_hi // 65536 FROM hh),
         pred AS (
           SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh
            AND 'media://img/' || a.doc_id < 'media://img/' || b.doc_id
           WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                 + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
         truth AS (
           SELECT a.doc_id AS ai, b.doc_id AS bi
           FROM hh a JOIN hh b
             ON 'media://img/' || a.doc_id < 'media://img/' || b.doc_id
           WHERE bit_count(xor(a.hash_hi, b.hash_hi))
                 + bit_count(xor(a.hash_lo, b.hash_lo)) <= 3),
         m AS (
           SELECT
             sum(CASE WHEN p.ai IS NOT NULL AND t.ai IS NOT NULL
                      THEN 1 ELSE 0 END)::BIGINT AS tp,
             sum(CASE WHEN p.ai IS NOT NULL AND t.ai IS NULL
                      THEN 1 ELSE 0 END)::BIGINT AS fp,
             sum(CASE WHEN p.ai IS NULL AND t.ai IS NOT NULL
                      THEN 1 ELSE 0 END)::BIGINT AS fn
           FROM pred p FULL OUTER JOIN truth t
             ON p.ai = t.ai AND p.bi = t.bi)
         SELECT tp, fp, fn,
                round(tp * 1.0 / (tp + fp), 4) AS precision,
                round(tp * 1.0 / (tp + fn), 4) AS recall,
                round(tp * 2.0 / (tp * 2 + fp + fn), 4) AS f1
         FROM m""",

    "q_image_phash" ->
      s"""WITH $phashBaseSql
         SELECT 'media://img/' || doc_id AS media_ref,
                16::BIGINT AS width, 16::BIGINT AS height,
                hash_hi, hash_lo
         FROM hh""",

    "q_phash_dct" ->
      s"""WITH $phashPxSql,
         $dct16Sql,
         drow AS (
           SELECT doc_id, y, t.j AS u, sum(p * t.cc)::BIGINT AS rv
           FROM px JOIN dctt t ON t.xx = px.x GROUP BY 1, 2, 3),
         dcoef AS MATERIALIZED (
           SELECT doc_id, r.u, t.j AS v, sum(rv * t.cc)::BIGINT AS cv
           FROM drow r JOIN dctt t ON t.xx = r.y GROUP BY 1, 2, 3),
         dmed AS (
           SELECT doc_id, (list_sort(list(cv)))[32] AS m
           FROM dcoef WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
         dbits AS (
           SELECT c.doc_id, u * 8 + v AS cell,
                  CASE WHEN cv > m THEN 1 ELSE 0 END AS b
           FROM dcoef c JOIN dmed USING (doc_id)
           WHERE NOT (u = 0 AND v = 0))
         SELECT 'media://img/' || doc_id AS media_ref,
                sum(CASE WHEN cell >= 32
                         THEN b * (1::BIGINT << (cell - 32))
                         ELSE 0 END)::BIGINT AS hash_hi,
                sum(CASE WHEN cell < 32 THEN b * (1::BIGINT << cell)
                         ELSE 0 END)::BIGINT AS hash_lo
         FROM dbits GROUP BY 1""",

    "q_image_neardup" ->
      s"""WITH $phashBaseSql,
         bands AS (
           SELECT doc_id, hash_hi, hash_lo, 0 AS band,
                  hash_lo % 65536 AS bh FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 1, hash_lo // 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM hh
           UNION ALL
           SELECT doc_id, hash_hi, hash_lo, 3, hash_hi // 65536 FROM hh),
         pr AS (
           SELECT DISTINCT a.doc_id AS ai, b.doc_id AS bi,
                  (bit_count(xor(a.hash_hi, b.hash_hi))
                   + bit_count(xor(a.hash_lo, b.hash_lo)))::BIGINT
                    AS dist
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh
            AND 'media://img/' || a.doc_id < 'media://img/' || b.doc_id)
         SELECT 'media://img/' || ai AS a_ref,
                'media://img/' || bi AS b_ref, dist
         FROM pr WHERE dist <= 3""",

    "q_media_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord FROM documents),
         dim AS (
           SELECT doc_id, ord,
                  ord % 9 + 8 AS w, ord % 7 + 8 AS h
           FROM d),
         px1 AS (
           SELECT doc_id, ord, h, unnest(range(w)) AS x FROM dim),
         px AS (
           SELECT doc_id, (((x * 31 + y * 17 + ord) % 256) // 16) AS bin
           FROM (SELECT doc_id, ord, x, unnest(range(h)) AS y FROM px1)),
         g AS (SELECT doc_id, bin, count(*) AS n FROM px GROUP BY 1, 2),
         f AS (SELECT doc_id, sum(n * n) AS fsq FROM g GROUP BY 1)
         SELECT 'media://img/' || dim.doc_id AS media_ref,
                CAST(dim.w AS BIGINT) AS width,
                CAST(dim.h AS BIGINT) AS height,
                CAST(f.fsq AS BIGINT) AS feat_sq
         FROM dim JOIN f ON f.doc_id = dim.doc_id""",
    "q_audio_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord,
                  CAST(doc_id AS BIGINT) % 200 + 300 AS n
           FROM documents),
         s AS (SELECT doc_id, ord, n, unnest(range(n)) AS i FROM d),
         v AS (SELECT doc_id, n, i, (i * 37 + ord) % 256 - 128 AS v FROM s),
         nz AS (SELECT doc_id, i, sign(v) AS sg FROM v WHERE v <> 0),
         zc AS (
           SELECT doc_id,
                  sum(CASE WHEN sg <> prev_sg THEN 1 ELSE 0 END) AS zc
           FROM (SELECT doc_id, sg,
                        lag(sg) OVER (PARTITION BY doc_id ORDER BY i)
                          AS prev_sg
                 FROM nz)
           WHERE prev_sg IS NOT NULL
           GROUP BY 1),
         ss AS (SELECT doc_id, CAST(sum(v * v) AS BIGINT) AS sum_sq
                FROM v GROUP BY 1)
         SELECT 'media://wav/' || d.doc_id AS media_ref,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(d.n AS BIGINT) AS n_frames,
                CAST(d.n * 1000 // 8000 AS BIGINT) AS duration_ms,
                ss.sum_sq,
                CAST(coalesce(zc.zc, 0) AS BIGINT) AS zc
         FROM d
         JOIN ss ON ss.doc_id = d.doc_id
         LEFT JOIN zc ON zc.doc_id = d.doc_id""",

    "q_audio_vad" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord,
                  CAST(doc_id AS BIGINT) % 200 + 300 AS n
           FROM documents),
         s AS (SELECT doc_id, ord, unnest(range(n)) AS i FROM d),
         v AS (
           SELECT doc_id, i,
                  CASE WHEN (i // 80) % 3 = 0 THEN 0
                       ELSE (i * 37 + ord) % 256 - 128 END AS v
           FROM s),
         fr AS (
           SELECT doc_id, i // 40 AS frame,
                  count(*)::BIGINT AS fn,
                  CAST(sum(v * v) AS BIGINT) AS e
           FROM v GROUP BY 1, 2),
         a AS (SELECT doc_id, frame, e > 500 * fn AS active FROM fr),
         isl AS (
           SELECT doc_id,
                  frame - row_number() OVER (PARTITION BY doc_id
                                             ORDER BY frame) AS grp
           FROM a WHERE active),
         seg AS (
           SELECT doc_id, count(*)::BIGINT AS len
           FROM isl GROUP BY doc_id, grp),
         sa AS (
           SELECT doc_id, count(*)::BIGINT AS n_segments,
                  CAST(max(len) AS BIGINT) AS longest
           FROM seg GROUP BY 1),
         fa AS (
           SELECT doc_id, count(*)::BIGINT AS n_frames,
                  CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_active,
                  min(CASE WHEN active THEN frame END) AS fst
           FROM a GROUP BY 1)
         SELECT 'media://vad/' || fa.doc_id AS media_ref,
                fa.n_frames, fa.n_active,
                CAST(coalesce(sa.n_segments, 0) AS BIGINT) AS n_segments,
                CAST(coalesce(sa.longest, 0) AS BIGINT) AS longest,
                CAST(coalesce(fa.fst, -1) AS BIGINT) AS first_active
         FROM fa LEFT JOIN sa ON sa.doc_id = fa.doc_id""",
    "q_video_scenes" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord,
                  CAST(doc_id AS BIGINT) % 6 + 4 AS nf
           FROM documents),
         f AS (SELECT doc_id, ord, unnest(range(nf)) AS fi FROM d),
         m AS (
           SELECT doc_id, fi,
                  (ord * 13 + (fi // 3) * 97) % 256 AS mean
           FROM f),
         j AS (
           SELECT doc_id, fi,
                  abs(mean - lag(mean) OVER (PARTITION BY doc_id
                                             ORDER BY fi)) AS jump
           FROM m)
         SELECT 'media://scene/' || doc_id AS media_ref,
                count(*)::BIGINT AS n_sampled,
                CAST(sum(CASE WHEN jump > 20 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cuts,
                coalesce(list(fi ORDER BY fi) FILTER (WHERE jump > 20),
                         CAST([] AS BIGINT[])) AS cut_idx,
                CAST(coalesce(max(jump), 0) AS BIGINT) AS max_jump
         FROM j GROUP BY 1""",

    // G.711 replay: the ITU expansion formulas as pure shift/xor
    // arithmetic per byte; strict-sign-change zero crossings via lag
    // over the nonzero-sign stream.
    "q_audio_g711" -> {
      def ulaw(b: String) = {
        val u = s"(255 - ($b))"
        val t = s"((($u % 16) * 8 + 132) << (($u // 16) % 8))"
        s"(CASE WHEN $u >= 128 THEN 132 - $t ELSE $t - 132 END)"
      }
      def alaw(b: String) = {
        val a = s"xor(($b), 85)"
        val t = s"(CASE WHEN ($a // 16) % 8 = 0 THEN ($a % 16) * 16 + 8" +
          s" WHEN ($a // 16) % 8 = 1 THEN ($a % 16) * 16 + 264" +
          s" ELSE (($a % 16) * 16 + 264) << ((($a // 16) % 8) - 1) END)"
        s"(CASE WHEN $a >= 128 THEN $t ELSE -$t END)"
      }
      s"""WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord,
                  CAST(doc_id AS BIGINT) % 150 + 100 AS n
           FROM documents),
         smp AS (
           SELECT doc_id, ord, n, i,
                  CASE WHEN ord % 2 = 0 THEN ${ulaw("(i*7+ord) % 256")}
                       ELSE ${alaw("(i*7+ord) % 256")} END AS s
           FROM d, unnest(range(n)) AS t(i)),
         nz AS (
           SELECT doc_id, i, CASE WHEN s > 0 THEN 1 ELSE -1 END AS sg
           FROM smp WHERE s <> 0),
         nz2 AS (
           SELECT doc_id, sg,
                  lag(sg) OVER (PARTITION BY doc_id ORDER BY i) AS psg
           FROM nz),
         zc AS (
           SELECT doc_id,
                  sum(CASE WHEN psg IS NOT NULL AND sg <> psg
                           THEN 1 ELSE 0 END)::BIGINT AS zc
           FROM nz2 GROUP BY 1),
         agg AS (
           SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS sum_sq
           FROM smp GROUP BY 1)
         SELECT 'media://g711/' || d.doc_id AS media_ref,
                ord % 2 = 0 AS is_ulaw,
                CAST(n AS BIGINT) AS n_frames,
                CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
                agg.sum_sq,
                CAST(coalesce(zc.zc, 0) AS BIGINT) AS zc
         FROM d JOIN agg ON agg.doc_id = d.doc_id
         LEFT JOIN zc ON zc.doc_id = d.doc_id"""
    },

    // IMA-ADPCM replay: one recursion step per sample per doc (all docs
    // advance in parallel). The encoder tracks the decoder's predictor
    // state, so a single pass over the INPUT samples yields the DECODED
    // samples: nibble selection by residual thresholds, reconstruction
    // diff from the nibble bits (step/8 + gated step, step/2, step/4),
    // clamp to int16, index adjust clamped to [0,88].
    "q_audio_adpcm" -> {
      val steps = graft.operators.Multimodal.ImaSteps
        .mkString("[", ",", "]")
      s"""WITH RECURSIVE d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord,
                  CAST(doc_id AS BIGINT) % 150 + 100 AS n
           FROM documents),
         st(doc_id, ord, n, i, pred, idx, sum_sq, zc, prev_sign) AS (
           SELECT doc_id, ord, n, CAST(0 AS BIGINT),
                  (ord % 256 - 128) * 256, 0,
                  CAST((ord % 256 - 128) * 256 AS BIGINT)
                    * ((ord % 256 - 128) * 256),
                  CAST(0 AS BIGINT),
                  CASE WHEN (ord % 256 - 128) > 0 THEN 1
                       WHEN (ord % 256 - 128) < 0 THEN -1 ELSE 0 END
           FROM d
           UNION ALL
           SELECT doc_id, ord, n, i, pred2, idx2,
                  sum_sq + CAST(pred2 AS BIGINT) * pred2,
                  zc + CASE WHEN pred2 <> 0 AND prev_sign <> 0
                             AND CASE WHEN pred2 > 0 THEN 1 ELSE -1 END
                                 <> prev_sign
                            THEN 1 ELSE 0 END,
                  CASE WHEN pred2 > 0 THEN 1 WHEN pred2 < 0 THEN -1
                       ELSE prev_sign END
           FROM (
             SELECT qd.*,
                    greatest(-32768, least(32767,
                      CASE WHEN sgn = 1 THEN pred - diffq
                           ELSE pred + diffq END)) AS pred2,
                    greatest(0, least(88, idx +
                      CASE WHEN delta < 4 THEN -1
                           ELSE (delta - 3) * 2 END)) AS idx2
             FROM (
               SELECT qc.*, d4 * 4 + d2 * 2 + d1 AS delta,
                      (stp // 8) + d4 * stp + d2 * (stp // 2)
                        + d1 * (stp // 4) AS diffq
               FROM (
                 SELECT qb.*,
                        CASE WHEN r2 >= stp // 4 THEN 1 ELSE 0 END AS d1
                 FROM (
                   SELECT qa.*,
                          CASE WHEN r1 >= stp // 2 THEN 1 ELSE 0 END AS d2,
                          r1 - CASE WHEN r1 >= stp // 2
                                    THEN stp // 2 ELSE 0 END AS r2
                   FROM (
                     SELECT q0.*,
                            CASE WHEN adiff >= stp THEN 1 ELSE 0 END AS d4,
                            adiff - CASE WHEN adiff >= stp
                                         THEN stp ELSE 0 END AS r1
                     FROM (
                       SELECT st.doc_id, st.ord, st.n, st.i + 1 AS i,
                              st.pred, st.idx, st.sum_sq, st.zc,
                              st.prev_sign,
                              CASE WHEN v < st.pred THEN 1 ELSE 0 END AS sgn,
                              abs(v - st.pred) AS adiff,
                              ($steps)[st.idx + 1] AS stp
                       FROM (SELECT *,
                               ((i + 1) * 37 + ord) % 256 * 256
                                 - 32768 AS v
                             FROM st WHERE i + 1 < n) st) q0) qa) qb) qc) qd)),
         fin AS (
           SELECT doc_id, n, sum_sq, zc,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY i DESC) AS rw
           FROM st)
         SELECT 'media://adpcm/' || doc_id AS media_ref,
                CAST(4 AS BIGINT) AS bits,
                CAST(n AS BIGINT) AS n_frames,
                CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
                sum_sq, zc
         FROM fin WHERE rw = 1"""
    },
    "q_video_decode" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord FROM documents),
         g AS (
           SELECT doc_id, ord, ord % 5 * 2 + 8 AS w,
                  ord % 3 * 2 + 6 AS h, ord % 4 + 3 AS n
           FROM d),
         f AS (SELECT doc_id, ord, w, h,
                      unnest(range(0, n, 2)) AS fr
               FROM g),
         px AS (SELECT doc_id, ord, fr, h, unnest(range(w)) AS x FROM f),
         pxy AS (SELECT doc_id, ord, fr, x, unnest(range(h)) AS y FROM px),
         ls AS (
           SELECT doc_id, fr,
                  sum((x * 31 + y * 17 + fr * 7 + ord) % 256) AS lsum
           FROM pxy GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, sum(lsum) AS luma_total,
                  sum(fr) * 40 AS ms_total
           FROM ls GROUP BY 1)
         SELECT 'media://y4m/' || g.doc_id AS media_ref,
                CAST(g.w AS BIGINT) AS width,
                CAST(g.h AS BIGINT) AS height,
                CAST(g.n AS BIGINT) AS n_frames,
                CAST(g.n * 40 AS BIGINT) AS duration_ms,
                CAST(agg.luma_total AS BIGINT) AS luma_total,
                CAST(agg.ms_total AS BIGINT) AS ms_total
         FROM g JOIN agg ON agg.doc_id = g.doc_id""",

    // MJPEG AVI: constant-gray frames round-trip exactly (see the query
    // comment), so decoded luma per sampled frame = w*h*gray(f); frames
    // sampled every 2nd, frame_ms = f * 40000us / 1000.
    "q_video_mjpeg" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord FROM documents),
         g AS (
           SELECT doc_id, ord, ord % 6 + 9 AS w,
                  ord % 5 + 7 AS h, ord % 4 + 2 AS n
           FROM d),
         f AS (SELECT doc_id, ord, w, h,
                      unnest(range(0, n, 2)) AS fr
               FROM g),
         agg AS (
           SELECT doc_id,
                  sum(w * h * ((fr * 41 + ord * 13) % 256)) AS luma_total,
                  sum(fr) * 40 AS ms_total
           FROM f GROUP BY 1)
         SELECT 'media://avi/' || g.doc_id AS media_ref,
                CAST(g.w AS BIGINT) AS width,
                CAST(g.h AS BIGINT) AS height,
                CAST(g.n AS BIGINT) AS n_frames,
                CAST(g.n * 40 AS BIGINT) AS duration_ms,
                CAST(agg.luma_total AS BIGINT) AS luma_total,
                CAST(agg.ms_total AS BIGINT) AS ms_total
         FROM g JOIN agg ON agg.doc_id = g.doc_id""",

    "q_video_gif" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) AS ord FROM documents),
         g AS (
           SELECT doc_id, ord, ord % 6 + 9 AS w, ord % 5 + 7 AS h,
                  ord % 4 + 2 AS n, (ord % 3 + 4) * 10 AS delay_ms
           FROM d),
         f AS (SELECT doc_id, ord, w, h, delay_ms,
                      unnest(range(0, n, 2)) AS fr
               FROM g),
         agg AS (
           SELECT doc_id,
                  sum(w * h * ((fr * 41 + ord * 13) % 256)) AS luma_total,
                  sum(fr * delay_ms) AS ms_total
           FROM f GROUP BY 1)
         SELECT 'media://gif/' || g.doc_id AS media_ref,
                CAST(g.w AS BIGINT) AS width,
                CAST(g.h AS BIGINT) AS height,
                CAST(g.n AS BIGINT) AS n_frames,
                CAST(g.n * g.delay_ms AS BIGINT) AS duration_ms,
                CAST(agg.luma_total AS BIGINT) AS luma_total,
                CAST(agg.ms_total AS BIGINT) AS ms_total
         FROM g JOIN agg ON agg.doc_id = g.doc_id""",

    "q_media_features" ->
      """WITH c AS (
           SELECT doc_id,
                  unnest(list_transform(string_split(text, ''),
                                        x -> unicode(x) % 16)) AS bin
           FROM documents),
         g AS (SELECT doc_id, bin, count(*) AS n FROM c GROUP BY 1, 2)
         SELECT 'media://img/' || d.doc_id AS media_ref,
                CAST(coalesce(sum(n * n), 0) AS BIGINT) AS feat_sq
         FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
         GROUP BY 1""",
    // The full justext revise_paragraph_classification as SQL windows:
    // heading promotion (p2), short snapshot phase (p3), the neargood
    // in-place loop collapsed to lag/lead (p4), more-good-headings (p5).
    "q_tsv_parse" ->
      s"""WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+')[1:5] AS words
            FROM documents)
          SELECT doc_id,
                 CAST(1 AS BIGINT) AS n_pars,
                 CAST(1 AS BIGINT) AS n_sents,
                 CAST(len(words) AS BIGINT) AS n_tokens,
                 '# text = ' || array_to_string(words, ' ') AS sent_text
          FROM w""",

    "q_conll_topn" ->
      s"""WITH w AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')[1:5]) AS v
            FROM documents)
          SELECT v, CAST(count(*) AS BIGINT) AS n
          FROM w GROUP BY 1
          ORDER BY n DESC, v ASC LIMIT 50""",

    "q_tsv_fix" ->
      s"""WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+')[1:5] AS words
            FROM documents)
          SELECT doc_id,
                 CAST(len(words) AS BIGINT) AS n_fixed,
                 words[1] || '|' ||
                   CASE WHEN len(words) = 1 THEN '"\\n\\n"' ELSE '" "' END ||
                   '|[]|' || words[1] || '|[/N][Nom]' AS first_fields,
                 '"\\n\\n"' AS last_ws
          FROM w""",

    "q_tsv_bert" ->
      s"""WITH w AS (
            SELECT doc_id,
                   string_split_regex(trim(text), '\\s+')[1:5] AS words
            FROM documents)
          SELECT doc_id, CAST(0 AS BIGINT) AS line_idx,
                 lower(array_to_string(words, ' ')) AS line
          FROM w
          UNION ALL
          SELECT doc_id, CAST(1 AS BIGINT), '' FROM w""",

    "q_xpostag_clean" ->
      s"""WITH t AS (
            SELECT doc_id,
                   (['[/N][Acc][]','[1][Sg]','[2][S][g]','[3][Pl]',
                     '[1][P][l]','[N][Nom]','[[[Adj]','[V][[Prs]'])
                     [(ascii(right(CAST(doc_id AS VARCHAR), 1)) % 8) + 1] AS raw
            FROM documents)
          SELECT doc_id, raw,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(replace(raw, '[]', ''),
                     '\\[([1-3])\\](?:\\[Sg\\]|\\[S\\]\\[g\\])', '[\\1Sg]', 'g'),
                     '\\[([1-3])\\](?:\\[Pl\\]|\\[P\\]\\[l\\])', '[\\1Pl]', 'g'),
                     '^\\[([NV])\\]', '[/\\1]'),
                     '\\[\\[+', '[', 'g') AS cleaned
          FROM t""",

    "q_trafilatura" ->
      s"""WITH s AS (
            SELECT doc_id, source,
                   list_filter(
                     list_transform(string_split(text, ' slow '),
                                    x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                     x -> x <> '' AND len(x) >= 10) AS paras
            FROM documents),
          raw AS (
            SELECT doc_id,
                   ['Section about ' || source] || paras ||
                   ['Share this article with friends'] AS blocks
            FROM s),
          numbered AS (
            SELECT doc_id, unnest(blocks) AS text,
                   generate_subscripts(blocks, 1) AS idx
            FROM raw),
          dedup AS (
            SELECT doc_id, text, idx,
                   row_number() OVER (PARTITION BY doc_id, text
                                      ORDER BY idx) AS rn
            FROM numbered)
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY idx)
                      AS BIGINT) AS seq,
                 text
          FROM dedup WHERE rn = 1""",

    "q_boilerplate" ->
      s"""WITH s AS (
            SELECT doc_id, source,
                   list_filter(
                     list_transform(string_split(text, ' slow '),
                                    x -> trim(regexp_replace(x, '\\s+', ' ', 'g'))),
                     x -> x <> '') AS paras
            FROM documents),
          blocks AS (
            SELECT doc_id, CAST(0 AS BIGINT) AS p_idx,
                   'Home About links navigation' AS text, 26 AS link_chars,
                   false AS heading
            FROM s
            UNION ALL
            SELECT doc_id, CAST(1 AS BIGINT),
                   'Section about ' || source, 0, true
            FROM s
            UNION ALL
            SELECT doc_id, CAST(generate_subscripts(paras, 1) + 1 AS BIGINT),
                   unnest(paras), 0, false
            FROM s
            UNION ALL
            SELECT doc_id, CAST(len(paras) + 2 AS BIGINT),
                   '© 2024 footer for ' || source, 0, false
            FROM s),
          feat AS (
            SELECT doc_id, p_idx, text, link_chars, heading,
                   length(text) AS len,
                   len(string_split_regex(lower(text), '\\s+')) AS nw,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                                   w -> list_contains($stopListSql, w))) AS ns
            FROM blocks),
          cf AS (
            SELECT doc_id, p_idx, heading, len,
                   CASE WHEN link_chars * 1.0 / len > 0.2 THEN 'bad'
                        WHEN contains(text, '©') THEN 'bad'
                        WHEN len < 70 THEN
                          CASE WHEN link_chars > 0 THEN 'bad' ELSE 'short' END
                        WHEN ns * 1.0 / nw >= 0.32 THEN
                          CASE WHEN len > 200 THEN 'good' ELSE 'neargood' END
                        WHEN ns * 1.0 / nw >= 0.30 THEN 'neargood'
                        ELSE 'bad' END AS cf
            FROM feat),
          ph2 AS (
            SELECT doc_id, p_idx, heading, len, cf, cum,
                   CASE WHEN heading AND cf = 'short'
                             AND (m2 - cum) <= 200
                        THEN 'neargood' ELSE cf END AS p2
            FROM (
              SELECT *,
                     min(CASE WHEN cf = 'good'
                              THEN cum - len END) OVER w_fol AS m2
              FROM (
                SELECT *, sum(len) OVER (PARTITION BY doc_id ORDER BY p_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
                FROM cf)
              WINDOW w_fol AS (PARTITION BY doc_id ORDER BY p_idx
                               ROWS BETWEEN 1 FOLLOWING
                                        AND UNBOUNDED FOLLOWING))),
          ph3 AS (
            SELECT doc_id, p_idx, heading, len, cf, cum,
                   CASE WHEN p2 = 'short' THEN
                     CASE WHEN prev_gb = 'good' AND next_gb = 'good' THEN 'good'
                          WHEN prev_gb = 'bad' AND next_gb = 'bad' THEN 'bad'
                          WHEN (prev_gb = 'bad' AND prev_gnb = 'neargood')
                            OR (next_gb = 'bad' AND next_gnb = 'neargood')
                          THEN 'good'
                          ELSE 'bad' END
                   ELSE p2 END AS p3
            FROM (
              SELECT *,
                     coalesce(last_value(CASE WHEN p2 IN ('good','bad')
                                              THEN p2 END IGNORE NULLS)
                              OVER w_prec, 'bad') AS prev_gb,
                     coalesce(first_value(CASE WHEN p2 IN ('good','bad')
                                               THEN p2 END IGNORE NULLS)
                              OVER w_fol, 'bad') AS next_gb,
                     coalesce(last_value(CASE WHEN p2 IN ('good','bad','neargood')
                                              THEN p2 END IGNORE NULLS)
                              OVER w_prec, 'bad') AS prev_gnb,
                     coalesce(first_value(CASE WHEN p2 IN ('good','bad','neargood')
                                               THEN p2 END IGNORE NULLS)
                              OVER w_fol, 'bad') AS next_gnb
              FROM ph2
              WINDOW w_prec AS (PARTITION BY doc_id ORDER BY p_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING),
                     w_fol AS (PARTITION BY doc_id ORDER BY p_idx
                               ROWS BETWEEN 1 FOLLOWING
                                        AND UNBOUNDED FOLLOWING))),
          ph4 AS (
            SELECT doc_id, p_idx, heading, len, cf, cum,
                   CASE WHEN p3 = 'neargood' THEN
                     CASE WHEN coalesce(lag(p3) OVER w, 'bad') = 'bad'
                           AND coalesce(lead(p3) OVER w, 'bad') = 'bad'
                          THEN 'bad' ELSE 'good' END
                   ELSE p3 END AS p4
            FROM ph3
            WINDOW w AS (PARTITION BY doc_id ORDER BY p_idx))
          SELECT doc_id, p_idx, cf,
                 CASE WHEN heading AND p4 = 'bad' AND cf <> 'bad'
                           AND (m4 - cum) <= 200
                      THEN 'good' ELSE p4 END AS final_class
          FROM (
            SELECT *,
                   min(CASE WHEN p4 = 'good' THEN cum - len END) OVER w_fol
                     AS m4
            FROM ph4
            WINDOW w_fol AS (PARTITION BY doc_id ORDER BY p_idx
                             ROWS BETWEEN 1 FOLLOWING
                                      AND UNBOUNDED FOLLOWING))""",
    "q_span_merge" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) % 3 AS m,
                  substr(text, 1, 20) AS t1, substr(text, 21, 20) AS t2,
                  substr(text, 41, 20) AS t3
           FROM documents),
         sp0 AS (
           SELECT doc_id, 0 AS i, 'text' AS kind, t1 AS t, '' AS ref
           FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 1, 'text', t2, '' FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 2, 'image', '', 'img:' || doc_id
           FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 3, 'text', t3, '' FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 4, 'text', '', '' FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 0, 'text', '', '' FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 1, 'image', '', 'img:' || doc_id
           FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 2, 'audio', '', 'aud:' || doc_id
           FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 3, 'text', t1, '' FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 4, 'text', t2, '' FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 5, 'text', t3, '' FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 0, 'text', t1, '' FROM d WHERE m = 2),
         f AS (
           SELECT *, kind = 'text' AS istext FROM sp0
           WHERE NOT (kind = 'text' AND t = '')
             AND NOT (kind <> 'text' AND ref = '')),
         g AS (
           SELECT *, CASE WHEN lag(istext) OVER w IS NULL
                            OR lag(istext) OVER w <> istext
                            OR NOT istext THEN 1 ELSE 0 END AS brk
           FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         u0 AS (
           SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY i)
                       AS unit
           FROM g),
         u AS (
           SELECT doc_id, unit, min(i) AS i0, min(kind) AS kind,
                  string_agg(t, ' ' ORDER BY i) AS text,
                  min(ref) AS media_ref
           FROM u0 GROUP BY 1, 2)
         SELECT doc_id,
                CAST(row_number() OVER w2 - 1 AS BIGINT) AS ord,
                kind, text, media_ref,
                CAST(coalesce(
                  sum(CASE WHEN kind = 'text' THEN length(text)
                           ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY i0
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
         FROM u WINDOW w2 AS (PARTITION BY doc_id ORDER BY i0)""",
    "q_span_truncate" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) % 4 AS m,
                  len(substr(text, 1, 30)) AS t1,
                  len(substr(text, 31, 30)) AS t2,
                  len(substr(text, 61, 30)) AS t3
           FROM documents),
         sp AS (
           SELECT doc_id, 0 AS i, t1 AS tlen FROM d
           UNION ALL SELECT doc_id, 1,
             CASE WHEN m = 3 THEN t2 ELSE 0 END FROM d
           UNION ALL SELECT doc_id, 2, t3 FROM d
           UNION ALL SELECT doc_id, 3, 0 FROM d WHERE m = 2),
         c AS (
           SELECT doc_id, i, tlen,
                  coalesce(sum(tlen) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum
           FROM sp),
         k AS (
           SELECT doc_id, tlen, cum < 40 AS kept,
                  CASE WHEN cum < 40 THEN least(tlen, 40 - cum)
                       ELSE 0 END AS kchars
           FROM c)
         SELECT doc_id,
                CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_spans_kept,
                CAST(sum(kchars) AS BIGINT) AS text_chars_kept,
                (sum(CASE WHEN kept THEN 0 ELSE 1 END) > 0
                 OR sum(tlen - kchars) > 0) AS truncated
         FROM k GROUP BY 1""",
    "q_span_stats" ->
      """WITH d AS (
           SELECT doc_id, CAST(doc_id AS BIGINT) % 4 AS m,
                  len(substr(text, 1, 30)) AS t1,
                  len(substr(text, 31, 30)) AS t2,
                  len(substr(text, 61, 30)) AS t3
           FROM documents)
         SELECT doc_id,
                (CASE WHEN m = 2 THEN 4 ELSE 3 END)::BIGINT AS n_spans,
                (CASE WHEN m = 3 THEN 3 ELSE 2 END)::BIGINT AS n_text,
                (CASE m WHEN 2 THEN 2 WHEN 3 THEN 0
                        ELSE 1 END)::BIGINT AS n_media,
                (t1 + t3 + CASE WHEN m = 3 THEN t2 ELSE 0 END)::BIGINT
                  AS text_chars,
                (CASE m WHEN 2 THEN 2 WHEN 3 THEN 0
                        ELSE 1 END)::BIGINT AS n_media_refs,
                CAST(CASE m WHEN 2 THEN 0.5 WHEN 3 THEN 0.0
                            ELSE 0.3333 END AS DOUBLE) AS media_frac
         FROM d""",

    "q_span_validate" ->
      """SELECT doc_id,
                CAST(CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT)
                  AS n_violations,
                CAST(CASE doc_id % 5 WHEN 1 THEN 2 WHEN 2 THEN 1
                     WHEN 3 THEN 0 WHEN 4 THEN 1 END AS BIGINT)
                  AS first_bad_pos,
                doc_id % 5 = 0 AS valid
         FROM documents""",

    "q_spanize_wc" ->
      """WITH s AS (
           SELECT doc_id,
                  list_append(
                    list_filter(
                      list_transform(string_split(text, ' slow '),
                                     x -> trim(regexp_replace(x, '\s+', ' ', 'g'))),
                      x -> length(x) >= 10),
                    'common footer paragraph for ' || source ||
                    ' shared across documents') AS paras
           FROM documents)
         SELECT doc_id,
           CAST(len(paras) + 1 AS BIGINT) AS n_spans,
           CAST(coalesce(list_aggregate(
             list_transform(paras,
               x -> len(string_split_regex(x, '\s+'))), 'sum'), 0)
             AS BIGINT) AS n_words,
           CAST(coalesce(list_aggregate(
             list_transform(paras, x -> length(x)), 'sum'), 0)
             + greatest(len(paras) - 1, 0) AS BIGINT) AS n_chars
         FROM s""",
    "q_caption_pairs" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 3 AS m FROM documents),
         sp AS (
           SELECT doc_id, 0 AS pos, 'text' AS kind,
                  substr(text, 1, 30) AS t, '' AS ref, 0 AS off
           FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 1, 'image', '',
                  concat('img:', doc_id), 30 FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 2, 'text', substr(text, 31, 30),
                  '', 60 FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 3, 'audio', '',
                  concat('aud:', doc_id), 90 FROM d WHERE m = 0
           UNION ALL SELECT doc_id, 0, 'image', '',
                  concat('img:', doc_id), 0 FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 1, 'text', substr(text, 1, 30),
                  '', 30 FROM d WHERE m = 1
           UNION ALL SELECT doc_id, 0, 'image', '',
                  concat('img:', doc_id), 0 FROM d WHERE m = 2),
         cap AS (
           SELECT doc_id, kind, ref, off, pos,
                  last_value(CASE WHEN kind = 'text' AND t <> ''
                                  THEN t END IGNORE NULLS)
                    OVER (PARTITION BY doc_id ORDER BY off, pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS cb,
                  first_value(CASE WHEN kind = 'text' AND t <> ''
                                   THEN t END IGNORE NULLS)
                    OVER (PARTITION BY doc_id ORDER BY off, pos
                          ROWS BETWEEN 1 FOLLOWING
                               AND UNBOUNDED FOLLOWING) AS ca
           FROM sp)
         SELECT doc_id, ref AS media_ref, kind,
                coalesce(cb, ca, '') AS caption,
                CASE WHEN cb IS NOT NULL THEN 'before'
                     WHEN ca IS NOT NULL THEN 'after'
                     ELSE 'none' END AS cap_side
         FROM cap WHERE kind <> 'text' AND ref <> ''""",
    "q_span_dedup" ->
      """WITH s AS (
           SELECT doc_id,
                  list_distinct(
                    list_append(
                      list_filter(
                        list_transform(string_split(text, ' slow '),
                                       x -> trim(regexp_replace(x, '\s+', ' ', 'g'))),
                        x -> length(x) >= 10),
                      'common footer paragraph for ' || source ||
                      ' shared across documents')) AS paras
           FROM documents)
         SELECT doc_id, CAST(len(paras) + 1 AS BIGINT) AS n_spans
         FROM s"""
  )
}
