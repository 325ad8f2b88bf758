package graft.operators

import graft.Pin
import graft.state.Snapshots
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-build pipeline (reference stages 06→10) as ONE resumable
  * job: filter → minhash → (cross+)self dedup → frequent-paragraph
  * removal → renumber, each stage committed as a snapshot (Iceberg-style
  * manifest log) whose delta is the stage's full output table. This is
  * the data-plane equivalent of the reference's FastAPI step state
  * machine (app/models.py:21–22 prelaunch/running/completed/failed +
  * api_wrapper.py shelling one script per step): a killed run re-enters
  * at the first uncommitted stage and reuses every committed stage's
  * parquet untouched — no recompute, exact same rows.
  *
  * Stage numbering is the snapshot id; `lineage` records the stage name
  * and the per-stage metrics carry rows_in/rows_out so the manifest
  * chain doubles as the pipeline's funnel report. Each stage runs as its
  * one write plus the pins its body takes (9 root actions per fresh
  * run); the counts are observed on the writes.
  */
object CorpusJob {

  /** One stage: reads the previous stage's frame, returns its output.
    * What it pins through the scope is freed once the output is written.
    * Stages must be deterministic — resume replays nothing, so a
    * nondeterministic stage would fork history between runs.
    */
  private type Stage = (String, (Pin.Scope, DataFrame) => DataFrame)

  /** Run (or resume) the pipeline over a spanized corpus with columns
    * (domain, ord, doc_id, spans). Returns the manifest per stage, in
    * stage order.
    *
    *   - `langs`: keep docs whose graft_lang_id is in the set (None =
    *     no language filter — fixtures are synthetic-vocab, all 'unk');
    *   - `minTokens`: drop docs shorter than this many tokens (F10);
    *   - `seenMh`: previous dumps' band table (doc_id, bands) for the
    *     07c cumulative cross-dedup; None = first dump.
    */
  def runPipeline(spark: SparkSession, corpus: DataFrame, tableDir: String,
                  langs: Option[Seq[String]] = None,
                  minTokens: Int = 5,
                  simThreshold: Double = 0.9,
                  seenMh: Option[DataFrame] = None,
                  minFreq: Long = 2,
                  recordsPerFile: Long = 2500): Seq[Snapshots.Manifest] = {
    val b = graft.functions.MinHashF.optimalBands(simThreshold)

    def docText = array_join(FrequentParagraphs.textSpans(col("spans")), "\n")
    val base = Seq[String]("domain", "ord", "doc_id", "spans")

    val stages: Seq[Stage] = Seq(
      // 06 filter_corpus: language + min length, pure columns
      "filter" -> { (_, in) =>
        val withText = in.withColumn("__text", docText)
        val langOk = langs match {
          case Some(ls) => graft.expressions.LangExpressions
            .langIdCol(col("__text")).isin(ls: _*)
          case None => lit(true)
        }
        withText
          .filter(langOk &&
            size(split(trim(col("__text")), "\\s+")) >= minTokens)
          .select(base.map(col): _*)
      },
      // 07a minhash: codegen'd signature+banding over the doc text
      "minhash" -> { (_, in) =>
        LshDedup.minhashed(in.withColumn("text", docText), b)
          .select((base :+ "bands").map(col): _*)
      },
      // 07b/07c/07d: optional cross-dedup against the seen batch, then
      // first-wins self dedup, then the corpus semi join — one stage
      // output (the surviving corpus) so resume granularity matches the
      // reference's per-step model
      "dedup" -> { (_, in) =>
        val fresh = seenMh.fold(in)(seen => LshDedup.crossDedup(in, seen))
        val kept = LshDedup.selfDedup(fresh)
        in.join(kept.select("ord"), Seq("ord"), "left_semi")
          .select(base.map(col): _*)
      },
      // 08–09 frequent_paragraphs: per-domain collect + removal
      "frequent" -> { (pin, in) =>
        val withP = pin(in.withColumn("pbands", // read by collect AND filter
          FrequentParagraphs.paragraphBandsCol(
            FrequentParagraphs.textSpans(col("spans")), b)))
        val freqs = FrequentParagraphs.collect(withP, minFreq = minFreq)
        FrequentParagraphs.filterFrequent(withP, freqs, minFreq = minFreq)
          .select(base.map(col): _*)
      },
      // 10 renumber: contiguous ord, fixed-size files (the write itself
      // happens in the stage commit below; this stage just re-ranks)
      "renumber" -> { (pin, in) =>
        pin.hold(UrlDedup.ordByPartitionOffsets(
          in.drop("ord"), Seq(asc("domain"), asc("doc_id")), "ord"))
          .select(base.map(col): _*)
      }
    )

    // Parameter fingerprint, carried in every stage's metrics: resume
    // must see the SAME pipeline parameters, else the committed stages
    // were computed under a different configuration and silently reusing
    // them would return wrong results (reachable from Main's corpus
    // command via minTokens). seenMh is fingerprinted by presence only —
    // its content is a DataFrame; callers rotating seen batches between
    // runs of one table are rerunning a *different* dump and should use
    // a fresh table.
    val paramsFp: Long = {
      val canon = Seq(
        s"langs=${langs.map(_.sorted.mkString(",")).getOrElse("-")}",
        s"minTokens=$minTokens",
        s"simThreshold=$simThreshold",
        s"seenMh=${seenMh.isDefined}",
        s"minFreq=$minFreq",
        s"recordsPerFile=$recordsPerFile").mkString(";")
      scala.util.hashing.MurmurHash3.stringHash(canon).toLong & 0xffffffffL
    }

    val byId = Snapshots.chain(tableDir).map(m => m.snapshotId -> m).toMap
    var cur = corpus
    var rowsIn = Option.empty[Long] // the previous stage's rows_out
    stages.zipWithIndex.map { case ((name, f), i) =>
      byId.get(i.toLong) match {
        case Some(m) =>
          // committed by a previous run — reuse its parquet verbatim,
          // but only if it IS this pipeline's stage: a foreign table
          // (frontier snapshots, a differently-parameterized corpus)
          // must fail loudly, not masquerade as resumed work
          require(m.lineage == s"corpus stage=$name",
            s"table $tableDir snapshot $i has lineage '${m.lineage}', " +
            s"expected 'corpus stage=$name' — refusing to resume from " +
            "a foreign snapshot chain")
          require(m.metrics.get("params_fp").contains(paramsFp),
            s"table $tableDir snapshot $i was committed with params_fp=" +
            s"${m.metrics.get("params_fp").getOrElse("<absent>")}, this " +
            s"run has params_fp=$paramsFp — refusing to resume a " +
            "pipeline with different parameters (langs/minTokens/" +
            "simThreshold/seenMh/minFreq/recordsPerFile)")
          cur = Snapshots.readData(spark, tableDir, Seq(m))
          rowsIn = m.metrics.get("rows_out")
          m
        case None =>
          // stage 0 observes its input, which its filter reads once;
          // later stages know their rows_in
          val (in, inRows) = rowsIn.fold(counted(cur))(n => (cur, () => n))
          val (dataDir, schema, rowsOut) = Pin.scoped { pin =>
            val out = f(pin, in)
            val (id, dataDir, _) = Snapshots.stage(tableDir)
            require(id == i,
              s"stage $name expected snapshot $i, got $id — manifest gap")
            val rowsOut = if (name == "renumber")
              // renumber keeps every row, so rows_in sizes the files
              graft.sources.CorpusSource.writeBatched(
                out, dataDir.toString, "ord", recordsPerFile, inRows())
            else {
              val (written, outRows) = counted(out)
              Snapshots.writeData(written, dataDir.toString)
              outRows()
            }
            (dataDir, out.schema, rowsOut)
          }
          // the written schema spares the re-read an inference job
          cur = spark.read.schema(schema).parquet(dataDir.toString)
          val m = Snapshots.commit(tableDir, i.toLong,
            Map("rows_in" -> inRows(), "rows_out" -> rowsOut,
                "params_fp" -> paramsFp),
            lineage = s"corpus stage=$name")
          rowsIn = Some(rowsOut)
          m
      }
    }
  }

  /** `df` with its row count observed, and the count once it has run. */
  private def counted(df: DataFrame): (DataFrame, () => Long) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("rows")), () => o.get("rows").asInstanceOf[Long])
  }
}
