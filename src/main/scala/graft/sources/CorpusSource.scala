package graft.sources

import graft.model.{Doc, Span}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus document source/sink (SURVEY.md §2.1 S5/S8/S9/S12, §2.5 O7/O8).
  *
  * The reference's JSONL form is `{id, meta, text}` with
  * `text = '\n'.join(paragraphs)` (cc_corpus/corpus.py:112–126); the
  * legacy semi-XML form (`<doc>/<meta>/<p>` line-oriented tags,
  * cc_corpus/corpus.py:148–279) is read via the `</doc>`-delimited text
  * source + a per-record parser, and written back for round-trips. Our
  * native table is the input_hint span table; both bridges map to it.
  */
object CorpusSource {

  /** One semi-XML document: doc-tag attributes, meta fields (multi-line
    * values newline-joined) and paragraph texts (lines newline-joined) —
    * the reference's Document shape (corpus.py:31–64).
    */
  case class SemiXmlDoc(attrs: Map[String, String],
                        meta: Map[String, String],
                        paragraphs: Seq[String])

  private val TagLine  = "^<([^\\s>]+)((?:\\s+[^\\s=]+=\"[^\"]*\")*)\\s*>$".r
  private val AttrPair = "([^\\s=]+)=\"([^\"]*)\"".r

  /** Parse one `<doc>...` block (without its closing `</doc>`, which the
    * lineSep reader consumed). Tag grammar per corpus.py:150–151; unknown
    * structure degrades gracefully (lines outside <p>/<meta> fields are
    * dropped, like the reference's CorpusHandler ignores them).
    */
  def parseSemiXmlDoc(block: String): SemiXmlDoc = {
    val attrs = Map.newBuilder[String, String]
    val meta  = Map.newBuilder[String, String]
    val paras = Seq.newBuilder[String]
    var inMeta = false
    var metaField: String = null
    val metaLines = scala.collection.mutable.ArrayBuffer.empty[String]
    var inP = false
    val pLines = scala.collection.mutable.ArrayBuffer.empty[String]
    block.split("\n", -1).iterator.map(_.trim).filter(_.nonEmpty).foreach {
      line =>
        TagLine.findFirstMatchIn(line) match {
          case Some(m) =>
            val tag = m.group(1)
            val a   = m.group(2)
            tag match {
              case "doc" =>
                AttrPair.findAllMatchIn(a).foreach(am =>
                  attrs += am.group(1) -> am.group(2))
              case "meta"  => inMeta = true
              case "/meta" => inMeta = false
              case "p"     => inP = true; pLines.clear()
              case "/p"    => inP = false; paras += pLines.mkString("\n")
              case t if t.startsWith("/") =>
                if (inMeta && metaField != null && t.drop(1) == metaField) {
                  meta += metaField -> metaLines.mkString("\n")
                  metaField = null
                }
              case t if inMeta =>
                metaField = t; metaLines.clear()
              case _ => // unexpected tag outside meta: ignore
            }
          case None =>
            if (inP) pLines += line
            else if (metaField != null) metaLines += line
        }
    }
    SemiXmlDoc(attrs.result(), meta.result(), paras.result())
  }

  val parseSemiXmlUdf = udf((block: String) => parseSemiXmlDoc(block))

  /** S5 (legacy form): semi-XML corpus → span-table documents. The text
    * source splits records on `</doc>` (splittable, distributed); each
    * block parses independently.
    */
  def readSemiXml(spark: SparkSession, path: String): DataFrame =
    spark.read.option("lineSep", "</doc>").text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(parseSemiXmlUdf(col("value")).as("d"))
      .select(
        coalesce(element_at(col("d.attrs"), "id"),
                 element_at(col("d.attrs"), "url")).as("doc_id"),
        col("d.attrs").as("attrs"),
        col("d.meta").as("meta"),
        filter(
          transform(col("d.paragraphs"),
            (t, i) => struct(lit("p").as("kind"), t.as("text"),
                             lit("").as("media_ref"),
                             i.cast(IntegerType).as("offset"))),
          s => length(s.getField("text")) > 0
        ).as("spans"))

  /** Render one document back to the semi-XML format (corpus.py writer
    * shape) — for round-trip tests and legacy consumers.
    */
  def formatSemiXmlDoc(attrs: Map[String, String],
                       meta: Map[String, String],
                       paragraphs: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("<doc")
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(s""" $k="$v"""")
    }
    sb.append(">\n")
    if (meta.nonEmpty) {
      sb.append("<meta>\n")
      meta.toSeq.sortBy(_._1).foreach { case (k, v) =>
        sb.append(s"<$k>\n$v\n</$k>\n")
      }
      sb.append("</meta>\n")
    }
    paragraphs.foreach(p => sb.append(s"<p>\n$p\n</p>\n"))
    sb.append("</doc>")
    sb.toString
  }

  val jsonlSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("meta", MapType(StringType, StringType)),
    StructField("text", StringType)
  ))

  /** S5: JSONL corpus → span-table documents. Explicit schema, never
    * inferred (SURVEY.md §1.2); paragraphs = text split on newline.
    */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(jsonlSchema).json(path)
      .select(
        col("id").as("doc_id"),
        col("meta").as("attrs"),
        filter(
          transform(split(col("text"), "\n"),
            (t, i) => struct(lit("p").as("kind"), t.as("text"),
                             lit("").as("media_ref"),
                             i.cast(IntegerType).as("offset"))),
          s => length(s.getField("text")) > 0
        ).as("spans"))

  /** S12: span-table documents → JSONL export (text spans joined with
    * newlines, media refs carried in meta).
    */
  def writeJsonl(docs: DataFrame, path: String,
                 maxRecordsPerFile: Long = 5000): Unit =
    docs.select(
        col("doc_id").as("id"),
        map(lit("media_refs"),
            array_join(
              transform(
                filter(col("spans"), s => s.getField("kind") === "media"),
                s => s.getField("media_ref")), " ")).as("meta"),
        array_join(
          transform(
            filter(col("spans"), s => s.getField("kind") === "p"),
            s => s.getField("text")), "\n").as("text"))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .json(path)

  /** S8/S9/O7: fixed-size batched parquet sink — the BatchWriter /
    * RotatedGzip / renumber trio (cc_corpus/io.py:55–78,
    * renumber_corpus_files.py:51–90) collapses to range partitioning on
    * the order column plus a per-file record cap: file numbering equals
    * ordering, sizes are even.
    *
    * `rows`, the frame's known row count, sizes the files, so no count
    * job runs. The files are written as snapshot data
    * (`Snapshots.writeData`). Returns the written row count, observed
    * above the range exchange (RangePartitioner's sampling job runs the
    * plan below it).
    */
  def writeBatched(df: DataFrame, path: String, ordCol: String,
                   recordsPerFile: Long, rows: Long): Long = {
    val written = Observation()
    graft.state.Snapshots.writeData(
      df.repartitionByRange(math.max(1, (rows / recordsPerFile).toInt), col(ordCol))
        .sortWithinPartitions(ordCol)
        .observe(written, count(lit(1)).as("rows")),
      path, Some(recordsPerFile))
    written.get("rows").asInstanceOf[Long]
  }

  /** O8: seeded deterministic shuffle — the producer/consumer TSV
    * shuffler (shuffle_tsv.py:59–224) is an orderBy over a seeded hash.
    */
  def shuffled(df: DataFrame, seed: Long, idCol: String): DataFrame =
    df.orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
}
