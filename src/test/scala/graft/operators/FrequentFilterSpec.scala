package graft.operators

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.TestSpark
import graft.ref.RefFrequent
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A4's per-domain pass (`FrequentParagraphs.filterFrequent`) against the
  * join/window chain it replaced (`RefFrequent.filterFrequentChain`) on
  * random edge inputs, and A3's handling of a null domain.
  */
class FrequentFilterSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val bandsT = ArrayType(LongType)
  private val docSchema = StructType(Seq(
    StructField("domain", StringType),
    StructField("ord", LongType),
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType))))),
    StructField("pbands", ArrayType(bandsT))))
  private val freqSchema = StructType(Seq(
    StructField("domain", StringType), StructField("pdata_id", IntegerType),
    StructField("bands", bandsT)))

  /** Small band and hash ranges, so paragraphs often hit several
    * frequents, old and new ones alike; nulls at every level.
    */
  private case class Gen(seed: Long) {
    val rnd = new Random(seed)
    var paragraphs = 0
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    def bands(): Seq[java.lang.Long] = Seq.fill(3)(
      if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextInt(5)))

    def docs(n: Int): DataFrame = spark.createDataFrame((0 until n).map { i =>
      val nP = rnd.nextInt(5)
      paragraphs += nP
      val spans = (0 until nP + rnd.nextInt(2)).map { j =>
        if (j < nP) Row("p", s"t$i.$j", "", j) else Row("media", "", "m", j)
      }
      val pbands = rnd.nextInt(8) match {
        case 0 => null
        case 1 => Seq.empty
        case _ => Seq.fill(nP)(if (rnd.nextInt(12) == 0) null else bands())
      }
      // ords repeat now and then: duplicate (domain, ord) rows
      Row(pick("a", "b", "c", null), rnd.nextInt(n - n / 8).toLong,
          s"d$i", spans, pbands)
    }.asJava, docSchema)

    def freqs(n: Int): DataFrame = spark.createDataFrame(Seq.fill(n)(
      Row(pick("a", "b", "c", "z", null),
          if (rnd.nextInt(12) == 0) null else 1 + rnd.nextInt(6),
          bands())).asJava,
      freqSchema)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("the per-domain pass equals the join/window chain on random inputs") {
    var (pIn, pOut) = (0, 0)
    for (seed <- 1L to 6L; minFreq <- Seq(1L, 2L, 3L)) {
      val g = Gen(seed * 31 + minFreq)
      val docs = g.docs(60).repartition(3)
      val freqs = g.freqs(10)
      val old = if (seed % 2 == 0) Some(g.freqs(3)) else None
      val got = FrequentParagraphs.filterFrequent(docs, freqs, old, minFreq)
      val exp = RefFrequent.filterFrequentChain(docs, freqs, old, minFreq)
      assert(got.columns.toSeq == exp.columns.toSeq)
      val want = exp.collect()
      assert(rows(got) == want.map(_.toString).toSeq.sorted,
        s"seed $seed, minFreq $minFreq")
      pIn += g.paragraphs
      pOut += want.map(_.getAs[Seq[Row]]("spans").count(_.getString(0) == "p")).sum
    }
    // not vacuous: frequents drop some paragraphs, not all
    assert(pOut > 0 && pOut < pIn, s"$pOut of $pIn paragraphs kept")
  }

  test("docs sharing a (domain, ord) merge their hits, as in the chain") {
    val s = spark
    import s.implicits._
    // two docs at (a, 1): paragraph 1 of y and paragraph 3 of z hit
    // frequent 1 at its second occurrence, so both docs drop paragraphs
    // 1 and 3 (the merged drop set)
    val p = (t: String) => Row("p", t, "", 0)
    def doc(ord: Long, id: String, hs: Long*) = Row("a", ord, id,
      hs.indices.map(j => p(s"$id${j + 1}")), hs.map(h => Seq(h)))
    val docs = spark.createDataFrame(Seq(doc(0L, "x", 7L, 8L),
      doc(1L, "y", 7L, 9L, 10L), doc(1L, "z", 8L, 11L, 7L)).asJava, docSchema)
    val freqs = Seq(("a", 1, Seq(7L))).toDF("domain", "pdata_id", "bands")
    val got = FrequentParagraphs.filterFrequent(docs, freqs)
    assert(rows(got) == rows(RefFrequent.filterFrequentChain(docs, freqs)))
    assert(got.select($"doc_id", $"spans.text").as[(String, Seq[String])]
      .collect().toMap == Map("x" -> Seq("x1", "x2"), "y" -> Seq("y2"),
        "z" -> Seq("z2")))
  }

  test("a doc with a null ord fails the pass loudly") {
    val s = spark
    import s.implicits._
    val docs = spark.createDataFrame(Seq(Row("a", null, "x",
      Seq(Row("p", "x1", "", 0)), Seq(Seq(7L)))).asJava, docSchema)
    val freqs = Seq(("a", 1, Seq(7L))).toDF("domain", "pdata_id", "bands")
    val e = intercept[org.apache.spark.SparkException] {
      FrequentParagraphs.filterFrequent(docs, freqs).collect()
    }
    assert(e.getMessage.contains("null ord"))
  }

  test("A3 collect: null-domain docs yield no frequents") {
    val s = spark
    import s.implicits._
    val p = (t: String) => Row("p", t, "", 0)
    // the same boilerplate paragraph in every doc, under a null domain
    // and under domain "a"
    val docs = spark.createDataFrame((0 until 6).map { i =>
      Row(if (i % 2 == 0) null else "a", i.toLong, s"d$i",
          Seq(p("boiler"), p(s"own $i")), Seq(Seq(5L, 6L), Seq(100L + i, 200L + i)))
    }.asJava, docSchema)
    val freqs = FrequentParagraphs.collect(docs)
    assert(freqs.select($"domain").as[String].collect().toSeq == Seq("a"))
    // and the filter keeps every paragraph of the null-domain docs
    val kept = FrequentParagraphs.filterFrequent(docs, freqs)
      .filter(col("domain").isNull)
    assert(kept.select($"spans.text").as[Seq[String]].collect().toSet ==
      Set(0, 2, 4).map(i => Seq("boiler", s"own $i")))
  }
}
