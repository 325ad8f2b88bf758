package graft.expressions

import graft.TestSpark
import graft.functions.MinHashF
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MinHashExpressionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native expression equals the Scala function, nulls pass through") {
    graft.functions.Registry.register(spark)
    val texts = Seq("hello world text", "short", "", null)
    val df = texts.toDF("t")
      .selectExpr("t", "graft_minhash_sig(t) AS sig",
                  "graft_minhash_bands(t, 8) AS bands")
    val rows = df.collect()
    texts.zip(rows).foreach { case (t, r) =>
      if (t == null) {
        assert(r.isNullAt(1) && r.isNullAt(2))
      } else {
        assert(r.getSeq[Long](1) == MinHashF.signature(t).toSeq)
        assert(r.getSeq[Long](2) ==
          MinHashF.bandHashes(MinHashF.signature(t), 8).toSeq)
      }
    }
  }

  test("expression stays inside whole-stage codegen") {
    graft.functions.Registry.register(spark)
    val tmp = java.nio.file.Files.createTempDirectory("mh").toString
    Seq("some text here", "other text there").toDF("t")
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .selectExpr("graft_minhash_bands(t, 8) AS bands")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"expected codegen stage: ${p.take(500)}")
    assert(!p.toLowerCase.contains("batchevalpython"))
  }

  test("failing type check reports cleanly") {
    graft.functions.Registry.register(spark)
    val e = intercept[Exception] {
      spark.range(3).selectExpr("graft_minhash_bands(id, 8)").collect()
    }
    assert(e.getMessage.contains("string"))
  }
}
