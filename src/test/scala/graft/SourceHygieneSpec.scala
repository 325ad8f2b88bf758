package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards. The job paths (operators, state, functions,
  * expressions) read no env var or system property, so no env A/B switch
  * can come back onto them; src/main builds sessions in exactly three
  * places (Sessions.local, Bench.session, Main.clusterSession); it pins
  * and frees intermediates only through graft.Pin; it names SQL functions
  * only in functions.Registry and turns expressions into Columns only in
  * the ExpressionBridge; Frontier computes global ranks only through
  * UrlDedup; only graft/state knows the URL-seen state's blob names and
  * segment bound, and the snapshot table layout; src/main has one
  * recursive delete and hand-escapes JSON only where a byte format is
  * pinned; and every source is text.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (file, 1-based line number, line) of every Scala line under `dir`. */
  private def lines(dir: Path): Seq[(Path, Int, String)] = {
    val walk = Files.walk(dir)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.sorted.flatMap(f =>
      Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (f, i + 1, l) })
  }

  test("no env or system-property reads on the job paths") {
    val read = "sys\\.env|System\\.getenv|sys\\.props".r
    val hits = Seq("operators", "state", "functions", "expressions")
      .flatMap(d => lines(root.resolve(s"graft/$d")))
      .filter { case (_, _, l) => read.findFirstIn(l).isDefined }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("src/main has exactly three SparkSession builders") {
    val builder = "SparkSession\\.builder\\(\\)".r
    val hits = lines(root).flatMap { case (f, n, l) =>
      builder.findAllMatchIn(l).map(_ => s"$f:$n")
    }
    assert(hits.size == 3, hits.mkString("\n"))
  }

  test("src/main pins only through Pin") {
    val hits = lines(root).filter { case (f, _, l) =>
      l.contains("localCheckpoint(") && f.getFileName.toString != "Pin.scala"
    }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  /** Lines under src/main that contain `needle`, outside file `allowed`. */
  private def outside(needle: String, allowed: String): Seq[String] =
    lines(root).collect {
      case (f, n, l) if l.contains(needle) &&
          f.getFileName.toString != allowed => s"$f:$n: ${l.trim}"
    }

  test("src/main registers SQL functions only in Registry") {
    val hits = outside("createOrReplaceTempFunction", "Registry.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main builds Columns from expressions only in the bridge") {
    val hits = Seq("call_function(", "ExpressionUtils")
      .flatMap(outside(_, "ExpressionBridge.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no src/main source holds a NUL byte") {
    val walk = Files.walk(Paths.get("src/main"))
    val files =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    val hits = files.filter(f => Files.readAllBytes(f).contains(0: Byte))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Frontier ranks only through UrlDedup's ordinals") {
    // the running-sum window and the partition-offset mask of the two
    // global-rank idioms (ordByGroupCounts, ordByPartitionOffsets)
    val hits = lines(root.resolve("graft/operators")).filter { case (f, _, l) =>
      f.getFileName.toString == "Frontier.scala" &&
        (l.contains("unboundedPreceding, -1") || l.contains("1L << 33"))
    }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("src/main frees pins only through Pin") {
    // UrlDedup.releaseOrderCache stays defined as a forwarder to
    // Pin.release for the perfbench harness; nothing in src/main calls it
    val call = "releaseOrderCache|releasePins".r
    val hits = lines(root).filter { case (_, _, l) =>
      call.findFirstIn(l).isDefined && !l.contains("def releaseOrderCache(")
    }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("only graft/state names state blobs or bounds chain segments") {
    val state = root.resolve("graft/state")
    val hits = lines(root).filter { case (f, _, l) =>
      !f.startsWith(state) &&
        (l.contains("\"cuckoo-") || l.contains("segments > 2"))
    }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("only graft/state builds snapshot table paths") {
    val state = root.resolve("graft/state")
    val hits = lines(root).filter { case (f, _, l) =>
      !f.startsWith(state) &&
        Seq("_snapshots", "\"snap-", "data/snap").exists(l.contains)
    }
    assert(hits.isEmpty,
      hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n"))
  }

  test("src/main walks a file tree only in the shared recursive delete") {
    val hits = outside("Files.walk(", "Sessions.scala")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("src/main hand-escapes JSON only in Bench and CrawlFixtures") {
    // Bench's result line and the crawl fixtures' input bytes pin their
    // own formats; everything else writes JSON through json4s
    val escape = "\"\\\\\\\"\""
    val hits = lines(root).collect {
      case (f, n, l) if l.contains(escape) &&
          !Set("Bench.scala", "CrawlFixtures.scala")
            .contains(f.getFileName.toString) => s"$f:$n: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
