package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards. The job paths (operators, state, functions,
  * expressions) read no env var or system property, so no env A/B switch
  * can come back onto them; and src/main builds sessions in exactly three
  * places (Sessions.local, Bench.session, Main.clusterSession).
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
}
