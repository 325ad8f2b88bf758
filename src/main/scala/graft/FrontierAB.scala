package graft

import org.apache.spark.sql.SparkSession

/** Dev A/B harness for frontier experiments: runs the frontier slice at
  * two parallelism levels, interleaved per trial (same noise window per
  * pair), printing per-trial walls.
  * Usage: runMain graft.FrontierAB [nRecords] [trials] [hiCores]
  */
object FrontierAB {
  def main(args: Array[String]): Unit = {
    val n      = args.headOption.map(_.toLong).getOrElse(4000000L)
    val trials = if (args.length > 1) args(1).toInt else 3
    val hi     = if (args.length > 2) args(2).toInt else 32

    def atLevel[A](cores: Int)(f: SparkSession => A): A = {
      val s = Bench.session(cores)
      try f(s)
      finally {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    (0 until trials).foreach { t =>
      val sHi = atLevel(hi) { s =>
        if (t == 0) Bench.frontierRun(s, n / 10, warm = false)
        Bench.frontierRun(s, n, warm = false)
      }
      val sLo = atLevel(8) { s =>
        if (t == 0) Bench.frontierRun(s, n / 10, warm = false)
        Bench.frontierRun(s, n, warm = false)
      }
      println(f"[ab] trial=$t hi[$hi]=$sHi%.2f s lo[8]=$sLo%.2f s eff=${sLo / sHi / (hi / 8.0)}%.3f")
    }
  }
}
