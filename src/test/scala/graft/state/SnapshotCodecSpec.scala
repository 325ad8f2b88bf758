package graft.state

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The manifest codec: what `commit` writes, `latest`/`chain` read back
  * unchanged, whatever the lineage text and metric keys hold, and
  * manifests in the earlier pretty-printed format still load.
  */
class SnapshotCodecSpec extends AnyFunSuite {

  private def freshTable(): String =
    Files.createTempDirectory("snap-codec").toString

  private def commitOne(t: String, metrics: Map[String, Long],
                        lineage: String): Snapshots.Manifest = {
    val (id, _, _) = Snapshots.stage(t)
    Snapshots.commit(t, id, metrics, lineage)
  }

  private def manifestFile(t: String, id: Long): String =
    Files.readString(Paths.get(t, "_snapshots", s"v$id.json"))

  test("lineage with control chars, quotes, backslashes and non-ASCII round-trips") {
    val t = freshTable()
    val lineage = "frontier dump=a\nb\rc\td \"quoted\" back\\slash " +
      "\u0001 caf\u00e9 \u4e2d\u6587 \ud83d\ude00"
    val written = commitOne(t, Map("n" -> 1L), lineage)
    assert(Snapshots.latest(t).contains(written))
    assert(Snapshots.latest(t).get.lineage == lineage)
    assert(Snapshots.chain(t) == Seq(written))
  }

  test("metric keys with dots and dashes round-trip, written sorted") {
    val t = freshTable()
    val metrics = Map("n.rows" -> 7L, "part-00001" -> -3L, "a_b" -> 0L,
                      "z" -> Long.MaxValue, "b.c-d" -> Long.MinValue)
    val written = commitOne(t, metrics, "")
    assert(Snapshots.latest(t).get.metrics == metrics)
    assert(Snapshots.latest(t).contains(written))
    val json = manifestFile(t, written.snapshotId)
    val at = metrics.keys.toSeq.sorted.map(k => json.indexOf(s""""$k":"""))
    assert(at.forall(_ >= 0) && at == at.sorted, json)
  }

  test("a manifest is compact: no larger than the earlier pretty form") {
    val t = freshTable()
    val m = commitOne(t, Map("n_seen_urls" -> 12345L, "part_00000_inserted" -> 9L),
                      "frontier dump=d1 parent=-1 keep=biggest quota=4")
    assert(manifestFile(t, m.snapshotId).length <= prettyForm(m).length)
  }

  test("manifests in the earlier pretty format still load") {
    val t = freshTable()
    val dir = Files.createDirectories(Paths.get(t, "_snapshots"))
    Files.writeString(dir.resolve("v0.json"),
      """{
        |  "snapshot_id": 0,
        |  "parent_id": -1,
        |  "data_path": "data/snap-0",
        |  "state_path": "state/snap-0",
        |  "metrics": {"n_fetch_batches": 3, "n_seen_urls": 1200, "part_00000_inserted": 40},
        |  "lineage": "frontier dump=d1 parent=-1 keep=biggest quota=4"
        |}""".stripMargin)
    // the earlier writer escaped '"' and '\' in the lineage
    Files.writeString(dir.resolve("v1.json"),
      """{
        |  "snapshot_id": 1,
        |  "parent_id": 0,
        |  "data_path": "data/snap-1",
        |  "state_path": "state/snap-1",
        |  "metrics": {},
        |  "lineage": "corpus stage=\"filter\" at c:\\tmp"
        |}""".stripMargin)
    // a manifest without a lineage reads it as ""
    Files.writeString(dir.resolve("v2.json"),
      """{
        |  "snapshot_id": 2,
        |  "parent_id": 1,
        |  "data_path": "data/snap-2",
        |  "state_path": "state/snap-2",
        |  "metrics": {"rows_out": 5}
        |}""".stripMargin)
    assert(Snapshots.chain(t) == Seq(
      Snapshots.Manifest(2, 1, "data/snap-2", "state/snap-2",
        Map("rows_out" -> 5L), ""),
      Snapshots.Manifest(1, 0, "data/snap-1", "state/snap-1", Map.empty,
        "corpus stage=\"filter\" at c:\\tmp"),
      Snapshots.Manifest(0, -1, "data/snap-0", "state/snap-0",
        Map("n_fetch_batches" -> 3L, "n_seen_urls" -> 1200L,
            "part_00000_inserted" -> 40L),
        "frontier dump=d1 parent=-1 keep=biggest quota=4")))
    // and the table keeps committing on top of them
    assert(commitOne(t, Map("n" -> 1L), "next").parentId == 2L)
  }

  /** The earlier writer's layout for `m` (strings without escapes). */
  private def prettyForm(m: Snapshots.Manifest): String = {
    val metrics = m.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{
       |  "snapshot_id": ${m.snapshotId},
       |  "parent_id": ${m.parentId},
       |  "data_path": "${m.dataPath}",
       |  "state_path": "${m.statePath}",
       |  "metrics": $metrics,
       |  "lineage": "${m.lineage}"
       |}""".stripMargin
  }
}
