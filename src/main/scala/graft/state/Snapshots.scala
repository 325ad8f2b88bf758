package graft.state

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson}

/** Minimal Iceberg-style snapshot/manifest log over Parquet directories
  * (SURVEY.md §7.1 item 1). No Iceberg runtime ships in this environment
  * (offline resolver), so the commit protocol is implemented directly:
  *
  *   table/
  *     data/snap-<id>/...          immutable data per snapshot
  *     state/snap-<id>/...         opaque state blobs (cuckoo partitions)
  *     _snapshots/v<id>.json       manifest: parent id, data paths,
  *                                 per-partition metrics, lineage note
  *
  * This object is the only code that knows that layout: `stage` hands
  * out a snapshot's data/state dirs (callers derive siblings from them,
  * as the frontier's `<data dir>-batches`), `commit` and the readers
  * encode and parse manifests (compact JSON through the json4s codec
  * Spark ships; every valid JSON manifest loads, the earlier pretty
  * form included), and `readData` reads a manifest list's parquet.
  *
  * Commit = write data under an uncommitted snap dir, then atomically
  * move the manifest into place (create-new semantics — a concurrent
  * committer loses and retries on the next id). Readers resolve the
  * highest committed id; a killed run leaves only uncommitted data dirs,
  * so resume = read the last committed snapshot — the exact frontier
  * state. A `TableFormat`-shaped seam for a real Iceberg catalog later.
  */
object Snapshots {

  case class Manifest(
      snapshotId: Long,
      parentId: Long, // -1 for first
      dataPath: String,
      statePath: String,
      metrics: Map[String, Long],
      lineage: String
  )

  private def snapDir(table: String)  = Paths.get(table, "_snapshots")
  private def manifestPath(table: String, id: Long): Path =
    snapDir(table).resolve(s"v$id.json")

  /** The manifest as compact JSON through json4s (bundled with Spark):
    * header fields in a fixed order, metric keys sorted.
    */
  private def render(m: Manifest): String = compact(
    ("snapshot_id" -> m.snapshotId) ~ ("parent_id" -> m.parentId) ~
      ("data_path" -> m.dataPath) ~ ("state_path" -> m.statePath) ~
      ("metrics" -> SortedMap(m.metrics.toSeq: _*)) ~ ("lineage" -> m.lineage))

  /** Any valid manifest JSON, compact or pretty (the earlier writer's
    * format); a missing `lineage` reads as "".
    */
  private def parse(json: String): Manifest = {
    implicit val formats: Formats = DefaultFormats
    val j = parseJson(json)
    Manifest((j \ "snapshot_id").extract[Long], (j \ "parent_id").extract[Long],
      (j \ "data_path").extract[String], (j \ "state_path").extract[String],
      (j \ "metrics").extract[Map[String, Long]],
      (j \ "lineage").extractOrElse[String](""))
  }

  /** Committed snapshot ids, ascending: the one listing of `_snapshots/`. */
  private def committedIds(table: String): Seq[Long] = {
    val dir = snapDir(table)
    if (!Files.isDirectory(dir)) return Nil
    val st = Files.list(dir)
    try st.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted
    finally st.close()
  }

  private def manifest(table: String, id: Long): Manifest =
    parse(Files.readString(manifestPath(table, id)))

  /** Latest committed snapshot, if any. */
  def latest(table: String): Option[Manifest] =
    committedIds(table).lastOption.map(manifest(table, _))

  /** Manifest chain from the latest snapshot back to the root (newest
    * first) — the reader's view of an append-only table is the union of
    * every snapshot's delta `dataPath`.
    */
  def chain(table: String): Seq[Manifest] = {
    val ids = committedIds(table)
    val byId = ids.map(id => id -> manifest(table, id)).toMap
    Iterator.iterate(ids.lastOption.map(byId))(_.flatMap(m => byId.get(m.parentId)))
      .takeWhile(_.isDefined).map(_.get).toSeq
  }

  /** Time travel: the manifest chain exactly as a reader saw it right
    * after snapshot `id` committed (newest first). Throws for an id
    * that was never committed — reading "as of" an uncommitted point
    * has no defined table state.
    */
  def chainAsOf(table: String, id: Long): Seq[Manifest] = {
    val asOf = chain(table).dropWhile(_.snapshotId != id)
    require(asOf.nonEmpty,
      s"snapshot $id is not committed in $table — cannot time-travel")
    asOf
  }

  /** The one read of snapshot data: the union of the `dataPath` parquet
    * of every manifest in `ms` (a chain, a live-segment list, or one
    * snapshot). The caller decides what an empty list means.
    */
  def readData(spark: SparkSession, table: String, ms: Seq[Manifest]): DataFrame =
    spark.read.parquet(ms.map(m => s"$table/${m.dataPath}"): _*)

  /** Union read of the append-only table as of snapshot `id` — the
    * debugging/audit read behind "what did the frontier know when batch
    * `id` was scheduled?". Same delta-union contract as a latest read,
    * truncated at `id`.
    */
  def readAsOf(spark: SparkSession, table: String, id: Long): DataFrame =
    readData(spark, table, chainAsOf(table, id))

  /** Roll the table back to snapshot `id`: every later manifest is
    * removed, so `latest` resolves to `id` and the next `stage()` hands
    * out `id`+1 (its orphan-cleanup deletes the abandoned dirs before
    * reuse). The removed snapshots' data/state stay on disk as
    * uncommitted garbage — the manifest is the only commit point, so
    * deleting the manifests IS the rollback. Returns the new head.
    */
  def rollback(table: String, id: Long): Manifest = {
    val head = chainAsOf(table, id).head // validates id is committed
    chain(table).takeWhile(_.snapshotId != id).foreach { m =>
      Files.deleteIfExists(manifestPath(table, m.snapshotId))
    }
    head
  }

  /** Paths for the next snapshot's data/state dirs (uncommitted until
    * `commit` succeeds).
    *
    * Any EXISTING content at these paths is an orphan from a run that
    * staged this id and died before commit (the manifest is the only
    * commit point, so uncommitted staging is garbage by definition) —
    * it is deleted here. Leaving it was a real resume hazard: the
    * cuckoo state writer carries forward blobs for partitions the new
    * batch does not touch by checking existence in the staging dir, so
    * an orphan blob from the crashed attempt would smuggle
    * never-committed inserts into the next snapshot — URLs marked seen
    * that were never scheduled.
    */
  def stage(table: String): (Long, Path, Path) = {
    val next = latest(table).map(_.snapshotId + 1).getOrElse(0L)
    val d = Paths.get(table, "data", s"snap-$next")
    val s = Paths.get(table, "state", s"snap-$next")
    Seq(d, s).foreach(graft.Sessions.deleteTree)
    Files.createDirectories(d)
    Files.createDirectories(s)
    (next, d, s)
  }

  /** Atomic commit: manifest written to a temp file, then moved with
    * create-new semantics. Returns the committed manifest.
    */
  def commit(table: String, id: Long, metrics: Map[String, Long],
             lineage: String): Manifest = {
    val parent = latest(table) match {
      case Some(m) if m.snapshotId >= id =>
        throw new IllegalStateException(
          s"snapshot $id already committed (latest ${m.snapshotId})")
      case m => m.map(_.snapshotId).getOrElse(-1L)
    }
    val man = Manifest(id, parent, s"data/snap-$id", s"state/snap-$id",
                       metrics, lineage)
    Files.createDirectories(snapDir(table))
    val tmp = Files.createTempFile(snapDir(table), s".v$id", ".tmp")
    Files.writeString(tmp, render(man))
    try {
      // link(2) is atomic and fails if the target exists — true
      // create-new semantics (rename(2) would silently replace)
      Files.createLink(manifestPath(table, id), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(s"lost commit race for v$id", e)
    }
    man
  }
}
