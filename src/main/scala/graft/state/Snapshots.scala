package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

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

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def render(m: Manifest): String = {
    val metrics = m.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")
    s"""{
       |  "snapshot_id": ${m.snapshotId},
       |  "parent_id": ${m.parentId},
       |  "data_path": "${esc(m.dataPath)}",
       |  "state_path": "${esc(m.statePath)}",
       |  "metrics": $metrics,
       |  "lineage": "${esc(m.lineage)}"
       |}""".stripMargin
  }

  private val FieldRe = """"(\w+)"\s*:\s*(?:"((?:[^"\\]|\\.)*)"|(-?\d+))""".r

  private def parse(json: String): Manifest = {
    val fields = FieldRe.findAllMatchIn(json).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))
    }.toList
    val top = fields.toMap
    // metrics keys are the numeric fields that aren't the known header
    val known = Set("snapshot_id", "parent_id", "data_path", "state_path",
                    "lineage")
    val metrics = fields.collect {
      case (k, v) if !known.contains(k) && v.matches("-?\\d+") => k -> v.toLong
    }.toMap
    Manifest(
      top("snapshot_id").toLong,
      top("parent_id").toLong,
      top("data_path"),
      top("state_path"),
      metrics,
      top.getOrElse("lineage", "").replace("\\\"", "\"").replace("\\\\", "\\")
    )
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

  private def read(table: String, id: Long): Manifest =
    parse(Files.readString(manifestPath(table, id)))

  /** Latest committed snapshot, if any. */
  def latest(table: String): Option[Manifest] =
    committedIds(table).lastOption.map(read(table, _))

  /** Manifest chain from the latest snapshot back to the root (newest
    * first) — the reader's view of an append-only table is the union of
    * every snapshot's delta `dataPath`.
    */
  def chain(table: String): Seq[Manifest] = {
    val ids = committedIds(table)
    val byId = ids.map(id => id -> read(table, id)).toMap
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

  /** Union read of the append-only table as of snapshot `id` — the
    * debugging/audit read behind "what did the frontier know when batch
    * `id` was scheduled?". Same delta-union contract as a latest read,
    * truncated at `id`.
    */
  def readAsOf(spark: org.apache.spark.sql.SparkSession, table: String,
               id: Long): org.apache.spark.sql.DataFrame =
    spark.read.parquet(
      chainAsOf(table, id).map(m => s"$table/${m.dataPath}"): _*)

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
    Seq(d, s).foreach { p =>
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
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
