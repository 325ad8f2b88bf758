package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.state.Snapshots
import org.apache.spark.BenchInternals
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark harness for one workload in one JVM: set-up, a closed loop of
  * job calls for a fixed time, output checks after every cycle, and —
  * traced runs only — spans and layer probes. Writes raw measurements as
  * JSON; the reporting side turns them into metrics.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1 --work DIR
  *           --out FILE [--param key=value]... [--selftest]
  */
object Harness {

  case class Call(cycle: Int, dump: Int, items: Long, wallS: Double,
                  ok: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val opts = mutable.Map.empty[String, String]
    val params = mutable.Map.empty[String, String]
    args.sliding(2, 2).foreach {
      case Array("--param", kv) =>
        val Array(k, v) = kv.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)
    val spark = graft.Main.clusterSession("graft-perfbench")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val wl = Workload(spark, opts("workload"), opts("seed").toLong, params.toMap)
    val result =
      if (opts.get("selftest").contains("1")) SelfTest.run(spark, wl, work)
      else new Harness(spark, wl, work, opts("seconds").toDouble,
                       opts("trace") == "1", sessionS).run()
    Files.writeString(Paths.get(opts("out")),
      Serialization.write(result)(DefaultFormats))
    spark.stop()
  }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally w.close()
  }
}

final class Harness(spark: SparkSession, wl: Workload, work: Path,
                    seconds: Double, trace: Boolean, sessionS: Double) {
  import Harness._

  private val calls  = mutable.ArrayBuffer.empty[Call]
  private val checks = mutable.ArrayBuffer.empty[Check]
  private val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var cycleNo = 0
  private var mem: Option[MemProbe] = None

  /** One cycle: every dump in order into fresh tables, then (untimed) the
    * table size and the output checks. Returns the cycle's wall seconds.
    */
  private def cycle(inputs: String, onCall: (Int, Double, Double) => Unit =
                      (_, _, _) => ()): (String, Double) = {
    val tables = cycleDir(cycleNo)
    val t0 = System.nanoTime()
    var failed = false
    (0 until wl.dumps).foreach { d =>
      if (!failed) {
        val s = Clock.nowMs
        mem.foreach(_.callStarted())
        val err = try { wl.call(inputs, tables, d); "" }
                  catch { case NonFatal(e) => failed = true; e.toString }
        val e = Clock.nowMs
        calls += Call(cycleNo, d, wl.itemsPerDump, (e - s) / 1000.0,
                      err.isEmpty, err)
        onCall(d, s, e)
        // untimed: every call starts from a collected heap, so one call's
        // garbage is not collected on the next call's time
        System.gc()
        mem.foreach { m =>
          // cached blocks the call released are freed asynchronously (the
          // releases do not block): let that finish, so that the heap the
          // call retains is read after they are gone
          Thread.sleep(200)
          System.gc()
          m.callEnded()
        }
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val bytes = wl.tableDirs(tables).map(dirBytes).sum
    checks ++= (try wl.check(inputs, tables)
                catch { case NonFatal(e) => Seq(Check("check_ran", ok = false, e.toString)) })
    cycles += Map("cycle" -> cycleNo, "wall_s" -> wallS,
                  "items" -> wl.itemsPerDump * wl.dumps, "table_bytes" -> bytes)
    cycleNo += 1
    (tables, wallS)
  }

  /** Set-up: generate and write the inputs (three times; the last copy is
    * used and the median generation time reported), then one warm-up cycle:
    * every dump in order into scratch tables, so that the later dumps' paths
    * (anti-join against committed state, cross-dedup) are warm as well.
    */
  private def setup(): (String, Map[String, Any]) = {
    var inputs = ""
    val gen = (0 until 3).map { r =>
      if (inputs.nonEmpty) delete(Paths.get(inputs))
      inputs = work.resolve(s"inputs-$r").toString
      val t0 = System.nanoTime()
      wl.writeInputs(inputs)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = work.resolve("warmup")
    val t0 = System.nanoTime()
    (0 until wl.dumps).foreach(d => wl.call(inputs, warm.toString, d))
    System.gc()
    val warmS = (System.nanoTime() - t0) / 1e9
    delete(warm)
    (inputs, Map("session_s" -> sessionS, "gen_s" -> gen.toList,
                 "warmup_s" -> warmS))
  }

  def run(): Map[String, Any] = {
    val (inputs, setupTimes) = setup()
    val probe = new MemProbe
    mem = Some(probe)
    val body: Map[String, Any] =
      if (trace) traced(inputs) else { untraced(inputs); Map.empty }
    body ++ Map("setup" -> setupTimes, "peak_mem" -> probe.stop(),
      "calls" -> calls.map(c => Map("cycle" -> c.cycle, "dump" -> c.dump,
        "items" -> c.items, "wall_s" -> c.wallS, "ok" -> c.ok,
        "error" -> c.error)).toList,
      "cycles" -> cycles.toList,
      "digests" -> wl.digests,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).toList)
  }

  private def untraced(inputs: String): Unit = {
    // whole cycles until `seconds` have passed, at least one
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      val (tables, _) = cycle(inputs)
      delete(Paths.get(tables))
    } while (System.nanoTime() < deadline)
  }

  /** An untraced, a traced and another untraced cycle (the traced wall
    * minus the mean untraced wall is the tracing overhead, with a warm-up
    * trend cancelled), then the layer probes against the traced tables.
    */
  private def traced(inputs: String): Map[String, Any] = {
    val spans   = new Spans
    val engine  = new EngineListener
    val counter = new ActionCounter
    val perCall = mutable.ArrayBuffer.empty[Map[String, Any]]
    val (plainTables, plainS) = cycle(inputs)
    delete(Paths.get(plainTables))
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(counter)
    val root = spans.add(-1, "cycle", Clock.nowMs, Clock.nowMs)
    val (tables, tracedS) = cycle(inputs, (d, s, e) => {
      BenchInternals.drainListenerBus(spark.sparkContext)
      val (counters, actions, skew) = engine.take()
      val (nActions, exchanges) = counter.take()
      val callSpan = spans.add(root, s"call:dump-$d", s, e)
      actions.foreach(a => spans.add(callSpan, s"action:${Phases.of(a)}",
        a.startMs, a.endMs, Map("kind" -> a.kind, "description" -> a.description)))
      wl match {
        case _: CorpusWorkload =>
          stageSpans(spans, callSpan, s"${cycleDir(cycleNo)}/corpus-$d", s)
        case _ => ()
      }
      perCall += Map("dump" -> d, "span" -> callSpan, "actions" -> nActions,
        "exchanges" -> exchanges, "task_skew" -> skew,
        "counters" -> counters)
    })
    spans.close(root, Clock.nowMs)
    spark.listenerManager.unregister(counter)
    spark.sparkContext.removeSparkListener(engine)
    val (plainTables2, plainS2) = cycle(inputs)
    delete(Paths.get(plainTables2))
    val cycleEnd = Clock.nowMs

    val probes = spans.add(-1, "layer_probes", cycleEnd, cycleEnd)
    val px = new Prefixes(spark, spans, probes)
    val values: Map[String, Double] = wl match {
      case f: FrontierWorkload =>
        Layers.frontier(spark, px, inputs, s"$tables/frontier", f.quota, f.robots)
        Layers.state(spark, spans, probes, s"$tables/frontier")
      case c: CorpusWorkload =>
        Layers.corpus(spark, px, inputs, tables, c.minTokens)
    }
    delete(Paths.get(tables))
    Map("trace" -> Map(
      "untraced_cycle_s" -> (plainS + plainS2) / 2, "traced_cycle_s" -> tracedS,
      "cores" -> spark.sparkContext.defaultParallelism,
      "calls" -> perCall.toList, "values" -> values,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "attrs" -> s.attrs)).toList))
  }

  private def cycleDir(n: Int): String = work.resolve(s"cycle-$n").toString

  /** Corpus stage spans from manifest commit times: stage k runs from the
    * previous commit (or the call start) to its own manifest's mtime.
    */
  private def stageSpans(spans: Spans, parent: Int, table: String,
                         callStartMs: Double): Unit = {
    var prev = callStartMs
    Snapshots.chain(table).reverse.foreach { m =>
      val f = Paths.get(table, "_snapshots", s"v${m.snapshotId}.json")
      val t = Files.getLastModifiedTime(f).toInstant
      val ms = t.getEpochSecond * 1000.0 + t.getNano / 1e6
      spans.add(parent, s"stage:${m.lineage.stripPrefix("corpus stage=")}",
        prev, ms, Map("rows_in" -> m.metrics("rows_in"),
                      "rows_out" -> m.metrics("rows_out")))
      prev = ms
    }
  }
}

/** Names a frontier action by what it does: its plan's output path or the
  * state function that issued it.
  */
object Phases {
  def of(a: EngineListener#Action): String = {
    val writes = a.plan.contains("InsertIntoHadoopFsRelationCommand")
    if (a.details.contains("compactDistributed")) "cuckoo_compact"
    else if (a.details.contains("updateDistributed")) "cuckoo_update"
    else if (writes && a.plan.matches(
        "(?s).*Arguments: \\S*snap-\\d+-batches,.*")) "batches_write"
    else if (writes && a.details.contains("FrontierJob")) "seen_delta"
    else if (writes) "write"
    else if (a.details.contains("heckpoint")) "pin"
    else if (a.kind == "rdd_job") "job"
    else a.kind
  }
}

/** Peak memory of each job call: the highest heap use left after any
  * collection from the call's start up to the full GC that follows it
  * (which reads what the call retains), plus the run's peaks of Spark's
  * off-heap execution memory and of direct buffers, sampled every 10 ms.
  * Heap use is read after collections, not at its raw peak, which depends
  * on when collections happen to run; the collections inside a call still
  * show what the call holds live while it runs.
  */
final class MemProbe {
  @volatile private var running = true
  private var offHeap, direct = 0L
  private var callStartMs = 0L
  /** Call windows and (end, heap used after) of each collection, both in
    * milliseconds of JVM uptime, the clock of GcInfo.
    */
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val listener: NotificationListener = (n: Notification, _: Any) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = gc.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      MemProbe.this.synchronized { afterGc += (gc.getEndTime -> used) }
    }
  gcBeans.foreach(_.addNotificationListener(listener, null, null))
  private val directPool = ManagementFactory
    .getPlatformMXBeans(classOf[java.lang.management.BufferPoolMXBean]).asScala
    .find(_.getName == "direct")
  private val sampler = new Thread(() => {
    while (running) {
      val off = BenchInternals.offHeapExecutionBytes()
      val dir = directPool.map(_.getMemoryUsed).getOrElse(0L)
      MemProbe.this.synchronized {
        offHeap = math.max(offHeap, off); direct = math.max(direct, dir)
      }
      Thread.sleep(10)
    }
  })
  sampler.setDaemon(true)
  sampler.start()

  def callStarted(): Unit = synchronized { callStartMs = uptime.getUptime }

  /** Call right after the full GC that follows the call. */
  def callEnded(): Unit = synchronized { windows += (callStartMs -> uptime.getUptime) }

  def stop(): Map[String, Any] = {
    running = false
    sampler.join()
    // notifications arrive on another thread: wait for the one of a
    // collection that ends after every call
    val mark = uptime.getUptime
    System.gc()
    val until = System.nanoTime() + 5000000000L
    while (synchronized(!afterGc.exists(_._1 >= mark)) && System.nanoTime() < until)
      Thread.sleep(10)
    gcBeans.foreach(_.removeNotificationListener(listener))
    synchronized {
      val perCall = windows.map { case (s, e) =>
        afterGc.filter { case (end, _) => s <= end && end <= e } }
      Map("call_heap_bytes" -> perCall.map(_.map(_._2).maxOption.getOrElse(0L)).toList,
          "call_gcs" -> perCall.map(_.size).toList,
          "offheap_bytes" -> offHeap, "direct_bytes" -> direct)
    }
  }
}
