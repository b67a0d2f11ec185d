package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

import graft.cdc.CdcStream
import graft.lake.{LakeTable, Snapshot}

/** A lake table with the stream that feeds it. */
final class Lake(val root: String, val wal: Wal) {
  val ckpt: String = s"$root-ckpt"
  val tableRoot: String = s"$root/table"
}

/** A [[LakeTable]] handle that records a span around each compaction and
  * expiry called on it, so the ones the engine runs inline show up in the
  * trace without touching the engine. Calls on the stream's micro-batch
  * thread (inline maintenance) are floating spans placed by time later;
  * calls on the bench thread nest under the bench span open at the time.
  */
final class TracedTable(spark: SparkSession, root: String, tracer: Tracer)
    extends LakeTable(spark, root) {
  private def inline = Thread.currentThread.getName.startsWith("stream execution thread")

  override def compact(maxFilesPerBucket: Int, gcTombstonesBelowLsn: Option[Long],
      maxRecordsPerFile: Long, rebucket: Option[Int]): Snapshot = {
    val rowsIn = lastKnownSnapshot.map(_.files.map(_.rows).sum).getOrElse(0L)
    val (out, id) = tracer.spanId("compact", "graft.lake", floating = inline) { id =>
      (super.compact(maxFilesPerBucket, gcTombstonesBelowLsn, maxRecordsPerFile, rebucket), id)
    }
    tracer.annotate(id, Map("rows_in" -> rowsIn.toDouble,
      "rows_out" -> out.files.map(_.rows).sum.toDouble, "inline" -> (if (inline) 1.0 else 0.0)))
    out
  }
  override def expireSnapshots(keepLast: Int): (Int, Int) =
    tracer.span("expire", "graft.lake", floating = inline)(super.expireSnapshots(keepLast))
}

/** Sums the bytes Spark tasks write while `on`. */
final class OutputBytes extends SparkListener {
  @volatile var on = false
  val bytes = new java.util.concurrent.atomic.AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) { bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten); () }
}

object Jvm {
  /** Collection time so far, all collectors. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap occupancy right after a full collection: what is live. The first
    * collection lets Spark's context cleaner see unreferenced broadcasts and
    * shuffles; the pause lets it drop their blocks; the second collection
    * frees them. One collection alone reads their blocks on some runs and
    * not on others.
    */
  def liveHeap(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** One run of one workload: repeated setup, the timed rounds, the
  * correctness gate, and the metrics.
  */
final class Run(val spark: SparkSession, val args: Main.Args) {
  import Run._

  val tracer = new Tracer
  private val jobs = new JobListener
  private val out = new OutputBytes
  /** Largest live heap at the end of a timed round. */
  private var peakHeap = 0L
  spark.sparkContext.addSparkListener(out)

  /** Seeded choices the bench makes (which urls to look up). */
  val rng = new scala.util.Random(args.seed * 7919L + 1)
  val buckets = 8

  // --- samples of the timed phase --------------------------------------
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  val lookups = mutable.ArrayBuffer.empty[Lookup]
  val scans = mutable.ArrayBuffer.empty[ScanRec]
  val diffs = mutable.ArrayBuffer.empty[DiffRec]
  var ingestEvents = 0L
  var ingestSecs = 0.0
  /** (events, ingest seconds) of each timed round. */
  val ingestRounds = mutable.ArrayBuffer.empty[(Long, Double)]
  var tracedEvents = 0L
  /** (bytes, live rows) of one compacted copy of the final table: the
    * write_amp base.
    */
  var compacted = (0L, 0L)
  var failed = 0L
  var roundTraced = false
  /** Table versions the micro-batches of the latest drain committed. */
  @volatile var lastVersions = Vector.empty[Long]
  /** Layout gauges at the end of the last traced round. */
  var gauge = Gauge()
  private val seenFiles = mutable.Set.empty[String]
  private val initialFiles = mutable.Set.empty[String]

  def table(root: String, traced: Boolean): LakeTable =
    if (traced) new TracedTable(spark, root, tracer) else new LakeTable(spark, root)

  private val born = System.nanoTime()
  /** A progress line on stderr. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $msg")

  def rm(path: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  // --- ingest ---------------------------------------------------------------

  /** Drain everything published so far into `t` with `CdcStream.start`;
    * returns (events applied, wall seconds). Timed rounds record each
    * micro-batch.
    */
  def drain(lake: Lake, t: LakeTable, mode: String, filesPerTrigger: Int,
      autoCompact: Int = 0, expire: Int = 0, timed: Boolean = true): (Long, Double) = {
    val traced = timed && roundTraced
    lastVersions = Vector.empty
    val seen = new ConcurrentLinkedQueue[(Long, Double, Long, Option[(Double, Double)])]()
    def body(qspan: Int): (Long, Double) = {
      val t0 = System.nanoTime()
      val q = CdcStream.start(spark, lake.wal.live, t, lake.ckpt,
        maxFilesPerTrigger = filesPerTrigger, createBuckets = buckets, mode = mode,
        autoCompactFilesPerBucket = autoCompact, expireKeepLast = expire,
        onBatch = st => {
          val at = tracer.now
          val probe = if (!traced) None else {
            val snap = t.currentSnapshot
            snap.foreach(noteFiles)
            Some((at, tracer.now))
          }
          if (!st.skipped) {
            seen.add((st.batchId, at, st.events, probe))
            lastVersions = lastVersions :+ st.version
          }
          ()
        })
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val ev = seen.asScala.map(_._3).sum
      if (timed) {
        val byId = seen.asScala.map(s => s._1 -> s).toMap
        q.recentProgress.filter(p => p.durationMs.containsKey("addBatch") && byId.contains(p.batchId))
          .foreach { p =>
            def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
            val s = byId(p.batchId)
            batches += BatchRec(p.id.toString, p.batchId, qspan, s._3,
              java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d("triggerExecution"),
              d("addBatch"), d("latestOffset") + d("walCommit") + d("getBatch") + d("queryPlanning"),
              d("latestOffset") + d("getBatch"), s._2, s._4, traced)
          }
        ingestEvents += ev
        if (traced) tracedEvents += ev
      }
      (ev, secs)
    }
    if (traced) tracer.spanId("stream query", "graft.cdc")(body) else body(-1)
  }

  /** A span around `body` in traced rounds; untraced rounds record none. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (roundTraced) tracer.span(name, layer)(body) else body

  def noteFiles(s: Snapshot): Unit = synchronized {
    seenFiles ++= s.files.map(_.path) ++ s.dvFiles.map(_.path)
  }

  /** Files already in the table when a round starts do not count as
    * written, unless a traced round saw them written.
    */
  def startTracking(t: LakeTable): Unit = if (roundTraced) synchronized {
    t.currentSnapshot.foreach(s =>
      initialFiles ++= (s.files.map(_.path) ++ s.dvFiles.map(_.path)).filterNot(seenFiles))
  }

  // --- reads ----------------------------------------------------------------

  /** Point lookups, full-scan aggregates and one changes diff against the
    * table's current head; `n` names the published WAL prefix it reflects.
    */
  def probe(t: LakeTable, n: Int, nextUrl: => String, nLookups: Int, nScans: Int,
      diff: Option[(Long, Long)], record: Boolean = true): Unit = {
    val snap = t.currentSnapshot.get
    val traced = record && roundTraced
    def op[T](name: String)(body: => T): (T, Double, Int) = {
      val t0 = System.nanoTime()
      val (r, id) =
        if (traced) tracer.spanId(name, "graft.lake")(id => (body, id)) else (body, -1)
      (r, (System.nanoTime() - t0) / 1e9, id)
    }
    (0 until nLookups).foreach { _ =>
      val url = nextUrl
      val (rows, secs, id) = op("lookup") {
        t.lookupUrl(snap, url).select("text").collect().map(_.getString(0)).toSeq
      }
      val files = if (traced) {
        val h = LakeTable.urlHash(url)
        t.planFiles(snap, Some(Set(LakeTable.bucketOf(h, snap.buckets))), Some(h)).size
      } else 0
      if (record) lookups += Lookup(url, n, rows, secs, traced, id, files)
    }
    (0 until nScans).foreach { _ =>
      val df = t.pages(snap).select("url", "text")
        .agg(count(lit(1)), expr("bit_xor(xxhash64(url, text))"))
      val (r, secs, id) = op("scan")(df.collect().head)
      val bc = if (traced) broadcastBytes(df) else 0L
      if (record)
        scans += ScanRec(n, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)), secs, traced, id, bc)
    }
    diff.foreach { case (from, to) =>
      val (rows, secs, id) = op("changes") {
        t.changes(from, to).select("change_type", "url", "text").collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      }
      if (record) diffs += DiffRec(from, to, rows, secs, traced, id)
    }
  }

  private def broadcastBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
  }

  /** Expected changes between two versions, from a join of the two
    * versions' `pages`: the check the changes() diff must agree with.
    */
  def expectedDiff(t: LakeTable, from: Long, to: Long): Set[(String, String, String)] = {
    val a = t.pages(t.snapshotAt(from)).select(col("url"), col("text").as("t0"))
    val b = t.pages(t.snapshotAt(to)).select(col("url"), col("text").as("t1"))
    a.join(b, Seq("url"), "full_outer").filter(!(col("t0") <=> col("t1")))
      .select(when(col("t0").isNull, "insert").when(col("t1").isNull, "delete")
        .otherwise("update"), col("url"), coalesce(col("t1"), col("t0")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  /** Check recorded diffs `idx` now, while their versions still exist. */
  def checkDiffs(t: LakeTable, idx: Seq[Int]): Unit = idx.distinct.foreach { i =>
    val d = diffs(i)
    if (expectedDiff(t, d.from, d.to) != d.rows) {
      failed += 1
      System.err.println(s"[perfbench] changes(${d.from}, ${d.to}) disagrees with the pages join")
    }
  }

  // --- the run --------------------------------------------------------------

  def execute(w: Workload): String = {
    val root = tracer.span("run", "bench") {
      val reps = if (args.smoke) 1 else SetupReps
      val setupSecs = mutable.ArrayBuffer.empty[Double]
      val genSecs = mutable.ArrayBuffer.empty[Double]
      var state: w.State = null.asInstanceOf[w.State]
      val warmSecs = tracer.span("setup", "graft.gen") {
        (0 until reps).foreach { r =>
          if (state != null) w.dispose(this, state)
          val t0 = System.nanoTime()
          state = w.setup(this, s"${args.work}/rep$r")
          setupSecs += (System.nanoTime() - t0) / 1e9
          genSecs += w.wal(state).genSeconds
          note(f"setup $r: ${setupSecs.last}%.2f s (gen ${genSecs.last}%.2f s, " +
            s"${w.wal(state).files.size} WAL files)")
        }
        val t0 = System.nanoTime()
        w.warm(this, state)
        val secs = (System.nanoTime() - t0) / 1e9
        note(f"warm-up: $secs%.2f s")
        secs
      }
      var gcSecs = 0.0
      // --seconds buys a fixed number of rounds, sized so that they take
      // about that long on 4 cores: both commits of a comparison then do
      // the same work, and a faster engine finishes it sooner
      val planned = math.max(if (args.trace) 2 else 1,
        if (args.smoke) 1 else math.ceil(args.seconds / w.roundSeconds).toInt)
      var rounds = 0
      /** One timed step; a traced step runs with the job listener attached. */
      def step(label: String, traced: Boolean)(body: => Unit): Unit = {
        roundTraced = traced
        if (traced) spark.sparkContext.addSparkListener(jobs)
        // listener events arrive late: settle them at both edges of the step
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        out.on = true
        val gc0 = Jvm.gcSeconds
        val (e0, s0) = (ingestEvents, ingestSecs)
        val t0 = System.nanoTime()
        span(label, "bench")(body)
        val secs = (System.nanoTime() - t0) / 1e9
        ingestRounds += ((ingestEvents - e0, ingestSecs - s0))
        gcSecs += Jvm.gcSeconds - gc0
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        out.on = false
        // young collections leave old-generation garbage behind, so the
        // live heap is read after a full collection, outside the timing
        peakHeap = math.max(peakHeap, Jvm.liveHeap())
        if (traced) spark.sparkContext.removeSparkListener(jobs)
        note(f"$label${if (traced) " (traced)" else ""}: $secs%.2f s, ${batches.size} batches, " +
          s"${lookups.size} lookups, ${scans.size} scans, ${diffs.size} diffs")
      }
      tracer.span("timed", "bench") {
        while (rounds < planned && w.canRun(this, state)) {
          step(s"round $rounds", args.trace && rounds % 2 == 1)(w.round(this, state))
          w.afterRound(this, state)
          rounds += 1
        }
      }
      note("verify")
      val ok = tracer.span("verify", "bench")(verify(w)(state))
      w.dispose(this, state)
      note("done")
      (setupSecs.toSeq, genSecs.toSeq, gcSecs, ok, w.wal(state).bytes, warmSecs)
    }
    val (setupSecs, genSecs, gcSecs, ok, walBytes, warmSecs) = root
    val attempted = batches.size + lookups.size + scans.size + diffs.size
    val metrics =
      if (!args.trace) endToEnd(median(setupSecs) + warmSecs)
      else perLayer(w, genSecs, walBytes, gcSecs)
    Json.result(ok && failed == 0, math.max(1, attempted), failed, metrics)
  }

  /** The correctness gate: every lookup, the scans and the final table
    * against the WAL oracle. Returns false if the final state diverges.
    */
  private def verify(w: Workload)(st: w.State): Boolean = {
    val wal = w.wal(st)
    val t = w.table(this, st)
    val finalN = wal.published
    // every lookup's answer at the WAL prefix it read
    val hist = Oracle.history(wal, lookups.map(_.url).toSet)
    lookups.foreach { l =>
      val want = Oracle.expect(hist, l.url, l.n).toSeq
      if (l.got != want) {
        failed += 1
        System.err.println(s"[perfbench] lookup ${l.url} at prefix ${l.n}: got ${l.got} want $want")
      }
    }
    // scans: the first and last state read, plus the final table
    val checkedScans = (scans.headOption ++ scans.lastOption).toSeq
    val states = checkedScans.map(_.n) :+ finalN
    val expected = Oracle.sigs(spark, wal, states)
    checkedScans.distinct.foreach { s =>
      if (s.sig != expected(s.n)) {
        failed += 1
        System.err.println(s"[perfbench] scan at prefix ${s.n}: got ${s.sig} want ${expected(s.n)}")
      }
    }
    w.checkFinal(this, st)
    val got = Oracle.sig(t.pages().select("url", "text"))
    val ok = got == expected(finalN)
    if (!ok) System.err.println(s"[perfbench] final table: got $got want ${expected(finalN)}")
    val c = t.compact(maxFilesPerBucket = 1)
    compacted = (c.files.map(_.bytes).sum, got._1)
    val again = Oracle.sig(t.pages().select("url", "text"))
    if (again != got) System.err.println(s"[perfbench] compaction changed the table: $again")
    ok && again == got
  }

  // --- metrics ---------------------------------------------------------------

  private def endToEnd(setupSecs: Double): Seq[(String, Double, String)] = {
    val (cBytes, cRows) = compacted
    val writeAmp =
      (out.bytes.get.toDouble / math.max(1L, ingestEvents)) / (cBytes.toDouble / math.max(1L, cRows))
    Seq(
      ("setup_s", setupSecs, "s"),
      ("apply_eps", median(ingestRounds.filter(_._2 > 0).map(r => r._1 / r._2).toSeq), "events/s"),
      ("batch_s_p50", median(batches.map(_.trigger / 1e3).toSeq), "s"),
      ("lookup_s_p50", median(lookups.map(_.secs).toSeq), "s"),
      ("scan_s_p50", median(scans.map(_.secs).toSeq), "s"),
      ("changes_s_p50", median(diffs.map(_.secs).toSeq), "s"),
      ("write_amp", writeAmp, "ratio"),
      ("peak_heap_mb", peakHeap / 1048576.0, "MB"))
  }

  private def perLayer(w: Workload, genSecs: Seq[Double], walBytes: Long,
      gcSecs: Double): Seq[(String, Double, String)] = {
    val jl = jobs.jobs
    val owner = jobs.stageOwner
    val jobWork: Map[Int, Work] = owner.groupBy(_._2).map { case (j, ss) =>
      j -> ss.keys.map(jobs.work).foldLeft(Work())(_ + _)
    }
    // streaming batches → spans under their stream-query span, with the
    // query's start (before its first batch) and stop (after its last)
    val tb = batches.filter(_.traced).toSeq.sortBy(_.start)
    val queries = tracer.all.filter(_.name == "stream query").map(q => q.id -> q).toMap
    val batchSpan = mutable.Map.empty[(String, Long), Int]
    val applySpans = mutable.ArrayBuffer.empty[Int]
    def maintStart(b: BatchRec): Double = b.probe.map(_._2).getOrElse(b.onBatch)
    def addEnd(b: BatchRec): Double = b.start + b.pre + b.addBatch
    tb.foreach { b =>
      val addStart = b.start + b.pre
      val bs = tracer.add(b.qspan, s"batch ${b.id}", "graft.cdc", b.start, b.start + b.trigger,
        Map("events" -> b.events.toDouble))
      applySpans += tracer.add(bs, "apply", "graft.cdc", addStart, math.max(addStart, b.onBatch))
      b.probe.foreach { case (p0, p1) => tracer.add(bs, "snapshot load", "graft.lake", p0, p1) }
      tracer.add(bs, "maintenance", "graft.lake", maintStart(b), math.max(maintStart(b), addEnd(b)))
      batchSpan((b.query, b.id)) = bs
    }
    val byQuery = tb.groupBy(_.qspan).toSeq.sortBy(_._1)
    val startStop = byQuery.map { case (q, bs) =>
      val qs = queries(q)
      val first = math.max(qs.start, bs.head.start)
      val last = math.min(qs.end, bs.last.start + bs.last.trigger)
      tracer.add(q, "query start", "graft.cdc", qs.start, first)
      tracer.add(q, "query stop", "graft.cdc", last, qs.end)
      (first - qs.start) + (qs.end - last)
    }.sum
    // jobs and their stages, placed by the two attribution rules
    val jobSpan = jl.map { j =>
      val jw = jobWork.getOrElse(j.id, Work())
      j.id -> tracer.add(-1, s"job ${j.id}", "spark", j.start.toDouble, j.end.toDouble,
        Map("task_s" -> jw.taskS, "tasks" -> jw.tasks.toDouble,
          "shuffle_write" -> jw.shuffleWrite.toDouble, "spill" -> jw.spill.toDouble,
          "bytes_written" -> jw.written.toDouble, "bytes_read" -> jw.read.toDouble,
          "records_read" -> jw.recordsRead.toDouble))
    }.toMap
    owner.foreach { case (stage, job) =>
      jobs.stageTime(stage).foreach { case (a, b) =>
        val sw = jobs.work(stage)
        tracer.add(jobSpan(job), s"stage $stage", "spark", a.toDouble, b.toDouble,
          Map("task_s" -> sw.taskS, "tasks" -> sw.tasks.toDouble))
      }
    }
    // inline compactions and expiries: recorded on the micro-batch thread
    val inlineMaint = tracer.all.filter(s => s.parent < 0 && (s.name == "compact" || s.name == "expire"))
      .sortBy(_.start)
    val jobBatch = jl.flatMap(j => j.batch.flatMap(batchSpan.get).map(jobSpan(j.id) -> _)).toMap
    val spans = tracer.place(inlineMaint.map(_.id) ++ jl.map(j => jobSpan(j.id)), jobBatch.get)
    val self = Trace.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def descJobs(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap { k =>
      if (k.name.startsWith("job ")) Seq(k) else descJobs(k.id)
    }
    def work(ids: Seq[Int]): Work = ids.flatMap(descJobs).map(s => jobWork.getOrElse(
      s.name.stripPrefix("job ").toInt, Work())).foldLeft(Work())(_ + _)

    // tracing overhead: traced minus untraced medians of the same workload
    val ub = batches.filterNot(_.traced).map(_.trigger / 1e3).toSeq
    val tbw = tb.map(_.trigger / 1e3)
    val overheadBatch = if (ub.nonEmpty && tbw.nonEmpty) median(tbw) - median(ub) else 0.0
    val ul = lookups.filterNot(_.traced).map(_.secs).toSeq
    val tl = lookups.filter(_.traced).map(_.secs).toSeq
    val overheadLookup = if (ul.nonEmpty && tl.nonEmpty) median(tl) - median(ul) else 0.0
    // coverage: each batch's time accounted for by the query span, Spark's
    // progress, the inline maintenance spans and the batch's jobs, to
    // within the tracing overhead; 5 ms at least, as progress timestamps
    // and durations are whole milliseconds
    val tolMs = math.max(math.abs(overheadBatch) * 1e3, 5.0)
    val uncovered: Seq[(BatchRec, Seq[String])] = byQuery.flatMap { case (q, bs) =>
      val at = bs.map(b => (b.query, b.id)).zipWithIndex.toMap
      val bj = jl.flatMap(j => j.batch.flatMap(at.get).map(i => (i, j.start.toDouble, j.end.toDouble)))
      Coverage.check((queries(q).start, queries(q).end),
        bs.map(b => Coverage.Batch(b.start, b.start + b.trigger, b.onBatch, maintStart(b), addEnd(b))),
        inlineMaint.map(m => (m.start, m.end)), bj, tolMs)
        .map { case (i, why) => (bs(i), why) }
    }

    val nb = math.max(1, tb.size)
    val apIds = applySpans.toSeq
    val applyWork = work(apIds)
    val applyWall = apIds.map(i => byId(i).dur / 1e3).sum
    val compacts = spans.filter(_.name == "compact")
    val compactWork = work(compacts.map(_.id))
    val expires = spans.filter(_.name == "expire")
    val tLook = lookups.filter(_.traced)
    val lookWork = work(tLook.map(_.span).toSeq)
    val tScan = scans.filter(_.traced)
    val scanWork = work(tScan.map(_.span).toSeq)
    val tDiff = diffs.filter(_.traced)
    val diffWork = work(tDiff.map(_.span).toSeq)
    val ns = math.max(1, tScan.size)
    val nl = math.max(1, tLook.size)
    val nd = math.max(1, tDiff.size)
    val written = jobWork.values.map(_.written).sum

    val metrics = Seq(
      ("stream.batches", tb.size.toDouble, "count"),
      ("stream.trigger_overhead_s", tb.map(b => b.trigger - b.addBatch).sum / 1e3, "s"),
      ("stream.offset_s", tb.map(_.offset).sum / 1e3, "s"),
      ("stream.start_stop_s", startStop / 1e3, "s"),
      ("apply.busy_s", applyWall, "s"),
      ("apply.self_s_per_batch", apIds.map(self(_) / 1e3).sum / nb, "s"),
      ("apply.jobs_per_batch", apIds.map(descJobs(_).size).sum.toDouble / nb, "count"),
      ("apply.core_utilization", applyWork.taskS / math.max(1e-9, applyWall * args.cores), "ratio"),
      ("apply.shuffle_bytes_per_event", applyWork.shuffleWrite.toDouble / math.max(1L, tracedEvents), "bytes/event"),
      ("apply.task_s_per_kevent", applyWork.taskS / math.max(1e-9, tracedEvents / 1e3), "s/kevent"),
      ("apply.spill_bytes", applyWork.spill.toDouble, "bytes"),
      ("apply.peak_task_mem_mb", applyWork.peakMem / 1048576.0, "MB"),
      ("lake.bytes_written", written.toDouble, "bytes"),
      ("lake.files_written", (seenFiles -- initialFiles).size.toDouble, "count"),
      ("lake.dv_entries", gauge.dvEntries.toDouble, "count"),
      ("lake.dv_files", gauge.dvFiles.toDouble, "count"),
      ("lake.manifest_files", gauge.manifestFiles.toDouble, "count"),
      ("lake.manifest_bytes", gauge.manifestBytes.toDouble, "bytes"),
      ("lake.snapshot_load_s",
        tb.flatMap(_.probe).map(p => (p._2 - p._1) / 1e3).sum / nb, "s"),
      ("compact.count", compacts.size.toDouble, "count"),
      ("compact.busy_s", compacts.map(_.dur).sum / 1e3, "s"),
      ("compact.shuffle_bytes", compactWork.shuffleWrite.toDouble, "bytes"),
      ("compact.spill_bytes", compactWork.spill.toDouble, "bytes"),
      ("compact.fold_ratio", {
        val in = compacts.map(_.attrs.getOrElse("rows_in", 0.0)).sum
        if (in > 0) compacts.map(_.attrs.getOrElse("rows_out", 0.0)).sum / in else 0.0
      }, "ratio"),
      ("expire.busy_s", expires.map(_.dur).sum / 1e3, "s"),
      ("read.files_per_lookup", tLook.map(_.files).sum.toDouble / nl, "count"),
      ("read.bytes_per_lookup", lookWork.read.toDouble / nl, "bytes"),
      ("read.rows_scanned_per_row_returned",
        lookWork.recordsRead.toDouble / math.max(1, tLook.map(_.got.size).sum), "ratio"),
      ("read.jobs_per_scan", tScan.map(s => descJobs(s.span).size).sum.toDouble / ns, "count"),
      ("read.task_s_per_scan", scanWork.taskS / ns, "s"),
      ("read.shuffle_bytes_per_scan", scanWork.shuffleWrite.toDouble / ns, "bytes"),
      ("read.broadcast_bytes_per_scan", tScan.map(_.broadcast).sum.toDouble / ns, "bytes"),
      ("changes.rows", tDiff.map(_.rows.size).sum.toDouble / nd, "count"),
      ("changes.task_s", diffWork.taskS / nd, "s"),
      ("gen.s", median(genSecs), "s"),
      ("gen.wal_bytes", walBytes.toDouble, "bytes"),
      ("jvm.gc_s", gcSecs, "s"),
      ("trace.overhead_s_per_batch", overheadBatch, "s"),
      ("trace.overhead_s_per_lookup", overheadLookup, "s"),
      ("trace.batches_uncovered", uncovered.size.toDouble, "count"))
    writeTrace(w, spans, self, metrics, uncovered, tolMs)
    metrics
  }

  /** spans.jsonl (one span per line) and layers.txt (the per-layer table
    * and the coverage check) under the run's output directory.
    */
  private def writeTrace(w: Workload, spans: Seq[Span], self: Map[Int, Double],
      metrics: Seq[(String, Double, String)], uncovered: Seq[(BatchRec, Seq[String])],
      tolMs: Double): Unit = {
    new File(args.out).mkdirs()
    val pw = new PrintWriter(new File(args.out, "spans.jsonl"), "UTF-8")
    try spans.sortBy(_.id).foreach(s => pw.println(Trace.json(s, self(s.id)))) finally pw.close()
    val byName = spans.groupBy(s => (s.layer, s.name.takeWhile(c => !c.isDigit).trim))
    val tw = new PrintWriter(new File(args.out, "layers.txt"), "UTF-8")
    try {
      tw.println(s"workload ${w.name} seed ${args.seed}: self time by layer and span name")
      tw.println(f"${"layer"}%-12s ${"span"}%-16s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s")
      byName.toSeq.sortBy(_._1).foreach { case ((layer, name), ss) =>
        tw.println(f"$layer%-12s $name%-16s ${ss.size}%7d ${ss.map(_.dur).sum / 1e3}%10.3f " +
          f"${ss.map(s => self(s.id)).sum / 1e3}%10.3f")
      }
      tw.println(s"coverage check: ${if (uncovered.isEmpty) "ok" else s"${uncovered.size} batches uncovered"} " +
        f"(tolerance $tolMs%.1f ms per batch)")
      uncovered.foreach { case (b, why) => tw.println(s"  batch ${b.id}: ${why.mkString("; ")}") }
      tw.println()
      tw.println("per-layer metrics (traced rounds)")
      metrics.foreach { case (n, v, u) => tw.println(f"$n%-36s ${Json.num(v)}%16s $u") }
    } finally tw.close()
  }
}

object Run {
  /** One timed micro-batch: its progress `durationMs` parts (ms), the
    * `onBatch` callback time and, in traced rounds, the id of its stream
    * query's span (`qspan`, else -1) and the bench's snapshot probe right
    * after the callback.
    */
  final case class BatchRec(query: String, id: Long, qspan: Int, events: Long, start: Double,
      trigger: Double, addBatch: Double, pre: Double, offset: Double,
      onBatch: Double, probe: Option[(Double, Double)], traced: Boolean)
  /** A point lookup of `url` on the table holding the first `n` WAL files. */
  final case class Lookup(url: String, n: Int, got: Seq[String], secs: Double, traced: Boolean,
      span: Int, files: Int)
  final case class ScanRec(n: Int, sig: Oracle.Sig, secs: Double, traced: Boolean, span: Int,
      broadcast: Long)
  final case class DiffRec(from: Long, to: Long, rows: Set[(String, String, String)],
      secs: Double, traced: Boolean, span: Int)

  /** Setups per run; `setup_s` is their median plus the one warm-up. */
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
