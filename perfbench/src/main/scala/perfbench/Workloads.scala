package perfbench

import org.apache.spark.sql.functions._

import graft.gen.GenConfig
import graft.lake.LakeTable

/** The seeded urls a read client asks for, taken from the generated WAL's
  * events: hot pages (the 64 with the most changes), cold pages (any url of
  * the WAL, uniformly) and pages that some event deleted.
  */
final class UrlMix(r: Run, wal: Wal) {
  private val (hot, all, deleted) = {
    val urls = wal.events.groupBy("url")
      .agg(count(lit(1)), max(when(col("op") === "D", 1).otherwise(0)))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getInt(2))).sortBy(_._1)
    (urls.sortBy(u => (-u._2, u._1)).take(64).map(_._1), urls.map(_._1),
      urls.filter(_._3 == 1).map(_._1))
  }

  def next(): String = {
    val u = r.rng.nextDouble()
    if (u < 0.4) hot(r.rng.nextInt(hot.length))
    else if (u < 0.8) all(r.rng.nextInt(all.length))
    else deleted(r.rng.nextInt(deleted.length))
  }
}

/** Gauges of a table's layout, read at the end of the last traced round. */
final case class Gauge(dvEntries: Long = 0, dvFiles: Long = 0, manifestFiles: Long = 0,
    manifestBytes: Long = 0)

object Gauge {
  def of(t: LakeTable): Gauge = {
    val snap = t.currentSnapshot
    val mf = Option(new java.io.File(t.root, "manifests").listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    Gauge(snap.map(_.dvFiles.map(_.rows).sum).getOrElse(0L), snap.map(_.dvFiles.size.toLong).getOrElse(0L),
      mf.length.toLong, mf.map(_.length).sum)
  }
}

/** One benchmark workload: how it sets up, what one timed round does, and
  * what it hands to the correctness gate.
  */
trait Workload {
  type State
  def name: String
  /** About how long one round takes on 4 cores; `--seconds` ÷ this is the
    * number of rounds a run makes.
    */
  def roundSeconds: Double
  /** Generate the WAL; repeated per run, `setup_s` takes the median. */
  def setup(r: Run, dir: String): State
  /** Build the starting table and warm the JIT and codegen, once, on the
    * last setup's WAL; its time is added to `setup_s`.
    */
  def warm(r: Run, s: State): Unit
  def wal(s: State): Wal
  def table(r: Run, s: State): LakeTable
  def canRun(r: Run, s: State): Boolean = true
  def round(r: Run, s: State): Unit
  /** Untimed checks after each round. */
  def afterRound(r: Run, s: State): Unit = ()
  /** Untimed checks before the final-state check. */
  def checkFinal(r: Run, s: State): Unit = ()
  def dispose(r: Run, s: State): Unit
}

/** Size of a workload's generated WAL. */
final case class Shape(events: Long, segmentSize: Long)

object Workloads {
  val byName: Map[String, Workload] =
    Seq(CatchupL0, ServeDv).map(w => w.name -> w).toMap

  def gen(r: Run, dir: String, shape: Shape): Wal =
    new Wal(r.spark, dir, GenConfig(events = shape.events, segmentSize = shape.segmentSize,
      seed = r.args.seed))

  /** A single-version base table from the first `files` WAL files: L0
    * appends, then one full compaction. The stream's checkpoint carries on
    * from there.
    */
  def base(r: Run, lake: Lake, files: Int): Unit = {
    lake.wal.publish(files)
    val t = r.table(lake.tableRoot, traced = false)
    r.drain(lake, t, "l0", filesPerTrigger = files, timed = false)
    t.compact(maxFilesPerBucket = 1)
    ()
  }
}

/** Catch-up: a fresh table drains the whole WAL in large L0 micro-batches
  * with inline auto-compaction and expiry, then one full compaction makes it
  * single-version, then a short read probe. Each round is one catch-up.
  */
object CatchupL0 extends Workload {
  final class State(val wal: Wal, val dir: String, r: Run) {
    /** Built on first use, in the warm-up, which setup_s counts once. */
    lazy val urls = new UrlMix(r, wal)
    var round = 0
    var lake: Lake = _
  }
  val name = "catchup_l0"
  val roundSeconds = 6.0
  val full = Shape(events = 80000, segmentSize = 2000)
  val smoke = Shape(events = 20000, segmentSize = 512)
  /** Three micro-batches of about 27k events; each writes about five L0
    * files, so inline auto-compaction above six fires once, after the second.
    */
  val FilesPerTrigger = 14
  val AutoCompact = 6
  val ExpireKeep = 4
  val WarmCatchups = 1

  def setup(r: Run, dir: String): State = {
    val wal = Workloads.gen(r, s"$dir/gen", if (r.args.smoke) smoke else full)
    new State(wal, dir, r)
  }

  /** Untimed catch-ups, each read back. After one, the first timed round
    * can still run 10–30% slower than the later ones; a second would cost
    * 7–9 s of every run's budget. apply_eps is a median over rounds and the
    * other timings are medians over all rounds' samples, so a slow first
    * round moves them little.
    */
  def warm(r: Run, s: State): Unit = {
    s.wal.publish(s.wal.remaining)
    (0 until WarmCatchups).foreach { i =>
      val lake = new Lake(s"${s.dir}/warm$i", s.wal)
      val t = r.table(lake.tableRoot, traced = false)
      r.drain(lake, t, "l0", FilesPerTrigger, AutoCompact, ExpireKeep, timed = false)
      t.compact(maxFilesPerBucket = 1)
      r.probe(t, s.wal.published, s.urls.next(), 2, 1, lastBatch(r), record = false)
      r.rm(lake.root); r.rm(lake.ckpt)
    }
  }
  def wal(s: State): Wal = s.wal
  def table(r: Run, s: State): LakeTable = r.table(s.lake.tableRoot, traced = false)

  /** The last micro-batch's change: its version against the one before.
    * Expiry keeps 4 snapshots, so both still exist.
    */
  private def lastBatch(r: Run): Option[(Long, Long)] =
    r.lastVersions.takeRight(2) match {
      case Seq(a, b) => Some((a, b))
      case _ => None
    }

  def round(r: Run, s: State): Unit = {
    if (s.lake != null) { r.rm(s.lake.root); r.rm(s.lake.ckpt) }
    s.lake = new Lake(s"${s.dir}/lake${s.round}", s.wal)
    s.round += 1
    val t = r.table(s.lake.tableRoot, r.roundTraced)
    val t0 = System.nanoTime()
    r.span("ingest", "graft.cdc") {
      r.drain(s.lake, t, "l0", FilesPerTrigger, AutoCompact, ExpireKeep)
      t.compact(maxFilesPerBucket = 1)
    }
    r.ingestSecs += (System.nanoTime() - t0) / 1e9
    if (r.roundTraced) t.currentSnapshot.foreach(r.noteFiles)
    r.probe(t, s.wal.published, s.urls.next(), 20, 6, lastBatch(r))
    if (r.roundTraced) r.gauge = Gauge.of(t)
  }

  /** The first diff is checked while its table exists; the last one with
    * the final table.
    */
  override def afterRound(r: Run, s: State): Unit =
    if (s.round == 1) r.checkDiffs(table(r, s), Seq(r.diffs.size - 1))

  override def checkFinal(r: Run, s: State): Unit =
    if (s.round > 1) r.checkDiffs(table(r, s), Seq(r.diffs.size - 1))

  def dispose(r: Run, s: State): Unit = r.rm(s.dir)
}

/** Serve: one read client on a deletion-vector-masked table. Setup builds a
  * single-version base from half the WAL and masks it with a few dv
  * micro-batches; each timed round reads (point lookups, a full-scan
  * aggregate, a changes diff) and then applies one more small dv batch, so
  * the mask grows while the client reads.
  */
object ServeDv extends Workload {
  final class State(val lake: Lake, val dir: String, r: Run) {
    /** Built on first use, in the warm-up, which setup_s counts once. */
    lazy val urls = new UrlMix(r, lake.wal)
  }
  val name = "serve_dv"
  val roundSeconds = 6.0
  val full = Shape(events = 60000, segmentSize = 2000)
  val smoke = Shape(events = 12000, segmentSize = 200)
  /** Share of the WAL files in the base table. */
  val BaseShare = 0.5
  /** dv batches applied during warm-up, so the table starts masked. */
  val WarmBatches = 1
  val LookupsPerRound = 12
  val ScansPerRound = 4
  val BatchesPerRound = 1

  def setup(r: Run, dir: String): State = {
    val wal = Workloads.gen(r, s"$dir/gen", if (r.args.smoke) smoke else full)
    new State(new Lake(s"$dir/lake", wal), dir, r)
  }

  /** The base table, the first dv batches and a read probe. */
  def warm(r: Run, s: State): Unit = {
    Workloads.base(r, s.lake, (s.lake.wal.files.size * BaseShare).toInt)
    val t = table(r, s)
    (0 until WarmBatches).foreach { _ =>
      s.lake.wal.publish(1)
      r.drain(s.lake, t, "dv", 1, timed = false)
    }
    val head = t.headVersion.get
    r.probe(t, s.lake.wal.published, s.urls.next(), 2, 1, Some((head - 1, head)), record = false)
  }

  def wal(s: State): Wal = s.lake.wal
  def table(r: Run, s: State): LakeTable = r.table(s.lake.tableRoot, traced = false)
  override def canRun(r: Run, s: State): Boolean = s.lake.wal.remaining >= BatchesPerRound

  def round(r: Run, s: State): Unit = {
    val t = r.table(s.lake.tableRoot, r.roundTraced)
    r.startTracking(t)
    val head = t.headVersion.get
    r.probe(t, s.lake.wal.published, s.urls.next(), LookupsPerRound, ScansPerRound,
      Some((head - 1, head)))
    (0 until BatchesPerRound).foreach { _ =>
      s.lake.wal.publish(1)
      val (_, secs) = r.drain(s.lake, t, "dv", 1)
      r.ingestSecs += secs
    }
    if (r.roundTraced) r.gauge = Gauge.of(t)
  }

  /** The first and last diff of the run, while their versions exist. */
  override def checkFinal(r: Run, s: State): Unit =
    r.checkDiffs(table(r, s), Seq(0, r.diffs.size - 1).filter(i => i >= 0 && i < r.diffs.size))

  def dispose(r: Run, s: State): Unit = r.rm(s.dir)
}
