package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds, the clock Spark's own
  * job and progress events use, so bench spans and Spark jobs line up.
  * `parent` is -1 for a root, or for a span whose parent is assigned later
  * by time containment (see [[Tracer.place]]).
  */
final case class Span(id: Int, var parent: Int, name: String, layer: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Task metrics summed over a set of tasks. */
final case class Work(tasks: Long = 0, taskS: Double = 0, shuffleWrite: Long = 0,
    spill: Long = 0, peakMem: Long = 0, written: Long = 0, read: Long = 0,
    recordsRead: Long = 0) {
  def +(o: Work): Work = Work(tasks + o.tasks, taskS + o.taskS, shuffleWrite + o.shuffleWrite,
    spill + o.spill, math.max(peakMem, o.peakMem), written + o.written, read + o.read,
    recordsRead + o.recordsRead)
}

/** A Spark job as the listener saw it. `batch` is the streaming query id and
  * micro-batch id from the job's local properties, when it has them.
  */
final case class Job(id: Int, start: Long, end: Long, stages: Seq[Int],
    batch: Option[(String, Long)])

/** Records Spark jobs, stages and task metrics while attached. */
final class JobListener extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageWork = new ConcurrentHashMap[Int, Work]()
  private val stageTimes = new ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.put(e.jobId, e); () }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobEnds.put(e.jobId, e.time); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageTimes.put(i.stageId, (a, b))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = Work(1, m.executorRunTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.peakExecutionMemory, m.outputMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      stageWork.merge(e.stageId, w, (a: Work, b: Work) => a + b); ()
    }
  }

  def jobs: Seq[Job] = jobStarts.asScala.values.toSeq.sortBy(_.jobId).map { s =>
    val p = Option(s.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val batch = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
      yield (q, b.toLong)
    Job(s.jobId, s.time, Option(jobEnds.get(s.jobId)).map(_.longValue).getOrElse(s.time),
      s.stageIds, batch)
  }

  /** Each stage belongs to the first job that lists it (later jobs skip it). */
  def stageOwner: Map[Int, Int] =
    jobs.flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }

  def work(stage: Int): Work = Option(stageWork.get(stage)).getOrElse(Work())
  def stageTime(stage: Int): Option[(Long, Long)] = Option(stageTimes.get(stage))
}

/** Bench-side spans around the calls into each layer, plus the Spark jobs
  * and stages under them. Spans live in memory and are written when the run
  * ends.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def now: Double = System.currentTimeMillis().toDouble

  def add(parent: Int, name: String, layer: String, start: Double, end: Double,
      attrs: Map[String, Double] = Map.empty): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, layer, start, end, attrs)
    id
  }

  /** A span around `body`, nested under the innermost open span of the
    * bench thread. `floating` spans are recorded on other threads (the
    * stream's micro-batch thread) and get their parent by time later.
    */
  def span[T](name: String, layer: String, floating: Boolean = false)(body: => T): T =
    spanId(name, layer, floating)(_ => body)

  /** As [[span]], handing `body` the new span's id. */
  def spanId[T](name: String, layer: String, floating: Boolean = false)(body: Int => T): T = {
    val t0 = now
    val (id, slot, parent) = synchronized {
      val id = nextId; nextId += 1; spans += null
      val parent = if (floating || open.isEmpty) -1 else open.top
      if (!floating) open.push(id)
      (id, spans.size - 1, parent)
    }
    try body(id)
    finally synchronized {
      if (!floating) open.pop()
      spans(slot) = Span(id, parent, name, layer, t0, now)
    }
  }

  /** Replace the attributes of a finished span. */
  def annotate(id: Int, attrs: Map[String, Double]): Unit = synchronized {
    val i = spans.indexWhere(s => s != null && s.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = attrs)
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Give each span in `order` a parent: the deepest placed bench span
    * (never a Spark job or stage) that contains its start. `order` lists
    * them parents-first; `confine` optionally limits a span to one subtree
    * (a job carrying a micro-batch id goes under that batch).
    */
  def place(order: Seq[Int], confine: Int => Option[Int]): Seq[Span] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    val depth = mutable.Map.empty[Int, Int]
    def dep(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(dep).getOrElse(0))
    def within(s: Span, root: Int): Boolean =
      s.id == root || (s.parent >= 0 && byId.get(s.parent).exists(within(_, root)))
    val pending = order.toSet
    val placed = mutable.ArrayBuffer.from(ss.filterNot(s => pending.contains(s.id)))
    order.flatMap(byId.get).foreach { f =>
      val cands = placed.filter(c => c.layer != "spark" && c.start - 1 <= f.start &&
        f.start <= c.end + 1 && confine(f.id).forall(b => within(c, b)))
      if (cands.nonEmpty) f.parent = cands.maxBy(c => (dep(c), c.start)).id
      placed += f
    }
    ss
  }
}

object Trace {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, ivs: Seq[(Double, Double)]): Double = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    cl.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(s.start, s.end, kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))))
    }.toMap
  }

  def json(s: Span, self: Double): String = {
    def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val attrs = s.attrs.map { case (k, v) => s""""${esc(k)}":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","layer":"${esc(s.layer)}",""" +
      s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"self_ms":${Json.num(self)},""" +
      s""""attrs":{$attrs}}"""
  }
}

/** The per-batch coverage check of a traced run. Its inputs come from three
  * clocks that do not derive from each other: the bench's span around each
  * stream query, Spark's progress report of each micro-batch (start and
  * `durationMs`), and the spans that the traced table records around the
  * compactions and expiries the engine runs inline. Spark jobs come from the
  * listener. A batch is uncovered when its time is not accounted for:
  *   - a gap between it and the previous batch of its query, or a batch
  *     outside its query;
  *   - maintenance time (after `onBatch`, up to the end of `addBatch`) that
  *     no compact or expire call covers, or such a call outside that window;
  *   - a Spark job of the batch outside the batch, or an apply job (one that
  *     started before `onBatch`) still running after it.
  * Times are epoch milliseconds.
  */
object Coverage {

  /** One micro-batch: its wall, the `onBatch` callback, and its maintenance
    * window `[maintStart, addEnd]`.
    */
  final case class Batch(start: Double, end: Double, onBatch: Double, maintStart: Double,
      addEnd: Double)

  /** The reasons each uncovered batch fails, by its index in `batches`
    * (sorted by start); empty when every batch is covered. `maint` are the
    * inline compact/expire spans, `jobs` the (batch index, start, end) of the
    * Spark jobs that carry a batch id.
    */
  def check(query: (Double, Double), batches: Seq[Batch], maint: Seq[(Double, Double)],
      jobs: Seq[(Int, Double, Double)], tolMs: Double): Seq[(Int, Seq[String])] = {
    def ms(x: Double) = f"$x%.1f ms"
    batches.indices.map { i =>
      val b = batches(i)
      val why = Seq.newBuilder[String]
      if (i > 0 && b.start - batches(i - 1).end > tolMs)
        why += s"${ms(b.start - batches(i - 1).end)} gap after the previous batch"
      if (b.start < query._1 - tolMs || b.end > query._2 + tolMs)
        why += "outside its stream query"
      val own = maint.filter(m => m._1 >= b.start && m._1 < b.end)
      if (own.exists(m => m._1 < b.maintStart - tolMs || m._2 > b.addEnd + tolMs))
        why += "a compact or expire call outside the maintenance window"
      val hole = math.max(0.0, b.addEnd - b.maintStart) - Trace.covered(b.maintStart, b.addEnd, own)
      if (hole > tolMs) why += s"${ms(hole)} of maintenance under no compact or expire call"
      jobs.filter(_._1 == i).foreach { case (_, s, e) =>
        if (s < b.start - tolMs || e > b.end + tolMs) why += "a Spark job outside the batch"
        else if (s < b.onBatch && e > b.onBatch + tolMs) why += "an apply job running past onBatch"
      }
      i -> why.result()
    }.filter(_._2.nonEmpty)
  }

  /** Feeds the check a covered query and three faulty ones, and reports
    * whether it flags exactly the faulty batches: (name, flagged, expected).
    */
  def selfCheck(): Seq[(String, Seq[(Int, Seq[String])], Seq[Int])] = {
    val tol = 5.0
    // two batches back to back; the second compacts and expires after onBatch
    val a = Batch(1000, 1500, 1400, 1402, 1403)
    val b = Batch(1502, 2600, 1900, 1903, 2580)
    val maint = Seq((1904.0, 2400.0), (2401.0, 2579.0))
    val jobs = Seq((0, 1010.0, 1390.0), (1, 1510.0, 1890.0), (1, 1905.0, 2300.0))
    val q = (950.0, 2650.0)
    Seq(
      ("covered", check(q, Seq(a, b), maint, jobs, tol), Nil),
      ("50 ms gap between batches",
        check(q, Seq(a.copy(end = 1452), b), maint, jobs, tol), Seq(1)),
      ("a 40 ms hole in maintenance",
        check(q, Seq(a, b), Seq((1904.0, 2400.0), (2441.0, 2579.0)), jobs, tol), Seq(1)),
      ("apply job past onBatch",
        check(q, Seq(a, b), maint, jobs :+ ((0, 1200.0, 1450.0)), tol), Seq(0)))
  }
}
