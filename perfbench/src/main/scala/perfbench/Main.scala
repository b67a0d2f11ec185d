package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of the end-to-end CDC benchmark. `run.py` builds this package
  * and launches it with plain `java`:
  *
  * {{{
  *   perfbench.Main --workload catchup_l0 --seed 7 --seconds 12 --trace 0 \
  *     --work <scratch dir> --out <trace output dir> [--smoke]
  *   perfbench.Main --selfcheck
  * }}}
  *
  * The last line on stdout is the result object that `run.py` relays.
  * `--selfcheck` instead feeds the traced run's coverage check a covered
  * case and faulty ones, and exits non-zero unless it flags exactly the
  * faulty batches.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, smoke: Boolean, cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(
      workload = need("--workload"),
      seed = need("--seed").toLong,
      seconds = need("--seconds").toDouble,
      trace = need("--trace") == "1",
      work = need("--work"),
      out = need("--out"),
      smoke = argv.contains("--smoke"),
      cores = kv.get("--cores").map(_.toInt).getOrElse(4))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs [[Coverage.selfCheck]]; false unless each case flags exactly the
    * batches it should.
    */
  def selfCheck(): Boolean = Coverage.selfCheck().map { case (name, got, want) =>
    val ok = got.map(_._1) == want
    println(s"coverage check, $name: ${if (got.isEmpty) "no batch flagged" else
      got.map { case (i, why) => s"batch $i flagged (${why.mkString("; ")})" }.mkString(", ")}" +
      (if (ok) "" else s" -- expected ${if (want.isEmpty) "none" else want.mkString("batch ", ", ", "")}"))
    ok
  }.forall(identity)

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Seq("--selfcheck"))) sys.exit(if (selfCheck()) 0 else 1)
    val a = parse(argv)
    val workload = Workloads.byName.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${a.workload}' (known: ${Workloads.byName.keys.mkString(", ")})"))
    new File(a.work).mkdirs()
    val spark = session(a)
    val result =
      try new Run(spark, a).execute(workload)
      finally spark.stop()
    println(result)
  }
}
