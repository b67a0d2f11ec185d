package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcStream
import graft.gen.{ChangeGen, GenConfig}

/** A generated WAL. `ChangeGen.writeWal` writes every segment file into a
  * staging directory; the bench then publishes them, in segment order, into
  * the directory the CDC stream tails. A table state is therefore named by
  * how many files were published when it was read, which is what the
  * oracle recomputes independently.
  */
final class Wal(spark: SparkSession, dir: String, val cfg: GenConfig) {
  val staging = s"$dir/staging"
  val live = s"$dir/wal"

  /** Wall seconds of the generation job. */
  val genSeconds: Double = {
    val t0 = System.nanoTime()
    ChangeGen.writeWal(spark, cfg, staging)
    (System.nanoTime() - t0) / 1e9
  }

  /** Non-empty segment files in arrival order, i.e. sorted by their
    * smallest segment.
    */
  val files: IndexedSeq[String] =
    spark.read.schema(CdcStream.walSchema).parquet(staging)
      .groupBy(Wal.fileName).agg(min("seg"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(f => (f._2, f._1)).map(_._1).toIndexedSeq

  val bytes: Long = files.map(n => new java.io.File(s"$staging/$n").length).sum

  Files.createDirectories(Paths.get(live))
  private var next = 0

  def published: Int = next
  def remaining: Int = files.size - next

  /** Move the next `n` segment files into the tailed directory. */
  def publish(n: Int): Int = {
    val k = math.min(n, remaining)
    (next until next + k).foreach { i =>
      Files.move(Paths.get(s"$staging/${files(i)}"), Paths.get(s"$live/${files(i)}"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    next += k
    k
  }

  /** Every generated event, tagged with its file's publish index `fidx`. */
  def events: DataFrame = {
    import spark.implicits._
    val idx = files.zipWithIndex.toDF("fname", "fidx")
    val paths = files.indices.map { i =>
      if (i < next) s"$live/${files(i)}" else s"$staging/${files(i)}"
    }
    spark.read.schema(CdcStream.walSchema).parquet(paths: _*)
      .withColumn("fname", Wal.fileName)
      .join(broadcast(idx), Seq("fname"))
  }
}

object Wal {
  /** The name of the file a row was read from. */
  def fileName: Column = element_at(split(input_file_name(), "/"), -1)
}

/** The independent last-writer-wins oracle. It recomputes the live table
  * straight from the WAL with a different plan than the engine's: a hash
  * `max_by` over the raw events, no bucketing, no sorted fold, no masks.
  */
object Oracle {

  /** Row count and order-independent content hash of a `(url, text)` table. */
  type Sig = (Long, Long)

  def sig(df: DataFrame): Sig = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(url, text))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def winners(events: DataFrame, keys: Seq[String]): DataFrame =
    events.groupBy((keys :+ "url").map(col): _*)
      .agg(max_by(struct(col("op"), col("text")), struct(col("lsn"), col("wal_part"))).as("w"))
      .filter(col("w.op") =!= "D")
      .select((keys.map(col) :+ col("url")) :+ col("w.text").as("text"): _*)

  /** Signature of the live state after the first `n` published files, for
    * each requested `n`, in one job.
    */
  def sigs(spark: SparkSession, wal: Wal, states: Seq[Int]): Map[Int, Sig] = {
    import spark.implicits._
    val ns = states.distinct.toDF("n")
    val ev = wal.events.crossJoin(broadcast(ns)).filter(col("fidx") < col("n"))
    winners(ev, Seq("n")).groupBy(col("n"))
      .agg(count(lit(1)), expr("bit_xor(xxhash64(url, text))"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      .withDefaultValue((0L, 0L))
  }

  /** For each url, its change events as (lsn, wal_part, op, text, fidx), so
    * the expected point-lookup answer at any state is a local fold.
    */
  def history(wal: Wal, urls: Set[String]): Map[String, Seq[(Long, Int, String, String, Int)]] =
    wal.events.filter(col("url").isin(urls.toSeq: _*))
      .select("url", "lsn", "wal_part", "op", "text", "fidx").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getString(3), r.getString(4), r.getInt(5))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).toSeq }

  /** Expected text of `url` after the first `n` files; None when absent or deleted. */
  def expect(h: Map[String, Seq[(Long, Int, String, String, Int)]], url: String, n: Int): Option[String] =
    h.getOrElse(url, Nil).filter(_._5 < n).maxByOption(e => (e._1, e._2))
      .filter(_._3 != "D").map(_._4)
}
