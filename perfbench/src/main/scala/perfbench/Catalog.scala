package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Declared catalog queries (`SparkEntry.queries`) over the generated
  * tables. The tables are the benchmark's fixed corpus (`gen.py` at the
  * seed and scale `run.py` fixes); the run's seed sets the order the
  * queries run in, a new order every pass. Each result is checked against
  * the row count and digest recorded in `perfbench/expected/catalog.tsv`. */
final class Catalog(spark: SparkSession, seed: Long, names: Seq[String],
                    expected: Map[String, (Long, String)]) extends Workload {

  private val fns = graft.SparkEntry.queries.map { case (k, fn) => k.takeWhile(_ != '_') -> (k, fn) }
  private val queries = names.map(n => n -> fns.getOrElse(n,
    throw new IllegalArgumentException(s"no declared query $n")))

  def inputSize: Long = names.size

  private var dir: String = _

  /** The tables are the input; nothing else to make. */
  def prepare(tables: String, work: String): Unit = dir = tables

  def pass(traced: Boolean): PassOutcome = {
    val order = new scala.util.Random(seed * 1000003L + Trace.pass).shuffle(queries)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    order.foreach { case (short, (full, fn)) =>
      try {
        val df = Trace.span(spark, s"build:$short", "rel") { fn(spark, dir) }
        if (traced) Trace.span(spark, s"plan:$short", "plans") { df.queryExecution.executedPlan }
        val rows = Trace.span(spark, s"exec:$short", "spark") { df.collect() }
        val got = (rows.length.toLong, Catalog.digest(rows))
        if (!expected.get(full).contains(got))
          problems += s"$full: ${got._1} rows, digest ${got._2.take(12)}, recorded ${expected.get(full)
            .map(e => s"${e._1} rows, digest ${e._2.take(12)}").getOrElse("nothing")}"
      } catch {
        case scala.util.control.NonFatal(e) => problems += s"$full: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (traced) Main.offPass(spark) {
      graft.Graft.tableNames.foreach(t => Trace.span(spark, s"load:$t", "rel") { graft.rel.Tables.load(spark, dir, t) })
    }
    PassOutcome(wall, names.size, problems.size, problems.toSeq, Map.empty)
  }
}

object Catalog {
  /** Iterative operators, whose time is job count times driver gap:
    * k-means (q124) and NN-descent (q171). */
  val loops: Seq[String] = Seq("q124", "q171")

  /** Queries whose cost is mostly per-query fixed cost (schema inference
    * in `Tables.load`, Catalyst planning, job launch): every nineteenth of
    * the 114 declared queries under 0.5 s in the program's sf0.1 bench
    * (`BENCH_r17_c8.json`), by number, leaving out those that read
    * fixtures by absolute path (q40, q41, q46, q59, q73). */
  val short: Seq[String] = Seq("q01", "q22", "q52", "q78", "q108", "q138")

  val queries: Seq[String] = loops ++ short

  /** Canonical text of a value: bytes by digest, maps sorted, floating
    * point by `toString` (timestamps need `-Duser.timezone=UTC`). */
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => "0x" + hex(MessageDigest.getInstance("SHA-256").digest(b))
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Order-insensitive digest of a result. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s =>
      md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    hex(md.digest())
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> (rows.toLong, digest)
    }.toMap finally src.close()
  }

  /** Run every named query once and write `name, rows, digest` lines, plus
    * each result as parquet under `outDir` for the oracle comparison. */
  def record(spark: SparkSession, dir: String, names: Seq[String], tsv: String, outDir: String): Unit = {
    val fns = graft.SparkEntry.queries.map { case (k, fn) => k.takeWhile(_ != '_') -> (k, fn) }
    val lines = names.sortBy(_.drop(1).toInt).map { n =>
      val (full, fn) = fns(n)
      val df: DataFrame = fn(spark, dir)
      val rows = df.collect()
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$full")
      s"$full\t${rows.length}\t${digest(rows)}"
    }
    val w = new java.io.PrintWriter(tsv, "UTF-8")
    try {
      w.println("# query\trows\tsha256 of the sorted canonical rows")
      lines.foreach(w.println)
    } finally w.close()
  }
}
