package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark. One process runs one workload phase and
  * writes its raw samples as JSON; `run.py` turns them into metrics.
  *
  * Arguments are `key=value` pairs:
  *   mode      batch | adhoc | hotpath | digest (of parquet dumps under `dumps`)
  *   out       result file to write
  *   data      directory of the generated input tables
  *   cores     local[N] width
  *   seed      orders requests and generates the stream
  *   seconds   measured window
  *   trace     0 | 1: per-layer listeners, spans, kernel micro-timings
  *   queries   comma-separated SparkEntry query names (batch, adhoc)
  *   sink      parquet | noop (batch)
  *   warm_passes  untimed passes after the digest pass (batch, adhoc)
  *   plus the hot-path parameters read in [[HotPathRun]].
  */
object Harness {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
    def long(k: String, d: Long): Long = kv.get(k).map(_.toLong).getOrElse(d)
    def bool(k: String): Boolean = kv.get(k).contains("1")
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    val spark = session(conf)
    val out = mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val result =
      try conf("mode") match {
        case "batch" => new BatchRun(spark, conf).run()
        case "adhoc" => new AdhocRun(spark, conf).run()
        case "hotpath" => new HotPathRun(spark, conf).run()
        case "digest" => Map("digests" -> conf.list("queries").map { n =>
          n -> Digest.of(spark.read.parquet(s"${conf("dumps")}/$n"))
        }.toMap)
        case m => sys.error(s"unknown mode $m")
      } finally spark.stop()
    out ++= result
    Files.writeString(Paths.get(conf("out")), Json.write(out))
  }

  def session(conf: Conf): SparkSession = {
    val cores = conf.int("cores", Runtime.getRuntime.availableProcessors())
    val partitions = GraftSession.sizedShufflePartitions(GraftSession.dirBytes(conf("data")), cores)
    val spark = GraftSession.builder(s"local[$cores]", partitions)
      .config("spark.local.dir", conf("tmp"))
      .config("spark.sql.warehouse.dir", s"${conf("tmp")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Resets the kernel's peak-RSS mark (VmHWM) to the current RSS, so
    * the value read when the window ends is the window's peak. */
  def resetHwm(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case _: java.io.IOException => () }

  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def nowMs: Double = System.currentTimeMillis().toDouble

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** Seeded permutation of `xs` for round `round`. */
  def order[T](xs: Seq[T], seed: Long, round: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + round).shuffle(xs)

  /** Digest of collected rows, with the columns taken in name order. */
  def digestRows(schema: StructType, rows: Array[Row]): String = {
    val idx = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val sorted = StructType(idx.map(schema.fields(_)))
    Digest.ofRows(sorted, rows.iterator.map(r => Row.fromSeq(idx.map(r.get))))
  }
}

/** The query-list workloads: an untimed digest pass (each result reduced
  * to a digest), `warm_passes` more untimed passes, then timed passes over
  * the list in seeded order until the window is used up. A traced run
  * makes at least three passes, alternating plain and traced.
  */
abstract class QueryRun(spark: SparkSession, conf: Harness.Conf) {
  val dataDir: String = conf("data")
  val seed: Long = conf.long("seed", 1L)
  val seconds: Double = conf("seconds").toDouble
  val traced: Boolean = conf.bool("trace")
  val names: Seq[String] = conf.list("queries")
  val fns: Map[String, (SparkSession, String) => DataFrame] = {
    val all = SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n"))).toMap
  }
  val collector = new Collector(spark, traced)
  val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
  val digests = mutable.LinkedHashMap.empty[String, String]

  /** Runs query `n` once and returns its result digest. */
  def digestOnce(n: String): String

  /** The timed operation on a built DataFrame. Returns an untimed check of
    * what it produced, run after the timer stops. */
  def serve(n: String, df: DataFrame): () => Boolean

  def fail(op: String, e: Throwable): Unit =
    errors += Map("op" -> op, "error" -> Harness.errorText(e))

  private def passOver(round: Int)(op: String => Unit): Unit =
    Harness.order(names, seed, round).foreach { n =>
      try op(n) catch { case e: Throwable => fail(s"pass$round:$n", e) }
    }

  def run(): Map[String, Any] = {
    val setupParts = mutable.ArrayBuffer(Harness.nowMs)
    passOver(0)(n => digests(n) = digestOnce(n))
    setupParts += Harness.nowMs
    (1 to conf.int("warm_passes", 0)).foreach { w =>
      passOver(-w)(n => serve(n, fns(n)(spark, dataDir)))
      setupParts += Harness.nowMs
    }
    val readyMs = Harness.nowMs

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rows0 = collector.inputRows
    Harness.resetHwm()
    val t0 = System.nanoTime()
    var p = 0
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    // another pass starts while it is expected to end within half a pass
    // of the window
    while (p < (if (traced) 3 else 1) || elapsed + lastPass / 2 <= seconds) {
      p += 1
      val tracedPass = traced && p % 2 == 0
      collector.enabled = !traced || tracedPass
      val passStart = Harness.nowMs
      val ps = System.nanoTime()
      val qs = Harness.order(names, seed, p).map { n =>
        val startMs = Harness.nowMs
        val q0 = System.nanoTime()
        var c1 = q0
        var dfAnalysisMs = 0.0
        var check: () => Boolean = () => false
        try {
          val df = collector.tagged(s"$p/$n/construct")(fns(n)(spark, dataDir))
          c1 = System.nanoTime()
          if (tracedPass) dfAnalysisMs = Layers.analysisMs(df)
          check = collector.tagged(s"$p/$n/write")(serve(n, df))
        } catch { case e: Throwable => fail(s"pass$p:$n", e) }
        val q1 = System.nanoTime()
        val ok = check()
        Map("name" -> n, "ok" -> ok, "start_ms" -> startMs,
          "construct_ms" -> (c1 - q0) / 1e6, "wall_ms" -> (q1 - q0) / 1e6,
          "df_analysis_ms" -> dfAnalysisMs)
      }
      lastPass = (System.nanoTime() - ps) / 1e9
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> lastPass, "queries" -> qs)
      if (tracedPass) {
        val (l, s) = Layers.batchPass(collector, p, passStart, qs)
        layers ++= l; spans ++= s
      }
    }
    val hwm = Harness.vmHwmKb()
    collector.enabled = true
    finish(Map("ready_ms" -> readyMs, "setup_marks_ms" -> setupParts.toSeq, "passes" -> passes, "window_hwm_kb" -> hwm,
      "timed_input_rows" -> (collector.inputRows - rows0), "layers" -> layers, "spans" -> spans))
  }

  private def finish(extra: Map[String, Any]): Map[String, Any] = {
    val kern = if (traced) Map("kernels" -> Kernels.time(spark, dataDir, None)) else Map.empty
    Map("errors" -> errors.toSeq, "digests" -> digests) ++ kern ++ extra
  }
}

/** etl_market / etl_corpus: each result is written to the workload's sink.
  * The timed passes are checked through the digest pass before them. */
final class BatchRun(spark: SparkSession, conf: Harness.Conf) extends QueryRun(spark, conf) {
  private val sink = conf("sink")
  private val sinkDir = s"${conf("tmp")}/sink"
  private val done = () => true

  def serve(n: String, df: DataFrame): () => Boolean = {
    sink match {
      case "parquet" => df.write.mode("overwrite").parquet(s"$sinkDir/$n")
      case "noop" => df.write.format("noop").mode("overwrite").save()
    }
    done
  }

  def digestOnce(n: String): String = {
    val df = fns(n)(spark, dataDir)
    sink match {
      case "parquet" => serve(n, df); Digest.of(spark.read.parquet(s"$sinkDir/$n"))
      case _ => Digest.of(df)
    }
  }
}

/** curated_adhoc: one client collects each view; what it received is
  * digested after the timer stops and must match the digest pass. */
final class AdhocRun(spark: SparkSession, conf: Harness.Conf) extends QueryRun(spark, conf) {
  def digestOnce(n: String): String = {
    val df = fns(n)(spark, dataDir)
    Harness.digestRows(df.schema, df.collect())
  }

  def serve(n: String, df: DataFrame): () => Boolean = {
    val rows = df.collect()
    () => {
      val ok = digests.get(n).contains(Harness.digestRows(df.schema, rows))
      if (!ok) errors += Map("op" -> s"request:$n", "error" -> "digest mismatch")
      ok
    }
  }
}
