package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Sbe, TextFunctions, TextKernels, VectorKernels}

/** Turns one traced pass's listener records into per-query layer rows and
  * a span tree: query -> {construct, analysis, optimization, planning,
  * execute} -> job -> stage.
  */
object Layers {
  private val Phases = Seq("analysis", "optimization", "planning")

  /** The analysis phase of the DataFrame `fn(spark, dir)` returned. It ran
    * inside construct, when the Dataset was created. */
  def analysisMs(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)

  def batchPass(
      c: Collector, pass: Int, passStartMs: Double,
      qs: Seq[Map[String, Any]]): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = c.snapshot {
    var nextId = pass.toLong * 1000000L
    def id(): Long = { nextId += 1; nextId }
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passId = id()
    val rows = qs.map { q =>
      val n = q("name").toString
      val startMs = q("start_ms").asInstanceOf[Double]
      val constructMs = q("construct_ms").asInstanceOf[Double]
      val wallMs = q("wall_ms").asInstanceOf[Double]
      val writeStartMs = startMs + constructMs
      val cTag = s"$pass/$n/construct"
      val wTag = s"$pass/$n/write"
      // the sink action's QueryExecution: its phases that ran after the
      // sink call began (analysis of the DataFrame itself ran in construct)
      val sinkQe = c.qeEvents.filter(_._1 == wTag).lastOption
      val phaseMs = Phases.map { ph =>
        ph -> sinkQe.flatMap(_._3.get(ph)).filter(_._1 >= writeStartMs.toLong - 1)
          .map { case (s, e) => (s, e) }
      }.toMap
      val execMs = sinkQe.map(_._4 / 1e6).filter(_ >= 0).getOrElse(0.0)
      // construct already holds the DataFrame's own analysis, and phases
      // that ran lazily inside the execution (a collect plans there) are
      // part of execute
      val execStartMs = startMs + wallMs - execMs
      val phaseSum = phaseMs.values.flatten.collect {
        case (s, e) if e <= execStartMs + 1 => (e - s).toDouble
      }.sum
      val parts = constructMs + phaseSum + execMs
      val dfAnalysisMs = q.get("df_analysis_ms").map(_.asInstanceOf[Double]).getOrElse(0.0)
      val exec = new ExecSums
      c.byTag.get(cTag).foreach(exec += _)
      c.byTag.get(wTag).foreach(exec += _)
      val eager = c.byTag.get(cTag).map(_.jobs).getOrElse(0L)
      val eagerMs = c.jobSpans.filter(_._1 == cTag).map(j => (j._4 - j._3).toDouble).sum
      val writeJobsMs = c.jobSpans.filter(_._1 == wTag).map(j => (j._4 - j._3).toDouble).sum

      val qid = id()
      spans += Span(qid, passId, "query", n, startMs, startMs + wallMs).toMap
      spans += Span(id(), qid, "construct", n, startMs, writeStartMs,
        Map("eager_jobs" -> eager)).toMap
      phaseMs.foreach { case (ph, v) =>
        v.foreach { case (s, e) => spans += Span(id(), qid, ph, n, s.toDouble, e.toDouble).toMap }
      }
      val endMs = startMs + wallMs
      val execId = id()
      spans += Span(execId, qid, "execute", n, endMs - execMs, endMs).toMap
      c.jobSpans.filter(j => j._1 == cTag || j._1 == wTag).foreach { case (_, job, s, e, stages) =>
        val jid = id()
        spans += Span(jid, if (job >= 0 && s < writeStartMs) qid else execId, "job",
          s"job $job", s.toDouble, e.toDouble).toMap
        c.stageSpans.filter(st => stages.contains(st._1)).foreach { case (sid, sn, ss, se, nt) =>
          spans += Span(id(), jid, "stage", s"stage $sid", ss.toDouble, se.toDouble,
            Map("tasks" -> nt, "name" -> sn)).toMap
        }
      }
      Map[String, Any](
        "pass" -> pass, "name" -> n, "wall_s" -> wallMs / 1e3,
        "construct_s" -> constructMs / 1e3, "eager_jobs" -> eager,
        "eager_job_s" -> eagerMs / 1e3, "write_job_s" -> writeJobsMs / 1e3,
        "analysis_s" -> (dfAnalysisMs + phaseMs("analysis").map(p => (p._2 - p._1).toDouble).getOrElse(0.0)) / 1e3,
        "df_analysis_s" -> dfAnalysisMs / 1e3,
        "optimization_s" -> phaseMs("optimization").map(p => (p._2 - p._1) / 1e3).getOrElse(0.0),
        "planning_s" -> phaseMs("planning").map(p => (p._2 - p._1) / 1e3).getOrElse(0.0),
        "execute_s" -> execMs / 1e3,
        "reconcile_err" -> (if (wallMs > 0) math.abs(parts - wallMs) / wallMs else 0.0),
        "exec" -> exec.toMap)
    }
    val endMs = qs.lastOption.map(q =>
      q("start_ms").asInstanceOf[Double] + q("wall_ms").asInstanceOf[Double]).getOrElse(passStartMs)
    spans += Span(passId, 0L, "pass", s"pass $pass", passStartMs, endMs).toMap
    (rows, spans.toSeq)
  }
}

/** Micro-timings of the engine's kernels over the workload's own inputs,
  * called directly from outside the engine. */
object Kernels {

  private def timeNs(reps: Int)(body: => Unit): Double = {
    body // one untimed call to warm the JIT
    val t0 = System.nanoTime()
    var i = 0
    while (i < reps) { body; i += 1 }
    (System.nanoTime() - t0).toDouble / reps
  }

  /** `frames`: SBE trade frames to decode; built from `events` when absent. */
  def time(spark: SparkSession, dataDir: String, frames: Option[Array[Array[Byte]]]): Map[String, Any] = {
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("text")
      .limit(2000).collect().flatMap(r => Option(r.getString(0))).map(UTF8String.fromString)
    val kb = docs.map(_.numBytes()).sum / 1024.0
    val vecs = spark.read.parquet(s"$dataDir/embeddings.parquet").select("embedding")
      .limit(2000).collect().map(r => r.getSeq[Float](0).map(_.toDouble).toArray)
    val fr = frames.getOrElse {
      spark.read.parquet(s"$dataDir/events.parquet").select("event_id", "value")
        .limit(20000).collect().map(r => HotPathRun.frame(r.getLong(0), r.getLong(0) * 200L,
          math.round(r.getDouble(1) * 100), s"SYM${r.getLong(0) % 64}"))
    }
    val merges = graft.operators.TrainedMerges.Merges.map(p => Array(p._1, p._2)).toArray
    val p = TextFunctions.MinhashP
    val cents = vecs.take(16)
    val cids = cents.indices.toArray
    val uvecs = vecs.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    var sink = 0L
    val sbe = timeNs(5) { fr.foreach(f => sink += Sbe.decodeTradeBytes(f).getLong(1)) } / fr.length
    val sh = timeNs(3) { docs.foreach(t => sink += TextKernels.shingleHashes(t, 3, p).numElements()) } / kb
    val cw = timeNs(3) { docs.foreach(t => sink += TextKernels.charWindowHashSeq(t, 25, p).numElements()) } / kb
    val bpe = timeNs(2) { docs.foreach(t => sink += TextKernels.bpeTokens(t, merges).numElements()) } / kb
    val nc = timeNs(20) { uvecs.foreach(v => sink += VectorKernels.nearestCid(v, cids, cents)) } / uvecs.length
    Map("sbe_decode_ns" -> sbe, "shingle_hash_ns_per_kb" -> sh, "char_window_ns_per_kb" -> cw,
      "bpe_tokens_ns_per_kb" -> bpe, "nearest_cid_ns" -> nc, "sink" -> (sink & 1L),
      "frames" -> fr.length, "docs_kb" -> kb, "vectors" -> uvecs.length)
  }
}
