package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, PrintWriter}
import java.net.{InetAddress, ServerSocket}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.functions.Sbe
import graft.operators.Rolling
import graft.sources.SocketCapture
import graft.streaming.EwmaStream

/** hot_path_live: SBE trades over one TCP socket -> SocketCapture journal
  * -> `sbe-frames` stream -> Sbe.decodeTrade -> EwmaStream.features ->
  * foreachBatch sink.
  *
  * A backlog is journaled before the query starts (set-up); the query
  * drains it (the replay phase), then one generator thread feeds an
  * open-loop live phase at `rate` events/s for `seconds`. Every event has a
  * due time; its emit time is when the foreachBatch call that carried it
  * returns. Afterwards, untimed, the emitted features are compared bit for
  * bit with Rolling.ewmaFeatures over the same events.
  */
object HotPathRun {
  val BaseTsUs: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val TsStepUs: Long = 200L

  /** Reference rows (trade_id, ewma_fast, ewma_slow, macd), stored with
    * the doubles' exact bits. */
  def writeReference(path: String, rows: Array[(Long, Double, Double, Double)]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new java.io.FileOutputStream(path)))
    try {
      out.writeInt(rows.length)
      rows.foreach { case (id, a, b, c) =>
        out.writeLong(id); out.writeDouble(a); out.writeDouble(b); out.writeDouble(c)
      }
    } finally out.close()
  }

  def readReference(path: String): Array[(Long, Double, Double, Double)] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(new java.io.FileInputStream(path)))
    try Array.fill(in.readInt())((in.readLong(), in.readDouble(), in.readDouble(), in.readDouble()))
    finally in.close()
  }

  /** The trade frame layout Sbe.decodeTradeBytes reads. */
  def frame(tradeId: Long, tsUs: Long, mantissa: Long, symbol: String): Array[Byte] = {
    val sym = symbol.getBytes("UTF-8")
    val bb = ByteBuffer.allocate(8 + 27 + sym.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.putShort(27.toShort).putShort(10000.toShort).putShort(1.toShort).putShort(0.toShort)
    bb.putLong(tsUs).putLong(tradeId).putLong(mantissa)
    bb.put((-2).toByte).put(if ((tradeId & 3L) == 0L) 1.toByte else 0.toByte)
    bb.put(sym.length.toByte).put(sym)
    bb.array()
  }

  /** Seeded events: Zipf-skewed symbols, a per-symbol random-walk price
    * in cents, event time advancing one step per trade. */
  def frames(seed: Long, n: Int, symbols: Int, zipfS: Double): Array[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val w = (1 to symbols).map(k => 1.0 / math.pow(k.toDouble, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val px = Array.tabulate(symbols)(k => 3000000L + 1000L * k)
    Array.tabulate(n) { i =>
      val u = rnd.nextDouble()
      var k = java.util.Arrays.binarySearch(cdf, u)
      if (k < 0) k = -k - 1
      k = math.min(k, symbols - 1)
      px(k) = math.max(100L, px(k) + rnd.nextInt(11) - 5)
      frame(i.toLong, BaseTsUs + i * TsStepUs, px(k), f"SYM$k%02d")
    }
  }
}

final class HotPathRun(spark: SparkSession, conf: Harness.Conf) {
  import spark.implicits._

  private val seed = conf.long("seed", 1L)
  private val seconds = conf("seconds").toDouble
  private val traced = conf.bool("trace")
  private val replayOnly = conf.bool("replay_only")
  private val backlog = conf.int("backlog", 40000)
  private val rate = conf.int("rate", 5000)
  private val symbols = conf.int("symbols", 64)
  private val zipfS = conf("zipf").toDouble
  private val tmp = conf("tmp")
  // the live feed runs `warm` seconds before the measured window so the
  // window sees the steady state, not the JIT warming up
  private val warm = conf("warm").toDouble
  private val liveN = if (replayOnly) 0 else math.round(rate * (warm + seconds)).toInt
  private val total = backlog + liveN
  private val intervalNs = 1e9 / rate
  private val TickNs = 1000000L

  def run(): Map[String, Any] = {
    val frames = HotPathRun.frames(seed, total, symbols, zipfS)
    val due = new Array[Long](liveN)
    val sent = new Array[Long](liveN)
    val emitFirst = Array.fill(total)(-1L)
    val emitCount = new Array[Int](total)
    val feats = new Array[EwmaStream.Feat](total)
    val sentCount = new AtomicLong(0)
    val goLive = new CountDownLatch(1)
    @volatile var liveStartNs = 0L
    @volatile var genFailure: Option[Throwable] = None

    val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val gen = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
        var i = 0
        while (i < backlog) { out.writeInt(frames(i).length); out.write(frames(i)); i += 1 }
        out.flush()
        sentCount.set(backlog)
        goLive.await()
        val t0 = liveStartNs
        var j = 0
        while (j < liveN) {
          val d = t0 + (j * intervalNs).toLong
          var now = System.nanoTime()
          if (now < d) {
            out.flush()
            // at most one wake-up and one socket write a millisecond: a
            // wake-up per event would compete with the engine's threads
            java.util.concurrent.locks.LockSupport.parkNanos(math.max(d - now, TickNs))
            now = System.nanoTime()
          }
          // open loop: every event that is due goes out now, however late
          while (j < liveN && t0 + (j * intervalNs).toLong <= now) {
            val f = frames(backlog + j)
            out.writeInt(f.length); out.write(f)
            due(j) = t0 + (j * intervalNs).toLong
            sent(j) = now
            j += 1
          }
          sentCount.set(backlog.toLong + j)
        }
        out.flush()
        sock.close()
      } catch { case e: Throwable => genFailure = Some(e) }
    }, "perfbench-feed")
    gen.setDaemon(true)
    gen.start()

    val journal = s"$tmp/journal"
    val cap = new SocketCapture("localhost", server.getLocalPort, journal)
    val setupDeadline = System.nanoTime() + 60000000000L
    while (cap.journaledCount < backlog && System.nanoTime() < setupDeadline) Thread.sleep(2)
    require(cap.journaledCount == backlog, s"backlog not journaled: ${cap.journaledCount}/$backlog")
    val readyMs = Harness.nowMs

    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    val batchSink = mutable.ArrayBuffer.empty[Map[String, Any]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        progress.synchronized {
          progress += Map(
            "batch" -> p.batchId, "rows" -> p.numInputRows,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
            "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
            "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
            "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L))
        }
      }
    }
    spark.streams.addListener(listener)

    val emitted = new AtomicLong(0)
    val ticks = spark.readStream.format("sbe-frames").load(journal)
      .select(Sbe.decodeTrade(col("frame")).as("d"))
      .select(col("d.symbol").as("symbol"), col("d.ts_ms").as("ts_ms"),
        col("d.trade_id").as("trade_id"), col("d.price").as("price"))
      .as[EwmaStream.Px]
    val sinkFn = (ds: Dataset[EwmaStream.Feat], batchId: Long) => {
      val b0 = System.nanoTime()
      val rows = ds.collect()
      rows.foreach { f =>
        val id = f.trade_id.toInt
        if (emitCount(id) == 0) feats(id) = f
        emitCount(id) += 1
      }
      val t = System.nanoTime()
      rows.foreach { f => val id = f.trade_id.toInt; if (emitFirst(id) < 0) emitFirst(id) = t }
      emitted.addAndGet(rows.length)
      batchSink += Map("batch" -> batchId, "rows" -> rows.length, "sink_ms" -> (t - b0) / 1e6,
        "end_ms" -> Harness.nowMs, "end_ns" -> t)
      ()
    }
    val qStart = System.nanoTime()
    val qStartMs = Harness.nowMs
    val q = EwmaStream.features(ticks)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/checkpoint")
      .foreachBatch(sinkFn)
      .start()
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]
    var replayS = -1.0
    var lagFrames = -1L
    var backlogEnd = -1L
    var hwm = -1L
    try {
      val deadline = System.nanoTime() + 120000000000L
      // emitted is bumped after the arrays are written: reading it first
      // makes the sink thread's writes visible here
      def replayed = emitted.get >= 0 && emitFirst(backlog - 1) >= 0
      while (!replayed && q.isActive && System.nanoTime() < deadline) Thread.sleep(1)
      q.exception.foreach(throw _)
      require(emitFirst(backlog - 1) >= 0, "replay did not finish")
      replayS = (emitFirst(backlog - 1) - qStart) / 1e9
      if (liveN > 0) {
        Harness.resetHwm()
        liveStartNs = System.nanoTime() + 20000000L
        goLive.countDown()
        gen.join(((warm + seconds) * 1000 + 30000).toLong)
        genFailure.foreach(throw _)
        lagFrames = sentCount.get - cap.journaledCount
        backlogEnd = cap.journaledCount - emitted.get
        val drain = System.nanoTime() + 60000000000L
        while (emitted.get < total && q.isActive && System.nanoTime() < drain) Thread.sleep(2)
        hwm = Harness.vmHwmKb()
        q.exception.foreach(throw _)
      }
    } catch { case e: Throwable => errors += Map("op" -> "stream", "error" -> Harness.errorText(e)) }
    finally {
      q.stop(); goLive.countDown(); cap.close(); server.close()
      spark.streams.removeListener(listener)
    }

    // untimed: exactly once, nothing dropped as late, and bit-identical to
    // the batch operator over the same events. Launches of one run share a
    // seed and so the events; the first computes the reference and the
    // others read it back
    val ref0 = System.nanoTime()
    val reference = conf.kv.get("reference_in") match {
      case Some(path) => HotPathRun.readReference(path)
      case None =>
        val decoded = frames.map { f =>
          val r = Sbe.decodeTradeBytes(f)
          (r.getUTF8String(4).toString, r.getLong(0), r.getLong(1), r.getDouble(2))
        }.toSeq
        val ref = Rolling.ewmaFeatures(decoded.toDF("symbol", "ts_ms", "trade_id", "price"),
          col("symbol"), col("ts_ms"), col("price"), col("trade_id"))
          .select("trade_id", "ewma_fast", "ewma_slow", "macd").as[(Long, Double, Double, Double)]
          .collect()
        conf.kv.get("reference_out").foreach(HotPathRun.writeReference(_, ref))
        ref
    }
    val referenceS = (System.nanoTime() - ref0) / 1e9
    val bits = java.lang.Double.doubleToLongBits _
    var valueMismatch = 0L
    reference.foreach { case (id, fast, slow, macd) =>
      val f = feats(id.toInt)
      if (f != null && (bits(f.ewma_fast) != bits(fast) || bits(f.ewma_slow) != bits(slow) ||
          bits(f.macd) != bits(macd))) valueMismatch += 1
    }
    val lateDropped = feats.iterator.filter(_ != null).map(_.late_dropped).foldLeft(0L)(math.max)

    val events = s"$tmp/events.csv"
    val w = new PrintWriter(events)
    try {
      w.println("trade_id,due_ns,sent_ns,emit_ns,emit_count")
      var i = 0
      while (i < total) {
        val live = i >= backlog
        val rel = (x: Long) => if (x < 0) -1L else x - liveStartNs
        w.println(s"$i,${if (live) due(i - backlog) - liveStartNs else -1L}," +
          s"${if (live) sent(i - backlog) - liveStartNs else -1L},${rel(emitFirst(i))},${emitCount(i)}")
        i += 1
      }
    } finally w.close()

    val kern = if (traced) Map("kernels" -> Kernels.time(spark, conf("data"), Some(frames.take(20000))))
      else Map.empty
    Map[String, Any](
      "ready_ms" -> readyMs, "errors" -> errors.toSeq, "query_start_ms" -> qStartMs,
      "live_start_ms" -> (qStartMs + (liveStartNs - qStart) / 1e6), "live_start_ns" -> liveStartNs,
      "backlog" -> backlog, "live_events" -> liveN, "rate" -> rate, "symbols" -> symbols,
      "warm_s" -> warm,
      "zipf_s" -> zipfS, "replay_s" -> replayS, "events_file" -> events,
      "progress" -> progress.synchronized(progress.toSeq.sortBy(_("batch").asInstanceOf[Long])),
      "sink_batches" -> batchSink.toSeq,
      "value_mismatches" -> valueMismatch, "reference_rows" -> reference.length,
      "reference_s" -> referenceS,
      "late_dropped" -> lateDropped, "capture_lag_frames" -> lagFrames,
      "backlog_events_end" -> backlogEnd, "window_hwm_kb" -> hwm) ++ kern
  }
}
