package graft.perfbench

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.events.ChangeEvent
import graft.sinks.{AppendVersionedSink, HypertableSink, Retry}
import graft.sources.CommitLogFormat
import graft.streaming.{CdcPipeline, FanOut}

/** The CDC workload, `cdc_lag_1k`: commitlog source → validate → mask →
  * dedup → fan-out to the upsert state store, the versioned append sink
  * and the hypertable sink, driven through `CdcPipeline.startFromRaw`.
  *
  * Open loop: one generator thread appends 100 framed events every 100 ms
  * (1,000 events/s) to rolling commitlog segments, on a fixed schedule
  * that never waits for the pipeline, stamping `captured_at_micros` as it
  * creates each event. Keys: 10k users.
  *
  * Events are mapped to the trigger that committed them through each
  * progress report's source `endOffset` (file, pos); the trigger's end
  * is its start `timestamp` plus its `triggerExecution` duration, which
  * covers every destination write and the offset commit.
  */
object Cdc {
  val Users = 10000
  val ChunkEvents = 100
  val ChunkPeriodMs = 100L
  val LagSegmentEntries = 10000
  val WarmupMs = 3000L
  private val Cities = Array("berlin", "lagos", "lima", "osaka", "pune", "quito")
  private val TsBase = 1704067200000000L

  /** Every generated event, in generation (= log) order. */
  final class EventLog(cap: Int) {
    val user = new Array[Int](cap)
    val op = new Array[Char](cap)
    val age = new Array[Int](cap)
    val seg = new Array[Int](cap)
    val endPos = new Array[Long](cap)
    val captured = new Array[Long](cap)
    @volatile var n = 0
  }

  /** Seeded event source over `Users` keys. */
  final class EventGen(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)

    /** Append event `log.n`'s fields to `log` and return its framed bytes. */
    def frame(log: EventLog, capturedUs: Long): Array[Byte] = {
      val i = log.n
      val u = rng.nextInt(Users)
      val r = rng.nextInt(10)
      val op = if (r == 0) 'D' else if (r < 4) 'I' else 'U'
      val age = 18 + rng.nextInt(60)
      log.user(i) = u; log.op(i) = op; log.age(i) = age
      log.captured(i) = capturedUs
      CommitLogFormat.frame(op, eventJson(i, u, op, age, capturedUs))
    }
  }

  def opName(op: Char): String =
    if (op == 'D') "DELETE" else if (op == 'I') "INSERT" else "UPDATE"

  def email(i: Int, u: Int): String = s"user$u.$i@example.com"

  private def eventJson(i: Int, u: Int, op: Char, age: Int, capturedUs: Long): String = {
    val cols =
      if (op == 'D') "{}"
      else s"""{"email":"${email(i, u)}","age":"$age","city":"${Cities(i % Cities.length)}"}"""
    s"""{"event_id":"e$i","event_type":"${opName(op)}","table_name":"users",""" +
      s""""keyspace":"ecommerce","partition_key":{"user_id":"u$u"},""" +
      s""""clustering_key":{},"columns":$cols,"timestamp_micros":${TsBase + i},""" +
      s""""captured_at_micros":$capturedUs}"""
  }

  def segName(k: Int): String = s"${CommitLogFormat.FilePrefix}$k${CommitLogFormat.FileSuffix}"

  def nowUs(): Long = System.currentTimeMillis() * 1000L

  /** One executed trigger as its progress report describes it. The end
    * offset is (segment index, byte position); segment -1 = no data yet. */
  final case class Trig(batchId: Long, startMs: Long, endMs: Long, rows: Long,
      endOff: (Int, Long), dur: Map[String, Long], dedupRows: Long,
      dedupCommitMs: Long)

  /** Collects every progress report of an executed batch (data or
    * no-data; idle-trigger reports have no `addBatch`), parsed once. */
  final class Progress extends StreamingQueryListener {
    @volatile private var executed = Vector.empty[Trig]

    /** Executed triggers, in batch order. */
    def triggers: Vector[Trig] = executed

    /** End offset of the newest executed batch. */
    def lastEnd: (Int, Long) = executed.lastOption.map(_.endOff).getOrElse((-1, 0L))

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.durationMs.containsKey("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val src = p.sources.head
        val st = p.stateOperators.headOption
        executed = (executed :+ Trig(p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L), p.numInputRows,
          offset(src.endOffset), d,
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.commitTimeMs).getOrElse(0L))).sortBy(_.batchId)
      }
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  def offset(json: String): (Int, Long) =
    if (json == null || json == "null") (-1, 0L)
    else {
      val n = mapper.readTree(json)
      val f = n.get("file").asText()
      if (f.isEmpty) (-1, 0L)
      else (f.stripPrefix(CommitLogFormat.FilePrefix)
        .stripSuffix(CommitLogFormat.FileSuffix).toInt, n.get("pos").asLong())
    }

  private def offLeq(a: (Int, Long), b: (Int, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)

  /** Per-batch destination outcomes, keyed by batchId. The state-store
    * write only reports through `onBatch`; the bench's own two
    * destinations are wrapped to record their batchId and wall span. */
  final class Sinks(base: Path) {
    val versionedDir: String = base.resolve("versioned").toString
    val hyperDir: String = base.resolve("hyper").toString
    private val versioned = new AppendVersionedSink(versionedDir,
      Seq("event_key_cols"), "timestamp_micros")
    private val current = new AtomicLong(-1L)
    val spans = new ConcurrentHashMap[(Long, String), (Long, Long)]()
    val results = new ConcurrentHashMap[Long, (Long, Seq[FanOut.FanOutResult])]()

    private def timed(name: String)(w: (DataFrame, Long) => Unit)(df: DataFrame, id: Long): Unit = {
      current.set(id)
      val t0 = nowUs()
      try w(df, id) finally { spans.put((id, name), (t0, nowUs())); () }
    }

    val destinations: Seq[FanOut.Destination] = Seq(
      FanOut.Destination("versioned", write = timed("versioned")(versioned.append)),
      FanOut.Destination("hypertable", write = timed("hypertable")((df, _) =>
        HypertableSink.write(df, hyperDir, "captured_at", "day"))))

    /** Extra per-batch work a traced run attaches (state bytes walk). */
    @volatile var afterBatch: Long => Unit = _ => ()

    def onBatch(rs: Seq[FanOut.FanOutResult]): Unit = {
      val id = current.get()
      results.put(id, (nowUs(), rs))
      afterBatch(id)
    }
  }

  /** Pipeline directories and the running query. */
  final class Run(spark: SparkSession, base: Path) {
    val logs: Path = Files.createDirectories(base.resolve("commitlog"))
    val stateDir: String = base.resolve("state").toString
    val dlqDir: String = base.resolve("dlq").toString
    val sinks = new Sinks(base)
    val progress = new Progress
    private var q: StreamingQuery = _

    def start(): Unit = {
      spark.streams.addListener(progress)
      val raw = spark.readStream.format("graft-commitlog")
        .option("path", logs.toString)
        .load().transform(df => ChangeEvent.parseEnvelope(df, "body"))
      q = CdcPipeline.startFromRaw(spark, raw, stateDir,
        base.resolve("checkpoint").toString, dlqDir,
        extraSinks = sinks.destinations, onBatch = sinks.onBatch)
    }

    def active: Boolean = q != null && q.isActive

    /** Block until `cond` holds; fails if the query dies or `timeoutMs`
      * passes first. */
    def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!cond) {
        if (!active) throw new IllegalStateException(
          s"pipeline stopped while waiting for $what", q.exception.orNull)
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(s"timed out waiting for $what")
        Thread.sleep(5)
      }
    }

    def stop(): Unit = {
      if (q != null) {
        q.stop()
        q.exception.foreach(e => System.err.println(s"[perfbench] query failed: $e"))
      }
      spark.streams.removeListener(progress)
    }
  }

  /** Appends framed entries to `CommitLog-<k>.log` segments. */
  final class SegmentWriter(dir: Path) {
    private var k = 0
    private var out: FileOutputStream = _
    private var pos = 0L
    private var entries = 0

    def entriesInSegment: Int = entries

    /** Write one chunk of frames; records each event's end position. */
    def write(log: EventLog, first: Int, frames: Seq[Array[Byte]]): Unit = {
      if (out == null) out = new FileOutputStream(dir.resolve(segName(k)).toFile)
      val buf = new ByteArrayOutputStream(frames.map(_.length).sum)
      var i = first
      frames.foreach { f =>
        buf.write(f)
        pos += f.length
        log.seg(i) = k; log.endPos(i) = pos
        i += 1
      }
      out.write(buf.toByteArray)
      out.flush()
      entries += frames.size
    }

    /** Seal the current segment and start the next one. */
    def roll(): Unit = {
      close()
      k += 1; pos = 0L; entries = 0
    }

    def close(): Unit = if (out != null) { out.close(); out = null }
  }

  /** Open-loop generator: chunk `c` is due at `startMs + c * 100 ms`;
    * a late chunk is written as soon as the thread gets to it, and the
    * schedule never shifts. Records how late each chunk started. */
  final class OpenLoop(writer: SegmentWriter, gen: EventGen, log: EventLog,
      startMs: Long, stopMs: Long) extends Thread("perfbench-generator") {
    val lateMs = mutable.ArrayBuffer.empty[Double]
    setDaemon(true)

    override def run(): Unit = {
      var c = 0L
      var due = startMs
      while (due < stopMs) {
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += math.max(0L, System.currentTimeMillis() - due).toDouble
        writer.write(log, log.n, frames(gen, log, ChunkEvents))
        if (writer.entriesInSegment >= LagSegmentEntries) writer.roll()
        c += 1
        due = startMs + c * ChunkPeriodMs
      }
      writer.close()
    }
  }

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Checks the first `n` events of `log` against what the pipeline
    * left behind; returns (failed operations, details).
    *  - live state equals last-write-wins over the events (deletes
    *    honoured), with the winner's masked email and raw age;
    *  - the versioned and hypertable sinks hold each event exactly once;
    *  - the DLQ is empty. */
  def verify(spark: SparkSession, run: Run, log: EventLog, n: Int): (Long, Map[String, Any]) = {
    val last = mutable.HashMap.empty[Int, Int]
    (0 until n).foreach(i => last(log.user(i)) = i)
    val expected = last.collect { case (u, i) if log.op(i) != 'D' => s"u$u" -> i }
    val actual = CdcPipeline.currentState(spark, run.stateDir).map(_.select(
      col("partition_key")("user_id"), col("event_id"),
      col("columns")("age"), col("columns")("email")).collect().toSeq)
      .getOrElse(Nil)
    val seen = mutable.HashSet.empty[String]
    var stateBad = 0L
    actual.foreach { r =>
      val u = r.getString(0)
      val ok = seen.add(u) && expected.get(u).exists { i =>
        r.getString(1) == s"e$i" && r.getString(2) == log.age(i).toString &&
        r.getString(3) == sha256Hex(email(i, log.user(i)))
      }
      if (!ok) stateBad += 1
    }
    stateBad += expected.keys.count(u => !seen.contains(u))

    def exactlyOnce(dir: String): (Long, Long) =
      if (Fs.dataFiles(Paths.get(dir)).isEmpty) (n.toLong, 0L)
      else {
        val r = spark.read.parquet(dir)
          .select(expr("cast(substring(event_id, 2) as int)").as("i"))
          .agg(count(lit(1)), countDistinct(col("i")),
            sum(when(col("i") >= 0 && col("i") < n, 0).otherwise(1)))
          .head()
        val rows = r.getLong(0); val distinct = r.getLong(1); val outside = r.getLong(2)
        (n - (distinct - outside), rows - distinct + outside)
      }
    val (vMissing, vDup) = exactlyOnce(run.sinks.versionedDir)
    val (hMissing, hDup) = exactlyOnce(run.sinks.hyperDir)
    val dlqFiles = Fs.dataFiles(Paths.get(run.dlqDir))
    val dlq = if (dlqFiles.isEmpty) 0L
      else spark.read.json(dlqFiles.map(_.toString): _*).count()
    val failed = stateBad + vMissing + vDup + hMissing + hDup + dlq
    (failed, Map("events" -> n, "state_rows_expected" -> expected.size,
      "state_rows_actual" -> actual.size, "state_mismatches" -> stateBad,
      "versioned_missing" -> vMissing, "versioned_duplicates" -> vDup,
      "hypertable_missing" -> hMissing, "hypertable_duplicates" -> hDup,
      "dlq_rows" -> dlq))
  }

  /** Layer metrics of the measured triggers `ts`, taken from the full
    * trigger list `all`; `availableAt(ms)` = events the source could see
    * at `ms`. */
  def layers(run: Run, all: Vector[Trig], ts: Seq[Trig],
      availableAt: Long => Long): Map[String, Double] = {
    val before = all.map(_.batchId).zip(all.scanLeft(0L)(_ + _.rows)).toMap
    val data = ts.filter(_.rows > 0)
    def d(t: Trig, k: String) = t.dur.getOrElse(k, 0L).toDouble
    def meanOf(k: String) = Stats.mean(ts.map(d(_, k)))
    val res = data.flatMap(t => Option(run.sinks.results.get(t.batchId)).map(t -> _._2))
    def destMs(name: String) = Stats.mean(res.flatMap(_._2.filter(_.destination == name))
      .map(_.durationMs.toDouble))
    val measured = ts.flatMap(t => Option(run.sinks.results.get(t.batchId))).flatMap(_._2)
    val durations = ts.map(t => (t.endMs - t.startMs).toDouble)
    val sinkFiles = Seq(run.sinks.versionedDir, run.sinks.hyperDir)
      .flatMap(p => Fs.dataFiles(Paths.get(p)))
    Map(
      "sources.latest_offset_ms" -> meanOf("latestOffset"),
      "sources.get_batch_ms" -> meanOf("getBatch"),
      "sources.backlog_events" ->
        Stats.mean(data.map(t => (availableAt(t.startMs) - before(t.batchId)).toDouble)),
      "streaming.triggers" -> ts.size.toDouble,
      "streaming.rows_per_trigger" -> Stats.mean(data.map(_.rows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.median(durations),
      "streaming.trigger_ms_p99" -> Stats.pct(durations, 0.99),
      "streaming.query_planning_ms" -> meanOf("queryPlanning"),
      "streaming.add_batch_ms" -> meanOf("addBatch"),
      "streaming.wal_commit_ms" -> meanOf("walCommit"),
      "streaming.commit_offsets_ms" -> meanOf("commitOffsets"),
      "streaming.dedup_state_rows" -> ts.lastOption.map(_.dedupRows.toDouble).getOrElse(0.0),
      "streaming.dedup_state_commit_ms" -> Stats.mean(ts.map(_.dedupCommitMs.toDouble)),
      "streaming.transform_ms" -> Stats.mean(res.map { case (t, rs) =>
        d(t, "addBatch") - (0L +: rs.map(_.durationMs)).max }),
      "streaming.upsert_write_ms" -> destMs("state-store"),
      "sinks.versioned_write_ms" -> destMs("versioned"),
      "sinks.hypertable_write_ms" -> destMs("hypertable"),
      "sinks.files_written" -> sinkFiles.size.toDouble,
      "sinks.bytes_written" -> Fs.bytes(sinkFiles).toDouble,
      "sinks.retry_attempts" -> measured.map(r => attempts(r.outcome) - 1).sum.toDouble,
      "sinks.dlq_rows" -> measured.map(_.dlqRows).sum.toDouble)
  }

  private def attempts(o: Retry.Outcome[Unit]): Int = o match {
    case Retry.Succeeded(_, a) => a
    case Retry.Permanent(_, a, _) => a
    case Retry.Exhausted(_, a, _) => a
  }

  /** For each of the first `n` events, the end (epoch ms) of the trigger
    * that committed it; NaN when none did. `data` in batch order. */
  def commitTimes(data: Vector[Trig], log: EventLog, n: Int): Array[Double] =
    Array.tabulate(n) { i =>
      val off = (log.seg(i), log.endPos(i))
      var lo = 0; var hi = data.size
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (offLeq(off, data(mid).endOff)) hi = mid else lo = mid + 1
      }
      if (lo < data.size) data(lo).endMs.toDouble else Double.NaN
    }

  /** Counters a traced CDC run adds: per-batch state version bytes, the
    * SQL execution layer, and spans. */
  final class CdcTrace(spark: SparkSession, run: Run, tracer: Tracer) {
    val stats: JobStats = new JobStats(spark).attach()
    private val stateBytes = new ConcurrentHashMap[Long, Long]()
    run.sinks.afterBatch = id => {
      stateBytes.put(id, Fs.bytes(Fs.files(Paths.get(run.stateDir, s"v$id")))); ()
    }
    private var at: (Long, Long, Long, Long) = _
    def windowStart(): Unit = at = stats.counters()

    def layers(cores: Int, from: Long, to: Long, ts: Seq[Trig]): Map[String, Double] = {
      stats.detach()
      val q = stats.layer(from, to, at, cores)
      val rows = ts.map(_.rows).sum
      q ++ Map(
        "streaming.jobs_per_trigger" -> q("query.jobs") / math.max(1, ts.size),
        "streaming.tasks_per_trigger" -> q("query.tasks") / math.max(1, ts.size),
        "streaming.upsert_bytes_per_event" ->
          ts.map(t => stateBytes.getOrDefault(t.batchId, 0L)).sum.toDouble / math.max(1L, rows))
    }

    /** workload > trigger > durationMs phases > destination writes, jobs.
      * Spark reports phase durations, not positions: phases are laid back
      * to back in execution order, anchored so `addBatch` ends when the
      * batch's fan-out returned. */
    def spans(name: String, ts: Seq[Trig], from: Long, to: Long): Unit = {
      val root = tracer.add(name, 0L, from * 1000, to * 1000)
      val before = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning")
      ts.foreach { t =>
        val tid = tracer.add("trigger", root, t.startMs * 1000, t.endMs * 1000,
          "batch.id" -> t.batchId, "rows" -> t.rows)
        def dur(k: String) = t.dur.getOrElse(k, 0L) * 1000
        val res = Option(run.sinks.results.get(t.batchId))
        val addEnd = res.map(_._1).getOrElse(t.endMs * 1000 - dur("commitOffsets"))
        val addStart = addEnd - dur("addBatch")
        var cursor = addStart - before.map(dur).sum
        before.foreach { k =>
          tracer.add(k, tid, cursor, cursor + dur(k)); cursor += dur(k)
        }
        val aid = tracer.add("addBatch", tid, addStart, addEnd)
        tracer.add("commitOffsets", tid, addEnd, addEnd + dur("commitOffsets"))
        val own = Seq("versioned", "hypertable").flatMap(d =>
          Option(run.sinks.spans.get((t.batchId, d))).map(d -> _))
        own.foreach { case (d, (s, e)) => tracer.add(s"write.$d", aid, s, e) }
        // the fan-out starts every destination at once
        val fanStart = own.map(_._2._1).minOption.getOrElse(addStart)
        res.toSeq.flatMap(_._2).filter(_.destination == "state-store").foreach(r =>
          tracer.add("write.state-store", aid, fanStart, fanStart + r.durationMs * 1000))
        stats.addSpans(tracer, aid, addStart / 1000, addEnd / 1000)
      }
    }
  }

  private def frames(gen: EventGen, log: EventLog, count: Int): Seq[Array[Byte]] = {
    val first = log.n
    (0 until count).map { j =>
      val f = gen.frame(log, nowUs())
      log.n = first + j + 1
      f
    }
  }

  /** JVM-level counters over the measured window. */
  final class JvmWindow {
    private val gc0 = Main.gcSeconds()
    Main.resetHeapPeaks()
    def layers: Map[String, Double] =
      Map("jvm.gc_s" -> (Main.gcSeconds() - gc0), "jvm.heap_peak_mb" -> Main.heapPeakMb())
  }

  /** Runs a throwaway pipeline over two small batches (first write,
    * then a merge into existing state), so the measured pipeline starts
    * with its code paths loaded and compiled. */
  private def prewarm(spark: SparkSession, base: Path, seed: Long): Unit = {
    val run = new Run(spark, base)
    val log = new EventLog(2000)
    val gen = new EventGen(seed ^ 0x5eedL)
    val w = new SegmentWriter(run.logs)
    run.start()
    try (0 until 2).foreach { _ =>
      val first = log.n
      w.write(log, first, frames(gen, log, 1000))
      w.roll()
      val end = (log.seg(log.n - 1), log.endPos(log.n - 1))
      run.await("pre-warm batch", 180000L)(offLeq(end, run.progress.lastEnd))
    } finally run.stop()
  }

  def lag(spark: SparkSession, o: Main.Opts, probes: Main.Probes,
      tracer: Option[Tracer]): Main.Outcome = {
    val base = Paths.get(o.work, "cdc_lag")
    prewarm(spark, base.resolve("prewarm"), o.seed)
    Main.mark(o, "pre-warm pipeline done")
    probes.start()
    val run = new Run(spark, base.resolve("run"))
    val trace = tracer.map(new CdcTrace(spark, run, _))
    val log = new EventLog(
      ((WarmupMs + o.seconds * 1000L) / ChunkPeriodMs * ChunkEvents).toInt + ChunkEvents)
    run.start()
    val startMs = System.currentTimeMillis() + 500
    val measureMs = startMs + WarmupMs
    val stopMs = measureMs + o.seconds * 1000L
    val gen = new OpenLoop(new SegmentWriter(run.logs),
      new EventGen(o.seed), log, startMs, stopMs)
    gen.start()
    Thread.sleep(math.max(0L, measureMs - System.currentTimeMillis()))
    trace.foreach(_.windowStart())
    val jvm = new JvmWindow
    gen.join()
    val n = log.n
    val jvmLayers = jvm.layers
    val end = (log.seg(n - 1), log.endPos(n - 1))
    try run.await("the last event's commit", 120000L)(offLeq(end, run.progress.lastEnd))
    finally run.stop()
    Main.mark(o, "generator done and its events committed")

    val all = run.progress.triggers
    val commit = commitTimes(all.filter(_.rows > 0), log, n)
    val inWindow = (0 until n).filter(i =>
      log.captured(i) >= measureMs * 1000 && log.captured(i) < stopMs * 1000)
    val lags = inWindow.map(i => commit(i) - log.captured(i) / 1000.0).filterNot(_.isNaN)
    // sustained commit rate: rows committed between the first and the
    // last data trigger that ended inside the window, over that span
    val ended = all.filter(t => t.rows > 0 && t.endMs >= measureMs && t.endMs < stopMs)
    val committedRate =
      if (ended.size < 2) ended.map(_.rows).sum / o.seconds.toDouble
      else ended.tail.map(_.rows).sum / ((ended.last.endMs - ended.head.endMs) / 1e3)
    val measured = all.filter(t => t.startMs >= measureMs && t.startMs < stopMs)
    val (failed, checks) = verify(spark, run, log, n)
    Main.mark(o, "outputs checked")
    val captured = log.captured.take(n)
    val availableAt = (ms: Long) => {
      val i = java.util.Arrays.binarySearch(captured, ms * 1000 + 999)
      (if (i >= 0) i + 1 else -i - 1).toLong
    }
    trace.foreach(_.spans("cdc_lag_1k", measured, measureMs, stopMs))
    Main.Outcome(
      attempted = n.toLong, failed = failed, setupEndMs = measureMs,
      endToEnd = Map(
        "latency_p50_ms" -> Stats.median(lags),
        "latency_p99_ms" -> Stats.pct(lags, 0.99),
        "throughput_per_s" -> committedRate),
      layers = layers(run, all, measured, availableAt) ++ jvmLayers ++
        trace.map(_.layers(o.cores, measureMs, stopMs, measured)).getOrElse(Map.empty) ++
        Map("bench.generator_late_ms" -> Stats.pct(gen.lateMs.toSeq, 0.99),
          "streaming.upsert_state_rows" ->
            checks("state_rows_actual").asInstanceOf[Int].toDouble),
      checks = checks ++ Map("window_events" -> inWindow.size,
        "window_events_committed" -> lags.size))
  }
}
