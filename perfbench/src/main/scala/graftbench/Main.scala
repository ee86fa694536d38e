package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{BenchAccess, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.sources.MemorySink

import graft.SparkEntry
import graft.core.GraftSession
import graft.streaming.{PlayEvent, StatusChange, StreamingOps}

/** One benchmark run in its own JVM. `perfbench/run.py` generates the
  * inputs, starts this main, checks the outputs and prints the result
  * line; this main builds the session, times the operations and writes a
  * run record (`out/run.json`) into the run directory `--dir`.
  *
  * Workloads:
  *  - `report_day`: every operation is one round of [[ReportDay]], each
  *    query's result collected to the driver; the last timed round's
  *    results are written as parquet for the oracle check.
  *  - `online_status`: every operation is one fixed-size batch appended to a
  *    MemoryStream that feeds `StreamingOps.onlineStatus` into a memory
  *    sink, timed from `addData` until the batch is committed; the
  *    emitted status changes are checked against the benchmark's own
  *    replay after every batch, outside the timed interval.
  */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuMs(): Double = osBean.getProcessCpuTime / 1e6

  private def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s: $msg")

  /** report_day's queries; perfbench/README.md tags each with the module
    * it exercises. */
  val ReportDay = Seq("q57_runlog_parse", "q58_arate_parse", "q66_multigrain",
    "q67_rolling_uv", "q98_concurrency", "q83_backfill_patch")
  /** untimed rounds on the full input, after one on the small warm-up input */
  val WarmupRounds = 1
  val MinRounds = 2
  /** untimed stream batches after batch 0: a batch's CPU time falls for
    * the first 30 or so batches while the JIT compiles the stream's code */
  val WarmupBatches = 32
  /** live heap is sampled after every this many stream batches */
  val HeapEvery = 10

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** The run directory's parts: inputs written by run.py, outputs read by it. */
  final case class Dirs(root: String) {
    def apply(sub: String): String = Paths.get(root, sub).toString
  }

  /** A timed operation: wall interval (epoch ms), wall and CPU ms, and
    * whether it succeeded. */
  final case class Op(start: Long, end: Long, wallMs: Double, cpuMs: Double, ok: Boolean)

  /** Single-thread fixed work, timed: stored beside the metrics so that a
    * slower box can be told apart from a slower program. */
  def cpuProbeMs(): Double = {
    def work(): Long = {
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      acc
    }
    work()
    val t0 = System.nanoTime()
    val r = work()
    val ms = (System.nanoTime() - t0) / 1e6
    if (r == 42L) println("") // keeps the loop from being optimised away
    ms
  }

  /** Heap in use right after a full collection, in MB; taken between
    * operations, never inside a timed interval. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val dirs = Dirs(args("dir"))
    val seconds = args.int("seconds")
    // the stream's input is decoded before set-up starts: input
    // preparation is not the program's set-up
    val stream = if (args("workload") == "online_status") Some(loadStream(dirs("data/stream.bin"))) else None
    // -XX:ActiveProcessorCount, set by run.py to the CPUs this process may use
    val n = Runtime.getRuntime.availableProcessors
    val t0 = System.currentTimeMillis()
    val spark = GraftSession.builder(s"local[$n]", n).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (System.currentTimeMillis() - t0).toDouble
    val trace = if (args("trace") == "1") Some(new Trace(spark)) else None
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> args("workload"),
      "setup.session_ms" -> sessionMs)
    try {
      val firstOpMs = stream match {
        case None => runRounds(spark, dirs, seconds, trace, rec)
        case Some((batches, loadMs)) =>
          rec("setup.load_ms") = loadMs
          runStream(spark, batches, dirs, seconds, trace, rec)
      }
      rec("setup_ms") = (firstOpMs - t0).toDouble
      rec("cpu_probe_ms") = cpuProbeMs()
      rec("spark_conf") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
      Files.writeString(Paths.get(dirs("out"), "run.json"), json.writeValueAsString(rec))
    } catch { case e: Throwable =>
      e.printStackTrace()
      System.exit(1)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
    }
    // a thread the run left behind must not keep the JVM alive
    System.exit(0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer medians over the timed operations. */
  private def layerMedians(per: Seq[Map[String, Double]]): Map[String, Double] =
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> median(per.map(_.getOrElse(k, 0.0)))).toMap

  private def timed(body: => Boolean): Op = {
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val c0 = cpuMs()
    val ok = body
    val wall = (System.nanoTime() - n0) / 1e6
    Op(w0, System.currentTimeMillis(), wall, cpuMs() - c0, ok)
  }

  /** Runs report_day and returns the epoch ms at which its first timed
    * operation started. */
  private def runRounds(spark: SparkSession, dirs: Dirs, seconds: Int, trace: Option[Trace],
      rec: mutable.Map[String, Any]): Long = {
    val data = dirs("data")
    // warm-up: one round on a small input of the same shape fills the
    // codegen caches and compiles most hot code at a fraction of the cost,
    // then WarmupRounds untimed rounds on the real input finish it
    val warmData = dirs("warm")
    val names = ReportDay
    val queryOps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Op]]
    val lastOutput = mutable.HashMap.empty[String, (Array[Row], StructType)]
    var failed = 0

    def runQuery(name: String, dir: String, timedRound: Boolean): Op = {
      val op = timed {
        try {
          val df = SparkEntry.queries(name)(spark, dir)
          val rows = df.collect()
          if (timedRound) lastOutput(name) = (rows, df.schema)
          true
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
        }
      }
      if (timedRound) {
        queryOps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += op
        if (!op.ok) failed += 1
      }
      op
    }

    def round(dir: String, timedRound: Boolean): Op = {
      lastOutput.clear()
      val ops = names.map(runQuery(_, dir, timedRound))
      Op(ops.head.start, ops.last.end, ops.map(_.wallMs).sum, ops.map(_.cpuMs).sum, ops.forall(_.ok))
    }

    val w0 = System.nanoTime()
    round(warmData, timedRound = false)
    (1 to WarmupRounds).foreach(_ => round(data, timedRound = false))
    val warmupMs = (System.nanoTime() - w0) / 1e6
    note(s"warm-up done: 1 small + $WarmupRounds rounds")
    var peakHeap = liveHeapMb()
    val firstOpMs = System.currentTimeMillis()

    val rounds = mutable.ArrayBuffer.empty[Op]
    val tEnd = System.nanoTime() + seconds * 1000000000L
    def estimateNs = median(rounds.map(_.wallMs).toSeq) * 1e6
    while (rounds.size < MinRounds || System.nanoTime() + estimateNs <= tEnd) {
      rounds += round(data, timedRound = true)
      peakHeap = math.max(peakHeap, liveHeapMb())
    }

    // the last timed round's results, kept for the oracle check
    val checkDir = dirs("check")
    lastOutput.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"),
      json.writeValueAsString(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

    rec ++= Seq(
      "queries" -> names,
      "attempted" -> rounds.size * names.size,
      "failed" -> failed,
      "op_ms" -> rounds.map(_.wallMs).toSeq,
      "op_cpu_ms" -> rounds.map(_.cpuMs).toSeq,
      "query_ms" -> queryOps.map { case (q, ops) => q -> ops.map(_.wallMs).toSeq }.toMap,
      "peak_live_heap_mb" -> peakHeap,
      "setup.warmup_ms" -> warmupMs)

    trace.foreach { t =>
      t.close()
      val perRound = t.perOp(rounds.map(o => Trace.Span(o.start, o.end)).toSeq)
      val perQuery = queryOps.flatMap { case (q, ops) =>
        val per = t.perOp(ops.map(o => Trace.Span(o.start, o.end)).toSeq)
        Seq(s"query.$q.ms" -> median(ops.map(_.wallMs).toSeq),
          s"query.$q.jobs" -> median(per.map(_("spark.jobs"))))
      }
      rec("layers") = layerMedians(perRound) ++ perQuery
    }
    firstOpMs
  }

  /** The benchmark's own online-status transition function, written from
    * the documented rules (start: online, playCount + 1; heartbeat while
    * offline: back online; finish while online: offline; every change of
    * state is emitted) and independent of `StreamingOps`. */
  final class Replay {
    private final class St(var online: Boolean, var plays: Long, var service: String)
    private val users = mutable.HashMap.empty[Long, St]
    val starts = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

    def apply(batch: Seq[PlayEvent]): Seq[StatusChange] = {
      val out = mutable.ArrayBuffer.empty[StatusChange]
      batch.foreach { e =>
        val st = users.getOrElseUpdate(e.userId, new St(false, 0L, "0"))
        val t = e.ts.getTime
        e.kind match {
          case "start" =>
            st.online = true; st.plays += 1; st.service = e.service
            starts(e.userId) += 1
            out += StatusChange(e.userId, online = true, st.plays, e.service, t)
          case "heartbeat" if !st.online =>
            st.online = true
            out += StatusChange(e.userId, online = true, st.plays, st.service, t)
          case "finish" if st.online =>
            st.online = false
            out += StatusChange(e.userId, online = false, st.plays, st.service, t)
          case _ =>
        }
      }
      out.toSeq
    }
  }

  /** The stream's batches, decoded from the packed little-endian records
    * written by gen.play_stream (batch i32, user i64, ts_ms i64, kind i8,
    * service i8), and the time the decoding took in ms. */
  private def loadStream(path: String): (Array[Array[PlayEvent]], Double) = {
    val l0 = System.nanoTime()
    val batches: Array[Array[PlayEvent]] = {
      val kinds = Array("start", "heartbeat", "finish")
      val services = Array("0101", "0104", "0301", "0701", "0103", "0105")
      val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val byBatch = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[PlayEvent]]
      while (buf.hasRemaining) {
        val b = buf.getInt()
        val e = PlayEvent(buf.getLong(), new java.sql.Timestamp(buf.getLong()),
          kinds(buf.get().toInt), services(buf.get().toInt))
        while (byBatch.size <= b) byBatch += mutable.ArrayBuffer.empty
        byBatch(b) += e
      }
      byBatch.map(_.toArray).toArray
    }
    note(s"loaded ${batches.length} batches")
    (batches, (System.nanoTime() - l0) / 1e6)
  }

  /** Runs online_status and returns the epoch ms at which its first
    * timed operation started. */
  private def runStream(spark: SparkSession, batches: Array[Array[PlayEvent]], dirs: Dirs,
      seconds: Int, trace: Option[Trace], rec: mutable.Map[String, Any]): Long = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val s: SparkSession = spark

    val input = MemoryStream[PlayEvent]
    val query = StreamingOps.onlineStatus(input.toDS())
      .writeStream.format("memory").queryName("online_status").outputMode("append")
      .option("checkpointLocation", dirs("checkpoint")).start()
    val execution = query.asInstanceOf[StreamingQueryWrapper].streamingQuery
    // drained after every batch, so the sink holds one batch at a time
    val sink = execution.sink.asInstanceOf[MemorySink]

    val replay = new Replay
    val mismatches = mutable.ArrayBuffer.empty[String]
    val maxPlays = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    var emitted = 0L

    def runBatch(i: Int): Op = {
      // awaitOffset, not processAllAvailable(): with the default idle
      // timeout every trigger plans another (empty) batch, so the query
      // never reports itself idle and processAllAvailable() never returns
      val op = timed {
        BenchAccess.awaitCommitted(execution, input.addData(batches(i).toSeq), 120000L)
        true
      }
      val got = sink.allData.map(r => StatusChange(r.getAs[Long]("userId"),
        r.getAs[Boolean]("online"), r.getAs[Long]("playCount"), r.getAs[String]("service"),
        r.getAs[Long]("atMs")))
      sink.clear()
      got.foreach(c => maxPlays(c.userId) = math.max(maxPlays(c.userId), c.playCount))
      emitted += got.size
      val want = replay(batches(i).toSeq)
      def key(c: StatusChange) = (c.userId, c.atMs, c.online, c.playCount, c.service)
      if (got.map(key).sorted != want.map(key).sorted && mismatches.size < 5)
        mismatches += s"batch $i: ${got.size} changes emitted, ${want.size} expected"
      op
    }

    // batch 0 holds one event for every user: the state store reaches its
    // steady size before any batch is timed
    val w0 = System.nanoTime()
    (0 to WarmupBatches).foreach(runBatch)
    val warmupMs = (System.nanoTime() - w0) / 1e6
    note(s"warm-up done: ${WarmupBatches + 1} batches")
    var peakHeap = liveHeapMb()
    val firstOpMs = System.currentTimeMillis()
    val emittedBefore = emitted

    val ops = mutable.ArrayBuffer.empty[Op]
    val tEnd = System.nanoTime() + seconds * 1000000000L
    var i = WarmupBatches + 1
    while (System.nanoTime() < tEnd && i < batches.length) {
      ops += runBatch(i)
      if (ops.size % HeapEvery == 0) peakHeap = math.max(peakHeap, liveHeapMb())
      i += 1
    }
    note(s"timed: ${ops.size} batches")
    if (i == batches.length)
      mismatches += s"input ran out after ${ops.size} timed batches"
    query.stop()

    val badCounts = replay.starts.count { case (u, n) => maxPlays(u) != n }
    if (badCounts > 0)
      mismatches += s"$badCounts users whose final playCount is not their count of starts"
    val events = batches.slice(WarmupBatches + 1, i).map(_.length.toLong).sum
    val measuredS = ops.map(_.wallMs).sum / 1000.0

    rec ++= Seq(
      "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok),
      "op_ms" -> ops.map(_.wallMs).toSeq,
      "op_cpu_ms" -> ops.map(_.cpuMs).toSeq,
      "events_per_s" -> events / measuredS,
      "peak_live_heap_mb" -> peakHeap,
      "mismatches" -> mismatches.toSeq,
      "setup.warmup_ms" -> warmupMs)

    trace.foreach { t =>
      t.close()
      val spans = ops.map(o => Trace.Span(o.start, o.end)).toSeq
      rec("layers") = layerMedians(t.perOp(spans)) ++ layerMedians(t.perBatch(spans)) ++ Map(
        "streaming.output_rows" -> (emitted - emittedBefore).toDouble / ops.size)
    }
    firstOpMs
  }
}
