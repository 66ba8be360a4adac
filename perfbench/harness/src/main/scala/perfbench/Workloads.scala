package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.{Finance, TxLog}
import graft.sources.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** analytic_mix: registered read-only queries, one after another, in the
  * seed's order (`plan.txt`, whole passes over `roster.txt`). Each is
  * timed from the `QueryDef.run` call through the end of its `noop`
  * write. The warm pass writes every result for the oracle check. */
final class AnalyticMix(in: String, out: String, rec: Recorder) extends Workload {
  private val tables = s"$in/tables"
  private val defs = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
  private val roster = Harness.lines(s"$in/roster.txt").map(_(0))
  private val plan = Harness.lines(s"$in/plan.txt").map(_(0))

  def prepare(spark: SparkSession): Unit = ()

  /** Two passes: the JIT is still settling after one. */
  def warm(spark: SparkSession): Unit = for (_ <- 1 to 2; n <- roster) {
    try defs(n).run(spark, tables).coalesce(1).write.mode("overwrite")
      .parquet(s"$out/results/$n")
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] warm $n failed: $e")
    }
    spark.catalog.clearCache()
  }

  def window(spark: SparkSession, deadlineNs: Long, trace: Boolean): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs && i < plan.size) {
      // each query alternates between traced and untraced passes
      rec.attach(spark, trace && (i + i / roster.size) % 2 == 1)
      val d = defs(plan(i))
      rec.op("query", d.name) {
        val df = rec.span("operators.build", "operators")(d.run(spark, tables))
        rec.span("operators.exec", "operators")(Harness.noop(df))
      }
      spark.catalog.clearCache()
      i += 1
    }
  }

  def finish(spark: SparkSession): Unit = ()
}

/** table_ingest: one TxLog table under a fixed cycle of writes and reads
  * closed by maintenance, with a round of streaming ingest
  * ([[StreamRounds]]) after every second cycle. The table's rows are
  * generated by SQL expressions that `run.py` replays in DuckDB to check
  * the result. */
final class TableIngest(in: String, out: String, work: String, rec: Recorder) extends Workload {
  private val params = Harness.lines(s"$in/params.tsv").map(a => a(0) -> a(1).toLong).toMap
  private val warmOps = Harness.lines(s"$in/warm.tsv")
  private val plan = Harness.lines(s"$in/plan.tsv")
  private var root = ""
  private var lastChanges = 0L
  private var seen = Map.empty[String, Long]
  private val opLog = ArrayBuffer.empty[String]
  private val streams = new StreamRounds(in, work, rec)
  private var deadlineNs = Long.MaxValue

  private def rows(keys: DataFrame, v: String, tag: String): DataFrame =
    keys.selectExpr("k", s"CAST($v AS DOUBLE) / 100.0 AS v",
      "CAST(0 AS BIGINT) AS cnt", s"$tag AS tag")

  private def range(spark: SparkSession, lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).toDF("k")

  /** One operation of the plan; `timed` ops are recorded, warm ops not. */
  private def exec(spark: SparkSession, op: Array[String], timed: Boolean): Unit = {
    val kind = op(0)
    if (kind == "stream") return streams.round(spark, timed, deadlineNs)
    def L(i: Int) = op(i).toLong
    def tx[T](call: String)(f: => T): T = rec.span(s"TxLog.$call", "txlog")(f)
    def act(f: => Unit): Unit = rec.span("operators.exec", "operators")(f)
    val agg = Seq(count(lit(1)), sum("v"), sum("cnt"))
    val body: () => Unit = kind match {
      case "append" => () => tx("appendOnceMonotone")(TxLog.appendOnceMonotone(spark, root,
        "load", L(1), rows(range(spark, L(2), L(3)), s"(k * 7919 + ${L(1)}) % 100003",
          s"'a${L(1)}'")))
      case "merge" => () =>
        val src = rows(spark.range(0, L(4)).selectExpr(s"${L(2)} + id * ${L(3)} AS k"),
          s"(k * 31 + ${L(1)}) % 1000", s"'m${L(1)}'")
        tx("mergeInto")(TxLog.mergeInto(spark, root, src, "k",
          matched = Seq(TxLog.MergeClause(None, TxLog.MergeUpdate(Seq(
            "v" -> col("src.v"), "cnt" -> (col("cnt") + 1), "tag" -> col("src.tag"))))),
          notMatched = Seq(TxLog.MergeClause(None, TxLog.MergeInsert))))
      case "delete" => () =>
        tx("deleteMoR")(TxLog.deleteMoR(spark, root, col("k") >= L(1) && col("k") < L(2)))
      case "update" => () =>
        tx("updateWhere")(TxLog.updateWhere(spark, root, col("k") >= L(1) && col("k") < L(2),
          Seq("v" -> (col("v") + 1.5), "cnt" -> (col("cnt") + 1))))
      case "point" => () =>
        val df = tx("readWhere")(TxLog.readWhere(spark, root, s"k = ${L(1)}"))
        act(df.collect())
      case "range" => () =>
        val df = tx("readWhere")(TxLog.readWhere(spark, root, s"k >= ${L(1)} AND k < ${L(2)}"))
        act(Harness.noop(df))
      case "agg" => () =>
        val df = tx("read")(TxLog.read(spark, root))
        act(df.agg(agg.head, agg.tail: _*).collect())
      case "changes" => () =>
        val (from, to) = tx("readChanges") {
          val to = TxLog.currentVersion(root)
          (math.max(lastChanges, TxLog.earliestVersion(root).getOrElse(to)), to)
        }
        if (to > from) {
          val df = tx("readChanges")(TxLog.readChanges(spark, root, from, to))
          act(Harness.noop(df))
        }
        lastChanges = to
      case "travel" => () =>
        val df = tx("read") {
          val cur = TxLog.currentVersion(root)
          TxLog.read(spark, root,
            math.max(TxLog.earliestVersion(root).getOrElse(cur), cur - L(1)))
        }
        act(df.agg(agg.head, agg.tail: _*).collect())
      case "maint" => () =>
        tx("compact")(TxLog.compact(spark, root, params("target_files").toInt))
        tx("pruneHistory")(TxLog.pruneHistory(root, params("keep_last").toInt))
        tx("vacuum")(TxLog.vacuum(root, graceMs = 0L))
    }
    val before = if (kind == "maint") Harness.sizes(root).values.sum else 0L
    val ok = if (timed) rec.op(kind, kind)(body()) else { body(); true }
    // byte accounting, outside the timed call: a path is written when it
    // is new or its size changed since the last look
    val now = Harness.sizes(root)
    val written = now.filter { case (p, n) => !seen.get(p).contains(n) }
    seen = now
    val (log, data) = written.partition(_._1.contains("_txlog"))
    if (timed) opLog += J.obj(Seq(
      "id" -> rec.lastOp.toString, "kind" -> J.s(kind), "ok" -> ok.toString,
      "version" -> TxLog.currentVersion(root).toString,
      "data_bytes" -> data.values.sum.toString, "log_bytes" -> log.values.sum.toString,
      "root_bytes_before" -> before.toString, "root_bytes" -> now.values.sum.toString,
      "live_files" -> TxLog.snapshot(root).map(_.entries.size).getOrElse(0).toString))
  }

  def prepare(spark: SparkSession): Unit = {
    root = s"$work/table"
    val n0 = params("rows")
    TxLog.init(spark, root, rows(range(spark, 0, n0), "(k * 7919 + 17) % 100003",
      "concat('t', CAST(k % 97 AS STRING))"))
    seen = Harness.sizes(root)
    lastChanges = TxLog.currentVersion(root)
  }

  def warm(spark: SparkSession): Unit = {
    rec.extra("init_bytes", Harness.sizes(root).values.sum.toString)
    warmOps.foreach(exec(spark, _, timed = false))
    lastChanges = TxLog.currentVersion(root)
    rec.extra("setup_version", lastChanges.toString)
  }

  def window(spark: SparkSession, deadlineNs: Long, trace: Boolean): Unit = {
    this.deadlineNs = deadlineNs
    streams.trace = trace
    // traced and untraced alternate by operation (streams: by stream run)
    var i = 0
    while (System.nanoTime() < deadlineNs && i < plan.size) {
      rec.attach(spark, trace && i % 2 == 1)
      exec(spark, plan(i), timed = true)
      i += 1
    }
  }

  def finish(spark: SparkSession): Unit = {
    streams.finish(spark)
    rec.extra("dml_ops", J.arr(opLog))
    val cur = TxLog.currentVersion(root)
    val travel = math.max(TxLog.earliestVersion(root).getOrElse(cur), cur - 1)
    TxLog.read(spark, root).coalesce(1).write.parquet(s"$out/dml/final")
    TxLog.read(spark, root, travel).coalesce(1).write.parquet(s"$out/dml/travel")
    rec.extra("travel_version", travel.toString)
  }
}

/** Streaming ingest: three Trigger.AvailableNow streams over staged
  * files, one file per micro-batch, from fresh checkpoints each round: the
  * funnel state machine, watermarked OHLC bars, and a TxLog-backed sink
  * that commits each micro-batch to a table of its own. A warm round runs
  * them over two staged batches, a timed round over all of them; each
  * timed round's outputs are checked against the batch result on the same
  * input in [[finish]]. */
final class StreamRounds(in: String, work: String, rec: Recorder) {
  private val tables = s"$in/tables"
  private var roundNo = 0
  private val funnels = ArrayBuffer.empty[(Int, Map[Long, Int])]
  private val bars = ArrayBuffer.empty[(Int, Map[(String, Long), (Long, Long, Long)])]
  private val sinks = ArrayBuffer.empty[(Int, String)]
  private val runs = ArrayBuffer.empty[String]
  /** Trace every other timed stream run. */
  var trace = false

  /** Run one stream to completion; a timed run's micro-batches become ops. */
  private def stream(spark: SparkSession, name: String, timed: Boolean)(
      start: => StreamingQuery): Unit = {
    if (timed) rec.attach(spark, trace && runs.size % 2 == 1)
    val t0 = System.nanoTime()
    var q: StreamingQuery = null
    val ok = rec.op("stream", name) {
      q = rec.span(s"$name.start", "streaming")(start)
      rec.span(s"$name.await", "streaming")(q.awaitTermination(120000))
      q.exception.foreach(e => throw e)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (timed && q != null) {
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      prog.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val state = Option(p.stateOperators).toSeq.flatten
        rec.externalOp("batch", name, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d.getOrElse("triggerExecution", 0L) / 1000.0,
          s""","round":$roundNo,"rows":${p.numInputRows},"durations":${J.obj(d.map { case (k, v) => k -> v.toString })},""" +
            s""""state_rows":${state.map(_.numRowsTotal).sum},""" +
            s""""state_bytes":${state.map(_.memoryUsedBytes).sum}""")
      }
      runs += J.obj(Seq("stream" -> J.s(name), "round" -> roundNo.toString, "ok" -> ok.toString,
        "wall_s" -> J.n(wall), "rows" -> prog.map(_.numInputRows).sum.toString,
        "batches" -> prog.size.toString))
    }
  }

  /** One round of the three streams; a timed round stops between streams
    * once `deadlineNs` has passed. */
  def round(spark: SparkSession, timed: Boolean, deadlineNs: Long): Unit = {
    val base = s"$work/round-$roundNo"
    val evDir = if (timed) s"$in/stream/events" else s"$in/warm/events"
    def events = Streams.eventsStream(spark, evDir, maxFilesPerTrigger = Some(1))
    def stream(name: String)(start: => StreamingQuery): Unit =
      if (System.nanoTime() < deadlineNs) this.stream(spark, name, timed)(start)
    stream("funnel_stateful") {
      Streams.funnelStateful(events)
        .toDF().writeStream.format("memory").queryName(s"funnel_$roundNo")
        .option("checkpointLocation", s"$base/funnel-chk")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
    }
    stream("bars_watermarked") {
      Finance.barsStream(events.withWatermark("ts", "1 hour"))
        .writeStream.format("memory").queryName(s"bars_$roundNo")
        .option("checkpointLocation", s"$base/bars-chk")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    }
    stream("txlog_sink") {
      TxLog.streamingSink(events, s"$base/table", s"$base/table-chk")
    }
    // outputs are collected after the streams, outside every timing
    val ran = spark.catalog.tableExists(_: String)
    if (timed && ran(s"funnel_$roundNo")) funnels += roundNo -> spark.table(s"funnel_$roundNo")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    if (timed && ran(s"bars_$roundNo")) bars += roundNo -> spark.table(s"bars_$roundNo").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    if (timed && new java.io.File(s"$base/table").exists()) sinks += roundNo -> s"$base/table"
    roundNo += 1
  }

  def finish(spark: SparkSession): Unit = {
    rec.extra("stream_runs", J.arr(runs))
    val events = Tables.events(spark, tables)
    val wantFunnel = Streams.funnelStages(events).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val wantBars = Finance.bars(spark, tables).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val checks = ArrayBuffer.empty[String]
    def check(stream: String, r: Int, ok: Boolean, detail: String): Unit =
      checks += J.obj(Seq("stream" -> J.s(stream), "round" -> r.toString,
        "ok" -> ok.toString, "detail" -> J.s(detail)))
    funnels.foreach { case (r, got) =>
      check("funnel_stateful", r, got == wantFunnel, s"${got.size} users vs ${wantFunnel.size}")
    }
    bars.foreach { case (r, got) =>
      // append mode emits only the bars the watermark has closed; each
      // must equal its batch bar, and at most the tail may stay open
      val bad = got.count { case (k, v) => !wantBars.get(k).contains(v) }
      check("bars_watermarked", r, got.nonEmpty && bad == 0 && got.size >= wantBars.size - 10,
        s"${got.size} bars vs ${wantBars.size}, $bad differ")
    }
    sinks.foreach { case (r, root) =>
      // the committed table holds exactly the staged events, once each
      val got = TxLog.read(spark, root).select(events.columns.map(col).toIndexedSeq: _*)
      val extra = got.exceptAll(events).count()
      val missing = events.exceptAll(got).count()
      check("txlog_sink", r, extra == 0 && missing == 0, s"$extra extra rows, $missing missing")
    }
    rec.extra("stream_checks", J.arr(checks))
  }
}
