package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one run records, kept in memory and written as JSON once
  * the run ends. All times are epoch milliseconds (fractional), the clock
  * Spark's own events use, so harness spans and Spark jobs and tasks can
  * be laid on one time line and attributed to operations by interval.
  *
  * Ops and spans are always recorded (the end-to-end metrics come from
  * the ops). The Spark-side events are recorded only while [[attach]]ed,
  * which is what a traced round does. */
final class Recorder {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ops = ArrayBuffer.empty[String]
  private val spans = ArrayBuffer.empty[String]
  private val sparkEvents = ArrayBuffer.empty[String]
  private val extras = ArrayBuffer.empty[(String, String)]
  private var nextOp = 0
  private var nextSpan = 0
  private var openSpans: List[Int] = Nil
  @volatile private var traced = false

  /** The op id spans and traced rounds hang from. */
  private var curOp = -1
  def lastOp: Int = curOp

  /** Time one operation of `kind` (closed loop: the caller blocks on
    * it). A failure is recorded and reported, not rethrown: every
    * attempted operation counts. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    curOp = nextOp; nextOp += 1
    val t0 = now()
    val n0 = System.nanoTime()
    var ok = false
    try { span("op", "harness")(body); ok = true }
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
    } finally {
      val sec = (System.nanoTime() - n0) / 1e9
      ops.synchronized {
        ops += s"""{"id":$curOp,"kind":${J.s(kind)},"name":${J.s(name)},""" +
          s""""start":${J.n(t0)},"end":${J.n(now())},"sec":${J.n(sec)},""" +
          s""""ok":$ok,"traced":$traced}"""
      }
    }
    ok
  }

  /** Record an operation that happened elsewhere (a streaming
    * micro-batch, timed by the engine's own progress events). */
  def externalOp(kind: String, name: String, start: Double, sec: Double,
      fields: String): Unit = {
    val id = nextOp; nextOp += 1
    ops.synchronized {
      ops += s"""{"id":$id,"kind":${J.s(kind)},"name":${J.s(name)},""" +
        s""""start":${J.n(start)},"end":${J.n(start + sec * 1000)},""" +
        s""""sec":${J.n(sec)},"ok":true,"traced":$traced$fields}"""
    }
  }

  /** A span around one call from the harness into the program. Spans are
    * recorded only in traced rounds; untraced rounds pay one branch. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = openSpans.headOption.getOrElse(-1)
      openSpans = id :: openSpans
      val t0 = now()
      try body
      finally {
        openSpans = openSpans.tail
        spans.synchronized {
          spans += s"""{"op":$curOp,"id":$id,"parent":$parent,""" +
            s""""name":${J.s(name)},"layer":${J.s(layer)},""" +
            s""""start":${J.n(t0)},"end":${J.n(now())}}"""
        }
      }
    }

  def extra(key: String, json: String): Unit = extras.synchronized { extras += key -> json }

  // ---- Spark-side events (traced rounds only)

  private def event(json: String): Unit = sparkEvents.synchronized { sparkEvents += json }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      event(s"""{"ev":"job_start","job":${e.jobId},"time":${e.time},""" +
        s""""stages":${e.stageIds.mkString("[", ",", "]")}}""")
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      event(s"""{"ev":"job_end","job":${e.jobId},"time":${e.time}}""")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) event(
        s"""{"ev":"task","stage":${e.stageId},"attempt":${e.stageAttemptId},""" +
          s""""launch":${i.launchTime},"finish":${i.finishTime},""" +
          s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
          s""""gc_ms":${m.jvmGCTime},"in_bytes":${m.inputMetrics.bytesRead},""" +
          s""""in_rows":${m.inputMetrics.recordsRead},""" +
          s""""sh_write":${m.shuffleWriteMetrics.bytesWritten},""" +
          s""""sh_read":${m.shuffleReadMetrics.totalBytesRead}}""")
    }
    // RDD blocks only (persist / localCheckpoint), not broadcasts
    private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
    private var cached = 0L
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cached += size - blocks.getOrElse(key, 0L)
        if (size == 0L) blocks.remove(key) else blocks(key) = size
        event(s"""{"ev":"cache","time":${J.n(now())},"bytes":$cached}""")
      }
    }
  }

  private object helper extends AdaptiveSparkPlanHelper

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val plan: SparkPlan = qe.executedPlan
      val exchanges = helper.collectWithSubqueries(plan) {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      }.size
      val scans = helper.collectWithSubqueries(plan) { case s: DataSourceScanExec => s }
      def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      val phases = qe.tracker.phases.map { case (k, p) =>
        s"""${J.s(k)}:[${p.startTimeMs},${p.endTimeMs}]"""
      }.mkString("{", ",", "}")
      event(s"""{"ev":"action","func":${J.s(funcName)},"time":${J.n(now())},""" +
        s""""ok":$ok,"phases":$phases,"exchanges":$exchanges,""" +
        s""""scan_files":${metric("numFiles")},"scan_rows":${metric("numOutputRows")}}""")
    }
  }

  /** Start (or stop) recording Spark-side events for the rounds that
    * follow. A traced round and an untraced one differ only in this. */
  def attach(spark: SparkSession, on: Boolean): Unit = if (on != traced) {
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    traced = on
  }

  def json(): String = {
    def arr(b: ArrayBuffer[String]) = b.synchronized(b.mkString("[\n", ",\n", "\n]"))
    val ex = extras.synchronized(extras.map { case (k, v) => s"${J.s(k)}:$v" }.mkString(",\n"))
    s"""{"ops":${arr(ops)},\n"spans":${arr(spans)},\n"spark":${arr(sparkEvents)},\n$ex}"""
  }
}

/** Minimal JSON literals (the harness only ever writes JSON). */
object J {
  def s(x: String): String = {
    val b = new StringBuilder("\"")
    x.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def n(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}")
}
