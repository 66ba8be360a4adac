package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. `run.py` generates every input and the
  * expected results, then starts this main once per run:
  *
  *   --mode run --workload W --in DIR --out DIR --seconds S --trace 0|1
  *   --cores N
  *
  * It sets the workload up once on a fresh SparkSession, makes one warm
  * pass, runs the closed loop for S seconds from one client thread,
  * writes what the checks need under --out, and writes everything
  * recorded to `<out>/record.json`.
  * `--mode oracles --out FILE` dumps each registered query's DuckDB
  * oracle SQL instead. */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "oracles" =>
        val sql = graft.SparkEntry.allDefs.collect { case graft.QueryDef(n, _, Some(q)) => n -> J.s(q) }
        Files.writeString(Paths.get(a("out")), J.obj(sql))
      case "run" => run(a)
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(a: Map[String, String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val in = a("in")
    val out = a("out")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = s"$out/work"
    new File(work).mkdirs()
    val rec = new Recorder
    val w: Workload = a("workload") match {
      case "analytic_mix" => new AnalyticMix(in, out, rec)
      case "table_ingest" => new TableIngest(in, out, work, rec)
    }

    // Set-up: the session and program-side state, then one warm pass, the
    // first execution of each kind of operation (codegen, JIT, cold
    // caches). run.py counts set-up from the JVM's launch to `ready_epoch_s`.
    val spark = session(cores, work)
    w.prepare(spark)
    rec.extra("prepared_s", J.n((rec.now() - jvmStart) / 1000.0))
    val tw = rec.now()
    w.warm(spark)
    rec.extra("warm_s", J.n((rec.now() - tw) / 1000.0))
    rec.extra("ready_epoch_s", J.n(rec.now() / 1000.0))

    val canaryStart = canary(spark, cores)
    val t0 = System.nanoTime()
    w.window(spark, t0 + (seconds * 1e9).toLong, trace)
    rec.extra("window_s", J.n((System.nanoTime() - t0) / 1e9))
    rec.attach(spark, on = false)
    rec.extra("canary_s", J.arr(Seq(canaryStart, canary(spark, cores)).map(J.n)))
    w.finish(spark)
    Files.writeString(Paths.get(s"$out/record.json"), rec.json())
    spark.stop()
  }

  /** The fixed, data-free CPU canary of `graft.Bench.canaryOnce`, sized
    * to about a second on a 4-core host. It reads no input, so a slower
    * canary means a busier host, not a slower program. */
  private def canary(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, cores)
      .selectExpr("sum((id * 31) % 1000003) AS s")
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def lines(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t"))

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Bytes of every regular file under `dir`, by path. */
  def sizes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }
}

trait Workload {
  /** Program-side set-up (tables, indexes, state) on a fresh session. */
  def prepare(spark: SparkSession): Unit
  /** The warm pass: each kind of operation once, untimed. */
  def warm(spark: SparkSession): Unit
  /** The closed loop, until `deadlineNs`. With `trace`, every other
    * operation is traced, so the untraced ones of the same run give the
    * overhead. */
  def window(spark: SparkSession, deadlineNs: Long, trace: Boolean): Unit
  /** Leave what the correctness checks need. Not timed. */
  def finish(spark: SparkSession): Unit
}
