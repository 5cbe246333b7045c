package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The benchmark JVM: set-up, the timed phase, output
  * checks, and a result file for `run.py`. Arguments come in
  * `--key value` pairs: workload (or `train`), seed, seconds, trace (0|1), work (the
  * run's scratch directory, holding the generated inputs in `input`),
  * data (the fixed tables report-warm reads), cores and etl-min-days
  * (the days etl-daily times at least).
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** End-to-end metrics of one timed phase. The tail is the highest
    * whole percentile with at least ten samples above it, undefined
    * (null) when there are ten ops or fewer.
    */
  private def endToEnd(ops: Seq[OpRecord], seconds: Double, rows: Long,
                       storageMb: Double): Map[String, Any] = {
    val lat = ops.map(_.seconds).sorted
    val n = lat.size
    val (tail, pct) =
      if (n > 10) {
        val p = math.floor(100.0 * (1.0 - 10.0 / n)).toInt
        (lat(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)), p)
      } else (null, null)
    Map(
      "op_p50_s" -> median(lat), "op_tail_s" -> tail, "op_tail_pct" -> pct,
      "op_latencies" -> ops.map(o => Seq(o.name, o.seconds)),
      "ops" -> n, "failed" -> ops.count(!_.ok),
      "fail_ratio" -> (if (n == 0) 0.0 else ops.count(!_.ok).toDouble / n),
      "ops_per_s" -> n / seconds, "rows_per_s" -> rows / seconds,
      "storage_mb" -> storageMb, "seconds" -> seconds)
  }

  /** Set-up of both timed workloads on small inputs in one session, so
    * that the class-data archive dumped when this JVM exits holds the
    * classes a measured run loads.
    */
  private def train(cores: Int, work: String, data: String): Unit = {
    val spark = session(cores, work)
    val tracer = new Tracer
    new EtlDaily(spark, s"$work/input", tracer, 1).warmUp()
    new ReportWarm(spark, data, tracer, 0L).warmUp()
    SparkEntry.releaseAllCaches()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a("workload") == "train") return train(a("cores").toInt, a("work"), a("data"))
    val (name, seed, seconds) = (a("workload"), a("seed").toLong, a("seconds").toDouble)
    val (trace, work, cores) = (a("trace") == "1", a("work"), a("cores").toInt)
    val tracer = new Tracer
    val t0Setup = System.nanoTime()
    val spark = session(cores, work)
    tracer.registerStorage(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0Setup) / 1e9
    val dir = s"$work/input"
    val wl: Workload = name match {
      case "etl-daily"     => new EtlDaily(spark, dir, tracer, a("etl-min-days").toInt)
      case "report-warm"   => new ReportWarm(spark, a("data"), tracer, seed)
      case "curation-cold" => new CurationCold(spark, dir, tracer, work)
    }
    // the traced run times a cold model fit in the fresh session; that
    // probe is not part of set-up
    var probeNs = 0L
    if (trace) {
      val p0 = System.nanoTime()
      tracer.enabled = true
      wl.setupProbe()
      tracer.enabled = false
      probeNs = System.nanoTime() - p0
    }
    wl.warmUp()
    val setupS = (System.nanoTime() - t0Setup - probeNs) / 1e9
    System.err.println(f"[perfbench] set-up: $setupS%.2f s, of which session start $sessionS%.2f s")
    val sc = spark.sparkContext

    // fixed work timed on the warm session: a loaded host reads slow here
    val calibrationMs = median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1000000).selectExpr("sum(id * 3)").collect()
      (System.nanoTime() - t0) / 1e6
    })

    if (trace) tracer.registerCounts(sc, spark)
    org.apache.spark.PerfbenchBus.drain(sc)
    tracer.resetPeak()
    tracer.enabled = trace
    val rows0 = wl.rows
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var steps = 0
    while ((steps < wl.minSteps || System.nanoTime() < deadline) && wl.step()) steps += 1
    val elapsed = (System.nanoTime() - t0) / 1e9
    org.apache.spark.PerfbenchBus.drain(sc)
    tracer.enabled = false
    val ops = tracer.ops.toSeq
    val e2e = endToEnd(ops, elapsed, wl.rows - rows0, tracer.peakMb)
    val hostLoad = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    wl.check(work)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "load1" -> hostLoad, "calibration_ms" -> calibrationMs,
      "setup_jvm_s" -> setupS, "setup_session_s" -> sessionS,
      "end_to_end" -> e2e,
      "failed_ops" -> ops.filterNot(_.ok).map(_.name),
      "op_names" -> ops.map(_.name),
      "checks_failed" -> wl.failures.toSeq,
      "details" -> wl.details)
    if (trace) {
      val layers = Layers.compute(tracer, ops, t0, elapsed, cores)
      result("layers") = layers.metrics
      result("per_op") = layers.perOp
      Json.write(s"$work/trace.json", Map(
        "spans" -> tracer.spans.toSeq.map(s => Seq(s.name, s.startNs, s.endNs, s.parent, s.op)),
        "ops" -> ops.map(o => Seq(o.id, o.name, o.startNs, o.endNs, o.startMs, o.endMs)),
        "jobs" -> tracer.jobs.toSeq.map(j => Seq(j.startMs, j.endMs)),
        "tasks" -> tracer.tasks.toSeq.map(t => Seq(t.finishMs, t.runMs, t.gcMs, t.inBytes,
          t.inRecords, t.outBytes, t.shWrite, t.shRead, t.spill)),
        "phases" -> tracer.phases.toSeq.map(p => Seq(p.startMs, p.analysisMs,
          p.optimizationMs, p.planningMs))))
    }
    Json.write(s"$work/result.json", result.toMap)
    SparkEntry.releaseAllCaches()
    spark.stop()
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
  }
}
