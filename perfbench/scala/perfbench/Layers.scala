package perfbench

import scala.collection.mutable

/** Per-layer numbers of one traced phase. A layer is the prefix of a
  * span name (`pipeline`, `sources`, `operators`, `queries`, `ml`,
  * `util`) or `spark` for job time; an op's time covered by none of its
  * spans or jobs is `other`.
  */
final case class LayerReport(metrics: Map[String, Double], perOp: Seq[Map[String, Any]])

object Layers {
  val SelfLayers = Seq("pipeline", "sources", "operators", "queries", "ml", "util", "spark", "other")

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** `phaseStartNs` is when the timed phase began: probes run outside
    * ops, and only the spans of this phase count.
    */
  def compute(t: Tracer, ops: Seq[OpRecord], phaseStartNs: Long, elapsed: Double,
              cores: Int): LayerReport = {
    val spans = t.spans.toIndexedSeq
    val opIds = ops.map(_.id).toSet
    val byOp = spans.indices.filter(i => opIds.contains(spans(i).op)).groupBy(i => spans(i).op)
    val perOp = mutable.ArrayBuffer[Map[String, Any]]()
    val selfSum = mutable.Map[String, Double]().withDefaultValue(0.0)
    val opStats = ops.map { o =>
      def toNs(ms: Long) = o.startNs + (ms - o.startMs) * 1000000L
      val inOp = (ms: Long) => ms >= o.startMs && ms <= o.endMs
      val jobs = t.jobs.filter(j => inOp(j.startMs)).map(j => (toNs(j.startMs), toNs(j.endMs).min(o.endNs)))
      val tasks = t.tasks.filter(x => inOp(x.finishMs))
      val phases = t.phases.filter(p => inOp(p.startMs))
      val mine = byOp.getOrElse(o.id, Nil)
      // each job hangs under the deepest span open when it started
      def deepest(ns: Long): Int = mine.filter(i => spans(i).startNs <= ns && spans(i).endNs >= ns)
        .maxByOption(i => spans(i).startNs).getOrElse(-1)
      val jobParent: Map[Int, Seq[(Long, Long)]] = jobs.toSeq.groupBy(j => deepest(j._1))
      val self = mutable.Map[String, Double]().withDefaultValue(0.0)
      mine.foreach { i =>
        val s = spans(i)
        val kids: Seq[(Long, Long)] = mine.filter(j => spans(j).parent == i)
          .map(j => (spans(j).startNs, spans(j).endNs)) ++ jobParent.getOrElse(i, Nil)
        val own = (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
        self(if (s.layer == "op") "other" else s.layer) += own
        self("spark") += covered(jobParent.getOrElse(i, Nil), s.startNs, s.endNs) / 1e9
      }
      SelfLayers.foreach(l => selfSum(l) += self(l))
      perOp += Map("op" -> o.id, "name" -> o.name, "wall_s" -> o.seconds) ++
        SelfLayers.map(l => s"self_${l}_s" -> self(l))
      def spanS(name: String) = mine.filter(i => spans(i).name == name).map(i => spans(i).seconds).sum
      Map(
        "jobs" -> jobs.size.toDouble,
        "job_s" -> jobs.map(j => (j._2 - j._1) / 1e9).sum,
        "outside_jobs_s" -> (o.seconds - covered(jobs.toSeq, o.startNs, o.endNs) / 1e9),
        "task_s" -> tasks.map(_.runMs).sum / 1e3,
        "scan_mb" -> tasks.map(_.inBytes).sum / 1e6,
        "rows_read" -> tasks.map(_.inRecords).sum.toDouble,
        "output_mb" -> tasks.map(_.outBytes).sum / 1e6,
        "shuffle_write_mb" -> tasks.map(_.shWrite).sum / 1e6,
        "shuffle_read_mb" -> tasks.map(_.shRead).sum / 1e6,
        "spill_mb" -> tasks.map(_.spill).sum / 1e6,
        "analysis_s" -> phases.map(_.analysisMs).sum / 1e3,
        "optimization_s" -> phases.map(_.optimizationMs).sum / 1e3,
        "planning_s" -> phases.map(_.planningMs).sum / 1e3,
        "gc_s" -> o.gcMs / 1e3,
        "construct_s" -> spanS("queries.construct"),
        "action_s" -> spanS("queries.action"),
        "run_s" -> spanS("pipeline.run"),
        "marts_s" -> spanS("pipeline.marts"),
        "curate_s" -> spanS("pipeline.curate"))
    }
    def med(k: String) = median(opStats.map(_(k)))
    def avg(k: String) = mean(opStats.map(_(k)))
    def medWhere(k: String) = median(opStats.map(_(k)).filter(_ > 0))
    def probe(name: String) =
      median(spans.filter(s => s.name == name && s.startNs >= phaseStartNs).map(_.seconds))
    val m = mutable.LinkedHashMap[String, Double](
      "pipeline.run_s" -> medWhere("run_s"),
      "pipeline.marts_s" -> medWhere("marts_s"),
      "pipeline.curate_s" -> medWhere("curate_s"),
      "pipeline.stage_rows" -> median(t.stageRows.map(_.toDouble)),
      "sources.parse_s" -> probe("sources.parse"),
      "sources.scan_mb" -> avg("scan_mb"),
      "sources.rows_read" -> avg("rows_read"),
      "operators.scd_merge_s" -> probe("operators.scd_merge"),
      "operators.dedup_s" -> probe("operators.dedup"),
      "operators.verify_yield" -> median(t.verifyYield),
      "operators.semdedup_s" -> probe("operators.semdedup"),
      "queries.construct_s" -> medWhere("construct_s"),
      "queries.action_s" -> medWhere("action_s"),
      "plans.analysis_s" -> med("analysis_s"),
      "plans.optimization_s" -> med("optimization_s"),
      "plans.planning_s" -> med("planning_s"),
      "ml.fit_s" -> median(spans.filter(_.name == "ml.fit").map(_.seconds)),
      "util.persisted_new" -> mean(ops.map(_.persistedNew.toDouble)),
      "util.cached_mb" -> median(ops.map(_.cachedMb)),
      "util.release_s" -> probe("util.release"),
      "spark.jobs" -> med("jobs"),
      "spark.job_s" -> med("job_s"),
      "spark.outside_jobs_s" -> med("outside_jobs_s"),
      "spark.task_s" -> avg("task_s"),
      "spark.busy_ratio" -> opStats.map(_("task_s")).sum / (elapsed * cores),
      "spark.shuffle_write_mb" -> avg("shuffle_write_mb"),
      "spark.shuffle_read_mb" -> avg("shuffle_read_mb"),
      "spark.spill_mb" -> avg("spill_mb"),
      "spark.output_mb" -> avg("output_mb"),
      "spark.gc_s" -> avg("gc_s"))
    SelfLayers.foreach(l => m(s"self.${l}_s") = if (ops.isEmpty) 0.0 else selfSum(l) / ops.size)
    LayerReport(m.toMap, perOp.toSeq)
  }
}
