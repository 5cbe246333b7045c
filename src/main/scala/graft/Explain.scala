package graft

/** Plan auditor: prints the formatted physical plan of queries — used to
  * confirm filter/projection pushdown, broadcast joins, and whole-stage
  * codegen coverage per SURVEY.md §5.
  *
  * Usage: runMain graft.Explain [name[,name...]|all] [sfDir] [outDir]
  *
  * With outDir set, each query's plan is ALSO written to
  * `outDir/<name>.txt` — the optimization rounds commit these as
  * `plans/rNN/<query>_{before,after}.txt` evidence. Both the printed and
  * the written plan pass through [[masked]], so plan text only changes
  * when the plan does.
  */
object Explain {
  /** Mask the tokens of a plan's text that change from run to run with
    * no code change: JVM lambda class names (`$$Lambda$4114/0x…`, which
    * typed operators such as q31's `MapPartitions` print) become
    * `$$Lambda`, and identity hashes (`QuantileAgg@5b2c9a69`, q107's
    * aggregate) become `@<hash>`.
    */
  def masked(plan: String): String =
    plan.replaceAll("\\$\\$Lambda[$/0-9a-fx]*", "\\$\\$Lambda")
      .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}(?![0-9A-Za-z_])", "@<hash>")

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = name.split(',').filter(_.nonEmpty).toSet
    val targets =
      if (name == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter { case (k, _) => wanted(k) }.toSeq.sortBy(_._1)
    targets.foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      val plan =
        try {
          val df = fn(spark, sfDir)
          // same text explain("formatted") prints, captured for the file
          masked(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        } catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
      println(plan)
      outDir.foreach { d =>
        val dir = new java.io.File(d)
        if (!dir.exists()) dir.mkdirs()
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$n.txt"))
        try w.println(plan) finally w.close()
      }
    }
    spark.stop()
  }
}
