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
    * aggregate) become `@<hash>`. The groups of a distinct-aggregate
    * rewrite are renumbered in column-name order ([[sortedGroups]]).
    */
  def masked(plan: String): String =
    Gid.findAllIn(plan).distinct.foldLeft(
      plan.replaceAll("\\$\\$Lambda[$/0-9a-fx]*", "\\$\\$Lambda")
        .replaceAll("(?<=[\\w$])@[0-9a-f]{1,8}(?![0-9A-Za-z_])", "@<hash>"))(sortedGroups)

  private val Gid = """(?<!\w)gid#\d+""".r

  /** Spark's distinct-aggregate rewrite numbers its groups (`gid`) in
    * hash-map order, so a plan with several distinct aggregates (q58)
    * prints the Expand rows, the group columns ahead of `gid` in every
    * list and the `gid = n` filters in either order from run to run.
    * Renumber single-column groups by column name: the Expand's rows
    * give each group's column (null in row 0, set in its own row). Text
    * that does not have that shape is returned as it was.
    */
  private def sortedGroups(plan: String, gid: String): String = {
    val expand = ("""\[(\[[^\[\]]*\](?:, \[[^\[\]]*\])*)\], \[((?:[^,\[\]]+, )+)""" +
      gid + """\b""").r
    expand.findFirstMatchIn(plan).fold(plan) { m =>
      val cols = m.group(2).split(", ").toSeq
      val p = cols.size
      val rows = """\[([^\[\]]*)\]""".r.findAllMatchIn(m.group(1))
        .map(_.group(1).split(", ").toSeq).toSeq
      val groupPos = (0 until p).filter(j => rows.head.lift(j).contains("null"))
      lazy val own = rows.tail.map(r => groupPos.filter(r(_) != "null"))
      if (rows.exists(_.size <= p) || rows.map(_(p)) != rows.indices.map(_.toString) ||
          own.exists(_.size != 1)) plan
      else {
        val sorted = groupPos.sortBy(j => cols(j).takeWhile(_ != '#'))
        val slot = groupPos.zip(sorted).toMap  // output slot -> column now shown there
        val renum = (0 +: own.map(o => sorted.indexOf(o.head) + 1)).zipWithIndex
          .map { case (to, from) => from.toString -> to.toString }.toMap
        def permute(items: Seq[String]) = items.indices.map(j => items(slot.getOrElse(j, j)))
        val newRows = rows.map(r => permute(r.take(p)) ++ (renum(r(p)) +: r.drop(p + 1)))
          .sortBy(_(p).toInt).map(_.mkString("[", ", ", "]")).mkString(", ")
        val lists = ("""(?<=[\[(]|, )((?:[^,\[\]]+, ){""" + p + "})" + gid + """\b""").r
        val relisted = lists.replaceAllIn(
          plan.patch(m.start(1), newRows, m.end(1) - m.start(1)), l => {
            val items = l.group(1).stripSuffix(", ").split(", ").toSeq
            // a first item that opens a call (`f(a#1`) is not a column
            val reordered = if (items.head.count(_ == '(') != items.head.count(_ == ')')) items
                            else permute(items)
            java.util.regex.Matcher.quoteReplacement(reordered.mkString(", ") + ", " + gid)
          })
        ("""(?<=\(""" + gid + """ = )\d+(?=\))""").r
          .replaceAllIn(relisted, g => renum.getOrElse(g.matched, g.matched))
      }
    }
  }

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
