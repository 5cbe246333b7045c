package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scales the driver's testdata to a larger SF by key-shifted
  * replication — the standard way to stress a fixed star schema at
  * 10× without inventing a new generator.
  *
  * Replica semantics (replica r in 0 until n, r = 0 is the base rows
  * byte-identical):
  *  - fact/dim keys shift by `r * (max_key + 1)` per table, so
  *    referential integrity (orders→customer, lineitem→part/supplier,
  *    events→user) is preserved replica-by-replica and key spaces
  *    never collide;
  *  - `region`/`nation` stay fixed (TPC-H dims that do not scale with
  *    SF), and nationkey/mktsegment-style attribute columns are
  *    untouched;
  *  - `Customer#%09d`-style names are re-derived from the shifted key
  *    so name↔key consistency holds at every SF;
  *  - `documents.text` is RESYNTHESIZED for r > 0 from the base
  *    corpus's word-frequency distribution (deterministic splitmix
  *    stream seeded by (doc_id, r), length = the source doc's word
  *    count). Plain replication would make every doc a 10-way exact
  *    duplicate and blow the near-dup pair count up 100× instead of
  *    10× — resynthesis keeps vocabulary, Zipf shape, and length
  *    distribution while decorrelating replicas;
  *  - `embeddings.embedding` gets a deterministic ±0.02 per-component
  *    jitter for r > 0 (hash of (vec_id, r, component)) so ANN top-k
  *    has no cross-replica exact-distance ties;
  *  - `events` keeps its one-month time range — scaling users (not
  *    time) is how event volume actually grows 10×.
  *
  * Each output table is ONE parquet file named `{table}.parquet`
  * (same layout as /root/testdata/sf*), so graft.Verify, Bench, and
  * the DuckDB oracle in scripts/selfcheck.py read it unchanged.
  *
  * Run: sbt "Test/runMain graft.tools.GenScale [baseDir outDir replicas]"
  * Default: /root/testdata/sf0.1 -> target/testdata/sf1 at 10×.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/testdata/sf1"
    val n = if (args.length > 2) args(2).toInt else 10

    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors)
    // Base timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=false).
    // Read them as NTZ so the rewrite round-trips the physical type —
    // reading as LTZ would write isAdjustedToUTC=true and flip the
    // DuckDB oracle's column type to TIMESTAMPTZ at sf1.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    import spark.implicits._

    def load(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")

    // r = 0..n-1 as a column; one scan of the base produces all replicas.
    val reps = (0 until n).toDF("r")
    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))

    // Per-table key stride = max + 1, measured from the base (keys are
    // 0-based in the driver data but this does not assume it).
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    def shifted(key: String, s: Long) = col(key) + col("r") * lit(s)

    // --- documents text resynthesis -----------------------------------
    // Base corpus word-frequency table, tiny by construction (the
    // driver vocab is ~40 words). Collected and broadcast as a
    // cumulative-weight sampler.
    val docs = load("documents")
    val wordFreq = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").count().orderBy("w")
      .as[(String, Long)].collect()
    val words = wordFreq.map(_._1)
    val cum = wordFreq.map(_._2).scanLeft(0L)(_ + _).tail
    val total = cum.last
    val bWords = spark.sparkContext.broadcast(words)
    val bCum = spark.sparkContext.broadcast(cum)

    // splitmix64: a deterministic, statistically solid per-(doc,replica)
    // stream — the java.util.Random contract is not stable enough to
    // promise byte-identical regeneration across JVMs.
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val resynth = udf { (docId: Long, r: Int, nWords: Int) =>
      val ws = bWords.value; val cs = bCum.value
      val sb = new StringBuilder
      var state = docId * 1000003L + r
      var i = 0
      while (i < nWords) {
        state = splitmix(state)
        val draw = java.lang.Long.remainderUnsigned(state, total)
        // first cumulative weight strictly above draw
        var lo = 0; var hi = cs.length - 1
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (cs(mid) > draw) hi = mid else lo = mid + 1 }
        if (i > 0) sb.append(' ')
        sb.append(ws(lo))
        i += 1
      }
      sb.toString
    }

    def writeOne(df: DataFrame, t: String): Unit = {
      val tmp = s"$out/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val dest = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      fs.delete(dest, false)
      fs.rename(part, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"wrote $out/$t.parquet")
    }

    // Fixed dims: copy through (still rewritten so the file layout and
    // parquet writer version match the scaled tables).
    writeOne(load("region"), "region")
    writeOne(load("nation"), "nation")

    val cust = load("customer"); val custS = stride(cust, "c_custkey")
    writeOne(replicate(cust)
      .withColumn("c_custkey", shifted("c_custkey", custS))
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .drop("r").select(cust.columns.map(col): _*), "customer")

    val supp = load("supplier"); val suppS = stride(supp, "s_suppkey")
    writeOne(replicate(supp)
      .withColumn("s_suppkey", shifted("s_suppkey", suppS))
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .drop("r").select(supp.columns.map(col): _*), "supplier")

    val part = load("part"); val partS = stride(part, "p_partkey")
    writeOne(replicate(part)
      .withColumn("p_partkey", shifted("p_partkey", partS))
      .drop("r").select(part.columns.map(col): _*), "part")

    val orders = load("orders"); val ordS = stride(orders, "o_orderkey")
    writeOne(replicate(orders)
      .withColumn("o_orderkey", shifted("o_orderkey", ordS))
      .withColumn("o_custkey", shifted("o_custkey", custS))
      .drop("r").select(orders.columns.map(col): _*), "orders")

    val li = load("lineitem")
    writeOne(replicate(li)
      .withColumn("l_orderkey", shifted("l_orderkey", ordS))
      .withColumn("l_partkey", shifted("l_partkey", partS))
      .withColumn("l_suppkey", shifted("l_suppkey", suppS))
      .drop("r").select(li.columns.map(col): _*), "lineitem")

    val ev = load("events")
    val evS = stride(ev, "event_id"); val userS = stride(ev, "user_id")
    writeOne(replicate(ev)
      .withColumn("event_id", shifted("event_id", evS))
      .withColumn("user_id", shifted("user_id", userS))
      .drop("r").select(ev.columns.map(col): _*), "events")

    val docS = stride(docs, "doc_id")
    writeOne(replicate(docs)
      .withColumn("text",
        when(col("r") === 0, col("text"))
          .otherwise(resynth(col("doc_id"), col("r"),
            size(split(col("text"), " ")))))
      .withColumn("doc_id", shifted("doc_id", docS))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("r").select(docs.columns.map(col): _*), "documents")

    // vec_id shifts by the DOCUMENTS stride, not its own: vec_id is an
    // id into the doc_id space (q130 full-outer-joins semantic ranks
    // onto lexical doc ranks), so replica r's vector for base doc d
    // must carry id d + r*docS — its own stride would alias unrelated
    // base documents.
    val emb = load("embeddings")
    writeOne(replicate(emb)
      .withColumn("embedding",
        when(col("r") === 0, col("embedding")).otherwise(
          expr("transform(embedding, (x, j) -> cast(x + " +
            "(pmod(hash(vec_id, r, j), 1000) / 25000.0d - 0.02d) as float))")))
      .withColumn("vec_id", shifted("vec_id", docS))
      .drop("r").select(emb.columns.map(col): _*), "embeddings")

    spark.stop()
  }
}
