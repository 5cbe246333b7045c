package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed key distributions.
  *
  * AQE's skew-join handling splits oversized partitions at runtime, but
  * only for sort-merge joins; when a handful of fact keys dominate (the
  * classic hot-customer / hot-terminal shape in the reference's
  * transaction feed), salting spreads each hot key over `salt`
  * sub-partitions deterministically: the dim side replicates `salt`
  * ways (small × salt is still small), the fact side derives its salt
  * from row content — no RNG, so plans are reproducible and re-runnable.
  */
object SkewJoin {

  /** Inner equi-join equivalent to
    * `facts.join(dim, facts(factKey) === dim(dimKey))` but executed over
    * `salt`-way split keys. `saltSource` columns must exist on the fact
    * side and (together) vary within a key group — the fact's own
    * primary key is the usual choice.
    */
  def saltedEquiJoin(facts: DataFrame, dim: DataFrame, factKey: String,
                     dimKey: String, saltSource: Seq[String], salt: Int): DataFrame = {
    // improbable helper name + dropped before returning: the output
    // schema must equal the plain join's (no leaked/ambiguous columns)
    val saltCol = "__graft_salt"
    require(!facts.columns.contains(saltCol) && !dim.columns.contains(saltCol),
      s"input already has a $saltCol column")
    val saltedDim = dim.withColumn(saltCol,
      explode(array((0 until salt).map(lit): _*)))
    val saltedFacts = facts.withColumn(saltCol,
      pmod(xxhash64(saltSource.map(col): _*), lit(salt.toLong)).cast("int"))
    saltedFacts.join(saltedDim,
        saltedFacts(factKey) === saltedDim(dimKey) &&
          saltedFacts(saltCol) === saltedDim(saltCol))
      .drop(saltedFacts(saltCol)).drop(saltedDim(saltCol))
  }

  /** Skew diagnosis for a prospective join key. One per-key count
    * shuffle followed by a fully partial-aggregable scalar rollup
    * (sum/max/count — no sort anywhere), collected as one row, so
    * running it before every large join is cheap relative to the join
    * itself.
    */
  final case class SkewProfile(nRows: Long, hotKeyRows: Long, nKeys: Long)

  def profile(facts: DataFrame, factKey: String): SkewProfile = {
    val row = facts.groupBy(col(factKey)).agg(count(lit(1)).as("n"))
      .agg(sum("n"), max("n"), count(lit(1))).head()
    if (row.isNullAt(0)) SkewProfile(0L, 0L, 0L)
    else SkewProfile(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Salted join with the factor chosen from the measured distribution:
    * salt ≈ hot-key rows / average-key rows, clamped to [1, maxSalt],
    * so the hottest post-salt sub-key shrinks to roughly the average
    * key's size. Returns the plain join when no skew is measured
    * (salt 1 — no dim replication, no extra columns shuffled).
    */
  def autoSaltedEquiJoin(facts: DataFrame, dim: DataFrame, factKey: String,
                         dimKey: String, saltSource: Seq[String],
                         maxSalt: Int = 64): (DataFrame, Int) = {
    val p = profile(facts, factKey)
    val avg = if (p.nKeys == 0) 1.0 else p.nRows.toDouble / p.nKeys
    val salt = math.max(1, math.min(maxSalt,
      math.ceil(p.hotKeyRows / math.max(avg, 1.0)).toInt))
    val joined =
      if (salt <= 1) facts.join(dim, facts(factKey) === dim(dimKey))
      else saltedEquiJoin(facts, dim, factKey, dimKey, saltSource, salt)
    (joined, salt)
  }
}
