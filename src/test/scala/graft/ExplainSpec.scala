package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Explain.masked]]: plan text captured from `graft.Explain` at sf0.001. */
class ExplainSpec extends AnyFunSuite {

  // q31_multimodal_meta's MapPartitions and q107_quantile_sketch's
  // aggregate, as two runs of the same code printed them
  private val q31Line = "Arguments: graft.operators.Multimodal$$$Lambda$4114/" +
    "0x00007f325122a1d0@63b4a896, obj#114: graft.operators.Multimodal$MediaMeta"
  private val q31Rerun = "Arguments: graft.operators.Multimodal$$$Lambda$4131/" +
    "0x00007f13fd22e2b8@2c3df478, obj#114: graft.operators.Multimodal$MediaMeta"
  private val q107Line = "Functions [1]: [partial_quantileagg(value#4, " +
    "graft.operators.QuantileSummary$QuantileAgg@5b2c9a69, class[value[0]: double], " +
    "class[value[0]: binary], true, true, 0, 0, None)]"

  test("lambda class names and identity hashes are masked, nothing else") {
    assert(Explain.masked(q31Line) === "Arguments: graft.operators.Multimodal$$$Lambda@<hash>, " +
      "obj#114: graft.operators.Multimodal$MediaMeta")
    assert(Explain.masked(q31Line) === Explain.masked(q31Rerun))
    assert(Explain.masked(q107Line) === q107Line.replace("QuantileAgg@5b2c9a69", "QuantileAgg@<hash>"))
    val plain = "(3) Filter [codegen id : 1]\nCondition : (isnotnull(value#4) AND (value#4 > 0.0))"
    assert(Explain.masked(plain) === plain)
    assert(Explain.masked(Explain.masked(q31Line)) === Explain.masked(q31Line))
  }

  // q58_profile's distinct-aggregate Expand, its partial aggregate's
  // keys, its exchange and its distinct counts, as two runs of the same
  // code printed them: the rewrite numbered its three groups in two
  // different orders (the count filters are cut from a longer list)
  private val q58First =
    "Arguments: [[null, null, null, 0, l_quantity#4, CASE WHEN isnull(l_quantity#4) THEN 1 " +
    "ELSE 0 END, l_extendedprice#5, CASE WHEN isnull(l_extendedprice#5) THEN 1 ELSE 0 END, " +
    "l_discount#6, CASE WHEN isnull(l_discount#6) THEN 1 ELSE 0 END], [l_extendedprice#5, " +
    "null, null, 1, null, null, null, null, null, null], [null, l_quantity#4, null, 2, null, " +
    "null, null, null, null, null], [null, null, l_discount#6, 3, null, null, null, null, " +
    "null, null]], [l_extendedprice#60, l_quantity#61, l_discount#62, gid#59, l_quantity#63, " +
    "CASE WHEN (l_quantity IS NULL) THEN 1L ELSE 0L END#64L, l_extendedprice#65, CASE WHEN " +
    "(l_extendedprice IS NULL) THEN 1L ELSE 0L END#66L, l_discount#67, CASE WHEN (l_discount " +
    "IS NULL) THEN 1L ELSE 0L END#68L]\n" +
    "Keys [4]: [knownfloatingpointnormalized(normalizenanandzero(l_extendedprice#60)) AS " +
    "l_extendedprice#60, knownfloatingpointnormalized(normalizenanandzero(l_quantity#61)) AS " +
    "l_quantity#61, knownfloatingpointnormalized(normalizenanandzero(l_discount#62)) AS " +
    "l_discount#62, gid#59]\n" +
    "Arguments: hashpartitioning(l_extendedprice#60, l_quantity#61, l_discount#62, gid#59, " +
    "4), ENSURE_REQUIREMENTS, [plan_id=26]\n" +
    "Functions [15]: [partial_count(l_quantity#61) FILTER (WHERE (gid#59 = 2)), " +
    "partial_count(l_extendedprice#60) FILTER (WHERE (gid#59 = 1)), " +
    "partial_count(l_discount#62) FILTER (WHERE (gid#59 = 3)), ...]"
  private val q58Second =
    "Arguments: [[null, null, null, 0, l_quantity#249, CASE WHEN isnull(l_quantity#249) THEN " +
    "1 ELSE 0 END, l_extendedprice#250, CASE WHEN isnull(l_extendedprice#250) THEN 1 ELSE 0 " +
    "END, l_discount#251, CASE WHEN isnull(l_discount#251) THEN 1 ELSE 0 END], " +
    "[l_discount#251, null, null, 1, null, null, null, null, null, null], [null, " +
    "l_quantity#249, null, 2, null, null, null, null, null, null], [null, null, " +
    "l_extendedprice#250, 3, null, null, null, null, null, null]], [l_discount#305, " +
    "l_quantity#306, l_extendedprice#307, gid#304, l_quantity#308, CASE WHEN (l_quantity IS " +
    "NULL) THEN 1L ELSE 0L END#309L, l_extendedprice#310, CASE WHEN (l_extendedprice IS " +
    "NULL) THEN 1L ELSE 0L END#311L, l_discount#312, CASE WHEN (l_discount IS NULL) THEN 1L " +
    "ELSE 0L END#313L]\n" +
    "Keys [4]: [knownfloatingpointnormalized(normalizenanandzero(l_discount#305)) AS " +
    "l_discount#305, knownfloatingpointnormalized(normalizenanandzero(l_quantity#306)) AS " +
    "l_quantity#306, knownfloatingpointnormalized(normalizenanandzero(l_extendedprice#307)) " +
    "AS l_extendedprice#307, gid#304]\n" +
    "Arguments: hashpartitioning(l_discount#305, l_quantity#306, l_extendedprice#307, " +
    "gid#304, 4), ENSURE_REQUIREMENTS, [plan_id=240]\n" +
    "Functions [15]: [partial_count(l_quantity#306) FILTER (WHERE (gid#304 = 2)), " +
    "partial_count(l_extendedprice#307) FILTER (WHERE (gid#304 = 3)), " +
    "partial_count(l_discount#305) FILTER (WHERE (gid#304 = 1)), ...]"

  test("a distinct-aggregate rewrite's groups print in one order whichever order Spark chose") {
    // expression ids and plan ids differ between any two sessions; plans
    // are compared with them masked
    def ids(plan: String) = plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(ids(q58First) !== ids(q58Second))
    assert(ids(Explain.masked(q58First)) === ids(Explain.masked(q58Second)))
    val m = Explain.masked(q58First)
    assert(m.contains("[l_discount#6, null, null, 1, ") &&
      m.contains("[null, l_extendedprice#5, null, 2, ") &&
      m.contains("[null, null, l_quantity#4, 3, "))
    assert(m.contains("[l_discount#62, l_extendedprice#60, l_quantity#61, gid#59, l_quantity#63,"))
    assert(m.contains("AS l_discount#62, knownfloatingpointnormalized(normalizenanandzero(" +
      "l_extendedprice#60)) AS l_extendedprice#60, knownfloatingpointnormalized("))
    assert(m.contains(
      "hashpartitioning(l_discount#62, l_extendedprice#60, l_quantity#61, gid#59, 4)"))
    assert(m.contains("partial_count(l_discount#62) FILTER (WHERE (gid#59 = 1))") &&
      m.contains("partial_count(l_quantity#61) FILTER (WHERE (gid#59 = 3))"))
    assert(Explain.masked(m) === m)
  }
}
