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
}
