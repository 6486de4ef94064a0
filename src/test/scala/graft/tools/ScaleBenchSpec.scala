package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** [[ScaleBench.requireStrides]]: the replica's id shifts keep copies
  * disjoint only while every base id sits below its stride. */
class ScaleBenchSpec extends AnyFunSuite {

  private val keys = Map("l_orderkey" -> 600000L, "l_suppkey" -> 1000L,
    "l_partkey" -> 20000L)

  test("base ids below both strides pass") {
    ScaleBench.requireStrides(9_999_999L, keys)
  }

  test("an over-stride doc_id or lineitem key fails loudly") {
    val d = intercept[IllegalArgumentException](
      ScaleBench.requireStrides(ScaleBench.DocStride, keys))
    assert(d.getMessage.contains("doc_id"))
    val k = intercept[IllegalArgumentException](
      ScaleBench.requireStrides(5000L,
        keys.updated("l_orderkey", ScaleBench.KeyStride)))
    assert(k.getMessage.contains("l_orderkey"))
  }
}
