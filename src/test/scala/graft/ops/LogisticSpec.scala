package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Logistic.train]]/[[Logistic.score]]: a separable fixture learns
  * the right weight signs and classifies perfectly; the fit is
  * deterministic across runs; scores are calibrated sigmoids. */
class LogisticSpec extends SparkTestBase {

  private def fixture = {
    import spark.implicits._
    // positive docs carry bucket 1, negative docs bucket 2; bucket 3
    // is noise appearing in both classes
    val f = Seq(
      (1L, 1L, 1.0), (1L, 3L, 0.5),
      (2L, 1L, 1.0),
      (3L, 2L, 1.0), (3L, 3L, 0.5),
      (4L, 2L, 1.0)).toDF("doc_id", "b", "x")
    val l = Seq((1L, 1.0), (2L, 1.0), (3L, 0.0), (4L, 0.0))
      .toDF("doc_id", "y")
    (f, l)
  }

  test("separable classes: discriminative weights, perfect keep decisions") {
    import spark.implicits._
    val (f, l) = fixture
    val w = Logistic.train(f, l, iterations = 5)
    val wm = w.as[(Long, Double)].collect().toMap
    assert(wm(1L) > 0 && wm(2L) < 0)
    assert(math.abs(wm(3L)) < math.abs(wm(1L))) // noise stays small
    val scored = Logistic.score(f, w)
      .join(l, "doc_id")
      .select(col("doc_id"), col("keep"), col("y"), col("score"))
      .as[(Long, Boolean, Double, Double)].collect()
    scored.foreach { case (_, keep, y, score) =>
      assert(keep === (y == 1.0))
      assert(score > 0 && score < 1)
    }
  }

  test("fixed rounds + gradient rounding make the fit deterministic") {
    import spark.implicits._
    val (f, l) = fixture
    val w1 = Logistic.train(f, l).as[(Long, Double)].collect().toMap
    val w2 = Logistic.train(f, l).as[(Long, Double)].collect().toMap
    assert(w1 === w2)
  }

  test("a null-bucket feature row is ignored: same weights as without it") {
    import spark.implicits._
    val (f, l) = fixture
    val withNull = f.select(col("doc_id"), col("b"), col("x"))
      .union(Seq((1L, Option.empty[Long], 0.7)).toDF("doc_id", "b", "x"))
    val w0 = Logistic.train(f, l).as[(Long, Double)].collect().toMap
    val w1 = Logistic.train(withNull, l).as[(Long, Double)].collect().toMap
    assert(w1 === w0)
  }

  test("score is the sigmoid of the margin") {
    import spark.implicits._
    val f = Seq((1L, 7L, 2.0)).toDF("doc_id", "b", "x")
    val w = Seq((7L, 0.5)).toDF("b", "w")
    val r = Logistic.score(f, w).head()
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12) // margin 0.5*2
    assert(math.abs(r.getDouble(2) - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
  }
}
