package graft.ops

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[Checkpoints]]: a pin's handle is the pinned frame itself, so
  * concurrent pins in one SparkContext never release each other's
  * blocks; `release` touches only frames `pin` returned; `using`
  * releases on every exit path. */
class CheckpointsSpec extends SparkTestBase {

  private def registry: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(pinned: DataFrame): Int =
    pinned.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  /** A shuffle-backed frame whose pin takes long enough for several
    * threads' materializations to overlap: (k, n) for k in [0, 97). */
  private def grouped(salt: Long): DataFrame =
    spark.range(0L, 20000L, 1L, 4)
      .select(((col("id") + lit(salt)) % 97).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))

  test("concurrent pin -> collect -> release cycles never lose a block") {
    val threads = 3
    val cycles = 15
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until cycles).flatMap { c =>
            try {
              val p = Checkpoints.pin(grouped(t * 1000L + c))
              val total = p.collect().map(_.getLong(1)).sum
              Checkpoints.release(p)
              if (total == 20000L) None else Some(s"t$t c$c: total $total")
            } catch {
              case e: Exception => Some(s"t$t c$c: ${e.getMessage}")
            }
          }
        })
      }
      val failures = futures.flatMap(_.get(10, TimeUnit.MINUTES))
      assert(failures.isEmpty,
        s"${failures.size} of ${threads * cycles} cycles failed; first: " +
          failures.take(3).mkString(" | "))
    } finally pool.shutdownNow()
  }

  test("release frees the pin, and ignores derived and unpinned frames") {
    val src = grouped(7L)
    val p = Checkpoints.pin(src)
    val id = rddId(p)
    assert(registry.contains(id))
    Checkpoints.release(p.select(col("k")), p.where(col("n") > 0), src,
      spark.range(3).toDF())
    assert(registry.contains(id))
    assert(p.collect().map(_.getLong(1)).sum === 20000L)
    Checkpoints.release(p)
    assert(!registry.contains(id))
  }

  test("using releases the pin when its body throws") {
    var id = -1
    val e = intercept[IllegalStateException] {
      Checkpoints.using(grouped(11L)) { p =>
        id = rddId(p)
        assert(registry.contains(id))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(id >= 0 && !registry.contains(id))
  }
}
