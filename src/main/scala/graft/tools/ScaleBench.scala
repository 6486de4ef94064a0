package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.Registry

/** PARALLEL-SCALING spot-bench (the r17 verdict's missing evidence):
  * at sf0.1 every top query is fixed-cost bound (~45 ms per AQE stage,
  * single-task stages), so 8 cores match 32 and the driver's scaling
  * block shows ratios ≤ 1 — which says nothing about whether the
  * operators parallelize. This tool replicates the sf0.1 `documents`
  * and `lineitem` tables K× with DISJOINT ids and token spaces (the
  * near-dup graph and the supplier↔part graph repeat per copy instead
  * of exploding into cross-copy cliques), then times the top queries over the scaled directory at
  * whatever core count `SPARK_GRAFT_CPUS` names. Run it once at 8 and
  * once at 32; ratios materially > 1 at the scaled SF are the
  * parallelism evidence the fixed-cost-bound bench SF cannot produce.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleBench [K] [query...]"`
  * (default K = 64). The scaled directory is rebuilt only if absent —
  * it is probe INPUT, deterministic in K, never a bench artifact. */
object ScaleBench {

  /** Copy i shifts `doc_id` by i·DocStride and the lineitem keys by
    * i·KeyStride. */
  val DocStride = 10_000_000L
  val KeyStride = 1_000_000L

  /** Fails loudly unless every base id sits below its stride: an id at
    * or past it would collide with the next copy's shifted ids and
    * merge copies the replica keeps disjoint. `keyMaxima` maps each
    * shifted lineitem key column to its base maximum. */
  def requireStrides(maxDocId: Long, keyMaxima: Map[String, Long]): Unit = {
    require(maxDocId < DocStride,
      s"max(doc_id) = $maxDocId is not below the doc stride $DocStride")
    keyMaxima.foreach { case (c, m) =>
      require(m < KeyStride,
        s"max($c) = $m is not below the key stride $KeyStride")
    }
  }

  def main(args: Array[String]): Unit = {
    val k = if (args.nonEmpty) args(0).toInt else 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-scale-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorExpressions.register(spark)

    val base = "/root/testdata/sf0.1"
    val big = s"/tmp/graft_scalebench_${k}x"
    if (!new java.io.File(s"$big/_built").isFile) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val keys = Seq("l_orderkey", "l_suppkey", "l_partkey")
      val liMax = li.agg(max(col(keys.head)).cast("long"),
        keys.tail.map(c => max(col(c)).cast("long")): _*).head()
      requireStrides(
        docs.agg(max(col("doc_id")).cast("long")).head().getLong(0),
        keys.indices.map(i => keys(i) -> liMax.getLong(i)).toMap)
      (0 until k).map { i =>
        docs.select(
          (col("doc_id") + lit(i.toLong * DocStride)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1zz$i").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/documents.parquet")
      // key shift preserves encKey's 1 ≤ k < 10⁹ domain (suppkey/
      // partkey ≤ ~2·10⁴ at sf0.1, + 63·10⁶ ≪ 10⁹) and keeps each
      // copy's supplier↔part incidence graph disjoint from the rest
      (0 until k).map { i =>
        val shift = lit(i.toLong * KeyStride)
        li.select(li.columns.map { c =>
          if (keys.contains(c)) (col(c) + shift).as(c) else col(c)
        }: _*)
      }.reduce(_ unionAll _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/lineitem.parquet")
      // remaining tables copy through unscaled (the probed queries
      // never read them; copies keep accidental reads from crashing)
      val baseDir = new java.io.File(base)
      baseDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .filterNot(f => Set("documents.parquet", "lineitem.parquet")
          .contains(f.getName))
        .foreach { t =>
          val dst = new java.io.File(big, t.getName)
          dst.mkdirs()
          t.listFiles().filter(_.isFile).foreach { f =>
            java.nio.file.Files.copy(f.toPath,
              new java.io.File(dst, f.getName).toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        }
      new java.io.File(big, "_built").createNewFile()
      ()
    }

    val names = if (args.length > 1) args.drop(1).toSeq
    else Seq("x_dedup_clusters", "x_dedup_keep_best",
      "x_graph_label_prop", "x_graph_pagerank", "x_quality_train",
      "x_dedup_minhash_lsh")

    def cold(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }

    names.foreach { n =>
      val q = Registry.byName(n)
      // warm at the smallest SF: measure the plan, not the compiler
      try q.build(spark, "/root/testdata/sf0.001").count()
      catch { case scala.util.control.NonFatal(_) => () }
      val times = (1 to 2).map { _ =>
        cold()
        val t0 = System.nanoTime()
        val rows = q.build(spark, big).count()
        val s = (System.nanoTime() - t0) / 1e9
        (s, rows)
      }
      println(f"[scalebench] cpus=$cpus%-3s k=$k $n%-24s " +
        f"min2=${times.map(_._1).min}%7.2f s rows=${times.head._2}%d")
    }
    spark.stop()
  }
}
