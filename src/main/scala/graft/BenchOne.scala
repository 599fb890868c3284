package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timing harness: `BenchOne <name> [sfDir] [n]`.
  * Runs the named declared query n times (default 3) and prints each
  * wall time — for isolating plan pathologies the all-queries Bench
  * hides behind JVM warmup and cross-query interference. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER=spark://host:7077 points this harness at a
    // standalone cluster (the SCALE.md §33 two-executor experiment:
    // same conf posture, per-executor heaps instead of one shared
    // JVM); default stays single-JVM local[cpus]
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftConf.applyBase(SparkSession.builder()
        .master(master), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).count()
    val fn = SparkEntry.queries(name)
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val cnt = fn(spark, sfDir).count()
      println(f"run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($cnt rows)")
      // per-trial cache discipline, matching graft.Bench: without
      // this, a Pin.keyed-backed query's runs 2..n can be served from
      // run 1's persisted plans and the wall measures a cache read
      spark.sharedState.cacheManager.clearCache()
    }
    if (sys.env.contains("EXPLAIN")) fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
