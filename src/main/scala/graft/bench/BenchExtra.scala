package graft.bench

import org.apache.spark.sql.SparkSession

/** Iteration-only benchmark harness (guide §1.4): times an arbitrary
  * subset of [[graft.SparkEntry.queries]] with the SAME methodology as
  * the frozen [[graft.Bench]] (cache-cold reps via clearState, JIT-warm
  * best-of-N after [[WarmReps]] untimed reps per query, `.count()`
  * action) but without the e2e setup, so a
  * change to one operator can be measured in seconds instead of a full
  * suite run. The round-6 formatted plans of these queries
  * (`plans/r06/`) are in git history at commit 9c1d84d.
  *
  * Usage:
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   SPARK_GRAFT_EXTRA_ONLY=q124_incremental_clusters,q127_editdist_verify \
  *   SPARK_GRAFT_EXTRA_REPS=3 \
  *   sbt "runMain graft.bench.BenchExtra"
  * }}}
  *
  * This main is NOT part of the driver contract; the official numbers
  * remain graft.Bench's.
  */
object BenchExtra {
  /** Untimed reps of each query before its best-of-N. */
  val WarmReps = 2

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val advisory = sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names: Seq[String] = sys.env.get("SPARK_GRAFT_EXTRA_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(graft.Bench.headline)
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt

    // JIT/codegen warm-up, same spirit as Bench's untimed pass
    graft.SparkEntry.queries("q01_pricing_agg")(spark, sfDir).count()

    def timeOnce(name: String): Double = {
      graft.Bench.clearState(spark)
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }

    val results = names.map { name =>
      // untimed reps first: a query's first reps still run JIT/codegen
      // of its own plan (measured 13 s, 5 s, 4 s, then ~3 s from the
      // fifth rep at sf0.1), which best-of-3 alone does not absorb
      (1 to WarmReps).foreach(_ => timeOnce(name))
      val ts = (1 to reps).map(_ => timeOnce(name))
      System.err.println(
        ts.map(t => f"$t%.2f").mkString(f"[extra] $name%-34s ", " ", " s"))
      name -> ts.min
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"extra","value":${results.map(_._2).sum},"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus}""")
  }
}
