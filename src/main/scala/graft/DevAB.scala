package graft

import org.apache.spark.sql.DataFrame

/** Dev A/B harness: time the named queries under two execution modes,
  * interleaved ABAB in one JVM (the NOTES.md same-window protocol), min per
  * mode. Modes: `on` (AQE on, the bench default), `off` (AQE off for the
  * final action), `off<N>` (AQE off and shuffle width N for the final
  * action), `gate` (the engine's policy, [[Harness.run]]).
  *
  * Usage: sbt "runMain graft.DevAB <modeA> <modeB> <reps> [query ...]"
  * (all queries when none given).
  */
object DevAB {
  def main(args: Array[String]): Unit = {
    val modeA = args(0); val modeB = args(1); val reps = args(2).toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def run(fn: (org.apache.spark.sql.SparkSession, String) => DataFrame,
            mode: String): Double = {
      val t0 = System.nanoTime()
      mode match {
        case "gate" => Harness.run(spark, fn, sfDir)(write)
        case "on" => graft.pipeline.Dedup.withMaterialized(write(fn(spark, sfDir)))
        case s if s.startsWith("off") => graft.pipeline.Dedup.withMaterialized {
          val df = fn(spark, sfDir)
          val prev = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          if (s != "off") spark.conf.set("spark.sql.shuffle.partitions", s.drop(3))
          try write(df) finally {
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.shuffle.partitions", prev)
          }
        }
      }
      (System.nanoTime() - t0) / 1e9
    }
    Harness.queries(args.drop(3).toSet).foreach { case (name, fn) =>
      // warmup once per query under mode A (JIT/codegen), discarded
      run(fn, modeA); System.gc()
      val as = collection.mutable.Buffer[Double]()
      val bs = collection.mutable.Buffer[Double]()
      (1 to reps).foreach { _ =>
        as += run(fn, modeA); System.gc()
        bs += run(fn, modeB); System.gc()
      }
      println(f"$name%-24s $modeA=${as.min}%.3f $modeB=${bs.min}%.3f ratio=${bs.min / as.min}%.2f  rawA=${as.map(x => f"$x%.3f").mkString(",")} rawB=${bs.map(x => f"$x%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
