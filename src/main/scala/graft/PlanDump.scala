package graft

import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` output for the named queries to
  * files (the optimization-round plan evidence). The session is
  * [[Harness.session]], the one Bench runs under, so the dumped plans are
  * the plans the bench actually runs.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> [query ...]"
  * writes <outDir>/<query>_<suffix>.txt for each query (all queries when
  * none given). Data dir from SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    Harness.queries(args.drop(2).toSet).foreach { case (name, fn) =>
      // print the plan the bench's gated action actually executes: the
      // gate toggles session conf around the final action, and a write
      // builds a fresh QueryExecution under that conf — reanalyze() is
      // that rebuild, minus the write
      try {
        val plan = Harness.run(spark, fn, sfDir) { df =>
          org.apache.spark.sql.graftbridge.Bridge.reanalyze(df)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        }
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
