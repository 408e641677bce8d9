package graft

import org.apache.spark.sql.catalyst.plans.logical._

/** Dev tool: one line of logical-plan shape statistics per query — the
  * evidence base for any plan-derived session heuristic (what fraction of
  * the inventory has joins / generates / checkpoint leaves, and how big
  * the leaf scans are). Runs under [[Harness]], like graft.Bench.
  *
  * Usage: sbt "runMain graft.PlanStats [query ...]"
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.queries(args.toSet).foreach { case (name, fn) =>
      try Harness.run(spark, fn, sfDir) { df =>
        val plan = df.queryExecution.analyzed
        var joins, gens, rdds, windows, aggs, leaves = 0
        var bytes = BigInt(0)
        plan.foreach {
          case _: Join => joins += 1
          case _: Generate => gens += 1
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            rdds += 1; leaves += 1; bytes += l.stats.sizeInBytes
          case _: Window => windows += 1
          case _: Aggregate => aggs += 1
          case l if l.children.isEmpty && l.isInstanceOf[LeafNode] =>
            leaves += 1; bytes += l.stats.sizeInBytes
          case _ =>
        }
        println(f"$name%-24s leaves=$leaves%2d bytes=$bytes%12d joins=$joins%2d gens=$gens%2d ckptRdds=$rdds%2d windows=$windows%2d aggs=$aggs%2d")
      } catch { case e: Throwable =>
        println(s"$name FAILED: $e")
      }
    }
    spark.stop()
  }
}
