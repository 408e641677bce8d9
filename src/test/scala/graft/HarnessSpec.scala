package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** graft.Harness: the worker-count parse, query selection, the run policy,
  * and that it stays the only place a main builds a session.
  */
class HarnessSpec extends SparkTestBase {

  import scala.jdk.CollectionConverters._

  test("SPARK_GRAFT_CPUS parses to a positive worker count, 32 when unset") {
    assert(Harness.parseCpus(None) == 32)
    assert(Harness.parseCpus(Some("8")) == 8)
    assert(Harness.parseCpus(Some(" 4 ")) == 4)
    for (bad <- Seq("", "0", "-2", "four", "2.5", "8]")) {
      val e = intercept[IllegalArgumentException](Harness.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains("positive integer"), e.getMessage)
    }
  }

  test("queries selects by name in sorted order; empty means every query") {
    val all = Harness.queries(Set.empty).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val picked = Harness.queries(Set("q_pagerank", "q_fuse_merge", "no_such_query"))
    assert(picked.map(_._1) == Seq("q_fuse_merge", "q_pagerank"))
  }

  test("run builds the frame, gates the action and restores the session conf") {
    val dir = Files.createTempDirectory("harness").toString
    spark.range(100).write.mode("overwrite").parquet(s"$dir/t.parquet")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val (n, aqe, parts) = Harness.run(spark,
        (s, d) => s.read.parquet(s"$d/t.parquet").groupBy(col("id") % 3).count(),
        dir) { df =>
      (df.count(), spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(n == 3)
    // a tiny file-scan plan fits one advisory partition: the gate ran it static
    assert(aqe == "false" && parts == "1")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
  }

  test("SparkSession.builder appears in src/main only in Harness.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root; $root not found")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Harness.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"build sessions through graft.Harness.session(), not in: ${offenders.mkString(", ")}")
  }
}
