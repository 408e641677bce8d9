package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark harness: one JVM, one session at `local[cores]`.
  *
  * A run generates (or reuses) the seed's inputs, sets up (the session and
  * untimed warm-up iterations), then iterates for the requested seconds and
  * checks the outputs. `setup_s` runs from JVM start to the first timed
  * iteration, generation excluded, so it pays process and context start,
  * class loading and the cold JIT.
  * With `--trace 1` untraced and traced iterations alternate, each traced
  * one followed by the probes that split the work among the layers. The
  * result is one line `RESULT {json}` on stdout.
  *
  * Usage: `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  */
object Main {
  /** Untimed iterations in the set-up. After three, the next ones still ran
    * up to 25% slower while the JIT compiled (measured on sparse_ffill), so
    * a fourth stays out of the timing too.
    */
  val WarmupIterations = 4
  val MinIterations = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Driver heap in use after a full collection. Released checkpoint blocks
    * and collected broadcasts leave the heap asynchronously, so this waits
    * (up to 3 s) until no RDD holds cached blocks, then lets the cleaner run
    * once more before the final collection.
    */
  private def retainedHeap(spark: SparkSession): Long = {
    val end = System.nanoTime() + 3000000000L
    System.gc()
    while (System.nanoTime() < end && spark.sparkContext.getRDDStorageInfo.nonEmpty) Thread.sleep(50)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Workload.names.contains(workload), s"unknown workload $workload")
    Files.createDirectories(work)
    val out = work.resolve("out").resolve(workload)

    val g0 = System.nanoTime()
    val inputs = Workload.prepare(work.resolve("data"), workload, seed)
    val genSeconds = (System.nanoTime() - g0) / 1e9

    val problems = ArrayBuffer.empty[String]
    val spark = session(work)
    val run = Workload.open(workload, spark, inputs, out, seed)
    for (_ <- 0 until WarmupIterations) problems ++= run.iterate(new Tracer(spark, enabled = false))
    val setupSeconds =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - genSeconds

    var attempted = 0
    var failed = 0
    /** One iteration under `tr`: its wall seconds, or None when it failed. */
    def iteration(tr: Tracer): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      val bad =
        try tr.span("iteration") { run.iterate(tr) }
        catch { case e: Exception => Seq(s"iteration failed: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      if (bad.isEmpty) Some(wall)
      else { failed += 1; problems ++= bad; None }
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val plain = new Tracer(spark, enabled = false)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val untraced = ArrayBuffer.empty[Double]
    if (!trace) {
      while (untraced.size < MinIterations || System.nanoTime() < end) untraced ++= iteration(plain)
      val wall = median(untraced.toSeq)
      metrics("setup_s") = setupSeconds
      metrics("wall_s") = wall
      metrics("events_per_s") = run.events / wall
    } else {
      // untraced and traced iterations take turns in blocks of four, untraced
      // traced traced untraced, so a linear warm-up trend cancels out of the
      // tracing overhead, and as many of each kind follow a probe (probes
      // follow each traced iteration)
      val tr = new Tracer(spark, enabled = true)
      val traced = ArrayBuffer.empty[Double]
      val gcs = ArrayBuffer.empty[Double]
      val per = ArrayBuffer.empty[Map[String, Double]]
      var i = 0
      while (i < 4 || i % 4 != 0 || System.nanoTime() < end) {
        if (i % 4 == 0 || i % 4 == 3) untraced ++= iteration(plain)
        else {
          val gc0 = gcSeconds()
          iteration(tr).foreach { wall =>
            traced += wall
            gcs += gcSeconds() - gc0
            val it = tr.roots("iteration").last
            tr.span("probe") { run.probe(tr) }
            tr.settle()
            per += run.layers(tr, it, tr.roots("probe").last)
          }
        }
        i += 1
      }
      per.flatMap(_.keys).distinct.foreach(k => metrics(k) = median(per.flatMap(_.get(k)).toSeq))
      metrics("spark.gc_s") = median(gcs.toSeq)
      val all = (untraced ++ traced).sorted
      metrics("wall_tail_s") = all.last
      metrics("wall_tail.count") = all.size.toDouble
      metrics("trace.overhead_s") = median(traced.toSeq) - median(untraced.toSeq)
      tr.dump(work.resolve(s"trace-$workload-$seed.json"))
    }

    val c0 = System.nanoTime()
    val late = run.check()
    val checkSeconds = (System.nanoTime() - c0) / 1e9
    if (late.nonEmpty) { failed += 1; problems ++= late }
    if (!trace) metrics("heap_retained_mb") = retainedHeap(spark) / Workload.MB
    spark.stop()

    problems.distinct.foreach(p => System.err.println(s"[graftbench] check failed: $p"))
    System.err.println(f"[graftbench] $workload seed $seed: generate ${genSeconds}%.2f s, set-up ${setupSeconds}%.2f s, " +
      "iterations " +
      untraced.map(x => f"$x%.2f").mkString(" ") + f" s, check $checkSeconds%.2f s")
    val m = new java.util.LinkedHashMap[String, Any]()
    metrics.foreach { case (k, v) => m.put(k, v) }
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("correct", problems.isEmpty)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("metrics", m)
    println("RESULT " + Json.line(result))
  }
}
