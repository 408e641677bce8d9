package graft

import graft.core.AdaptiveGate
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way a graft main builds its session and runs a query.
  *
  * Session shape: `local[$SPARK_GRAFT_CPUS]` (default 32) with the shuffle
  * width equal to the worker count, UTC session time zone, UI off, log
  * level WARN. A caller whose results depend on a different shuffle width
  * sets `spark.sql.shuffle.partitions` on the returned session itself.
  *
  * Run policy: the frame is built inside [[Dedup.withMaterialized]] (its
  * checkpoint blocks are released when the run ends) and the consuming
  * action runs under [[AdaptiveGate.withGatedExecution]], so Bench times
  * and Verify dumps exactly the plans the engine's gate picks.
  */
object Harness {

  /** Worker count, read from `SPARK_GRAFT_CPUS` once per JVM. */
  private lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw match {
    case None => 32
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer worker count, got '$s'; " +
          "set it to e.g. SPARK_GRAFT_CPUS=$(nproc) or unset it for 32"))
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The named inventory queries sorted by name; every query when `names`
    * is empty.
    */
  def queries(names: Set[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq
      .filter { case (n, _) => names.isEmpty || names(n) }
      .sortBy(_._1)

  /** Build `fn`'s frame over `sfDir` and run `action` on it under the
    * engine's execution policy (see object doc).
    */
  def run[T](spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      sfDir: String)(action: DataFrame => T): T =
    Dedup.withMaterialized {
      val df = fn(spark, sfDir)
      AdaptiveGate.withGatedExecution(df)(action(df))
    }
}
