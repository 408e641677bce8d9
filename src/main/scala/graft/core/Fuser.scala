package graft.core

import graft.sources.{FrameSource, SourceLoader, SourceSpec}
import graft.time.EpochTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}

/** The fusion engine: merge N heterogeneous time-series sources into one
  * globally time-ordered stream.
  *
  * Where the reference hand-rolls a chunked k-way merge scheduler
  * (`_replay_merge_via_file_multi_polars`, core.py:353-637, ~330 LoC of file
  * cursors, overlap tests and slice loops), the Spark plan is declarative:
  *
  * {{{ sources.map(normalize).reduce(unionByName).filter(window).orderBy(ts, ties) }}}
  *
  * Catalyst pushes the time-window filter into the scans (parquet row-group
  * skipping = the reference's file pruning, core.py:790-810), and the global
  * `orderBy` compiles to a RangePartitioning exchange + per-partition external
  * sort — a k-way merge distributed across executors, with spilling, which is
  * exactly what the reference's chunk scheduler approximates on one machine.
  */
object Fuser {

  /** Internal canonical event-time column, epoch milliseconds (reference core.py:74). */
  val TimestampCol = "__timestamp"

  /** Internal provenance column: integer source id (reference core.py:134-143). */
  val SourceIdCol = "exsym_lookup"

  /** Internal per-source monotone row id used as the final sort tiebreaker so
    * the fused order is total and deterministic (SURVEY §7.4 hard part 1).
    */
  val RowIdCol = "__rowid"

  /** Default separator for collision renames (reference core.py:43-45). */
  val DefaultSeparator = "||"

  case class FuseOptions(
      procStart: Option[Any] = None,
      procEnd: Option[Any] = None,
      renameIdenticalCols: Boolean = true,
      separator: String = DefaultSeparator,
      mergeColNames: Seq[String] = Nil,
      forwardFillData: Boolean = false,
      removeInternalCols: Boolean = false,
      /** Keep the per-source row-id tiebreaker column (`__rowid`) in the
        * output so downstream order-sensitive transforms (e.g. resampling
        * with intra-millisecond ties) can reuse the exact fuse order.
        */
      keepRowId: Boolean = false,
      /** Drop rows whose (source, secondary-sort id) repeats — the engine
        * guarantee behind the reference's re-read watermark (P6,
        * core.py:446-453): if the input files themselves contain overlapping
        * spans, each per-source row id is still emitted once.
        */
      dedupOverlaps: Boolean = false)

  case class FuseResult(
      df: DataFrame,
      renames: Map[String, Seq[String]],  // original -> all renamed forms (collision pass)
      sourceIds: Map[String, Int],        // descriptor -> exsym id
      startTs: Option[Long],
      endTs: Option[Long]) {

    /** Rewrite a user column list (e.g. resample `ffillKeys`) to the
      * post-rename column names: a key that collided expands to every
      * `<key><sep><descriptor>` form, others pass through — the engine-level
      * analog of the reference's `modify_transformations`
      * (classes.py:648-664), so callers never reverse-engineer the rename
      * policy.
      */
    def remapFfillKeys(keys: Seq[String]): Seq[String] =
      keys.flatMap(k => renames.getOrElse(k, Seq(k)))
  }

  /** Per-source replay stats (K5, the reference's run-report at
    * core.py:874-914).
    */
  case class SourceStats(descriptor: String, rows: Long, startTs: Long, endTs: Long)

  /** One aggregation pass over the fused stream → per-source row counts and
    * time bounds. Requires the provenance column (removeInternalCols=false).
    */
  def runReport(result: FuseResult): Seq[SourceStats] = {
    import org.apache.spark.sql.functions.{count, max, min, lit}
    val byId = result.sourceIds.map(_.swap)
    result.df.groupBy(col(SourceIdCol))
      .agg(count(lit(1)).as("rows"), min(col(TimestampCol)).as("start"),
           max(col(TimestampCol)).as("end"))
      .collect()
      .map(r => SourceStats(byId(r.getInt(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.descriptor).toSeq
  }

  /** Load + fuse path-based sources. Parquet sources read from a flat file
    * listing, without a declared `secondarySortCol`, get a recompute-stable
    * file-order row id attached (see `SourceLoader.parquetRowId`) so the
    * fused tie order is deterministic across actions and task retries.
    */
  def fuse(spark: SparkSession, specs: Seq[SourceSpec], opts: FuseOptions): FuseResult =
    fuseFrames(
      specs.map { s =>
        val (loaded, scanned) = SourceLoader.loadListed(spark, s)
        // Only a plain parquet scan carries `_metadata`; the partitioned
        // layout and forceSchema's per-file union keep the legacy id.
        val df = scanned match {
          case Some(files) if s.secondarySortCol.isEmpty =>
            loaded.withColumn(RowIdCol, SourceLoader.parquetRowId(s.path, files))
          case _ => loaded
        }
        FrameSource(df, s.descriptor, s.timestampCol,
          tsConvert = s.tsConvert, removeCols = s.removeCols,
          secondarySortCol = s.secondarySortCol)
      },
      opts)

  /** Normalize one source: drop columns (P1), convert + rename the timestamp
    * column to `__timestamp` epoch-ms Long (P2/P4), stamp provenance (P3) and
    * a deterministic per-source row id.
    */
  private def normalize(src: FrameSource, id: Int): DataFrame = {
    var df = src.df
    if (src.removeCols.nonEmpty) df = df.drop(src.removeCols: _*)
    // Per-source user renames (P2, reference core.py:969-970).
    src.renameCols.foreach { case (from, to) => df = df.withColumnRenamed(from, to) }

    val tsName = src.timestampCol
    df = src.tsConvert match {
      case Some(f) =>
        // Preserve the original column as `__<col>` (reference core.py:942-945).
        df.withColumn(s"__$tsName", col(tsName))
          .withColumn(tsName, f(col(tsName)).cast(LongType))
      case None =>
        df.schema(tsName).dataType match {
          case TimestampType | TimestampNTZType =>
            df.withColumn(tsName, unix_millis(col(tsName).cast(TimestampType)))
          case LongType => df
          case _        => df.withColumn(tsName, col(tsName).cast(LongType))
        }
    }
    // Tiebreak id preference: user-declared monotone id > a pre-attached
    // `__rowid` (e.g. SourceLoader.parquetRowId, stable across retries) >
    // monotonically_increasing_id. The last is deterministic only when the
    // frame's partition layout is (scan-only lineage, no upstream shuffle);
    // order-exact pipelines should declare `secondarySortCol` or fuse via
    // `Fuser.fuse` over parquet sources.
    val rowId = src.secondarySortCol.map(col(_).cast(LongType))
      .orElse(if (df.columns.contains(RowIdCol)) Some(col(RowIdCol).cast(LongType)) else None)
      .getOrElse(monotonically_increasing_id())
    df.withColumnRenamed(tsName, TimestampCol)
      .withColumn(SourceIdCol, lit(id))
      .withColumn(RowIdCol, rowId)
  }

  /** Fuse DataFrame sources (the core API). */
  def fuseFrames(sources: Seq[FrameSource], opts: FuseOptions = FuseOptions()): FuseResult = {
    require(sources.nonEmpty, "at least one source required")
    // duplicate descriptors would make collision renames collide AGAIN
    // (both rename to `col||desc` and merge back) and corrupt sourceIds
    require(sources.map(_.descriptor).distinct.length == sources.length,
      s"source descriptors must be unique: ${sources.map(_.descriptor).mkString(", ")}")

    val ids        = sources.zipWithIndex.map { case (s, i) => s.descriptor -> i }.toMap
    var normalized = sources.zipWithIndex.map { case (s, i) => normalize(s, i) }

    // Collision rename (§1.4, reference core.py:297-318): a non-merge column
    // name appearing in more than one source becomes `<col><sep><descriptor>`.
    var renames = Map.empty[String, Seq[String]]
    if (opts.renameIdenticalCols) {
      // `__`-prefixed columns are engine-internal (preserved originals,
      // provenance, tiebreaks) and merge by name like the timestamp column:
      // the reference's rename plan is computed from the pre-conversion
      // header probe and never sees them (core.py:297-318 vs core.py:942-945).
      val exempt = (c: String) =>
        c.startsWith("__") || c == SourceIdCol || opts.mergeColNames.contains(c)
      val colCounts = normalized.flatMap(_.columns).filterNot(exempt)
        .groupBy(identity).map { case (c, xs) => c -> xs.length }
      val colliding = colCounts.filter(_._2 > 1).keySet
      normalized = normalized.zip(sources).map { case (df, src) =>
        df.columns.filter(colliding).foldLeft(df) { (d, c) =>
          val newName = s"$c${opts.separator}${src.descriptor}"
          renames += (c -> (renames.getOrElse(c, Seq.empty) :+ newName))
          d.withColumnRenamed(c, newName)
        }
      }
    }

    // Diagonal concat (M3, reference core.py:284-295): align by name,
    // null-fill missing columns.
    var fused = normalized.reduce(_.unionByName(_, allowMissingColumns = true))

    // Re-read watermark analog (P6): overlapping input spans collapse to one
    // row per (source, row id).
    if (opts.dedupOverlaps) fused = fused.dropDuplicates(SourceIdCol, RowIdCol)

    // Time-window filter (P5/M5/M6): Catalyst pushes this into every scan.
    val startTs = opts.procStart.map(EpochTime.toEpochMillis)
    val endTs   = opts.procEnd.map(EpochTime.toEpochMillis)
    for (s <- startTs; e <- endTs)
      require(s < e, s"procstart ($s) must be before procend ($e) — reference core.py:179-201")
    startTs.foreach(s => fused = fused.filter(col(TimestampCol) >= lit(s)))
    endTs.foreach(e => fused = fused.filter(col(TimestampCol) <= lit(e)))

    // Global chronological order with deterministic tiebreak (M4).
    fused = fused.orderBy(col(TimestampCol), col(SourceIdCol), col(RowIdCol))

    // Engine-level forward fill of real rows (W1, reference core.py:481-482).
    if (opts.forwardFillData) {
      val fillCols = fused.columns.filterNot(Set(TimestampCol, SourceIdCol, RowIdCol)).toSeq
      fused = ForwardFill.partitioned(fused, fillCols, TimestampCol,
        Seq(col(SourceIdCol), col(RowIdCol)))
        .orderBy(col(TimestampCol), col(SourceIdCol), col(RowIdCol))
    }

    if (opts.removeInternalCols)
      fused = fused.drop(SourceIdCol, RowIdCol)
    else if (!opts.keepRowId)
      fused = fused.drop(RowIdCol)

    FuseResult(fused, renames, ids, startTs, endTs)
  }
}
