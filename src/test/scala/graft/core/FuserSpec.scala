package graft.core

import graft.SparkTestBase
import graft.core.Fuser.{FuseOptions, SourceIdCol, TimestampCol}
import graft.sources.FrameSource
import org.apache.spark.sql.functions._

class FuserSpec extends SparkTestBase {

  import spark.implicits._

  private def trades = Seq(
    (1000L, 10.0, 1L), (3000L, 11.0, 2L), (5000L, 12.0, 3L)
  ).toDF("Timestamp", "Price", "Syn_id")

  private def spread = Seq(
    (2000L, 9.9, 10.1, 1L), (3000L, 10.9, 11.1, 2L), (6000L, 11.9, 12.1, 3L)
  ).toDF("Timestamp", "bid", "ask", "Syn_id")

  test("diagonal union + chronological order + provenance") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp"),
      FrameSource(spread, "spread", "Timestamp")))
    val df = res.df
    assert(df.columns.contains(TimestampCol))
    assert(df.columns.contains(SourceIdCol))
    // Collision rename: Syn_id appears in both sources → suffixed.
    assert(df.columns.count(_.startsWith("Syn_id||")) == 2)
    val ts = df.select(TimestampCol).collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(1000L, 2000L, 3000L, 3000L, 5000L, 6000L))
    // Equal timestamps tie-break by source id (stable, deterministic).
    val tie = df.filter(col(TimestampCol) === 3000L).select(SourceIdCol)
      .collect().map(_.getInt(0)).toSeq
    assert(tie == Seq(0, 1))
    // Null-filling: trades rows carry null bid/ask.
    val first = df.orderBy(col(TimestampCol)).first()
    assert(first.isNullAt(first.fieldIndex("bid")))
  }

  test("merge columns exempt from collision rename") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(mergeColNames = Seq("Syn_id")))
    assert(res.df.columns.count(_ == "Syn_id") == 1)
    assert(res.renames.isEmpty)
  }

  test("time window filter clamps both ends") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(procStart = Some(2000L), procEnd = Some(5000L)))
    val ts = res.df.select(TimestampCol).collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(2000L, 3000L, 3000L, 5000L))
  }

  test("inverted time window fails fast (core.py:179-201)") {
    val e = intercept[IllegalArgumentException] {
      Fuser.fuseFrames(Seq(FrameSource(trades, "trades", "Timestamp")),
        FuseOptions(procStart = Some(5000L), procEnd = Some(2000L)))
    }
    assert(e.getMessage.contains("procstart"), e.getMessage)
  }

  test("ISO string bounds are coerced like the reference scalar rules") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp")),
      FuseOptions(procStart = Some("1970-01-01T00:00:03Z")))
    assert(res.startTs.contains(3000L))
    assert(res.df.count() == 2)
  }

  test("timestamp conversion keeps original as __<col>") {
    val iso = Seq(
      ("2023-11-04T15:22:00.091Z", 1.0),
      ("2023-11-04T15:22:01.000Z", 2.0)
    ).toDF("str_iso_timestamp", "Price")
    val res = Fuser.fuseFrames(Seq(
      FrameSource(iso, "pq", "str_iso_timestamp",
        tsConvert = Some(c => unix_millis(to_timestamp(c))))))
    val df = res.df
    assert(df.columns.contains("__str_iso_timestamp"))
    val row = df.first()
    assert(row.getAs[Long](TimestampCol) == 1699111320091L)
    assert(row.getAs[String]("__str_iso_timestamp") == "2023-11-04T15:22:00.091Z")
  }

  test("remove_cols drops before fusing") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp", removeCols = Seq("Syn_id"))))
    assert(!res.df.columns.exists(_.startsWith("Syn_id")))
  }

  test("engine-level forward fill fills real rows across sources") {
    val res = Fuser.fuseFrames(
      Seq(FrameSource(trades, "trades", "Timestamp"),
          FrameSource(spread, "spread", "Timestamp")),
      FuseOptions(forwardFillData = true, renameIdenticalCols = false,
        mergeColNames = Seq("Syn_id")))
    val rows = res.df.orderBy(col(TimestampCol), col(SourceIdCol)).collect()
    // The spread row at 2000 has null Price → filled from trades@1000 (10.0).
    val at2000 = rows.find(_.getLong(rows.head.fieldIndex(TimestampCol)) == 2000L).get
    assert(at2000.getAs[Double]("Price") == 10.0)
    // trades@5000 has null bid → filled from spread@3000 (10.9).
    val at5000 = rows.find(_.getLong(rows.head.fieldIndex(TimestampCol)) == 5000L).get
    assert(at5000.getAs[Double]("bid") == 10.9)
  }

  test("per-source rename map applied before fusing (P2)") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp",
        renameCols = Map("Price" -> "Px"))))
    assert(res.df.columns.contains("Px") && !res.df.columns.contains("Price"))
  }

  test("dedupOverlaps collapses re-read rows per (source, row id) (P6)") {
    val overlapping = trades.union(trades.limit(2)) // simulate re-read span
    val res = Fuser.fuseFrames(
      Seq(FrameSource(overlapping, "trades", "Timestamp",
        secondarySortCol = Some("Syn_id"))),
      FuseOptions(dedupOverlaps = true))
    assert(res.df.count() == 3)
  }

  test("run report aggregates per-source stats (K5)") {
    val res = Fuser.fuseFrames(Seq(
      FrameSource(trades, "trades", "Timestamp"),
      FrameSource(spread, "spread", "Timestamp")))
    val stats = Fuser.runReport(res)
    assert(stats.map(s => (s.descriptor, s.rows, s.startTs, s.endTs)) == Seq(
      ("spread", 3L, 2000L, 6000L), ("trades", 3L, 1000L, 5000L)))
  }

  test("auto-converts native timestamp columns to epoch ms") {
    val df = Seq(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
      .toDF("ts").withColumn("v", lit(1))
    val res = Fuser.fuseFrames(Seq(FrameSource(df, "t", "ts")))
    assert(res.df.first().getAs[Long](TimestampCol) == 1577836800000L)
  }

  test("parquet sources get a recompute-stable row id: identical order across actions") {
    // Intra-millisecond ties across two files: without a stable tiebreaker,
    // two actions on the same plan may disagree (M4 determinism).
    val d = java.nio.file.Files.createTempDirectory("graft_rowid").toString + "/src"
    Seq((1000L, "a1"), (1000L, "a2"), (2000L, "a3")).toDF("t", "v")
      .coalesce(1).write.parquet(d)
    Seq((1000L, "b1"), (2000L, "b2")).toDF("t", "v")
      .coalesce(1).write.mode("append").parquet(d)
    val spec = graft.sources.SourceSpec(path = d, format = "parquet",
      descriptor = "s", timestampCol = "t")
    def run() = Fuser.fuse(spark, Seq(spec),
      FuseOptions(keepRowId = true)).df.collect().toSeq
    val once  = run()
    val again = run()
    assert(once == again)
    // row ids are monotone within a file: high bits = sorted-file index,
    // low bits = physical row position.
    val ids = once.map(_.getAs[Long](Fuser.RowIdCol))
    assert(ids.distinct.length == ids.length)
    val byFile = ids.groupBy(_ >> 40)
    assert(byFile.size == 2, s"expected 2 file groups, got $byFile")
  }

  test("a partitioned parquet source fuses without the file-order row id") {
    // the partitioned layout is read through Spark's partition discovery; no
    // flat listing exists to key a file-order id on, so the legacy id is used
    val d = java.nio.file.Files.createTempDirectory("graft_fuse_part").toString + "/src"
    Seq((3000L, "c", 2), (1000L, "a", 1), (2000L, "b", 2)).toDF("t", "v", "part")
      .write.partitionBy("part").parquet(d)
    val spec = graft.sources.SourceSpec(path = d, format = "parquet",
      descriptor = "p", timestampCol = "t")
    val df = Fuser.fuse(spark, Seq(spec), FuseOptions()).df
    assert(df.select(TimestampCol).collect().map(_.getLong(0)).toSeq ==
      Seq(1000L, 2000L, 3000L))
  }
}
