package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** S1-S8 coverage: CSV/gzip scans, positional type zipping, inference
  * fallback, header validation, time-bounds discovery. Reference behavior:
  * datasources.py:215-440, classes.py:125-196.
  */
class SourceLoaderSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_csv").toString
    Files.writeString(Paths.get(d, "part-1.csv"),
      "Timestamp,Price,Note\n1000,1.5,a\n2000,2.5,b\n")
    Files.writeString(Paths.get(d, "part-2.csv"),
      "Timestamp,Price,Note\n3000,3.5,c\n4000,,d\n")
    d
  }

  test("positional type list zipped against header (classes.py:125-131)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)))
    val df = SourceLoader.load(spark, spec)
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      Seq(("Timestamp", LongType), ("Price", DoubleType), ("Note", StringType)))
    assert(df.count() == 4)
    // empty numeric field → null (reference's empty-CRC behavior)
    assert(df.filter(df("Price").isNull).count() == 1)
  }

  test("schema inference when no types declared (classes.py:137-143)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp")
    val df = SourceLoader.load(spark, spec)
    assert(df.schema("Timestamp").dataType == IntegerType ||
           df.schema("Timestamp").dataType == LongType)
    assert(df.count() == 4)
  }

  test("gzip csv read transparently (datasources.py:320-337)") {
    val gzDir = Files.createTempDirectory("graft_gz").toString
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$gzDir/data.csv.gz"))
    out.write("Timestamp,V\n5000,x\n6000,y\n".getBytes)
    out.close()
    val df = SourceLoader.load(spark, SourceSpec(path = gzDir, format = "csv",
      descriptor = "gz", timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, StringType))))
    assert(df.count() == 2)
  }

  test("time bounds via min/max aggregate (S8, classes.py:182-196)") {
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)))
    val (lo, hi) = SourceLoader.timeBounds(SourceLoader.load(spark, spec), "Timestamp")
    assert(lo == 1000L && hi == 4000L)
  }

  test("parquet forced schema cast (datasources.py:394-395)") {
    val pqDir = Files.createTempDirectory("graft_pq").toString + "/t"
    import spark.implicits._
    Seq((1000L, 1), (2000L, 2)).toDF("Timestamp", "V").write.parquet(pqDir)
    val schema = StructType(Seq(StructField("Timestamp", LongType),
      StructField("V", DoubleType)))
    val df = SourceLoader.load(spark, SourceSpec(path = pqDir, descriptor = "p",
      timestampCol = "Timestamp", schema = Some(schema), forceSchema = true))
    assert(df.schema("V").dataType == DoubleType)
  }

  test("positional type length mismatch fails fast (P7)") {
    intercept[IllegalArgumentException] {
      SourceLoader.zipPositional(Seq("a", "b"), Seq(LongType))
    }
  }

  test("wrong on-disk header fails loudly, not silent nulls (P7, core.py:949-980)") {
    val bad = Files.createTempDirectory("graft_badhdr").toString
    Files.writeString(Paths.get(bad, "part-1.csv"),
      "Timestamp,Cost,Note\n1000,1.5,a\n") // declared column is Price, not Cost
    val spec = SourceSpec(path = bad, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      schema = Some(StructType(Seq(StructField("Timestamp", LongType),
        StructField("Price", DoubleType), StructField("Note", StringType)))))
    val e = intercept[IllegalArgumentException](SourceLoader.load(spark, spec))
    assert(e.getMessage.contains("Cost"), e.getMessage)
  }

  test("reordered on-disk header binds by name, not position") {
    val re = Files.createTempDirectory("graft_reorder").toString
    Files.writeString(Paths.get(re, "part-1.csv"),
      "Price,Timestamp,Note\n1.5,1000,a\n") // declared order differs
    val spec = SourceSpec(path = re, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      schema = Some(StructType(Seq(StructField("Timestamp", LongType),
        StructField("Price", DoubleType), StructField("Note", StringType)))))
    val df = SourceLoader.load(spark, spec)
    assert(df.columns.toSeq == Seq("Timestamp", "Price", "Note"))
    val r = df.head()
    assert(r.getLong(0) == 1000L && r.getDouble(1) == 1.5)
  }

  test("files disagreeing on header order fail fast (Spark binds positionally)") {
    val mix = Files.createTempDirectory("graft_hdrmix").toString
    Files.writeString(Paths.get(mix, "a.csv"), "Timestamp,Price\n1000,1.5\n")
    Files.writeString(Paths.get(mix, "b.csv"), "Price,Timestamp\n2.5,2000\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = mix, format = "csv",
        descriptor = "t", timestampCol = "Timestamp",
        positionalTypes = Some(Seq(LongType, DoubleType))))
    }
    assert(e.getMessage.contains("differs"), e.getMessage)
  }

  test("mixed .csv and .csv.gz in one dir errors (S7, datasources.py:320-337)") {
    val mixed = Files.createTempDirectory("graft_mixed").toString
    Files.writeString(Paths.get(mixed, "a.csv"), "T,V\n1,2\n")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$mixed/b.csv.gz"))
    out.write("T,V\n3,4\n".getBytes); out.close()
    val e = intercept[IllegalArgumentException] {
      SourceLoader.listSourceFiles(spark, mixed, "csv")
    }
    assert(e.getMessage.contains("mixes"), e.getMessage)
  }

  test("empty source dir surfaces NOVALIDFILESTOPROCESS (classes.py:690-705)") {
    val empty = Files.createTempDirectory("graft_empty").toString
    intercept[NoValidFilesException] {
      SourceLoader.load(spark, SourceSpec(path = empty, format = "csv",
        descriptor = "t", timestampCol = "T"))
    }
    val status = graft.ops.Replay.withSources {
      SourceLoader.load(spark, SourceSpec(path = empty, descriptor = "t",
        timestampCol = "T"))
      graft.ops.Replay.Ok
    }
    assert(status == graft.ops.Replay.NoValidFilesToProcess)
  }

  test("numRows caps rows PER FILE (datasources.py:230,369)") {
    // 2 files x 2 rows; numRows = 1 takes each file's FIRST row (reference
    // per-file head semantics, not a global limit)
    val spec = SourceSpec(path = dir, format = "csv", descriptor = "t",
      timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType, StringType)),
      numRows = Some(1))
    val rows = SourceLoader.load(spark, spec).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(1000L, 3000L))
    // a cap above any file's row count changes nothing
    assert(SourceLoader.load(spark, spec.copy(numRows = Some(5))).count() == 4)
  }

  test("regex file ordering by extracted integer (S6, datasources.py:189-212)") {
    val fs = Seq("day-10.parquet", "day-2.parquet", "day-1.parquet", "README")
    assert(SourceLoader.orderFiles(fs, "\\d+") ==
      Seq("day-1.parquet", "day-2.parquet", "day-10.parquet"))
    // idx selects which match is the key: data-1-of-20 style names
    val multi = Seq("f-1-part3.parquet", "f-2-part1.parquet")
    assert(SourceLoader.orderFiles(multi, "\\d+", 1) ==
      Seq("f-2-part1.parquet", "f-1-part3.parquet"))
  }

  test("BOM-prefixed header validates cleanly") {
    val d = Files.createTempDirectory("graft_bom").toString
    Files.write(Paths.get(d, "a.csv"),
      ("﻿" + "Timestamp,Price\n1000,1.5\n").getBytes("UTF-8"))
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
      descriptor = "t", timestampCol = "Timestamp",
      positionalTypes = Some(Seq(LongType, DoubleType))))
    assert(df.columns.toSeq == Seq("Timestamp", "Price"))
    assert(df.count() == 1)
  }

  test("trailing separator in header fails loudly, not by mis-zipping") {
    val d = Files.createTempDirectory("graft_trail").toString
    Files.writeString(Paths.get(d, "a.csv"), "Timestamp,Price,\n1000,1.5,x\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
        descriptor = "t", timestampCol = "Timestamp",
        positionalTypes = Some(Seq(LongType, DoubleType))))
    }
    assert(e.getMessage.contains("positional types"), e.getMessage)
  }

  test("duplicate header names fail fast") {
    val d = Files.createTempDirectory("graft_duphdr").toString
    Files.writeString(Paths.get(d, "a.csv"), "a,a,b\n1,2,3\n")
    val e = intercept[IllegalArgumentException] {
      SourceLoader.load(spark, SourceSpec(path = d, format = "csv",
        descriptor = "t", timestampCol = "a",
        schema = Some(StructType(Seq(StructField("a", LongType),
          StructField("b", LongType), StructField("b", LongType))))))
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
  }

  test("partitioned parquet layout falls back to partition discovery") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_part").toString + "/src"
    Seq((1000L, "x", 1), (2000L, "y", 2)).toDF("Timestamp", "V", "part")
      .write.partitionBy("part").parquet(d)
    val df = SourceLoader.load(spark, SourceSpec(path = d, descriptor = "p",
      timestampCol = "Timestamp"))
    assert(df.count() == 2)
    assert(df.columns.contains("part"))
  }

  test("fileSortRegex excludes non-matching files from processing") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_regex").toString + "/src"
    Seq((1000L, 1.0)).toDF("t", "v").coalesce(1).write.parquet(d)
    // add a decoy parquet file with no digits in its name
    val fs = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(fs.toPath, Paths.get(d, "decoy.parquet"))
    val spec = SourceSpec(path = d, descriptor = "p", timestampCol = "t",
      fileSortRegex = Some("\\d+"))
    // only the part-NNNN file (1 row); the decoy is excluded entirely
    assert(SourceLoader.load(spark, spec).count() == 1)
  }

  test("jsonl source: declared schema, gz transparency, by-name binding") {
    val d = Files.createTempDirectory("graft_jsonl").toString
    Files.writeString(Paths.get(d, "part-1.jsonl"),
      """{"ts":1000,"text":"alpha","score":1.5}
        |{"text":"beta","ts":2000,"score":2.5}
        |""".stripMargin) // field order varies per line: binds by name
    // second file gzipped
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(Paths.get(d, "part-2.jsonl.gz").toFile))
    gz.write("""{"ts":3000,"text":"gamma","score":3.5}""".getBytes("UTF-8"))
    gz.close()

    val schema = StructType(Seq(StructField("ts", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "jsonl",
      descriptor = "docs", timestampCol = "ts", schema = Some(schema)))
    assert(df.schema == schema)
    assert(df.count() == 3)
    assert(df.orderBy("ts").collect().map(_.getString(1)).toSeq ==
      Seq("alpha", "beta", "gamma"))

    // inference without a declared schema still reads all rows
    val inferred = SourceLoader.load(spark, SourceSpec(path = d,
      format = "jsonl", descriptor = "docs", timestampCol = "ts"))
    assert(inferred.count() == 3)

    // empty dir is the standard NOVALIDFILES path
    val empty = Files.createTempDirectory("graft_jsonl_empty").toString
    intercept[NoValidFilesException](SourceLoader.load(spark,
      SourceSpec(path = empty, format = "jsonl", descriptor = "d", timestampCol = "ts")))
  }

  test("jsonl source fuses through FrameSource like any other input") {
    val d = Files.createTempDirectory("graft_jsonl_fuse").toString
    Files.writeString(Paths.get(d, "a.jsonl"),
      """{"ts":5,"v":"x"}
        |{"ts":1,"v":"y"}
        |""".stripMargin)
    val df = SourceLoader.load(spark, SourceSpec(path = d, format = "jsonl",
      descriptor = "j", timestampCol = "ts",
      schema = Some(StructType(Seq(StructField("ts", LongType),
        StructField("v", StringType))))))
    val fused = graft.core.Fuser.fuseFrames(
      Seq(FrameSource(df, "jdocs", "ts"))).df
    assert(fused.select(graft.core.Fuser.TimestampCol).collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 5L))
  }

  test("a 40-file gzip CSV source loads from graft's own listing: no Spark job") {
    // 40 files is above Spark's 32-path parallel listing threshold, where
    // `spark.read` lists the files again as a distributed job.
    val d = Files.createTempDirectory("graft_many_gz").toString
    val gz = (0 until 40).map { h =>
      val f = Paths.get(d, f"hour-$h%02d.csv.gz")
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(f))
      out.write(("Timestamp,V\n" +
        (0 until 3).map(i => s"${h * 1000 + i},v$h-$i\n").mkString).getBytes("UTF-8"))
      out.close()
      f.toUri.toString
    }
    // a stray file in the source dir is never listed, so never read
    Files.writeString(Paths.get(d, "notes.txt"), "Timestamp,V\n1,stray\n")
    val spec = SourceSpec(path = d, format = "csv", descriptor = "g",
      timestampCol = "Timestamp", fileSortRegex = Some("\\d+"),
      positionalTypes = Some(Seq(LongType, StringType)))
    val sc = spark.sparkContext
    val (df, jobs) = org.apache.spark.graftest.Jobs.count(sc)(SourceLoader.load(spark, spec))
    assert(jobs == 0, s"SourceLoader.load launched $jobs jobs")

    val schema = StructType(Seq(StructField("Timestamp", LongType), StructField("V", StringType)))
    val (direct, directJobs) = org.apache.spark.graftest.Jobs.count(sc)(
      spark.read.option("header", "true").schema(schema).csv(gz: _*))
    assert(directJobs > 0, "the fixture must sit above the parallel listing threshold")
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(df) == rows(direct))
    assert(rows(df).length == 120)
    assert(df.select("_metadata.file_name").distinct().collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 40).map(h => f"hour-$h%02d.csv.gz"))
  }

  test("parquet loads keep _metadata: per-file caps and the file-order row id") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_pq_meta").toString + "/src"
    Seq((1000L, "a1"), (2000L, "a2"), (3000L, "a3")).toDF("t", "v")
      .coalesce(1).write.parquet(d)
    Seq((1500L, "b1"), (2500L, "b2")).toDF("t", "v")
      .coalesce(1).write.mode("append").parquet(d)
    val spec = SourceSpec(path = d, descriptor = "p", timestampCol = "t")
    val listed = SourceLoader.listSourceFiles(spark, d, "parquet")
    val (df, scanned) = SourceLoader.loadListed(spark, spec)
    assert(scanned.contains(listed))
    val meta = df.select(col("_metadata.file_name"), col("_metadata.row_index"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val names = listed.map(f => new org.apache.hadoop.fs.Path(f).getName)
    assert(meta.map(_._1) == names.toSet)
    assert(meta.map(m => (m._2, m._3)) ==
      Set((0L, "a1"), (1L, "a2"), (2L, "a3"), (0L, "b1"), (1L, "b2")))
    // numRows filters on _metadata.row_index: each file's first row
    assert(SourceLoader.load(spark, spec.copy(numRows = Some(1))).count() == 2)
    val ids = df.withColumn("id", SourceLoader.parquetRowId(d, listed))
      .select(col("_metadata.file_name"), col("_metadata.row_index"), col("id")).collect()
    ids.foreach { r =>
      assert(r.getLong(2) == (names.indexOf(r.getString(0)).toLong << 40) + r.getLong(1))
    }
  }

  test("friendly type mapping (classes.py:95-100)") {
    assert(SourceLoader.friendlyType("int") == LongType)
    assert(SourceLoader.friendlyType("float") == DoubleType)
    assert(SourceLoader.friendlyType("str") == StringType)
    assert(SourceLoader.friendlyType("bool") == BooleanType)
    assert(SourceLoader.friendlyType("datetime") == TimestampType)
    intercept[IllegalArgumentException](SourceLoader.friendlyType("complex"))
  }
}
