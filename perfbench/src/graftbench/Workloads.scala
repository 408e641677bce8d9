package graftbench

import graft.core.{AdaptiveGate, ForwardFill, Fuser}
import graft.core.Fuser.{FuseOptions, RowIdCol, SourceIdCol, TimestampCol}
import graft.ops.{Replay, Resampler, Sinks}
import graft.ops.Resampler.ResampleOptions
import graft.pipeline.Dedup
import graft.sources.{SourceLoader, SourceSpec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One workload bound to a session and its generated inputs. */
abstract class Run {
  /** Input events (rows) one iteration consumes. */
  def events: Long

  /** One complete iteration: from the input paths to the finished sink, the
    * last replayed event, or the last query. Returns the problems found in
    * outputs that are checked on the fly; empty when correct.
    */
  def iterate(tr: Tracer): Seq[String]

  /** Problems in the last iteration's persisted outputs (read back outside
    * the timed window); empty when correct.
    */
  def check(): Seq[String]

  /** Extra calls made only in traced runs, after a traced iteration, to
    * split the lazily executed work among the layers.
    */
  def probe(tr: Tracer): Unit

  /** Per-layer metrics from one traced iteration `it` and its probes `pr`. */
  def layers(tr: Tracer, it: Span, pr: Span): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("csv_replay", "sparse_ffill", "query_mix")

  def prepare(data: Path, name: String, seed: Long): Inputs = name match {
    case "csv_replay"   => Inputs.prepare(data, name, seed)(ReplayGen.generate)
    case "sparse_ffill" => Inputs.prepare(data, name, seed)(Sparse.generate)
    case "query_mix"    => Inputs.prepare(data, name, seed)(Mix.generate)
    case other          => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def open(name: String, spark: SparkSession, in: Inputs, out: Path, seed: Long): Run = name match {
    case "csv_replay"   => new ReplayRun(spark, in)
    case "sparse_ffill" => new SparseRun(spark, in, out)
    case "query_mix"    => new MixRun(spark, in, seed)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  val MB = 1e6

  def shuffle(rng: SplittableRandom, a: Array[Int]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** `n` owners dealt evenly over `sources`, in random order. */
  def owners(rng: SplittableRandom, n: Int, sources: Int): Array[Int] = {
    val a = Array.tabulate(n)(_ % sources)
    shuffle(rng, a)
    a
  }

  /** Engine-wide metrics of one traced iteration. */
  def engine(tr: Tracer, it: Span): Map[String, Double] = {
    val c = tr.inclusive(it)
    val cores = Runtime.getRuntime.availableProcessors
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.core_util" -> c.runMs / 1e3 / (it.seconds * cores),
      "spark.spill_mb" -> c.spill / MB)
  }

  def one(tr: Tracer, root: Span, name: String): Span =
    tr.find(root, name).headOption.getOrElse(throw new IllegalStateException(s"no span $name"))

  /** `fuser.*` from a probe's `Fuser.fuse` call without forward fill
    * (`probe.fuse`) and the execution of its output (`probe.fuse_exec`).
    */
  def fuserMetrics(tr: Tracer, pr: Span): Map[String, Double] = {
    val call = one(tr, pr, "probe.fuse")
    val exec = one(tr, pr, "probe.fuse_exec")
    Map(
      "fuser.call_s" -> call.seconds,
      "fuser.call_jobs" -> tr.inclusive(call).jobs.toDouble,
      "fuser.exec_s" -> exec.seconds,
      "fuser.shuffle_write_mb" -> tr.inclusive(exec).shuffleWrite / MB)
  }

  /** Output files and bytes of a sink directory. */
  def sinkFiles(out: Path): (Int, Long) = {
    val fs = FileIO.dataFiles(out)
    (fs.size, fs.map(Files.size).sum)
  }
}

/** Spans and metrics of the `sources` layer, shared by the paper workloads.
  * `Fuser.fuse` loads its sources internally, so the traced run repeats the
  * listing and the loads as separate calls.
  */
trait SourceLayer {
  def spark: SparkSession
  def specs: Seq[SourceSpec]

  private var files = 0
  private var headerProbes = 0L

  def probeSources(tr: Tracer): Unit = {
    tr.span("sources.list") {
      files = specs.map(s => SourceLoader.listSourceFiles(spark, s.path, s.format).size).sum
    }
    CountingFs.driver = Thread.currentThread
    val before = CountingFs.opens.get()
    tr.span("sources.load") {
      specs.foreach(s => SourceLoader.load(spark, s.copy(path = CountingFs.wrap(s.path))))
    }
    headerProbes = CountingFs.opens.get() - before
  }

  def sourceMetrics(tr: Tracer, pr: Span): Map[String, Double] = {
    val load = Workload.one(tr, pr, "sources.load")
    Map(
      "sources.files" -> files.toDouble,
      "sources.list_s" -> Workload.one(tr, pr, "sources.list").seconds,
      "sources.load_s" -> load.seconds,
      "sources.load_jobs" -> tr.inclusive(load).jobs.toDouble,
      "sources.header_probes" -> headerProbes.toDouble)
  }
}

// ------------------------------------------------------------ sparse_ffill

/** Three parquet sources whose events crowd into 20 bursts covering 1% of
  * the span (90% of events), with a partly null shared `value` column; the
  * 100 ms grid outnumbers the events about 7 to 1.
  */
object Sparse {
  val Sources = 3
  val EventsPerSource = 3000
  val FilesPerSource = 4
  val SpanMs = 6000L * 1000
  val Bursts = 20
  val BurstShare = 0.9
  val Step = "100l"
  val StepMs = 100L

  def fillCols: Seq[String] =
    (0 until Sources).map(s => s"value||s$s") ++ (0 until Sources).map(s => s"cnt_s$s")
  def columns: Seq[String] = (Fuser.SourceIdCol +: fillCols).sorted

  def generate(dir: Path, rng: SplittableRandom): (Seq[(String, Path)], Long, java.util.Map[String, Any]) = {
    val dirs = (0 until Sources).map(s => s"s$s" -> Inputs.sourceDir(dir, s"s$s"))
    val total = Sources * EventsPerSource
    val burstMs = SpanMs / 100 / Bursts
    val zone = SpanMs / Bursts
    val starts = Array.tabulate(Bursts)(b => b * zone + rng.nextLong(zone - burstMs))
    val seen = new java.util.HashSet[Long](total * 2)
    while (seen.size < total)
      seen.add(
        if (rng.nextDouble() < BurstShare) starts(rng.nextInt(Bursts)) + rng.nextLong(burstMs)
        else rng.nextLong(SpanMs))
    val offs = seen.toArray.map(_.asInstanceOf[Long])
    java.util.Arrays.sort(offs)
    val owner = Workload.owners(rng, total, Sources)
    val rows = Array.fill(Sources)(ArrayBuffer.empty[Array[Any]])
    val raw = ArrayBuffer.empty[(Long, Int, Any, Any)]
    for (j <- offs.indices) {
      val s = owner(j)
      val ts = Inputs.Base + offs(j)
      val value: Any = if (rng.nextDouble() < 0.3) null else Inputs.round2(rng.nextDouble() * 100)
      val cnt: Any = if (rng.nextDouble() < 0.2) null else rng.nextLong(1000)
      rows(s) += Array[Any](ts, value, cnt)
      raw += ((ts, s, value, cnt))
    }
    for (s <- 0 until Sources) {
      val per = rows(s).grouped((rows(s).length + FilesPerSource - 1) / FilesPerSource).toSeq
      per.zipWithIndex.foreach { case (chunk, f) =>
        FileIO.parquet(dirs(s)._2.resolve(s"part_$f.parquet"), "required int64 ts;",
          Seq("value" -> KDouble, s"cnt_s$s" -> KLong), chunk.iterator)
      }
    }
    // fused order, then every data column forward-filled across sources
    val last = scala.collection.mutable.Map.empty[String, Any]
    val evs = raw.map { case (ts, s, value, cnt) =>
      if (value != null) last(s"value||s$s") = value
      if (cnt != null) last(s"cnt_s$s") = cnt
      Inputs.Ev(ts, s, last.toMap + (Fuser.SourceIdCol -> s))
    }.toIndexedSeq
    val (gridRows, sum) = Inputs.referenceGrid(evs, StepMs, columns,
      (0 until Sources).map(s => s"value||s$s").toSet)
    (dirs, total.toLong, Inputs.obj("grid_rows" -> gridRows, "checksum" -> sum))
  }
}

final class SparseRun(val spark: SparkSession, in: Inputs, out: Path) extends Run with SourceLayer {
  val specs: Seq[SourceSpec] = in.sources.map { case (n, p) =>
    SourceSpec(path = p.toString, format = "parquet", descriptor = n, timestampCol = "ts",
      fileSortRegex = Some("\\d+"))
  }
  def events: Long = in.events
  private var fused: DataFrame = _
  private var resampled: DataFrame = _

  def iterate(tr: Tracer): Seq[String] = {
    val fr = tr.span("fuser.call") { Fuser.fuse(spark, specs, FuseOptions(forwardFillData = true)) }
    val rs = tr.span("resampler.call") {
      Resampler.resample(fr.df, Sparse.Step, opts = ResampleOptions(ffillKeys = fr.remapFfillKeys(Seq("value"))))
    }
    tr.span("sinks.write") { Sinks.writeFull(rs, out.toString, "csv", Some("gzip")) }
    fused = fr.df
    resampled = rs
    Nil
  }

  /** Reads the single gzip CSV file in file order. */
  def check(): Seq[String] = {
    val files = FileIO.dataFiles(out)
    if (files.size != 1) return Seq(s"writeFull produced ${files.size} files")
    val rd = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(Files.newInputStream(files.head), 1 << 16), StandardCharsets.UTF_8))
    try {
      val header = rd.readLine().split(",", -1).toSeq
      val order = header.zipWithIndex.filter(_._1 != TimestampCol).sortBy(_._1)
      val tsIdx = header.indexOf(TimestampCol)
      val cols = order.map(_._1)
      def parse(name: String, v: String): Any =
        if (v.isEmpty) null
        else if (name == Fuser.SourceIdCol) v.toInt
        else if (name.startsWith("value")) v.toDouble
        else v.toLong
      var acc = Checksum.start(cols)
      var n = 0L
      var prev = Long.MinValue
      var ordered = true
      var line = rd.readLine()
      while (line != null) {
        val f = line.split(",", -1)
        val ts = f(tsIdx).toLong
        if (ts < prev) ordered = false
        prev = ts
        acc = Checksum.fold(acc, Checksum.row(ts, order.map { case (c, i) => parse(c, f(i)) }))
        n += 1
        line = rd.readLine()
      }
      val want = in.expected
      Seq(
        (cols != Sparse.columns) -> s"columns ${cols.mkString(",")} != ${Sparse.columns.mkString(",")}",
        !ordered -> "sink rows are not in time order",
        (n != want.path("grid_rows").asLong) -> s"grid rows $n != ${want.path("grid_rows").asLong}",
        (acc != want.path("checksum").asLong) -> s"grid checksum $acc != ${want.path("checksum").asLong}")
        .collect { case (true, msg) => msg }
    } finally rd.close()
  }

  /** Runs the fuse without forward fill, then the `ForwardFill.partitioned`
    * call that `forwardFillData = true` makes inside the fuse, on that
    * fuse's output with the same columns and tie-breaks.
    */
  def probe(tr: Tracer): Unit = {
    probeSources(tr)
    val plain = tr.span("probe.fuse") { Fuser.fuse(spark, specs, FuseOptions(keepRowId = true)) }.df
    tr.span("probe.forwardfill") {
      ForwardFill.partitioned(plain, plain.columns.filterNot(Set(TimestampCol, SourceIdCol, RowIdCol)).toSeq,
        TimestampCol, Seq(col(SourceIdCol), col(RowIdCol)))
    }
    tr.span("probe.fuse_exec") { Workload.noop(plain) }
    tr.span("probe.fused") { Workload.noop(fused) }
    tr.span("probe.resampled") { Workload.noop(resampled) }
  }

  /** A layer's `exec_s` is the wall time of executing its output into a
    * noop sink. It includes the lineage below the layer: a difference of two
    * probes is not the layer's own share, because the optimizer plans the
    * layers jointly.
    */
  def layers(tr: Tracer, it: Span, pr: Span): Map[String, Double] = {
    import Workload.{one, MB}
    val ffCall = one(tr, pr, "probe.forwardfill")
    val fused = one(tr, pr, "probe.fused")
    val resCall = one(tr, it, "resampler.call")
    val resampled = one(tr, pr, "probe.resampled")
    val write = one(tr, it, "sinks.write")
    val (files, bytes) = Workload.sinkFiles(out)
    Map(
      "forwardfill.call_s" -> ffCall.seconds,
      "forwardfill.call_jobs" -> tr.inclusive(ffCall).jobs.toDouble,
      "forwardfill.exec_s" -> fused.seconds,
      "forwardfill.shuffle_write_mb" -> tr.inclusive(fused).shuffleWrite / MB,
      "resampler.call_s" -> resCall.seconds,
      "resampler.call_jobs" -> tr.inclusive(resCall).jobs.toDouble,
      "resampler.exec_s" -> resampled.seconds,
      "resampler.grid_rows" -> tr.inclusive(write).outRecords.toDouble,
      "resampler.shuffle_write_mb" -> tr.inclusive(resampled).shuffleWrite / MB,
      "resampler.spill_mb" -> tr.inclusive(resampled).spill / MB,
      "sinks.write_s" -> write.seconds,
      "sinks.self_s" -> (write.seconds - resampled.seconds),
      "sinks.write_tasks" -> tr.inclusive(write).writeTasks.toDouble,
      "sinks.files" -> files.toDouble,
      "sinks.output_mb" -> bytes / MB) ++
      Workload.fuserMetrics(tr, pr) ++ sourceMetrics(tr, pr) ++ Workload.engine(tr, it)
  }
}

// -------------------------------------------------------------- csv_replay

/** Three gzip CSV sources of hourly files with headers and positional types;
  * source `c` stamps microseconds. The fuse clips the window to the middle
  * 80% of the span and the stream is replayed into a counting, checksumming
  * handler.
  */
object ReplayGen {
  val FilesPerSource = 96
  val RowsPerFile = 500
  val SlotMs = 3600L * 1000
  val SpanMs = FilesPerSource * SlotMs
  val WindowStart = Inputs.Base + SpanMs / 10
  val WindowEnd = Inputs.Base + SpanMs * 9 / 10
  val Headers = Seq(Seq("ts", "px", "sz"), Seq("ts", "px", "side"), Seq("tus", "px", "venue"))
  val Names = Seq("a", "b", "c")
  val Types: Seq[Seq[DataType]] = Seq(
    Seq(LongType, DoubleType, LongType), Seq(LongType, DoubleType, StringType), Seq(LongType, DoubleType, LongType))

  /** Fused columns in checksum order: the own columns, the renamed `px`,
    * the provenance id and `c`'s preserved microsecond stamp.
    */
  def columns: Seq[String] =
    (Seq("__tus", Fuser.SourceIdCol, "sz", "side", "venue") ++ Names.map(n => s"px||$n")).sorted

  def generate(dir: Path, rng: SplittableRandom): (Seq[(String, Path)], Long, java.util.Map[String, Any]) = {
    val dirs = Names.map(n => n -> Inputs.sourceDir(dir, n))
    val price = Array(100.0, 200.0, 300.0)
    var acc = Checksum.start(columns)
    var inWindow = 0L
    for (h <- 0 until FilesPerSource) {
      val offs = Offsets.distinct(rng, 3 * RowsPerFile, SlotMs)
      val owner = Workload.owners(rng, offs.length, 3)
      val rows = Array.fill(3)(ArrayBuffer.empty[Array[Any]])
      for (j <- offs.indices) {
        val s = owner(j)
        val ts = Inputs.Base + h * SlotMs + offs(j)
        price(s) = Inputs.round2(price(s) + (rng.nextInt(11) - 5) / 100.0)
        val (row, cells) = s match {
          case 0 =>
            val sz = 1L + rng.nextInt(100)
            (Array[Any](ts, price(s), sz), Map("sz" -> sz))
          case 1 =>
            val side = if (rng.nextBoolean()) "B" else "S"
            (Array[Any](ts, price(s), side), Map("side" -> side))
          case _ =>
            val tus = ts * 1000 + rng.nextInt(1000)
            val venue = rng.nextInt(8).toLong
            (Array[Any](tus, price(s), venue), Map("venue" -> venue, "__tus" -> tus))
        }
        rows(s) += row
        if (ts >= WindowStart && ts <= WindowEnd) {
          val all = cells ++ Map(Fuser.SourceIdCol -> s, s"px||${Names(s)}" -> price(s))
          acc = Checksum.fold(acc, Checksum.row(ts, columns.map(all.getOrElse(_, null))))
          inWindow += 1
        }
      }
      for (s <- 0 until 3)
        FileIO.csvGz(dirs(s)._2.resolve(f"${Names(s)}_h$h%03d.csv.gz"), Headers(s), rows(s).iterator)
    }
    (dirs, 3L * FilesPerSource * RowsPerFile, Inputs.obj("rows" -> inWindow, "checksum" -> acc))
  }
}

final class ReplayRun(val spark: SparkSession, in: Inputs) extends Run with SourceLayer {
  val specs: Seq[SourceSpec] = ReplayGen.Names.zipWithIndex.map { case (n, i) =>
    val micros = ReplayGen.Headers(i).head == "tus"
    SourceSpec(path = in.source(n).toString, format = "csv", descriptor = n,
      timestampCol = ReplayGen.Headers(i).head,
      positionalTypes = Some(ReplayGen.Types(i)),
      tsConvert = if (micros) Some((c: Column) => (c / 1000).cast(LongType)) else None,
      fileSortRegex = Some("\\d+"))
  }
  def events: Long = in.events
  private val opts = FuseOptions(procStart = Some(ReplayGen.WindowStart), procEnd = Some(ReplayGen.WindowEnd))

  // last iteration: (seconds from the replay call to the first callback,
  // seconds inside the handler (traced only), rows)
  private var stats = (0.0, 0.0, 0L)

  def iterate(tr: Tracer): Seq[String] = {
    val fr = tr.span("fuser.call") { Fuser.fuse(spark, specs, opts) }
    val schema = fr.df.schema
    val idx = ReplayGen.columns.map(schema.fieldIndex).toArray
    var acc = Checksum.start(ReplayGen.columns)
    var n = 0L
    var prev = Long.MinValue
    var ordered = true
    var handlerNs = 0L
    var first = 0L
    val t0 = System.nanoTime()
    val status = tr.span("replay.call") {
      Replay.replay(fr.df) { (ts, row) =>
        val h0 = if (tr.enabled) System.nanoTime() else 0L
        if (n == 0) first = System.nanoTime()
        if (ts < prev) ordered = false
        prev = ts
        val cells = new Array[Any](idx.length)
        var i = 0
        while (i < idx.length) { cells(i) = row.get(idx(i)); i += 1 }
        acc = Checksum.fold(acc, Checksum.row(ts, cells))
        n += 1
        if (tr.enabled) handlerNs += System.nanoTime() - h0
      }
    }
    stats = ((first - t0) / 1e9, handlerNs / 1e9, n)
    val want = in.expected
    Seq(
      (status != Replay.Ok) -> s"replay status $status",
      !ordered -> "replayed timestamps decrease",
      (n != want.path("rows").asLong) -> s"replayed $n rows != ${want.path("rows").asLong}",
      (acc != want.path("checksum").asLong) -> s"replay checksum $acc != ${want.path("checksum").asLong}")
      .collect { case (true, msg) => msg }
  }

  def check(): Seq[String] = Nil

  def probe(tr: Tracer): Unit = {
    probeSources(tr)
    val fused = tr.span("probe.fuse") { Fuser.fuse(spark, specs, opts) }.df
    tr.span("probe.fuse_exec") { Workload.noop(fused) }
  }

  def layers(tr: Tracer, it: Span, pr: Span): Map[String, Double] = {
    val call = Workload.one(tr, it, "replay.call")
    val (first, handler, rows) = stats
    Map(
      "replay.first_row_s" -> first,
      "replay.fetch_s" -> (call.seconds - handler),
      "replay.handler_s" -> handler,
      "replay.jobs" -> tr.inclusive(call).jobs.toDouble,
      "replay.rows" -> rows.toDouble) ++
      Workload.fuserMetrics(tr, pr) ++ sourceMetrics(tr, pr) ++ Workload.engine(tr, it)
  }
}

// --------------------------------------------------------------- query_mix

/** Generated `events` and `documents` tables with the schemas the query
  * inventory reads; a tenth of the documents are near copies of earlier ones
  * so the dedup and cluster queries find pairs.
  */
object Mix {
  val Events = 40000
  val Docs = 2000
  val Words = 50
  val Vocab = 5000
  val SpanMs = 30L * 86400 * 1000
  val Types = Seq("click", "view", "purchase", "signup", "error")
  val Langs = Seq("en", "de", "es", "fr", "it")
  // q_time_filter's window, inclusive, in epoch ms
  val FilterStart = 1704844800000L // 2024-01-10T00:00:00Z
  val FilterEnd = 1705708800000L   // 2024-01-20T00:00:00Z

  /** Five queries, at least one per layer the mix exists to measure: the
    * fuse path under the gate's static plan, the gate's regression tail
    * (`q_rolling_slope`), an `ops.Graph` size probe and the checkpointed
    * `pipeline.Dedup` pair family. Each query costs a fixed number of
    * driver-synchronized jobs whatever the input size, so the mix is kept to
    * what a run's time allows.
    */
  val Queries: Seq[String] = Seq(
    "q_fuse_merge", "q_time_filter", "q_rolling_slope", "q_pagerank", "q_dedup_clusters")
  val GraphQueries = Set("q_pagerank")
  val DedupQueries = Set("q_dedup_clusters")

  /** Per query, the output columns the check compares with the reference,
    * in checksum order.
    */
  val Checked: Map[String, Seq[String]] = Map(
    "q_fuse_merge" -> Seq(TimestampCol, SourceIdCol, "event_id", "user_id", "value", "event_type", "props"),
    "q_time_filter" -> Seq(TimestampCol, "event_id", "event_type", "value"),
    "q_rolling_slope" -> Seq("user_id", "t", "event_id", "roll_slope", "roll_icept", "n_pairs"),
    "q_pagerank" -> Seq("node", "rank"),
    "q_dedup_clusters" -> Seq("doc_id", "cluster_id"))

  def generate(dir: Path, rng: SplittableRandom): (Seq[(String, Path)], Long, java.util.Map[String, Any]) = {
    val users = Events / 67
    val evRows = Array.tabulate(Events) { i =>
      val micros = (Inputs.Base + rng.nextLong(SpanMs)) * 1000 + rng.nextInt(1000)
      val tpe = Types(Math.min(rng.nextInt(8), 4))
      val value: Any = if (rng.nextInt(20) == 0) null else Inputs.round2(rng.nextDouble() * 100)
      Array[Any](micros, i.toLong, rng.nextInt(users).toLong, tpe, value, s"""{"k": ${rng.nextInt(97)}}""")
    }
    FileIO.parquet(dir.resolve("events.parquet"), "required int64 ts (TIMESTAMP(MICROS,true));",
      Seq("event_id" -> KLong, "user_id" -> KLong, "event_type" -> KString, "value" -> KDouble, "props" -> KString),
      evRows.iterator)
    val texts = new Array[Array[Int]](Docs)
    val docRows = (0 until Docs).map { i =>
      val words =
        if (i > 10 && rng.nextInt(10) == 0) {
          val w = texts(rng.nextInt(i)).clone()
          (0 until 1 + rng.nextInt(2)).foreach(_ => w(rng.nextInt(Words)) = rng.nextInt(Vocab))
          w
        } else Array.fill(Words)(Math.min(rng.nextInt(Vocab), rng.nextInt(Vocab)))
      texts(i) = words
      val text = words.map("w" + _).mkString(" ")
      // column 0 is the writer's leading required column; documents have no
      // timestamp, so the id takes that slot
      Array[Any](i.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(20)}", text.length.toLong)
    }
    FileIO.parquet(dir.resolve("documents.parquet"), "required int64 doc_id;",
      Seq("text" -> KString, "lang" -> KString, "source" -> KString, "n_chars" -> KLong), docRows.iterator)

    import MixReference._
    val evs = evRows.toSeq.map(r => Event(Math.floorDiv(r(0).asInstanceOf[Long], 1000L), r(1).asInstanceOf[Long],
      r(2).asInstanceOf[Long], r(3).asInstanceOf[String], r(4), r(5).asInstanceOf[String]))
    val reference = Map(
      "q_fuse_merge" -> fuseMerge(evs),
      "q_time_filter" -> timeFilter(evs, FilterStart, FilterEnd),
      "q_rolling_slope" -> rollingSlope(evs),
      "q_pagerank" -> pagerank(Docs),
      // the query's shingle document-frequency cap and Jaccard threshold
      "q_dedup_clusters" -> dedupClusters(docRows.map(_(1).asInstanceOf[String]), maxDf = 100, threshold = 0.8))
    val expected = Queries.map { q =>
      val (rows, sum) = digest(Checked(q), reference(q).iterator)
      q -> Inputs.obj("rows" -> rows, "checksum" -> sum)
    }
    (Seq("events" -> dir.resolve("events.parquet"), "documents" -> dir.resolve("documents.parquet")),
      (Events + Docs).toLong, Inputs.obj(expected: _*))
  }
}

final class MixRun(spark: SparkSession, in: Inputs, seed: Long) extends Run {
  private val dir = in.dir.toString
  private val fns = graft.SparkEntry.queries
  private val order: Seq[String] = {
    val idx = Mix.Queries.indices.toArray
    Workload.shuffle(new SplittableRandom(seed), idx)
    idx.map(Mix.Queries).toSeq
  }
  def events: Long = in.events
  // queries the gate ran on their static plan in the last iteration
  private var static = Set.empty[String]

  def iterate(tr: Tracer): Seq[String] = {
    static = Set.empty
    order.foreach { q =>
      tr.span(s"mix.$q") {
        Dedup.withMaterialized {
          val df = tr.span(s"mix.$q.build") { fns(q)(spark, dir) }
          tr.span("adaptivegate.decide") {
            if (AdaptiveGate.staticPlanSufficient(df)) static += q
          }
          tr.span(s"mix.$q.action") { AdaptiveGate.withGatedExecution(df) { Workload.noop(df) } }
        }
      }
    }
    Nil
  }

  /** Every query, run as the iteration runs it, must give the generator's
    * plain-Scala reference: the same row count and the same order-sensitive
    * checksum of the checked columns.
    */
  def check(): Seq[String] = Mix.Queries.flatMap { q =>
    val cols = Mix.Checked(q)
    val (rows, sum) = Dedup.withMaterialized {
      val df = fns(q)(spark, dir)
      AdaptiveGate.withGatedExecution(df) {
        MixReference.digest(cols, df.select(cols.map(c => col(s"`$c`")): _*).collect().iterator.map(_.toSeq))
      }
    }
    val want = in.expected.path(q)
    Seq(
      (rows != want.path("rows").asLong) -> s"$q: $rows rows != ${want.path("rows").asLong}",
      (sum != want.path("checksum").asLong) -> s"$q: checksum $sum != ${want.path("checksum").asLong}")
      .collect { case (true, msg) => msg }
  }

  def probe(tr: Tracer): Unit = ()

  def layers(tr: Tracer, it: Span, pr: Span): Map[String, Double] = {
    def jobs(qs: Set[String]) = qs.toSeq.map(q => tr.inclusive(Workload.one(tr, it, s"mix.$q.build")).jobs).sum
    val perQuery = Mix.Queries.flatMap { q =>
      Seq(s"mix.$q.build_s" -> Workload.one(tr, it, s"mix.$q.build").seconds,
        s"mix.$q.action_s" -> Workload.one(tr, it, s"mix.$q.action").seconds)
    }
    Map(
      "adaptivegate.static_queries" -> static.size.toDouble,
      "adaptivegate.decide_s" -> tr.find(it, "adaptivegate.decide").map(_.seconds).sum,
      "mix.plan_s" -> tr.planSeconds(it),
      "graph.build_jobs" -> jobs(Mix.GraphQueries).toDouble,
      "dedup.build_jobs" -> jobs(Mix.DedupQueries).toDouble) ++ perQuery ++ Workload.engine(tr, it)
  }
}
