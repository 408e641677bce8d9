package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

object Json {
  private val mapper = new ObjectMapper()
  def write(file: Path, v: Any): Unit = mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, v)
  def read(file: Path): JsonNode = mapper.readTree(file.toFile)
  def line(v: Any): String = mapper.writeValueAsString(v)
}

/** Order-sensitive checksum over rows of cells. Integral cells hash by value
  * (an Int and a Long holding the same number agree), doubles by their bits.
  */
object Checksum {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def cell(v: Any): Long = v match {
    case null         => 0x5BD1E995L
    case l: Long      => mix(l)
    case i: Int       => mix(i.toLong)
    case d: Double    => mix(java.lang.Double.doubleToLongBits(d) ^ 0x1L)
    case s: String    => mix(s.hashCode.toLong ^ 0x4L)
    case other        => throw new IllegalArgumentException(s"unhashable cell ${other.getClass}")
  }

  def row(ts: Long, cells: Iterable[Any]): Long = cells.foldLeft(mix(ts))((h, c) => mix(h * 31 + cell(c)))

  def start(columns: Seq[String]): Long = mix(columns.mkString(",").hashCode.toLong)

  def fold(acc: Long, rowHash: Long): Long = acc * 1000003L + rowHash
}

/** Column type of a generated file column. */
sealed trait Kind
case object KLong extends Kind
case object KDouble extends Kind
case object KString extends Kind

/** Writers for the generated input files. */
object FileIO {
  private val conf = new Configuration()

  private def parquetType(name: String, k: Kind): String = k match {
    case KLong   => s"optional int64 $name;"
    case KDouble => s"optional double $name;"
    case KString => s"optional binary $name (STRING);"
  }

  /** Parquet file with the required int64 column `tsDecl` first and `cols`
    * after it.
    */
  def parquet(file: Path, tsDecl: String, cols: Seq[(String, Kind)], rows: Iterator[Array[Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message m { $tsDecl ${cols.map { case (n, k) => parquetType(n, k) }.mkString(" ")} }")
    val tsName = schema.getFieldName(0)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new HPath(file.toUri), conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = f.newGroup()
      g.add(tsName, r(0).asInstanceOf[Long])
      cols.zipWithIndex.foreach { case ((n, k), i) =>
        r(i + 1) match {
          case null       => ()
          case v: Long    => g.add(n, v)
          case v: Double  => g.add(n, v)
          case v: String  => g.add(n, v)
          case v          => throw new IllegalArgumentException(s"$n: ${v.getClass} for $k")
        }
      }
      w.write(g)
    } finally w.close()
  }

  /** Gzip CSV with a header row; nulls are empty fields. */
  def csvGz(file: Path, header: Seq[String], rows: Iterator[Array[Any]]): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(Files.newOutputStream(file), 1 << 16), StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(header.mkString(",")); out.write('\n')
      rows.foreach { r =>
        out.write(r.map(v => if (v == null) "" else v.toString).mkString(","))
        out.write('\n')
      }
    } finally out.close()
  }

  /** Data files (not checksums or markers) under `dir`, recursively. */
  def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toSeq.sortBy(_.toString)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    } finally s.close()
  }
}

/** `n` distinct offsets in `[0, span)`, ascending. */
object Offsets {
  def distinct(rng: SplittableRandom, n: Int, span: Long): Array[Long] = {
    require(n <= span / 4, s"$n distinct offsets do not fit a span of $span")
    val seen = new java.util.HashSet[Long](n * 2)
    while (seen.size < n) seen.add(rng.nextLong(span))
    val a = new Array[Long](n)
    var i = 0
    val it = seen.iterator()
    while (it.hasNext) { a(i) = it.next(); i += 1 }
    java.util.Arrays.sort(a)
    a
  }
}

/** The generated inputs of one workload and seed: the files, a manifest
  * (rows, files and bytes per source, the seed) and the expected outputs.
  * Everything lives under `<data>/<workload>/seed-<n>`; a complete directory
  * is reused by later runs with the same seed.
  */
final case class Inputs(dir: Path, sources: Seq[(String, Path)], events: Long, expected: JsonNode) {
  def source(name: String): Path = sources.find(_._1 == name).map(_._2).getOrElse(
    throw new NoSuchElementException(s"no generated source $name"))
}

object Inputs {
  /** Bump when the generators change, so cached inputs are rebuilt. */
  val Version = 3
  /** Seed directories kept per workload (the least recently used go): enough
    * for a second set of runs over the same seeds to reuse its inputs.
    */
  private val Keep = 12

  val Base = 1704067200000L // 2024-01-01T00:00:00Z

  def prepare(data: Path, workload: String, seed: Long)(
      gen: (Path, SplittableRandom) => (Seq[(String, Path)], Long, java.util.Map[String, Any])): Inputs = {
    val root = data.resolve(workload)
    val dir = root.resolve(s"seed-$seed")
    val manifest = dir.resolve("manifest.json")
    def load(): Option[Inputs] =
      if (!Files.exists(manifest)) None
      else {
        val m = Json.read(manifest)
        if (m.path("version").asInt(-1) != Version) None
        else {
          import scala.jdk.CollectionConverters._
          val srcs = m.path("sources").elements().asScala.map(e =>
            e.path("name").asText -> dir.resolve(e.path("path").asText)).toSeq
          Some(Inputs(dir, srcs, m.path("events").asLong, m.path("expected")))
        }
      }
    load() match {
      case Some(in) =>
        Files.setLastModifiedTime(dir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
        in
      case None =>
        FileIO.deleteTree(dir)
        Files.createDirectories(dir)
        val rng = new SplittableRandom(Checksum.mix(seed ^ workload.hashCode.toLong))
        val (sources, events, expected) = gen(dir, rng)
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("version", Version); m.put("workload", workload); m.put("seed", seed)
        m.put("events", events)
        val srcs = new java.util.ArrayList[Any]()
        sources.foreach { case (name, sdir) =>
          val files = FileIO.dataFiles(sdir)
          val e = new java.util.LinkedHashMap[String, Any]()
          e.put("name", name); e.put("path", dir.relativize(sdir).toString)
          e.put("files", files.size); e.put("bytes", files.map(Files.size).sum)
          srcs.add(e)
        }
        m.put("sources", srcs)
        m.put("expected", expected)
        val tmp = dir.resolve("manifest.json.tmp")
        Json.write(tmp, m)
        Files.move(tmp, manifest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        evict(root)
        load().get
    }
  }

  private def evict(root: Path): Unit = {
    val s = Files.list(root)
    val dirs = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
    } finally s.close()
    dirs.sortBy(d => -Files.getLastModifiedTime(d).toMillis).drop(Keep).foreach(FileIO.deleteTree)
  }

  def sourceDir(dir: Path, name: String): Path = Files.createDirectories(dir.resolve(name))

  /** Build a JSON-able map. */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def round2(x: Double): Double = Math.round(x * 100.0) / 100.0

  /** A fused event as the reference sees it: global order key `ts`, source
    * index, and the source's cells by output column name.
    */
  final case class Ev(ts: Long, src: Int, cells: Map[String, Any])

  /** Reference resample (the resampler's event-loop semantics): boundaries
    * `b0 + k*step` for `k = 0..kEnd`, where `b0` is the first step multiple
    * after the first event and `kEnd` includes the tail flush. A boundary's
    * row is the last event strictly before it: the full row when that event
    * lies in the boundary's step, otherwise a gap row holding only the
    * `ffill` columns. Returns (rows, checksum) with `columns` in checksum
    * order, timestamps in `evs` distinct and ascending.
    */
  def referenceGrid(evs: IndexedSeq[Ev], step: Long, columns: Seq[String], ffill: Set[String]): (Long, Long) = {
    val t0 = evs.head.ts
    val t1 = evs.last.ts
    val b0 = Math.floorDiv(t0, step) * step + step
    val kEnd = Math.floorDiv(t1 - b0, step) + 1
    var acc = Checksum.start(columns)
    var i = 0 // events with ts < boundary are evs(0 until i)
    var k = 0L
    while (k <= kEnd) {
      val b = b0 + k * step
      while (i < evs.length && evs(i).ts < b) i += 1
      val cov = evs(i - 1)
      val real = cov.ts >= b - step
      val cells = columns.map(c => if (real || ffill(c)) cov.cells.getOrElse(c, null) else null)
      acc = Checksum.fold(acc, Checksum.row(b, cells))
      k += 1
    }
    (kEnd + 1, acc)
  }
}
