package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** One timed call: `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, parent: Int, start: Long, startMs: Long,
    var end: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Engine counters of the jobs launched under one span's job group. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L          // executor run time summed over tasks
  var shuffleWrite = 0L   // bytes
  var spill = 0L          // bytes spilled to disk
  var outRecords = 0L     // records written by output (sink) tasks
  var writeTasks = 0L     // tasks that wrote output records

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    outRecords += o.outRecords; writeTasks += o.writeTasks
  }
}

/** Spans around each call the benchmark makes into the library, plus the
  * engine counters of the jobs each call launched. Every span runs under its
  * own job group; a listener attributes each job's tasks to that group, and
  * a query-execution listener records the planning time of each finished
  * query with its wall-clock start (listener events arrive on another thread,
  * so the job group is not visible there).
  * Everything stays in memory until [[dump]].
  *
  * A disabled tracer runs the bodies unchanged and registers nothing, so
  * untraced iterations pay no tracing cost.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val c = counters(g)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(stageGroup.put(_, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.getOrDefault(e.stageId, "")
      val c = counters(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.diskBytesSpilled
          c.outRecords += m.outputMetrics.recordsWritten
          if (m.outputMetrics.recordsWritten > 0) c.writeTasks += 1
        }
      }
    }
  }

  // (wall-clock ms when planning started, planning seconds) per finished query
  private val plans = ArrayBuffer.empty[(Long, Double)]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.synchronized {
        plans += (phases.map(_.startTimeMs).min -> phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def group(s: Span): String = s"graftbench-${s.id}"

  /** Run `body` as span `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(group(s), name)
      try body
      finally {
        s.end = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every event posted so far has reached the listeners. */
  def settle(): Unit = if (enabled) org.apache.spark.graftbench.Bus.drain(sc)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Spans named `name` under `root` (at any depth). */
  def find(root: Span, name: String): Seq[Span] = {
    def walk(s: Span): Seq[Span] = children(s.id).flatMap(c => (if (c.name == name) Seq(c) else Nil) ++ walk(c))
    walk(root)
  }

  def roots(name: String): Seq[Span] = spans.filter(s => s.parent == -1 && s.name == name).toSeq

  /** Counters of `s` and every span below it. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    Option(byGroup.get(group(s))).foreach(c.add)
    children(s.id).foreach(ch => c.add(inclusive(ch)))
    c
  }

  /** Planning seconds of the queries whose planning started inside `s`. */
  def planSeconds(s: Span): Double = plans.synchronized {
    plans.collect { case (t, sec) if t >= s.startMs && t <= s.endMs => sec }.sum
  }

  /** Duration of `s` minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def dump(file: java.nio.file.Path): Unit = {
    val rows = spans.map { s =>
      val c = inclusive(s)
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("start_ns", s.start); m.put("end_ns", s.end)
      m.put("self_s", selfSeconds(s)); m.put("jobs", c.jobs); m.put("tasks", c.tasks)
      m.put("shuffle_write_bytes", c.shuffleWrite); m.put("spill_bytes", c.spill)
      m
    }
    Json.write(file, java.util.Arrays.asList(rows.toSeq: _*))
  }
}
