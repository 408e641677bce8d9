package graftbench

import graft.functions.Num

import scala.collection.mutable

/** Plain-Scala references of the query mix over the generated tables, each
  * following the semantics the query's relational oracle spells out. A
  * reference returns the query's output rows in the query's own order, as
  * the cells of the columns [[Mix.Checked]] names for it.
  */
object MixReference {
  /** A generated event; `ms` is its microsecond stamp truncated to
    * milliseconds, `value` null or a Double.
    */
  final case class Event(ms: Long, id: Long, user: Long, tpe: String, value: Any, props: String)

  /** Row count and order-sensitive checksum of `rows`. */
  def digest(columns: Seq[String], rows: Iterator[Seq[Any]]): (Long, Long) = {
    var n = 0L
    var acc = Checksum.start(columns)
    rows.foreach { r => acc = Checksum.fold(acc, Checksum.row(0L, r)); n += 1 }
    (n, acc)
  }

  /** `q_fuse_merge`: clicks and views (source 0) and the other events
    * (source 1) fused into one stream ordered by (ms, source, id); each
    * source fills only its own columns.
    */
  def fuseMerge(evs: Seq[Event]): Seq[Seq[Any]] =
    evs.map(e => (e, if (e.tpe == "click" || e.tpe == "view") 0 else 1))
      .sortBy { case (e, s) => (e.ms, s, e.id) }
      .map {
        case (e, 0) => Seq(e.ms, 0, e.id, e.user, e.value, null, null)
        case (e, _) => Seq(e.ms, 1, e.id, null, null, e.tpe, e.props)
      }

  /** `q_time_filter`: the events whose ms lie in the inclusive window,
    * ordered by (ms, id).
    */
  def timeFilter(evs: Seq[Event], start: Long, end: Long): Seq[Seq[Any]] =
    evs.filter(e => e.ms >= start && e.ms <= end).sortBy(e => (e.ms, e.id))
      .map(e => Seq(e.ms, e.id, e.tpe, e.value))

  /** `q_rolling_slope`: per user in (ms, id) order, the least-squares line
    * through the (minute, cents) pairs of the last 20 events, values
    * present only; slope per day and intercept rounded half up to 6
    * decimals, null below two pairs or with zero minute variance. The
    * window sums are exact longs; the double arithmetic follows the query's
    * operation order.
    */
  def rollingSlope(evs: Seq[Event]): Seq[Seq[Any]] =
    evs.groupBy(_.user).toSeq.sortBy(_._1).flatMap { case (user, es) =>
      val rows = es.sortBy(e => (e.ms, e.id)).toIndexedSeq
      rows.indices.map { j =>
        var n, sx, sy, sxy, sxx = 0L
        rows.slice(Math.max(0, j - 19), j + 1).foreach { e =>
          if (e.value != null) {
            val x = (e.ms - 1600000000000L) / 60000
            val y = Num.roundHalfUp(e.value.asInstanceOf[Double] * 100, 0).toLong
            n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
          }
        }
        val (dn, dx, dy) = (n.toDouble, sx.toDouble, sy.toDouble)
        val varX = dn * sxx.toDouble - dx * dx
        val slopeCm = (dn * sxy.toDouble - dx * dy) / varX
        val ok = n >= 2 && varX > 0
        Seq(user, rows(j).ms, rows(j).id,
          if (ok) Num.roundHalfUp(slopeCm * 14.4, 6) else null,
          if (ok) Num.roundHalfUp((dy - slopeCm * dx) / (dn * 100.0), 6) else null,
          n)
      }
    }

  /** `q_pagerank`: ten damped (0.85) Jacobi steps from the uniform vector
    * over the planted link graph of `docs` documents, made simple (no self
    * loops, no duplicate edges); ranks rounded half up to 9 decimals, in
    * node order.
    */
  def pagerank(docs: Int): Seq[Seq[Any]] = {
    val edges = (0L until docs.toLong)
      .flatMap(d => Seq(d -> d % 97, d -> (d + 1) % docs, d -> (d * 31 + 7) % docs))
      .filter { case (s, t) => s != t }.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val in = edges.groupBy(_._2)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val prev = r
      r = nodes.map { v =>
        val s = in.getOrElse(v, Nil).map { case (u, _) => prev(u) / outDeg(u) }.sum
        v -> ((1.0 - 0.85) / n + 0.85 * s)
      }.toMap
    }
    nodes.map(v => Seq[Any](v, Num.roundHalfUp(r(v), 9)))
  }

  /** `q_dedup_clusters`: pairs of documents whose distinct word 3-gram sets,
    * after dropping 3-grams found in more than `maxDf` documents, have a
    * Jaccard similarity of at least `threshold`; every paired document
    * labeled with the smallest id of its connected component, in id order.
    * Document ids are the indices of `texts`.
    */
  def dedupClusters(texts: IndexedSeq[String], maxDf: Int, threshold: Double): Seq[Seq[Any]] = {
    val raw = texts.map(_.split(" ").sliding(3).map(_.mkString(" ")).toSet)
    val df = mutable.HashMap.empty[String, Int]
    raw.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val kept = raw.map(_.filter(df(_) <= maxDf))
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    kept.indices.foreach(i => kept(i).foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i))
    val shared = mutable.HashMap.empty[(Int, Int), Int]
    postings.valuesIterator.foreach { ids =>
      for (a <- ids; b <- ids if a < b) shared((a, b)) = shared.getOrElse((a, b), 0) + 1
    }
    val parent = mutable.HashMap.empty[Int, Int]
    def root(i: Int): Int = { val p = parent.getOrElseUpdate(i, i); if (p == i) i else root(p) }
    shared.foreach { case ((a, b), c) =>
      if (c.toDouble / (kept(a).size + kept(b).size - c).toDouble >= threshold) {
        val (ra, rb) = (root(a), root(b))
        if (ra != rb) parent(Math.max(ra, rb)) = Math.min(ra, rb)
      }
    }
    parent.keys.toSeq.sorted.map(i => Seq(i.toLong, root(i).toLong))
  }
}
