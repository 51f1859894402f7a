package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Stats {

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), render(v))
}

object Fs {

  /** Regular files under `root` (empty when it does not exist). */
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally st.close()
    }

  /** Parquet/JSON data files (Spark part files) under `root`. */
  def dataFiles(root: Path): Seq[Path] =
    files(root).filter(_.getFileName.toString.startsWith("part-"))

  def bytes(ps: Seq[Path]): Long = ps.map(p => Files.size(p)).sum
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String,
      startUs: Long, endUs: Long, attrs: Map[String, Any])
}

/** In-memory span recorder for traced runs: spans carry a trace id (one
  * per workload run), a parent, a name, and epoch-microsecond bounds.
  * Written out once, at the end, as JSON lines. */
final class Tracer {
  import Tracer.Span

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  val traceId: String = java.util.UUID.randomUUID().toString

  def nextId(): Long = ids.incrementAndGet()

  /** Record a finished span; returns its id for children. */
  def add(name: String, parent: Long, startUs: Long, endUs: Long,
      attrs: (String, Any)*): Long =
    addWithId(nextId(), name, parent, startUs, endUs, attrs: _*)

  /** Record a span under an id taken earlier with [[nextId]], for a
    * parent whose bounds are known only after its children. */
  def addWithId(id: Long, name: String, parent: Long, startUs: Long,
      endUs: Long, attrs: (String, Any)*): Long = {
    spans.add(Span(id, parent, name, startUs, math.max(startUs, endUs), attrs.toMap))
    id
  }

  def all: Seq[Span] = spans.asScala.toVector

  /** Self time per span name, seconds: each span's duration minus the
    * part of its interval that its children cover. */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      val self = group.map { s =>
        val cover = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        (s.endUs - s.startUs) - cover
      }.sum
      name -> self / 1e6
    }
  }

  def write(path: String): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try all.sortBy(s => (s.startUs, s.id)).foreach { s =>
      w.write(Json.render(Map("trace_id" -> traceId, "span_id" -> s.id,
        "parent_id" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
    Json.write(path.stripSuffix(".jsonl") + "_self_s.json", selfTimes)
  }
}
