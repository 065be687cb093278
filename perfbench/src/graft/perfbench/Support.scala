package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row

/** Per-op totals of what the scheduler and the executors did for one op. */
final class OpAgg {
  var jobs, stages, tasks                              = 0.0
  var runMs, cpuNs, gcMs                               = 0.0
  var inBytes, inRecords, shWrite, shRead, spill       = 0.0
}

/** Attributes jobs, stages and task metrics to the op that caused them,
  * through the `perfbench.op` local property the client thread sets around
  * each op. Listener callbacks all arrive on the one listener-bus thread. */
final class LayerListener extends SparkListener {
  private val aggs     = scala.collection.mutable.Map.empty[String, OpAgg]
  private val stageTag = scala.collection.mutable.Map.empty[Int, String]
  private val open     = scala.collection.mutable.Map.empty[Int, (String, Long)]
  /** Finished jobs: (job id, op tag, start ms, end ms). */
  val jobs = ArrayBuffer.empty[(Int, String, Long, Long)]

  def agg(tag: String): OpAgg = aggs.getOrElseUpdate(tag, new OpAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op"))).orNull
    if (tag != null) {
      agg(tag).jobs += 1
      e.stageIds.foreach(id => if (!stageTag.contains(id)) stageTag(id) = tag)
      open(e.jobId) = (tag, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    open.remove(e.jobId).foreach { case (tag, start) => jobs += ((e.jobId, tag, start, e.time)) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageTag.get(e.stageInfo.stageId).foreach(t => agg(t).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (tag <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(tag)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }

  /** Milliseconds of [s, e] during which at least one of `tag`'s jobs ran. */
  def jobCoverMs(tag: String, s: Long, e: Long): Long = {
    val iv = jobs.filter(_._2 == tag).map(j => (math.max(s, j._3), math.min(e, j._4))).filter(x => x._1 < x._2)
    Tracer.union(iv.toSeq)
  }
}

/** In-memory span recorder: spans are opened and closed around the calls
  * into each layer and written, with self times, when the run ends. Spans of
  * one op share its trace id. Disabled, it records nothing. */
final class Tracer(on: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  def open(name: String, parent: Option[Int], trace: String): Int =
    if (!on) -1
    else {
      val now = System.nanoTime() - nano0
      spans += Span(spans.size, parent.getOrElse(-1), name, trace, now, now)
      spans.size - 1
    }

  def close(id: Int): Unit = if (on && id >= 0) spans(id).end = System.nanoTime() - nano0

  /** Job spans from the listener, each under the frame or execute span of
    * its op that holds its start. */
  def addJobSpans(l: LayerListener): Unit = if (on) {
    val byTrace = spans.filter(s => s.name == "frame" || s.name == "execute").groupBy(_.trace)
    l.jobs.foreach { case (id, tag, s, e) =>
      val start = (s - wall0) * 1000000L
      val end   = (e - wall0) * 1000000L
      val kids  = byTrace.getOrElse(tag, ArrayBuffer.empty)
      val parent = kids.find(k => k.start <= start && start <= k.end).orElse(kids.lastOption).map(_.id).getOrElse(-1)
      spans += Span(spans.size, parent, s"job:$id", tag, start, math.max(start, end))
    }
  }

  def write(path: Path): Unit = {
    val children = spans.groupBy(_.parent)
    val sb = new StringBuilder("[")
    spans.zipWithIndex.foreach { case (s, i) =>
      val kids = children.getOrElse(s.id, ArrayBuffer.empty).map(k => (math.max(s.start, k.start), math.min(s.end, k.end)))
      val self = (s.end - s.start) - Tracer.union(kids.toSeq)
      if (i > 0) sb.append(",\n")
      sb.append(
        s"""{"id":${s.id},"parent":${s.parent},"name":${ResultLog.quote(s.name)},"trace":${ResultLog.quote(s.trace)},""" +
          s""""start_ms":${s.start / 1e6},"dur_ms":${(s.end - s.start) / 1e6},"self_ms":${self / 1e6}}"""
      )
    }
    sb.append("]\n")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, name: String, trace: String, start: Long, var end: Long)

  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS    = Long.MinValue
    var curE    = Long.MinValue
    iv.filter(x => x._1 < x._2).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Op results as JSON lines: one line per op for the first pass and one for
  * every later pass whose result differs from the first. */
final class ResultLog(path: Path) {
  private val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
  def write(op: String, pass: String, result: String): Unit =
    w.write(s"""{"op":"$op","pass":"$pass","result":$result}""" + "\n")
  def close(): Unit = w.close()
}

object ResultLog {
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Canonical JSON of a result: column names, then rows sorted by their
    * JSON text, so two results compare equal iff they hold the same rows. */
  def render(cols: Seq[String], rows: Array[Row]): String =
    s"""{"columns":[${cols.map(quote).mkString(",")}],"rows":[""" +
      rows.map(r => value(r)).sorted.mkString(",") + "]}"

  def value(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => quote(s)
    case b: Boolean                  => b.toString
    case d: Double                   => if (d.isNaN || d.isInfinite) quote(d.toString) else java.lang.Double.toString(d)
    case f: Float                    => if (f.isNaN || f.isInfinite) quote(f.toString) else java.lang.Float.toString(f)
    case d: java.math.BigDecimal     => d.toPlainString
    case n: java.lang.Number         => n.toString
    case t: java.sql.Timestamp       => quote(TsFmt.format(t.toLocalDateTime))
    case t: java.time.LocalDateTime  => quote(TsFmt.format(t))
    case t: java.time.Instant        => quote(TsFmt.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)))
    case d: java.sql.Date            => quote(d.toLocalDate.toString)
    case d: java.time.LocalDate      => quote(d.toString)
    case r: Row                      => r.toSeq.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_]  => s.map(value).mkString("[", ",", "]")
    case other                       => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'              => sb.append("\\\"")
      case '\\'             => sb.append("\\\\")
      case c if c < ' '     => sb.append(f"\\u${c.toInt}%04x")
      case c                => sb.append(c)
    }
    sb.append('"').toString
  }
}
