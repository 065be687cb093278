package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one measurement harness: every timed run in this repository (Bench,
  * the scale rehearsals) reads its per-stage execution counters from here.
  *
  *   - [[StageMetrics]] is the single listener. It stays attached to the
  *     SparkContext once [[snapshot]] first touches it.
  *   - [[snapshot]] drains the listener bus, then returns immutable
  *     cumulative [[Counters]]; `after - before` is the cost of what ran in
  *     between. Draining is what makes a snapshot exact: once the bus is
  *     empty, every job that returned has delivered its task and stage
  *     events, so a second snapshot taken right after reads the same values.
  *   - [[timed]] prints one line, `[tag] label secs` plus the counter delta.
  */
object Measure {

  /** Cumulative task-metric totals. `readTasks` counts the tasks that read
    * any shuffle, so `shuffleReadB / readTasks` is the mean reducer read.
    */
  final case class Counters(
      jobs: Long = 0,
      stages: Long = 0,
      tasks: Long = 0,
      taskMs: Long = 0,
      cpuMs: Long = 0,
      gcMs: Long = 0,
      shuffleReadB: Long = 0,
      shuffleWriteB: Long = 0,
      spillB: Long = 0,
      readTasks: Long = 0
  ) {
    def -(o: Counters): Counters =
      Counters(
        jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, cpuMs - o.cpuMs,
        gcMs - o.gcMs, shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
        spillB - o.spillB, readTasks - o.readTasks
      )

    /** Per-rep average over `n` reps (integer division). */
    def /(n: Long): Counters =
      Counters(
        jobs / n, stages / n, tasks / n, taskMs / n, cpuMs / n, gcMs / n, shuffleReadB / n,
        shuffleWriteB / n, spillB / n, readTasks / n
      )

    /** One-line rendering, the suffix of every [[timed]] line. */
    def render: String =
      f"jobs=$jobs%d stages=$stages%d tasks=$tasks%d task_s=${taskMs / 1e3}%.2f cpu_s=${cpuMs / 1e3}%.2f " +
        f"gc_s=${gcMs / 1e3}%.2f shuffle_r=${shuffleReadB / Mib}%.1fMiB shuffle_w=${shuffleWriteB / Mib}%.1fMiB " +
        f"spill=${spillB / Mib}%.1fMiB"
  }

  private val Mib = 1048576.0

  /** Counts jobs, stages and tasks, and sums task, CPU and GC time, shuffle
    * read/write and spill. Every shuffle-reading task's read bytes are also
    * kept in an append-only log, so [[reducerMax]] can answer the max over
    * any window between two snapshots (a stage is as slow as its fattest
    * reducer, which totals hide).
    */
  final class StageMetrics extends org.apache.spark.scheduler.SparkListener {
    private var c     = Counters()
    private var reads = new Array[Long](1024)

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        val r = m.shuffleReadMetrics.totalBytesRead
        if (r > 0) {
          if (c.readTasks == reads.length) reads = java.util.Arrays.copyOf(reads, reads.length * 2)
          reads(c.readTasks.toInt) = r
        }
        c = c.copy(
          tasks = c.tasks + 1,
          taskMs = c.taskMs + m.executorRunTime,
          cpuMs = c.cpuMs + m.executorCpuTime / 1000000L,
          gcMs = c.gcMs + m.jvmGCTime,
          shuffleReadB = c.shuffleReadB + r,
          shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
          spillB = c.spillB + m.memoryBytesSpilled + m.diskBytesSpilled,
          readTasks = c.readTasks + (if (r > 0) 1 else 0)
        )
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { c = c.copy(stages = c.stages + 1) }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      synchronized { c = c.copy(jobs = c.jobs + 1) }

    def counters: Counters = synchronized(c)

    /** Largest single-task shuffle read among the tasks counted between two
      * snapshots of this listener.
      */
    def reducerMax(from: Counters, until: Counters): Long = synchronized {
      var mx = 0L
      var i  = from.readTasks.toInt
      while (i < until.readTasks) { mx = math.max(mx, reads(i)); i += 1 }
      mx
    }
  }

  private var attached: Option[(SparkContext, StageMetrics)] = None

  /** The listener on this session's context, attached on first use. */
  def listener(spark: SparkSession): StageMetrics = synchronized {
    val sc = spark.sparkContext
    attached match {
      case Some((`sc`, l)) => l
      case _ =>
        val l = new StageMetrics
        sc.addSparkListener(l)
        attached = Some(sc -> l)
        l
    }
  }

  /** Drain the listener bus, then read the counters. `SparkContext
    * .listenerBus` is `private[spark]`, hence the reflection.
    */
  def snapshot(spark: SparkSession): Counters = {
    val l   = listener(spark)
    val sc  = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    l.counters
  }

  /** One measured region: its value, wall seconds, counter delta, and the
    * largest single-task shuffle read inside it.
    */
  final case class Run[A](value: A, secs: Double, delta: Counters, reducerMaxB: Long)

  /** Time `body` and print `[tag] label secs` plus the counter delta and the
    * reducer balance (max/mean read over shuffle-reading tasks). A `Long`
    * result, the row count most bodies return, is printed as `rows=`.
    * Snapshots sit outside the timed region. Reads the active session.
    */
  def timed[A](tag: String, label: String)(body: => A): Run[A] = {
    val spark  = SparkSession.active
    val before = snapshot(spark)
    val t0     = System.nanoTime()
    val value  = body
    val secs   = (System.nanoTime() - t0) / 1e9
    val after  = snapshot(spark)
    val d      = after - before
    val mx     = listener(spark).reducerMax(before, after)
    val rows   = value match { case n: Long => s" rows=$n"; case _ => "" }
    val skew   = if (d.readTasks > 0) f" reducer max/mean=${mx * d.readTasks.toDouble / d.shuffleReadB}%.1fx" else ""
    println(f"[$tag] $label%-52s $secs%8.2f s$rows  ${d.render}$skew")
    Run(value, secs, d, mx)
  }
}
