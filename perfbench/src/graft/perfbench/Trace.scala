package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed interval of the traced run. `kind` is workload, step, job or
  * stage; `parent` is the id of the span that caused it (-1 for the root). */
final class Span(val id: Int, var parent: Int, val kind: String, val name: String,
    val startMs: Double, var endMs: Double) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def ms: Double = math.max(0.0, endMs - startMs)
  def attr(k: String): Double = attrs.getOrElse(k, 0.0)
}

/** Times the benchmark's calls into the program. With tracing off a step is
  * only a stopwatch. With tracing on (`enable`) each step is a span, the
  * step's span id is set as the Spark job group so a listener can hang
  * jobs under it, and every stage becomes a span under its job carrying
  * the summed task metrics of its tasks. Spans stay in memory until
  * `dump`. */
final class Tracer(spark: SparkSession, val runId: String, workload: String) {
  private val sc = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpans = mutable.Map.empty[(Int, Int), Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskSums = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]
  private val jobSpans = mutable.Map.empty[Int, Span]
  @volatile private var on = false
  private val GroupPrefix = "perfbench-"

  val root: Span = add(-1, "workload", workload, nowMs)

  private def add(parent: Int, kind: String, name: String, start: Double): Span =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, start, start)
      spans += s
      s
    }

  def enable(): Unit = if (!on) {
    on = true
    sc.addSparkListener(listener)
  }

  /** Runs `body` as the step `name`; returns its value and wall seconds. */
  def step[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!on) {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } else {
      val s = add(root.id, "step", name, nowMs)
      sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
      try {
        val v = body
        (v, (System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable => s.attrs("failed") = 1.0; throw e
      } finally {
        s.endMs = nowMs
        sc.clearJobGroup()
      }
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toInt).getOrElse(-1)
      val s = add(parent, "job", s"job ${e.jobId}", e.time.toDouble)
      jobSpans(e.jobId) = s
      e.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = s.id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.get(e.jobId).foreach { s =>
        s.endMs = e.time.toDouble
        if (e.jobResult != JobSucceeded) s.attrs("failed") = 1.0
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val sums = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.Map.empty)
      def inc(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
      inc("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        inc("run_ms", m.executorRunTime.toDouble)
        inc("cpu_ms", m.executorCpuTime / 1e6)
        inc("gc_ms", m.jvmGCTime.toDouble)
        inc("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        inc("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        inc("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      }
      // per-task counts and busy time of the fetch/parse decorators
      if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
        a.name.filter(_.startsWith(Probes.Prefix)).foreach { n =>
          a.update.foreach {
            case v: java.lang.Long => inc(n.stripPrefix(Probes.Prefix), v.toDouble)
            case v: Long => inc(n.stripPrefix(Probes.Prefix), v.toDouble)
            case _ =>
          }
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val start = i.submissionTime.getOrElse(0L).toDouble
      val s = add(stageJob.getOrElse(i.stageId, -1), "stage",
        s"stage ${i.stageId}.${i.attemptNumber()}", start)
      s.endMs = i.completionTime.map(_.toDouble).getOrElse(start)
      stageSpans((i.stageId, i.attemptNumber())) = s
    }
  }

  /** Ends tracing: waits for the listener bus, detaches the listener,
    * attaches task sums to their stages and hangs group-less jobs under the
    * step that was open when they started. Returns every span. */
  def finish(): Seq[Span] = {
    if (on) {
      org.apache.spark.PerfBenchBus.drain(sc)
      sc.removeSparkListener(listener)
      on = false
    }
    synchronized {
      root.endMs = nowMs
      for ((k, s) <- stageSpans; sums <- taskSums.get(k)) s.attrs ++= sums
      val steps = spans.filter(_.kind == "step")
      spans.filter(s => s.kind == "job" && s.parent < 0).foreach { j =>
        j.parent = steps.filter(st => st.startMs <= j.startMs && j.startMs <= st.endMs)
          .lastOption.map(_.id).getOrElse(root.id)
      }
      spans.filter(s => s.kind == "stage" && s.parent < 0).foreach(_.parent = root.id)
      spans.toList
    }
  }

  def dump(all: Seq[Span], out: java.io.File): Unit = {
    out.getParentFile.mkdirs()
    val self = new SpanView(all).selfMs
    val w = new java.io.PrintWriter(out, "UTF-8")
    try all.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","${Json.esc(k)}":${Json.num(v)}""" }.mkString
      w.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""dur_ms":${Json.num(s.ms)},"self_ms":${Json.num(self(s.id))}$attrs}""")
    } finally w.close()
  }
}

/** Sums over the spans of a finished traced run. */
final class SpanView(val all: Seq[Span]) {
  private val kids = all.groupBy(_.parent)

  /** Covered length of a set of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Each span's duration minus the part of it its children cover. */
  lazy val selfMs: Map[Int, Double] = all.map { s =>
    val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
    s.id -> math.max(0.0, s.ms - covered(c, s.startMs, s.endMs))
  }.toMap

  /** Step wall time during which none of the step's Spark jobs ran. */
  def driverGapMs(step: Span): Double = {
    val jobs = kids.getOrElse(step.id, Nil).filter(_.kind == "job")
    step.ms - covered(jobs.map(j => (j.startMs, j.endMs)), step.startMs, step.endMs)
  }

  def steps(names: String*): Seq[Span] =
    all.filter(s => s.kind == "step" && names.contains(s.name))
  def jobsOf(steps: Seq[Span]): Seq[Span] = {
    val ids = steps.map(_.id).toSet
    all.filter(s => s.kind == "job" && ids.contains(s.parent))
  }
  def stagesOf(steps: Seq[Span]): Seq[Span] = {
    val jobIds = jobsOf(steps).map(_.id).toSet
    all.filter(s => s.kind == "stage" && jobIds.contains(s.parent))
  }
  def sum(spans: Seq[Span], attr: String): Double = spans.map(_.attr(attr)).sum
  def ms(spans: Seq[Span]): Double = spans.map(_.ms).sum
  /** Σ over stages of (stage wall × cores − task run time): the core time
    * a stage's barrier left idle while its slowest tasks finished. */
  def barrierIdleMs(stages: Seq[Span], cores: Int): Double =
    stages.map(s => math.max(0.0, s.ms * cores - s.attr("run_ms"))).sum
}
