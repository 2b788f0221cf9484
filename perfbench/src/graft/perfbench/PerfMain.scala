package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal

final case class Metric(name: String, value: Double, unit: String)

object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def say(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2f s] $msg")
}

/** Failure accounting and output checks. Every attempted operation goes
  * through `attempt`: a throw counts as failed and yields no timing. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty

  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** Operations the program attempted itself (fetches), with their failures. */
  def count(n: Long, failures: Long): Unit = { attempted += n; failed += failures }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
  }
}

final case class Ctx(spark: SparkSession, seed: Long, trace: Boolean,
    work: File, data: File, cores: Int, tracer: Tracer, ledger: Ledger) {
  /** A fresh, empty directory under the run's work dir. */
  def dir(name: String): File = {
    val f = new File(work, name)
    graft.util.Fs.deleteRecursively(f)
    f.getParentFile.mkdirs()
    f
  }
}

trait Workload {
  /** The timed region, the process's first pass of the workload (and,
    * traced, the per-layer numbers). */
  def run(ctx: Ctx): Seq[Metric]
}

/** Benchmark JVM entry: `--workload pipeline|queries --seed N
  * --trace 0|1 --work DIR [--data DIR]`. Writes
  * `DIR/result.json` (metrics, attempted/failed counts and checks) and,
  * traced, `DIR/../trace/<workload>.spans.jsonl`. */
object PerfMain {

  def session(cores: Int, work: File): SparkSession = {
    val local = new File(work, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.engine.GraftKryoRegistrator")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val workload: Workload = name match {
      case "pipeline" => PipelineWorkload
      case "queries" => QueriesWorkload
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val work = new File(opt("work")).getAbsoluteFile
    val data = new File(opt.getOrElse("data", work.getPath)).getAbsoluteFile
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors

    // set-up: JVM start, session start and one trivial job. The timed
    // region is then the process's first pass of the workload, JIT and plan
    // compilation included, as every batch run of the program pays them
    val spark = session(cores, work)
    spark.range(16).select(org.apache.spark.sql.functions.xxhash64(
      org.apache.spark.sql.functions.col("id"))).write.format("noop").mode("overwrite").save()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    Log.say(f"set-up: $setupS%.2f s")

    val tracer = new Tracer(spark, f"$name-${opt("seed")}-${System.currentTimeMillis()}%x", name)
    val ledger = new Ledger
    val ctx = Ctx(spark, opt("seed").toLong, trace, work, data, cores, tracer, ledger)
    val metrics = try workload.run(ctx) finally spark.stop()
    val all = Metric("setup_s", setupS, "s") +: metrics :+
      Metric("peak_rss_mb", Probes.peakRssMb(), "MB")

    val checks = ledger.checks.map { case (n, ok, d) =>
      s"""{"name":"${Json.esc(n)}","ok":$ok,"detail":"${Json.esc(d)}"}"""
    }.mkString("[", ",", "]")
    val ms = all.map(m => s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(work, "result.json").toPath,
      s"""{"attempted":${ledger.attempted},"failed":${ledger.failed},""" +
        s""""checks":$checks,"metrics":$ms}""")
  }
}
