package graft.perfbench

import graft.DietParser
import org.apache.spark.sql.SparkSession

import scala.sys.process._

/** The traced run's scaling leg: `Bench`'s crawl job (at [[Hosts]] ×
  * [[Pages]]) on local[1] with the whole JVM pinned to one core, then on
  * local[4] pinned to four (`taskset -a -p`, every thread). It runs last,
  * in the already-warm JVM, so the legs compare warm to warm. Reported as
  * engine.eff_1_4 = qps(4) / qps(1) / 4 next to the same run's CPU and
  * memcpy envelope; nothing gates on it. The JVM's own pools stay sized for
  * the whole box. A box with fewer than 4 cores cannot pin the legs and
  * reports 0, and so does a run that reaches them later than
  * [[LatestStartS]]. */
object ScaleLeg {
  val Hosts = 64
  val Pages = 300
  val N = 4
  /** JVM uptime after which the legs are skipped: they take 25–45 s, and a
    * run must end within run.py's 170 s limit. */
  val LatestStartS = 110.0

  private def pin(cpus: String): Boolean =
    Seq("taskset", "-a", "-p", "-c", cpus, ProcessHandle.current().pid().toString)
      .!(ProcessLogger(_ => ())) == 0

  private def leg(ctx: Ctx, cores: Int): Option[Double] = {
    val spark: SparkSession = PerfMain.session(cores, ctx.work)
    try {
      val ckpt = ctx.dir(s"leg$cores")
      val s = BenchCrawl.site(ctx.seed, Hosts, Pages)
      ctx.ledger.attempt(s"scaling leg $cores")(
        Crawls.engine(spark, s, DietParser, BenchCrawl.config(ckpt)).run(Crawls.seeds(s))
      ).map { res =>
        graft.util.Fs.deleteRecursively(ckpt)
        Log.say(f"scaling leg local[$cores]: ${res.urlsPerSec}%.0f urls/s")
        res.urlsPerSec
      }
    } finally spark.stop()
  }

  /** Stops the run's session; call last. The job runs once unpinned first,
    * so neither leg pays for its first-use compilation. */
  def legs(ctx: Ctx): Seq[Metric] = {
    ctx.spark.stop()
    val uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    if (uptimeS > LatestStartS) Log.say(f"scaling legs skipped: $uptimeS%.0f s into the run")
    val (eff, cpu, mem) =
      if (uptimeS > LatestStartS || ctx.cores < N || leg(ctx, N).isEmpty || !pin("0"))
        (0.0, 0.0, 0.0)
      else try {
        val one = leg(ctx, 1)
        pin(s"0-${N - 1}")
        val e = for (a <- one; b <- leg(ctx, N)) yield b / a / N
        val (c, m) = Probes.envelope(N)
        (e.getOrElse(0.0), c, m)
      } finally pin(s"0-${ctx.cores - 1}")
    Seq(Metric("engine.eff_1_4", eff, "ratio"),
      Metric("envelope.cpu_eff_1_4", cpu, "ratio"),
      Metric("envelope.memcpy_eff_1_4", mem, "ratio"))
  }
}
