package graft.perfbench

import graft.DietParser
import graft.engine.{CrawlConfig, CrawlRunResult, PageParser, SeedSpec, WaveEngine}
import graft.fetch.{Fetcher, SyntheticSite}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File

/** Crawl helpers shared by the `pipeline` workload and the scaling legs. */
object Crawls {
  def seeds(site: SyntheticSite): Seq[SeedSpec] =
    (0 until site.nHosts).map(k => SeedSpec(site.pageUrl(k, 0), parseFn = "diet"))

  /** fetched + deduped of a complete crawl: every seed, plus every link
    * span of every page (each is either fetched once or deduped). */
  def expectedCandidates(site: SyntheticSite): Long =
    site.nHosts.toLong + (0 until site.nHosts).iterator.map { k =>
      (0 until site.pagesOf(k)).iterator.map(i => site.links(k, i).size.toLong).sum
    }.sum

  def engine(spark: SparkSession, fetcher: Fetcher, parser: PageParser,
      cfg: CrawlConfig): WaveEngine =
    new WaveEngine(spark, fetcher, Map[String, PageParser]("diet" -> parser), cfg)

  /** The decorated fetcher and parser when traced, the plain ones otherwise. */
  def probed(site: SyntheticSite, accs: Option[ProbeAccs]): (Fetcher, PageParser) =
    accs.fold[(Fetcher, PageParser)]((site, DietParser))(a =>
      (CountingFetcher(site, a), TimedParser(DietParser, a)))

  /** Output checks of a finished crawl, and its fetches into the ledger:
    * every page fetched once and seen once, and every candidate either
    * fetched or deduped. Lineage `errors` counts statuses ≥ 400; the
    * synthetic site serves none, so each is a failed fetch. Returns the
    * lineage report's largest per-wave skew. */
  def check(ctx: Ctx, tag: String, site: SyntheticSite, expected: Long,
      res: CrawlRunResult, eng: WaveEngine): Double = {
    val l = ctx.tracer.step("lineage_report")(eng.lineageReport().agg(
      coalesce(sum(col("in_count")), lit(0L)), coalesce(sum(col("errors")), lit(0L)),
      coalesce(max(col("skew")), lit(0.0))).head())._1
    ctx.ledger.count(l.getLong(0), l.getLong(1))
    val total = site.totalPages
    ctx.ledger.check(s"$tag.fetched", res.fetched == total, s"fetched ${res.fetched} != $total")
    ctx.ledger.check(s"$tag.seen", res.seen == total, s"seen ${res.seen} != $total")
    ctx.ledger.check(s"$tag.candidates", res.fetched + res.deduped == expected,
      s"fetched + deduped ${res.fetched + res.deduped} != $expected")
    l.getDouble(2)
  }

  /** The seen layer as the checkpoint holds it: the scalable engine keeps
    * no filter files, only the seen changelog dirs it rebuilds them from. */
  def seenMetrics(res: CrawlRunResult, ckpt: File): Seq[Metric] = {
    val seen = new File(ckpt, "seen")
    val seenDirs = Option(seen.listFiles()).getOrElse(Array.empty).count(_.isDirectory)
    Seq(Metric("seen.size", res.seen.toDouble, "count"),
      Metric("seen.mb", Probes.mb(Probes.du(seen)._1.toDouble), "MB"),
      Metric("seen.dirs", seenDirs.toDouble, "count"))
  }

  /** Engine metrics over the traced crawl steps. */
  def engineMetrics(ctx: Ctx, v: SpanView, steps: Seq[Span], waves: Int,
      fetched: Long, deduped: Long, ckpt: File, skewMax: Double): Seq[Metric] = {
    val stages = v.stagesOf(steps)
    val jobs = v.jobsOf(steps)
    val w = math.max(1, waves).toDouble
    val (ckptBytes, ckptFiles) = Probes.du(ckpt)
    Seq(
      Metric("engine.task_run_ms", v.sum(stages, "run_ms"), "ms"),
      Metric("engine.task_cpu_ms", v.sum(stages, "cpu_ms"), "ms"),
      Metric("engine.gc_ms", v.sum(stages, "gc_ms"), "ms"),
      Metric("engine.shuffle_write_mb", Probes.mb(v.sum(stages, "shuffle_write_bytes")), "MB"),
      Metric("engine.shuffle_records", v.sum(stages, "shuffle_write_records"), "count"),
      Metric("engine.tasks", v.sum(stages, "tasks"), "count"),
      Metric("engine.dedup_ratio", deduped.toDouble / math.max(1L, fetched + deduped), "ratio"),
      Metric("engine.waves", waves.toDouble, "count"),
      Metric("engine.jobs", jobs.size.toDouble, "count"),
      Metric("engine.jobs_per_wave", jobs.size / w, "count"),
      Metric("engine.ms_per_wave", v.ms(steps) / w, "ms"),
      Metric("engine.driver_gap_ms", steps.map(v.driverGapMs).sum, "ms"),
      Metric("engine.ckpt_mb", Probes.mb(ckptBytes.toDouble), "MB"),
      Metric("engine.ckpt_files", ckptFiles.toDouble, "count"),
      Metric("engine.skew_max", skewMax, "ratio"),
      Metric("engine.barrier_idle_ms", v.barrierIdleMs(stages, ctx.cores), "ms"))
  }

  def probeMetrics(a: ProbeAccs): Seq[Metric] = Seq(
    Metric("fetch.calls", a.fetchCalls.value.toDouble, "count"),
    Metric("fetch.busy_ms", a.fetchBusyNs.value / 1e6, "ms"),
    Metric("fetch.status_2xx", a.fetch2xx.value.toDouble, "count"),
    Metric("fetch.status_4xx", a.fetch4xx.value.toDouble, "count"),
    Metric("fetch.status_5xx", a.fetch5xx.value.toDouble, "count"),
    Metric("extract.calls", a.parseCalls.value.toDouble, "count"),
    Metric("extract.busy_ms", a.parseBusyNs.value / 1e6, "ms"),
    Metric("extract.followups", a.parseFollowups.value.toDouble, "count"))
}

/** `Bench`'s frontier job — branching 10, hot host ×4, 128 buckets / 32
  * partitions, uncapped per-host budget, no fetched table, one checkpoint
  * at exit — used by the scaling legs. */
object BenchCrawl {
  def site(seed: Long, hosts: Int, pages: Int): SyntheticSite =
    SyntheticSite(nHosts = hosts, basePagesPerHost = pages, branching = 10,
      hotFactor = 4, seed = seed, textSpansPerPage = 8)

  def config(ckpt: File): CrawlConfig = CrawlConfig(checkpointDir = ckpt.getPath,
    hostBuckets = 128, fetchPartitions = 32, maxPerHostPerWave = Int.MaxValue,
    keepFetched = false, checkpointEvery = 1000000, filterCapacityPerBucket = 1 << 13)
}
