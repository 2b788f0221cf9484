package graft.perfbench

import graft.engine.{CrawlConfig, CrawlRunResult}
import graft.fetch.SyntheticSite
import graft.ops.{Curation, Dedup, Packing}
import graft.sinks.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** `pipeline`: the composed pipeline. A paced, politeness-bound crawl
  * (64 hosts, hot host ×16, 160 pages per host per wave, a per-host rate
  * table in simulated mode, a checkpoint every wave, fetched pages kept;
  * 32 buckets over 8 partitions, two tasks per core on 4 cores)
  * stops at wave [[StopWave]]; a fresh engine resumes it to completion.
  * Then the corpus steps: fetched table → text docs → `Curation.curate` →
  * `Dedup.minhashLshPairs` → `Packing.layout` → `SnapshotTable.merge`, and a
  * second merge that upserts a third of the rows. Every step writes its
  * output, so each is timed as the work it does. */
object PipelineWorkload extends Workload {
  val Hosts = 64
  val Pages = 20
  val StopWave = 2
  val SeqLen = 2048L

  def site(seed: Long): SyntheticSite =
    SyntheticSite(nHosts = Hosts, basePagesPerHost = Pages, branching = 10,
      hotFactor = 16, seed = seed, textSpansPerPage = 8)

  private def rpsTable(spark: SparkSession): DataFrame = spark.range(Hosts).select(
    concat(lit("h"), col("id"), lit(".example.jp")).as("host"),
    (lit(2.0) + pmod(col("id"), lit(7))).cast("double").as("rps"))

  private def config(ckpt: File, rps: DataFrame, maxWaves: Int): CrawlConfig =
    CrawlConfig(checkpointDir = ckpt.getPath, hostBuckets = 32, fetchPartitions = 8,
      maxPerHostPerWave = 160,
      hostRpsTable = Some(rps), checkpointEvery = 1, keepFetched = true,
      maxWaves = maxWaves)

  private final case class Pass(crawlS: Double, resumeS: Double, corpusS: Double,
      res: CrawlRunResult, waves: Int, skew: Double, root: File) {
    def wall: Double = crawlS + resumeS + corpusS
  }

  /** Step name → seconds, for the corpus steps that ran. */
  private type Steps = Seq[(String, Double)]

  /** The corpus steps over a finished crawl's fetched table. Each step is
    * an attempted operation; a throw stops the chain. */
  private def corpus(ctx: Ctx, eng: graft.engine.WaveEngine, root: File,
      dist: Boolean): Steps = {
    val spark = ctx.spark
    val steps = new File(root, "steps")
    def path(n: String) = new File(steps, n).getPath
    def read(n: String) = spark.read.parquet(path(n))
    val table = new SnapshotTable(spark, new File(root, "sink").getPath)
    val chain: Seq[(String, () => Unit)] = Seq(
      "docs" -> (() => eng.fetchedTable().filter(col("status") === 200)
        .select(col("url_hash").as("id"), concat_ws(" ",
          expr("transform(filter(spans, s -> s.kind = 'text'), s -> s.text)")).as("text"))
        .write.parquet(path("docs"))),
      "curate" -> (() => Curation.curate(read("docs"), "id", "text")
        .write.parquet(path("curated"))),
      "lsh" -> (() => Dedup.minhashLshPairs(read("curated"), "id", "scrubbed")
        .write.parquet(path("pairs"))),
      "pack" -> (() => Packing.layout(read("curated"), "id", "scrubbed", SeqLen)
        .write.parquet(path("layout")))) ++
      (if (dist) Seq("pack_dist" -> (() => Packing.layout(read("curated"), "id",
        "scrubbed", SeqLen, maxDriverDocs = 0).write.parquet(path("layout_dist"))))
      else Nil) ++ Seq(
      "merge" -> (() => {
        val near = read("pairs").select(col("doc_b").as("id")).distinct()
          .withColumn("near_dup", lit(true))
        table.merge(read("curated")
          .join(read("layout").select("id", "start_tok", "end_tok", "first_seq", "n_seqs"), "id")
          .join(near, Seq("id"), "left")
          .withColumn("near_dup", coalesce(col("near_dup"), lit(false)))
          .withColumn("batch", lit(1)), "id")
        ()
      }),
      "upsert" -> (() => {
        table.merge(read("curated").filter(pmod(col("id"), lit(3L)) === 0)
          .select(col("id"), concat(col("scrubbed"), lit(" v2")).as("scrubbed"),
            lit(2).as("batch")), "id")
        ()
      }))
    val done = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var ok = true
    chain.foreach { case (name, body) =>
      if (ok) ctx.ledger.attempt(s"pipeline $name")(ctx.tracer.step(name)(body())) match {
        case Some((_, secs)) => done += name -> secs
        case None => ok = false
      }
    }
    done.toSeq
  }

  private def pass(ctx: Ctx, tag: String, s: SyntheticSite, expected: Long,
      accs: Option[ProbeAccs]): Option[Pass] = {
    val root = ctx.dir(s"pipeline/$tag")
    val ckpt = new File(root, "ckpt")
    val rps = rpsTable(ctx.spark)
    val (fetcher, parser) = Crawls.probed(s, accs)
    for {
      (leg1, crawlS) <- ctx.ledger.attempt(s"pipeline crawl $tag")(ctx.tracer.step("crawl")(
        Crawls.engine(ctx.spark, fetcher, parser, config(ckpt, rps, StopWave))
          .run(Crawls.seeds(s))))
      eng = Crawls.engine(ctx.spark, fetcher, parser, config(ckpt, rps, 10000))
      (res, resumeS) <- ctx.ledger.attempt(s"pipeline resume $tag")(
        ctx.tracer.step("resume")(eng.resume()))
      skew = Crawls.check(ctx, tag, s, expected, res, eng)
      steps = corpus(ctx, eng, root, dist = accs.isDefined)
      // a pass whose chain broke is a failure, never a (shorter) timing
      if steps.exists(_._1 == "upsert")
    } yield {
      ctx.ledger.check(s"$tag.stopped_at_wave", leg1.waves == StopWave,
        s"first leg ran ${leg1.waves} waves, not $StopWave")
      checkCorpus(ctx, tag, root, steps)
      Log.say(f"pipeline $tag: crawl $crawlS%.2f s (${leg1.waves} waves), resume " +
        f"$resumeS%.2f s (${res.waves} waves), steps " +
        steps.map { case (n, t) => f"$n $t%.2f" }.mkString(", "))
      Pass(crawlS, resumeS, steps.filter(_._1 != "pack_dist").map(_._2).sum,
        res, leg1.waves + res.waves, skew, root)
    }
  }

  /** Sink checks: one row per curated survivor, the upserted third carries
    * the batch-2 values and the rest keeps batch 1; both sides of the
    * `Packing` size gate give the same layout. */
  private def checkCorpus(ctx: Ctx, tag: String, root: File, steps: Steps): Unit = {
    def read(n: String) = ctx.spark.read.parquet(new File(root, s"steps/$n").getPath)
    val curated = read("curated")
    val sink = new SnapshotTable(ctx.spark, new File(root, "sink").getPath).read()
    val nCur = curated.count()
    val third = pmod(col("id"), lit(3L)) === 0
    val r = sink.agg(count(lit(1)),
      sum(when(third && col("batch") === 2 && col("scrubbed").endsWith(" v2"), 1).otherwise(0)),
      sum(when(!third && col("batch") === 1 && !col("scrubbed").endsWith(" v2"), 1)
        .otherwise(0))).head()
    val nThird = curated.filter(third).count()
    ctx.ledger.check(s"$tag.sink_rows", r.getLong(0) == nCur && nCur > 0,
      s"sink ${r.getLong(0)} rows, curated $nCur")
    ctx.ledger.check(s"$tag.upserted", r.getLong(1) == nThird && r.getLong(2) == nCur - nThird,
      s"batch-2 rows ${r.getLong(1)}/$nThird, batch-1 rows ${r.getLong(2)}/${nCur - nThird}")
    if (steps.exists(_._1 == "pack_dist")) {
      val a = read("layout")
      val b = read("layout_dist")
      ctx.ledger.check(s"$tag.pack_gate_sides", a.count() == b.count() &&
        a.exceptAll(b.select(a.columns.map(col): _*)).isEmpty,
        "gated and distributed Packing.layout differ")
    }
  }

  private def stored(root: File): Long =
    Probes.du(new File(root, "ckpt"))._1 + Probes.du(new File(root, "sink"))._1

  def run(ctx: Ctx): Seq[Metric] = {
    val s = site(ctx.seed)
    val expected = Crawls.expectedCandidates(s)
    if (!ctx.trace) {
      val p = pass(ctx, "timed", s, expected, None)
      ctx.ledger.check("timed pass", p.isDefined, "an operation failed")
      p.toSeq.flatMap { p =>
        val bytes = stored(p.root)
        graft.util.Fs.deleteRecursively(p.root)
        Seq(Metric("wall_s", p.wall, "s"), Metric("stored_mb", Probes.mb(bytes.toDouble), "MB"))
      }
    } else {
      // the first pass is cold; the traced pass is compared warm to warm
      // with the mean of an untraced pass before it and one after it
      def untraced(tag: String) = {
        val p = pass(ctx, tag, s, expected, None)
        p.foreach(x => graft.util.Fs.deleteRecursively(x.root))
        p
      }
      untraced("cold")
      val plain = untraced("untraced")
      ctx.tracer.enable()
      val accs = Probes.accs(ctx.spark.sparkContext)
      val traced = pass(ctx, "traced", s, expected, Some(accs))
      val spans = ctx.tracer.finish()
      val v = new SpanView(spans)
      val layer = for (off <- plain; on <- traced) yield {
        val root = on.root
        def count(n: String) = ctx.spark.read.parquet(new File(root, s"steps/$n").getPath).count()
        def stepMs(n: String) = v.ms(v.steps(n))
        def jobs(n: String*) = v.jobsOf(v.steps(n: _*)).size.toDouble
        val (sinkBytes, sinkFiles) = Probes.du(new File(root, "sink"))
        val opsShuffle = v.sum(v.stagesOf(v.steps("curate", "lsh", "pack")), "shuffle_write_bytes")
        Seq(Metric("urls_per_s", (off.res.fetched + off.res.deduped) / (off.crawlS + off.resumeS), "1/s"),
          Metric("resume_s", off.resumeS, "s"),
          Metric("corpus_s", off.corpusS, "s")) ++
          Crawls.engineMetrics(ctx, v, v.steps("crawl", "resume"), on.waves, on.res.fetched,
            on.res.deduped, new File(root, "ckpt"), on.skew) ++
          Crawls.seenMetrics(on.res, new File(root, "ckpt")) ++ Crawls.probeMetrics(accs) ++ Seq(
          Metric("ops.curate_ms", stepMs("curate"), "ms"),
          Metric("ops.curate_jobs", jobs("curate"), "count"),
          Metric("ops.curate_kept_ratio", count("curated").toDouble / math.max(1L, count("docs")), "ratio"),
          Metric("ops.lsh_ms", stepMs("lsh"), "ms"),
          Metric("ops.lsh_jobs", jobs("lsh"), "count"),
          Metric("ops.lsh_pairs", count("pairs").toDouble, "count"),
          Metric("ops.pack_ms", stepMs("pack"), "ms"),
          Metric("ops.pack_jobs", jobs("pack"), "count"),
          Metric("ops.pack_dist_ms", stepMs("pack_dist"), "ms"),
          Metric("ops.shuffle_mb", Probes.mb(opsShuffle), "MB"),
          Metric("sinks.merge_ms", stepMs("merge"), "ms"),
          Metric("sinks.upsert_ms", stepMs("upsert"), "ms"),
          Metric("sinks.jobs", jobs("merge", "upsert"), "count"),
          Metric("sinks.mb", Probes.mb(sinkBytes.toDouble), "MB"),
          Metric("sinks.files", sinkFiles.toDouble, "count"))
      }
      traced.foreach(p => graft.util.Fs.deleteRecursively(p.root))
      val overhead = for (a <- plain; on <- traced; b <- untraced("untraced-after"))
        yield Metric("trace.overhead", on.wall / ((a.wall + b.wall) / 2), "ratio")
      ctx.ledger.check("traced passes", layer.isDefined && overhead.isDefined,
        "a warm pass failed")
      ctx.tracer.dump(spans, new File(ctx.work.getParentFile, "trace/pipeline.spans.jsonl"))
      layer.getOrElse(Nil) ++ overhead ++ ScaleLeg.legs(ctx)
    }
  }
}
