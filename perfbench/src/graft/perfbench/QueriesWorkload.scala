package graft.perfbench

import graft.SparkEntry
import graft.queries.ScratchRootQueries

import java.io.File

/** `queries`: the size-gated and incremental-index queries the open
  * roadmap items name, over a `documents` table the benchmark generates
  * from its seed. Each query's result is written as parquet (the timed
  * action) and checked afterwards against the query's DuckDB `oracleSql`
  * on the same table. */
object QueriesWorkload extends Workload {
  val Names: Seq[String] = Seq(
    "q45_dedup_clusters", "q54_lsh_incremental", "q57_packing_layout",
    "q95_interleaved_packing", "q97_global_shuffle", "q98_shard_manifest",
    "q104_budget_select")

  /** One pass over every query; returns (wall seconds, per-query seconds). */
  private def pass(ctx: Ctx, out: File, sinks: File): (Double, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    val times = Names.flatMap { n =>
      ctx.ledger.attempt(n)(ctx.tracer.step(n) {
        val df =
          if (n == ScratchRootQueries.Name)
            ScratchRootQueries.run(ctx.spark, ctx.data.getPath, new File(sinks, n).getPath)
          else SparkEntry.queries(n)(ctx.spark, ctx.data.getPath)
        df.write.mode("overwrite").parquet(new File(out, n).getPath)
      }).map { case (_, secs) => Log.say(f"$n $secs%.2f s"); n -> secs }
    }
    ((System.nanoTime() - t0) / 1e9, times)
  }

  def run(ctx: Ctx): Seq[Metric] = {
    val oracles = Names.map(n => s""""$n":"${Json.esc(SparkEntry.oracleSql.getOrElse(n, ""))}"""")
    java.nio.file.Files.writeString(new File(ctx.work, "oracle_sql.json").toPath,
      oracles.mkString("{", ",", "}"))
    val out = new File(ctx.work, "out")
    def fresh(tag: String) = ctx.dir(s"sinks/$tag")
    if (!ctx.trace) {
      val sinks = fresh("timed")
      val (wall, times) = pass(ctx, out, sinks)
      val stored = Probes.du(out)._1 + Probes.du(sinks)._1
      graft.util.Fs.deleteRecursively(sinks)
      ctx.ledger.check("timed pass", times.size == Names.size, "a query failed")
      if (times.size < Names.size) Nil
      else Seq(Metric("wall_s", wall, "s"), Metric("stored_mb", Probes.mb(stored.toDouble), "MB"))
    } else {
      // the first pass is cold; the traced pass is compared warm to warm
      // with the mean of an untraced pass before it and one after it
      pass(ctx, out, fresh("cold"))
      val (offA, a) = pass(ctx, out, fresh("untraced"))
      ctx.tracer.enable()
      val (onWall, on) = pass(ctx, out, fresh("traced"))
      val spans = ctx.tracer.finish()
      val (offB, b) = pass(ctx, out, fresh("untraced-after"))
      ctx.ledger.check("traced passes", Seq(a, on, b).forall(_.size == Names.size),
        "a query failed")
      val v = new SpanView(spans)
      ctx.tracer.dump(spans, new File(ctx.work.getParentFile, "trace/queries.spans.jsonl"))
      Metric("trace.overhead", onWall / ((offA + offB) / 2), "ratio") +: Names.flatMap { n =>
        val st = v.steps(n)
        Seq(Metric(s"queries.$n.s", v.ms(st) / 1000.0, "s"),
          Metric(s"queries.$n.jobs", v.jobsOf(st).size.toDouble, "count"))
      }
    }
  }
}
