package graft.perfbench

import graft.engine.PageParser
import graft.fetch.Fetcher
import graft.model.{Document, FollowUp, MediaBlob}
import org.apache.spark.SparkContext
import org.apache.spark.util.LongAccumulator

/** Accumulators fed by the fetch and parse decorators. Task updates are
  * read per stage by the tracer's listener (names carry [[Probes.Prefix]])
  * and in total through `value` on the driver. */
final case class ProbeAccs(
    fetchCalls: LongAccumulator, fetchBusyNs: LongAccumulator,
    fetch2xx: LongAccumulator, fetch4xx: LongAccumulator, fetch5xx: LongAccumulator,
    parseCalls: LongAccumulator, parseBusyNs: LongAccumulator,
    parseFollowups: LongAccumulator)

object Probes {
  val Prefix = "perfbench."

  def accs(sc: SparkContext): ProbeAccs = {
    def a(n: String) = sc.longAccumulator(Prefix + n)
    ProbeAccs(a("fetch.calls"), a("fetch.busy_ns"), a("fetch.status_2xx"),
      a("fetch.status_4xx"), a("fetch.status_5xx"), a("extract.calls"),
      a("extract.busy_ns"), a("extract.followups"))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes and regular files under `f`. */
  def du(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length, 1L)
    else Option(f.listFiles()).getOrElse(Array.empty).map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** Same-run machine envelope for a 1→N leg: a pure-CPU loop and a pure
    * memcpy, run on 1 thread and on N threads; each ratio is
    * rate(N) / rate(1) / N, the efficiency the box itself reaches. */
  def envelope(n: Int): (Double, Double) = {
    def rate(threads: Int, mem: Boolean): Double = {
      val iters = if (mem) 12 else 1
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        val t = new Thread(() => {
          if (mem) {
            val a = new Array[Long](4 << 20)
            val b = new Array[Long](4 << 20)
            var i = 0
            while (i < iters) { System.arraycopy(a, 0, b, 0, a.length); i += 1 }
            if (b(0) == 42L) throw new IllegalStateException("unreachable")
          } else {
            var acc = 1L
            var i = 0L
            val k = iters * 150000000L
            while (i < k) { acc = acc * 6364136223846793005L + 1442695040888963407L; i += 1 }
            if (acc == 42L) throw new IllegalStateException("unreachable")
          }
        })
        t.start(); t
      }
      ts.foreach(_.join())
      threads.toDouble * iters / ((System.nanoTime() - t0) / 1e9)
    }
    def eff(mem: Boolean): Double = {
      rate(n, mem) // warm-up
      rate(n, mem) / rate(1, mem) / n
    }
    (eff(mem = false), eff(mem = true))
  }
}

/** Counts every fetch by status class and times it. */
final case class CountingFetcher(inner: Fetcher, a: ProbeAccs) extends Fetcher {
  private def counted(f: => (Int, Option[Document])): (Int, Option[Document]) = {
    val t0 = System.nanoTime()
    val r = f
    a.fetchBusyNs.add(System.nanoTime() - t0)
    a.fetchCalls.add(1)
    if (r._1 >= 500) a.fetch5xx.add(1)
    else if (r._1 >= 400) a.fetch4xx.add(1)
    else if (r._1 >= 200 && r._1 < 300) a.fetch2xx.add(1)
    r
  }
  def fetch(url: String): (Int, Option[Document]) = counted(inner.fetch(url))
  override def fetchConditional(url: String, ifHash: Long): (Int, Option[Document]) =
    counted(inner.fetchConditional(url, ifHash))
  override def fetchMedia(url: String): (Int, Option[MediaBlob]) = inner.fetchMedia(url)
}

/** Counts and times every parse call and the follow-ups it emits. */
final case class TimedParser(inner: PageParser, a: ProbeAccs) extends PageParser {
  def followUps(doc: Document, meta: Map[String, String]): Seq[FollowUp] = {
    val t0 = System.nanoTime()
    val r = inner.followUps(doc, meta)
    a.parseBusyNs.add(System.nanoTime() - t0)
    a.parseCalls.add(1)
    a.parseFollowups.add(r.size.toLong)
    r
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
