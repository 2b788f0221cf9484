package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

/**
 * The one corpus-wide ordered scan behind [[Packing.layout]],
 * [[Budget.selectByBudget]], [[Shard.globalShuffleLayout]] and
 * [[SuffixArray]]'s rank rounds: a value per row that depends on every
 * row before it in a total order (a running token sum, a global row
 * number, a global dense rank).
 *
 * Scale shape: the textbook two-level distributed scan.
 *   1. the (slim, fixed-width) rows are range-partitioned by the order —
 *      one range exchange; the range partitioner numbers partitions in
 *      key order, so `__pid` order IS the global order;
 *   2. one aggregate per partition comes to the driver (nParts rows) and
 *      turns into an offset-map literal;
 *   3. each row's value is a partition-local window value + its
 *      partition's offset — no further exchange.
 * A global `Window.orderBy` (no partition) would instead drag the whole
 * corpus through ONE task — the plan these ops exist to avoid.
 *
 * Step 1 is pinned with an eager localCheckpoint, NOT cache: the offsets
 * are computed from ONE materialization of the range shuffle, and the
 * returned (lazy) frame must read the very same partitioning — a cache
 * could be evicted (or unpersisted before the caller executes) and a
 * re-run RangePartitioner may sample different bounds, silently pairing
 * local values with offsets from a different partitioning.
 *
 * [[runningSum]] adds a size gate in front: under `maxDriverDocs` rows
 * (integral, non-null keys and weight) one `limit(n+1).collect` + an
 * in-memory sort and prefix sum replaces the range-sample job, the
 * checkpoint and the partials collect. Both sides return the same
 * schema, nullability included; the gated side is a single-partition
 * local frame (no exchange at all), which is what makes it cheap.
 */
private[ops] object PrefixScan {

  /** Default doc-count gate: 2^20 rows of a few longs is ~16–24 MB of
    * driver rows — the same bounded-driver-plane posture as Cluster's
    * union-find gate. At corpus scale the gate never fires. */
  val MaxDriverDocs: Int = 1 << 20

  /** An order key: column `name`, ascending unless `desc`. */
  final case class Key(name: String, desc: Boolean = false) {
    def column: Column = if (desc) col(name).desc else col(name)
  }

  private val Pid = "__pid"

  /** The distributed scan: `df` plus `out` = `local(w)` + the sum of
    * `partTotal` over all earlier partitions, where `w` is the
    * partition-local window in `order`; also returns the grand total of
    * `partTotal`. `partTotal` and `local` must agree (a partition's
    * total is what its last row's local value advances by). */
  def distributed(df: DataFrame, order: Seq[Key], nParts: Int,
      partTotal: Column, local: WindowSpec => Column,
      out: String): (DataFrame, Long) = {
    val part = df.repartitionByRange(nParts, order.map(_.column): _*)
      .withColumn(Pid, spark_partition_id())
      .localCheckpoint(true)
    val partials = part.groupBy(col(Pid)).agg(partTotal.as("t"))
      .collect().sortBy(_.getInt(0))
    // a null total (all-null weights) adds nothing: getAs unboxes it to 0
    val cum = partials.scanLeft(0L)(_ + _.getAs[Long](1))
    // empty input: map() would be map<string,string> and poison the
    // arithmetic types downstream; any typed single-entry map works
    // because no row will look anything up
    val offsets =
      if (partials.isEmpty) map(lit(0), lit(0L))
      else map(partials.map(_.getInt(0)).zip(cum.init)
        .flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    (withOffsets(part, order, local, offsets, out), cum.last)
  }

  private def withOffsets(part: DataFrame, order: Seq[Key],
      local: WindowSpec => Column, offsets: Column, out: String): DataFrame = {
    val w = Window.partitionBy(col(Pid)).orderBy(order.map(_.column): _*)
    part.withColumn(out, local(w) + element_at(offsets, col(Pid))).drop(Pid)
  }

  /** `df` plus `out` = the global running sum of `weight` (None: of 1
    * per row) in `order`, exclusive of the row itself unless
    * `inclusive`; also returns the grand total. Size-gated: see the
    * object doc. */
  def runningSum(df: DataFrame, order: Seq[Key], weight: Option[String],
      inclusive: Boolean, out: String, nParts: Int,
      maxDriverDocs: Int): (DataFrame, Long) = {
    def upTo(w: WindowSpec, end: Long) = w.rowsBetween(Window.unboundedPreceding, end)
    val (partTotal, local) = weight match {
      case Some(c) if inclusive =>
        (sum(col(c)), (w: WindowSpec) => sum(col(c)).over(upTo(w, 0L)))
      case Some(c) => // a partition's first row sums an empty frame
        (sum(col(c)), (w: WindowSpec) => coalesce(sum(col(c)).over(upTo(w, -1L)), lit(0L)))
      case None =>
        val from = if (inclusive) 0 else 1
        (count(lit(1)), (w: WindowSpec) => (row_number().over(w) - from).cast("long"))
    }
    onDriver(df, order, weight, inclusive, local, out, maxDriverDocs)
      .getOrElse(distributed(df, order, nParts, partTotal, local, out))
  }

  private def onDriver(df: DataFrame, order: Seq[Key], weight: Option[String],
      inclusive: Boolean, local: WindowSpec => Column, out: String,
      maxDriverDocs: Int): Option[(DataFrame, Long)] = {
    val cols = order.map(_.name) ++ weight
    // integral only: the driver's Long order == Spark's order
    val integral = cols.forall(c => df.schema(c).dataType match {
      case LongType | IntegerType | ShortType => true
      case _ => false
    })
    if (maxDriverDocs <= 0 || !integral) return None
    val head = df.limit(maxDriverDocs + 1).collect()
    val idx = cols.map(df.schema.fieldIndex)
    // over the gate, or nulls (the distributed side's null ordering and
    // propagation are not worth re-implementing): fall through
    if (head.length > maxDriverDocs || head.exists(r => idx.exists(r.isNullAt)))
      return None
    def long(r: Row, i: Int) = r.getAs[Number](i).longValue()
    val ord = order.zip(idx).map { case (k, i) =>
      val o = Ordering.by[Row, Long](long(_, i))
      if (k.desc) o.reverse else o
    }.reduce(_ orElse _)
    val wi = weight.map(df.schema.fieldIndex)
    var total = 0L
    val rows = head.sorted(ord).map { r =>
      val step = wi.fold(1L)(long(r, _))
      val before = total
      total += step
      Row.fromSeq(r.toSeq :+ (if (inclusive) total else before))
    }
    // the schema is the distributed side's, taken from its (unexecuted)
    // plan over a placeholder offset map, so nullability cannot drift
    val schema = withOffsets(df.withColumn(Pid, spark_partition_id()), order,
      local, map(lit(0), lit(0L)), out).schema
    Some((df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema), total))
  }
}
