package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.load.{MergeConfig, Scd2Store}
import graft.meta.Meta

/** Seeded daily SCD2 deltas over `orders` through the store's logged
  * load, each followed by a current read, two as-of reads of earlier
  * days, history compaction to one file and change-table retention. */
final class DailyLoad extends Workload {
  private val Table = "orders"
  /** Orders in the first load, and the customers they belong to: a
    * tenth of sf0.1, so that a run's load, reads and compaction fit its
    * time budget (a load of all 150000 sf0.1 orders takes about 7 s on
    * 4 CPUs, twice a whole vector-store cycle's writes). */
  private val Keys = Gen.Sf01Orders / 10
  private val Customers = Gen.Sf01Customers / 10
  /** A day's delta: updates, new keys and deletes, as shares of Keys. */
  private val Updates = Keys / 50
  private val Inserts = Keys / 100
  private val Deletes = Keys / 200
  private val BizCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private var dir = ""
  private var store: Scd2Store = _
  private var rng: scala.util.Random = _
  private var day = 0
  private var nextKey = 0L
  /** Expected live orders after each day's load. */
  private val expected = mutable.Map.empty[Int, Map[Long, Gen.Order]]
  /** (day the read should reflect, canonical rows read). */
  private val reads = mutable.ArrayBuffer.empty[(Int, Vector[String])]

  private def processTime(d: Int) = s"${Gen.Day0.plusDays(d.toLong)} 01:00:00"
  private def cfg(d: Int) = MergeConfig(
    idFields = Seq("o_orderkey"), idType = "order", entityType = "order",
    source = "perfbench", processType = "daily", processId = s"load_$d",
    userId = "perfbench", processTime = processTime(d),
    deleteIndicatorField = Some(("op", Seq("D"))))

  /** Land a delta as a parquet file, as an upstream extract would. */
  private def land(ctx: Ctx, rows: Seq[Row], d: Int): String = {
    val path = s"$dir/landing/day=$d"
    Gen.df(ctx.spark, rows, Gen.orderSchema).coalesce(1).write.parquet(path)
    path
  }

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    store = new Scd2Store(ctx.spark, s"$dir/store")
    rng = new scala.util.Random(ctx.seed)
    val base = (1 to Keys).map(k => Gen.order(rng, k.toLong, Customers))
    nextKey = Keys + 1L
    expected(0) = base.map(o => o.key -> o).toMap
    store.runLoadLogged(Table,
      ctx.spark.read.parquet(land(ctx, base.map(Gen.orderRow(_, "I")), 0)),
      cfg(0))
  }

  /** One day's load with its reads, and one compaction: the code paths
    * of a cycle. */
  def warmUp(ctx: Ctx): Unit = {
    val (d, path) = nextDelta(ctx, recordInput = false)
    store.runLoadLogged(Table, ctx.spark.read.parquet(path), cfg(d))
    store.readCurrent(Table).collect()
    store.readSnapshotAsOf(Table, processTime(d - 1)).collect()
    store.compactHistory(Table, 1)
  }

  /** Generate and land the next day's delta; returns its path. */
  private def nextDelta(ctx: Ctx, recordInput: Boolean): (Int, String) = {
    day += 1
    val d = day
    val (rows, next) = Gen.orderDelta(rng, expected(d - 1), nextKey,
      Customers, Updates, Inserts, Deletes)
    nextKey += Inserts
    expected(d) = next
    val path = land(ctx, rows, d)
    if (recordInput) {
      ctx.inputRows += rows.size
      ctx.inputBytes += Workload.dirBytes(path)
    }
    (d, path)
  }

  private def canon(rows: Array[Row]): Vector[String] =
    rows.map(r => Row.fromSeq(BizCols.map(r.getAs[Any])).toString)
      .sorted.toVector

  private def want(d: Int): Vector[String] =
    expected(d).values.map(o => Row(o.key, o.cust, o.status, o.price,
      o.date, o.priority).toString).toVector.sorted

  def cycle(ctx: Ctx, i: Int): Unit = {
    val (d, path) = nextDelta(ctx, recordInput = true)
    ctx.op("write", "load") {
      ctx.span("load.runLoadLogged") {
        store.runLoadLogged(Table, ctx.spark.read.parquet(path), cfg(d))
      }
    }
    var cur: Array[Row] = null
    if (ctx.op("read", "current") {
      cur = ctx.span("load.readCurrent")(store.readCurrent(Table).collect())
    }) reads += ((d, canon(cur)))
    // two time-travel reads of earlier days
    for (_ <- 0 until 2) {
      val earlier = rng.nextInt(d)
      var asOf: Array[Row] = null
      if (ctx.op("read", "as_of") {
        asOf = ctx.span("load.readSnapshotAsOf") {
          store.readSnapshotAsOf(Table, processTime(earlier)).collect()
        }
      }) reads += ((earlier, canon(asOf.filter(
        _.getAs[String](Meta.RecType) != Meta.Rec.Delete))))
    }
    ctx.op("compact", "compact_history") {
      ctx.span("load.compactHistory")(store.compactHistory(Table, 1))
    }
    ctx.op("delete", "expire_change_tables") {
      ctx.span("load.expireChangeTables") {
        store.expireChangeTables(Table, Gen.Day0.plusDays(day.toLong), 3)
      }
    }
  }

  def check(ctx: Ctx): Seq[String] = {
    val fresh = Workload.diff(s"readCurrent after day $day",
      canon(store.readCurrent(Table).collect()), want(day))
    fresh.toSeq ++ reads.toSeq.zipWithIndex.flatMap { case ((d, got), n) =>
      Workload.diff(s"read $n (state of day $d)", got, want(d))
    }
  }

  def corrupt(): Unit = if (reads.nonEmpty) {
    val (d, rows) = reads(0)
    reads(0) = (d, rows.drop(1))
  }

  override def stores: Seq[String] = Seq(s"$dir/store/$Table")
  override def freshLiveBytes(ctx: Ctx, scratch: String): Long = {
    store.readCurrent(Table).coalesce(1).write.parquet(scratch)
    Workload.dirBytes(scratch)
  }
  override def liveAndStoredRows(ctx: Ctx): (Long, Long) =
    (store.readCurrent(Table).count(), store.readHistory(Table).get.count())
}
