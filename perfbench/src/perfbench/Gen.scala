package perfbench

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators in the layout of the sf tables the program
  * is written against (`events`, `orders`, `embeddings`, `documents`):
  * the same column names and types, with every column nullable as in
  * the sf parquet files, except that embeddings are `array<double>`, the
  * element type the ann calls cast to and the stores pin. The sizes the
  * workloads use are set as shares of the sf0.1 row counts below.
  * Same seed, same rows. */
object Gen {
  /** Row counts of the sf0.1 tables (1500 users over 30 days in
    * `events`; 15000 customers in `orders`; 10 labels in `embeddings`;
    * 54 words a document in `documents`). */
  val Sf01Events = 100000
  val Sf01EventUsers = 1500
  val Sf01Orders = 150000
  val Sf01Customers = 15000
  val Sf01Embeddings = 2000
  val Sf01Documents = 5000

  val Day0 = java.time.LocalDate.parse("2024-01-01")
  /** The event types of the sf `events` table. */
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")

  val eventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Time-ordered events of `users` users over `days` days, about
    * `perUser` events each, in sessions of one to six events. */
  def events(seed: Long, users: Int, days: Int, perUser: Int): Vector[Row] = {
    val r = new scala.util.Random(seed)
    val t0 = Timestamp.valueOf(Day0.atStartOfDay()).getTime / 1000
    // 1 + U[0, n) sessions of 3.5 events on average
    val n = math.max(1, (2 * perUser / 3.5).toInt - 1)
    val raw = for {
      u <- 0 until users
      _ <- 0 until 1 + r.nextInt(n)
      start = t0 + r.nextInt(days * 86400)
      len = 1 + r.nextInt(6)
      k <- 0 until len
    } yield {
      val ts = start + k * (30 + r.nextInt(600))
      val et = EventTypes(r.nextInt(EventTypes.size))
      (ts, u.toLong, et, r.nextInt(100000) / 100.0, s"p${r.nextInt(20)}")
    }
    raw.sortBy(e => (e._1, e._2)).zipWithIndex.map { case ((ts, u, et, v, p), i) =>
      Row(i.toLong, new Timestamp(ts * 1000), u, et, v, p)
    }.toVector
  }

  // ---- orders (SCD2 daily loads) ----
  final case class Order(key: Long, cust: Long, status: String,
      price: Double, date: Timestamp, priority: String)
  val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType),
    StructField("op", StringType)))
  private val Statuses = Seq("O", "F", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private val OrderDay0 = java.time.LocalDate.parse("1995-01-01")

  /** An order of one of `customers` customers, dated at midnight between
    * 1995-01-01 and 2001-08-01 as in sf. */
  def order(r: scala.util.Random, key: Long, customers: Int): Order =
    Order(key, 1L + r.nextInt(customers), Statuses(r.nextInt(3)),
      (100000 + r.nextInt(40000000)) / 100.0,
      Timestamp.valueOf(OrderDay0.plusDays(r.nextInt(2404).toLong)
        .atStartOfDay()),
      Priorities(r.nextInt(5)))

  def orderRow(o: Order, op: String): Row =
    Row(o.key, o.cust, o.status, o.price, o.date, o.priority, op)

  /** One day's delta against `live`: updates that always change an
    * attribute, new keys from `nextKey` on, and delete-indicator rows. */
  def orderDelta(r: scala.util.Random, live: Map[Long, Order],
      nextKey: Long, customers: Int, updates: Int, inserts: Int,
      deletes: Int)
      : (Seq[Row], Map[Long, Order]) = {
    val keys = r.shuffle(live.keys.toVector.sorted).take(updates + deletes)
    val (upd, del) = keys.splitAt(updates)
    val changed = upd.map { k =>
      val o = live(k)
      if (r.nextBoolean())
        o.copy(price = o.price + (1 + r.nextInt(5000)) / 100.0)
      else o.copy(status = Statuses.filterNot(_ == o.status)(r.nextInt(2)))
    }
    val fresh = (0 until inserts).map(i => order(r, nextKey + i, customers))
    val rows = changed.map(orderRow(_, "U")) ++ fresh.map(orderRow(_, "I")) ++
      del.map(k => orderRow(live(k), "D"))
    val next = live -- del ++ (changed ++ fresh).map(o => o.key -> o)
    (rows, next)
  }

  // ---- embeddings (k-NN store, IVF index) ----
  /** The dimension of the sf embeddings. */
  val Dim = 64
  /** Planted clusters, one per sf label. */
  val Clusters = 10
  val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, false))))

  /** Vectors `ids` scattered around `Clusters` planted centres: centre c
    * is 1 on the dimensions c, c + 10, c + 20, ... Values are multiples
    * of 1/1024, so every engine reads back the same doubles. */
  def vectors(seed: Long, ids: Seq[Long]): Seq[Row] = ids.map { id =>
    val r = new scala.util.Random(seed * 1000003L + id)
    val c = r.nextInt(Clusters)
    Row(id, Array.tabulate(Dim) { j =>
      (if (j % Clusters == c) 1.0 else 0.0) + r.nextInt(256) / 1024.0
    }.toSeq)
  }

  // ---- documents (dedup index) ----
  val docSchema = StructType(Seq(
    StructField("doc_id", LongType, false),
    StructField("text", StringType, false)))
  private val Vocab = Vector.tabulate(400)(i => s"w${i * 7919 % 1000}")
  /** Words of a new document: 54 on average, as in sf. */
  private val MinWords = 20
  private val MaxWords = 88

  /** Documents `ids`; about one in five copies an earlier document,
    * verbatim or with one word changed, so the dedup verdicts see
    * exact, near and new documents. */
  def docs(seed: Long, ids: Seq[Long]): Seq[Row] =
    ids.map(id => Row(id, docWords(seed, id).mkString(" ")))

  private def docWords(seed: Long, id: Long): Vector[String] = {
    val r = new scala.util.Random(seed * 7777777L + id)
    if (id > 10 && r.nextInt(5) == 0) {
      val base = docWords(seed, Math.floorMod(r.nextLong(), id))
      if (r.nextBoolean()) base
      else base.updated(r.nextInt(base.size), Vocab(r.nextInt(Vocab.size)))
    } else Vector.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(
      Vocab(r.nextInt(Vocab.size)))
  }
}
