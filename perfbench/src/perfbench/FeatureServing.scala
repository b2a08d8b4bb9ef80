package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.events.{EventFeatures, EventFunctions}
import graft.relational.Joins

/** Point-in-time feature vectors for a seeded user cohort as of the
  * run's seeded date, read straight from the events table: the serving read
  * path, with no store. Each request is one read operation. */
final class FeatureServing extends Workload {
  /** Users and events per user of the sf0.1 `events` table. */
  private val Users = Gen.Sf01EventUsers
  private val PerUser = Gen.Sf01Events / Gen.Sf01EventUsers
  private val Cohort = 40
  private val Features = Seq("view", "click", "purchase", "signup")
  private var eventsPath = ""
  private var asOf = ""
  private val responses =
    mutable.ArrayBuffer.empty[(Seq[Long], String, Vector[String])]

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    eventsPath = s"$dir/events"
    Gen.df(spark, Gen.events(ctx.seed, Users, 30, PerUser), Gen.eventSchema)
      .write.parquet(eventsPath)
    val r = new scala.util.Random(ctx.seed ^ 0x5eed)
    asOf = Gen.Day0.plusDays(10L + r.nextInt(20)).toString
  }

  /** Requests until per-request latency has settled: the first is cold,
    * and the JIT keeps compiling the engine over the next several. */
  def warmUp(ctx: Ctx): Unit =
    for (i <- 1 to 6) request(ctx, cohortOf(-i), asOf)

  private def cohortOf(i: Int): Seq[Long] = {
    val r = new scala.util.Random(i * 7919L + 17)
    r.shuffle((0 until Users).toVector).take(Cohort).map(_.toLong).sorted
  }

  /** One feature request; `cohort = None` is the batch form over every
    * user that the gate filters to a cohort afterwards. */
  private def features(ctx: Ctx, cohort: Option[Seq[Long]], asOf: String)
      : DataFrame = {
    val spark = ctx.spark
    val asOfTs = lit(s"$asOf 23:59:59").cast("timestamp")
    val all = spark.read.parquet(eventsPath).filter(col("ts") <= asOfTs)
    val inCohort = cohort.fold(lit(true))(c => col("user_id").isin(c: _*))
    val ev = all.filter(inCohort)
    val snap = ctx.span("events.snapshot", "build") {
      EventFunctions.snapshot(ev, s"$asOf 23:59:59", Features)
    }.withColumn("feature_ts", asOfTs)
    val sess = ctx.span("events.sessionStats", "build") {
      EventFunctions.sessionStats(ev, 1800L)
    }.drop("session_id").withColumnRenamed("session_end", "feature_ts")
    val rfm = ctx.span("events.rfmScores", "build") {
      EventFeatures.rfmScores(all, asOf)
    }.filter(inCohort).withColumn("feature_ts", asOfTs)
    val users = cohort.getOrElse((0 until Users).map(_.toLong))
    import spark.implicits._
    val labels = users.toDF("user_id").withColumn("label_ts", asOfTs)
    ctx.span("relational.pointInTimeTrainingSet", "build") {
      Joins.pointInTimeTrainingSet(labels,
        Seq("snap" -> snap, "sess" -> sess, "rfm" -> rfm), Seq("user_id"),
        "label_ts", "feature_ts")
    }
  }

  private def request(ctx: Ctx, cohort: Seq[Long], asOf: String)
      : Array[Row] = {
    val df = features(ctx, Some(cohort), asOf)
    ctx.span("feature_serving", "action")(df.collect())
  }

  def cycle(ctx: Ctx, i: Int): Unit = {
    val cohort = cohortOf(i + (ctx.seed % 100000).toInt * 1000)
    var out: Array[Row] = null
    if (ctx.op("read", "request") { out = request(ctx, cohort, asOf) })
      responses += ((cohort, asOf, Workload.canon(out)))
  }

  def check(ctx: Ctx): Seq[String] = {
    val batch = responses.map(_._2).distinct.map { d =>
      d -> features(ctx, None, d).collect()
    }.toMap
    responses.toSeq.zipWithIndex.flatMap { case ((cohort, d, got), n) =>
      val c = cohort.toSet
      val want = Workload.canon(batch(d).filter(r =>
        c.contains(r.getAs[Long]("user_id"))))
      Workload.diff(s"response $n (as of $d)", got, want)
    }
  }

  def corrupt(): Unit = if (responses.nonEmpty) {
    val (c, d, rows) = responses(0)
    responses(0) = (c, d, rows.drop(1))
  }
}
