package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation as the client saw it. */
final case class OpRec(kind: String, name: String, ms: Double, ok: Boolean,
    traced: Boolean, cycle: Int, bytesWritten: Long, cpuMs: Double)

/** What a workload hands the runner: the session, its own directory,
  * the seed, and the operation recorder. */
final class Ctx(val spark: SparkSession, val workload: String,
    val seed: Long, val tracer: Option[Tracer]) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val errors = mutable.ArrayBuffer.empty[String]
  var cycle = 0
  /** Input rows and input-file bytes consumed by the timed operations. */
  var inputRows = 0L
  var inputBytes = 0L

  def traced: Boolean = tracer.exists(_.enabled)

  def span[T](name: String, kind: String = "call")(body: => T): T =
    tracer match {
      case Some(t) => t.span(name, kind)(body)
      case None => body
    }

  /** Run one operation under the client's clock: `body`, then the
    * caller-side `Caches.releaseAll` the program asks for. A thrown
    * exception, or a cached block left behind after the release, fails
    * the operation; it is then recorded as failed, never as a time. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    val w0 = FsCounters.bytesWritten
    val c0 = Workload.processCpuNs()
    val t0 = System.nanoTime()
    val ok = try {
      span(s"$workload.$name", "op") {
        body
        span("util.Caches.releaseAll") {
          graft.util.Caches.releaseAll(spark)
        }
      }
      true
    } catch {
      case NonFatal(e) =>
        errors += s"$name: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)
        graft.util.Caches.releaseAll(spark)
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Workload.processCpuNs() - c0) / 1e6
    val written = FsCounters.bytesWritten - w0
    val leaked = Workload.leakedBlocks(spark)
    if (leaked.nonEmpty) {
      errors += s"$name: cached blocks left after Caches.releaseAll: " +
        leaked.mkString(", ")
      Workload.dropCaches(spark)
    }
    ops += OpRec(kind, name, ms, ok && leaked.isEmpty, traced, cycle,
      written, cpuMs)
    ok
  }
}

/** A benchmark workload. */
trait Workload {
  /** Generate inputs under `dir` and seed the stores. Untimed by the
    * operation clock; counted in `setup_s`. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed by the operation clock, once after the set-up: run the
    * paths the timed cycles take, so JIT and codegen are warm. Counted
    * in `setup_s`. */
  def warmUp(ctx: Ctx): Unit
  /** Run one cycle of operations; a run is a whole number of cycles. */
  def cycle(ctx: Ctx, i: Int): Unit
  /** Untimed gate: every way the program's outputs differ from an
    * independent computation, one line each. */
  def check(ctx: Ctx): Seq[String]
  /** Self-test hook: damage one recorded result so [[check]] must fail. */
  def corrupt(): Unit
  /** Directories of the maintained stores, and a fresh compacted write
    * of their live views (bytes), when the workload has stores. */
  def stores: Seq[String] = Nil
  def freshLiveBytes(ctx: Ctx, scratch: String): Long = 0L
  /** Live rows (in the views) and stored rows across the stores. */
  def liveAndStoredRows(ctx: Ctx): (Long, Long) = (0L, 0L)
  /** Stop anything the set-up started. */
  def close(): Unit = ()
}

object Workload {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM (every thread), in ns. */
  def processCpuNs(): Long = os.getProcessCpuTime

  def apply(name: String): Workload = name match {
    case "feature_serving" => new FeatureServing
    case "daily_load" => new DailyLoad
    case "vector_store_churn" => new VectorStoreChurn
    case "store_churn" => new StoreChurn
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("feature_serving", "store_churn", "daily_load",
    "vector_store_churn")

  def leakedBlocks(spark: SparkSession): Seq[String] =
    spark.sparkContext.getPersistentRDDs.values.map(r =>
      s"rdd ${r.id} ${Option(r.name).getOrElse("")}".trim).toSeq ++
      (if (spark.sharedState.cacheManager.isEmpty) Nil
       else Seq("cached Dataset plan"))

  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Order-free canonical form of a result, for equality checks. */
  def canon(rows: Array[org.apache.spark.sql.Row]): Vector[String] =
    rows.map(_.toString).sorted.toVector
  def canon(df: DataFrame): Vector[String] = canon(df.collect())

  /** First difference between two canonical results, if any. */
  def diff(what: String, got: Vector[String], want: Vector[String])
      : Option[String] =
    if (got == want) None
    else {
      val extra = got.diff(want).take(2)
      val missing = want.diff(got).take(2)
      Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString(" ")}; missing ${missing.mkString(" ")}")
    }

  private def files(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Nil
    else {
      val out = mutable.ArrayBuffer.empty[java.io.File]
      val todo = mutable.Stack(root)
      while (todo.nonEmpty) {
        val f = todo.pop()
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(todo.push))
        else out += f
      }
      out.toSeq
    }
  }
  def dirBytes(dir: String): Long = files(dir).map(_.length).sum
  def dirFiles(dir: String): Long = files(dir).size.toLong

  def deleteRecursively(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(dir))
  }
}
