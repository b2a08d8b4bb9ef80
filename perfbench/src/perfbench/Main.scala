package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in one local Spark session with one client thread
  * in a closed loop, checks its outputs, and writes every metric to a
  * JSON result file. Usage (the run.py wrapper builds the classpath):
  *
  * {{{
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *     --root RUN_DIR --result FILE [--cores K] [--corrupt]
  *   perfbench.Main --start-only --root DIR
  * }}}
  *
  * `--start-only` starts a session and stops, so the build can record the
  * classes a start loads into a class-data-sharing archive.
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, root: String = "",
      result: String = "", cores: Int = 4, corrupt: Boolean = false,
      startOnly: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--root" :: v :: t => parse(t, o.copy(root = v))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case "--start-only" :: t => parse(t, o.copy(startOnly = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  /** Live heap: heap in use right after a full collection (MB). */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.root}/hadoop-tmp")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (o.trace)
      b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.startOnly) { // start a session and stop: the build's class-data dump
      session(o.copy(workload = "start")).range(1000).selectExpr("sum(id)")
        .collect()
      return
    }
    require(Workload.names.contains(o.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    require(o.root.nonEmpty && o.result.nonEmpty, "--root and --result are required")
    val t0 = System.nanoTime()
    val spark = session(o)
    spark.range(1000).selectExpr("sum(id)").collect() // engine warm-up
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (o.trace) Some(new Tracer(spark)) else None

    val w = Workload(o.workload)
    val ctx = new Ctx(spark, o.workload, o.seed, tracer)
    val setup0 = System.nanoTime()
    w.setup(ctx, s"${o.root}/setup")
    graft.util.Caches.releaseAll(spark)
    val setupOnlyS = (System.nanoTime() - setup0) / 1e9
    val warm0 = System.nanoTime()
    w.warmUp(ctx)
    graft.util.Caches.releaseAll(spark)
    val warmUpS = (System.nanoTime() - warm0) / 1e9

    // the timed closed loop: whole cycles while the next one, as long as
    // the last, still ends within the time (at least one cycle, so a run
    // whose cycle is longer than the time runs exactly one); a traced run
    // traces the even cycles only, so it can compare them with the odd
    // ones and report its own overhead
    var peakHeapMb = liveHeapMb()
    val minCycles = if (o.trace) 2 else 1
    val loop0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - loop0) / 1e9
    var cycles = 0
    var lastCycleS = 0.0
    while (cycles < minCycles || elapsedS + lastCycleS <= o.seconds) {
      val c0 = elapsedS
      ctx.cycle = cycles
      tracer.foreach(_.enabled = cycles % 2 == 0)
      w.cycle(ctx, cycles)
      cycles += 1
      peakHeapMb = math.max(peakHeapMb, liveHeapMb()) // untimed
      lastCycleS = elapsedS - c0
    }
    tracer.foreach(_.enabled = false)
    val loopS = (System.nanoTime() - loop0) / 1e9

    // the gate, untimed
    if (o.corrupt) w.corrupt()
    val mismatches = try w.check(ctx) catch {
      case NonFatal(e) => Seq(s"gate threw ${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(300))
    }
    graft.util.Caches.releaseAll(spark)
    val leaked = Workload.leakedBlocks(spark)

    // metrics
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val ops = ctx.ops.toSeq
    val measured = if (o.trace) ops.filter(_.traced) else ops
    val okOps = measured.filter(_.ok)
    val wallS = okOps.map(_.ms).sum / 1000
    def lat(kind: String) = okOps.filter(_.kind == kind).map(_.ms)
    m("setup_s") = (sessionS + setupOnlyS + warmUpS, "s")
    m("session_start_s") = (sessionS, "s")
    m("seeding_s") = (setupOnlyS, "s")
    m("warm_up_s") = (warmUpS, "s")
    m("wall_s") = (wallS, "s")
    m("loop_s") = (loopS, "s")
    m("ops_per_s") = (okOps.size / wallS, "1/s")
    m("cpu_ms_per_op") = (okOps.map(_.cpuMs).sum / okOps.size, "ms")
    for (kind <- Seq("read", "write", "delete", "compact")) {
      val xs = lat(kind)
      if (xs.nonEmpty) m(s"${kind}_p50_ms") = (Stats.median(xs), "ms")
      if (xs.size >= 100) m(s"${kind}_p90_ms") = (Stats.pct(xs, 0.9), "ms")
    }
    if (ctx.inputRows > 0) m("rows_per_s") = (ctx.inputRows / wallS, "1/s")
    val written = ops.map(_.bytesWritten).sum
    if (ctx.inputBytes > 0)
      m("write_amp") = (written.toDouble / ctx.inputBytes, "ratio")
    val failedOps = ops.count(!_.ok)
    val failed = math.min(ops.size, failedOps + mismatches.size +
      (if (leaked.nonEmpty) 1 else 0))
    m("failed_ratio") = (failed.toDouble / math.max(1, ops.size), "ratio")
    m("peak_heap_mb") = (peakHeapMb, "MB")
    // store state is the same traced or not; it is measured in the traced
    // run only, which keeps the untraced runs short
    if (o.trace && w.stores.nonEmpty) {
      val storeBytes = w.stores.map(Workload.dirBytes).sum
      val fresh = w.freshLiveBytes(ctx, s"${o.root}/fresh")
      m("space_amp") = (storeBytes.toDouble / fresh, "ratio")
      m("store.files") = (w.stores.map(Workload.dirFiles).sum.toDouble, "count")
      m("store.bytes") = (storeBytes.toDouble, "bytes")
      val (live, stored) = w.liveAndStoredRows(ctx)
      m("store.live_row_ratio") = (live.toDouble / stored, "ratio")
    }
    val byOp = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    for ((name, xs) <- okOps.groupBy(_.name).toSeq.sortBy(_._1)) {
      val e = byOp.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
      e("count") = xs.size
      e("p50_ms") = Stats.median(xs.map(_.ms))
      samples(name) = xs.map(_.ms)
    }
    val spansOut = tracer.map { t =>
      LayerMetrics.add(t, ctx, m, byOp)
      s"${o.result.stripSuffix(".json")}.spans.jsonl"
    }
    tracer.foreach(t => LayerMetrics.writeSpans(t, spansOut.get))
    graft.util.Caches.releaseAll(spark)
    w.close()
    spark.stop()

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("spark.app")).filterNot(_._1.contains("host"))
    val json = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds,
      "correct" -> (failed == 0), "attempted" -> math.max(1, ops.size),
      "failed" -> failed,
      "metrics" -> m.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }.toSeq,
      "by_op" -> byOp.map { case (k, v) => k -> v.toSeq }.toSeq,
      "op_ms" -> samples.toSeq,
      "errors" -> ctx.errors.toSeq, "mismatches" -> mismatches,
      "leaked_at_end" -> leaked,
      "meta" -> Json.obj(
        "cycles" -> cycles, "ops" -> ops.size, "traced_ops" -> measured.size,
        "master" -> s"local[${o.cores}]", "cores" -> o.cores,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "corrupted" -> o.corrupt,
        "spans_file" -> spansOut.getOrElse(""),
        "session_conf" -> conf),
    )
    val f = new java.io.File(o.result)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, json.text.getBytes("UTF-8"))
  }
}
