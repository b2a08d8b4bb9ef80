package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Per-layer metrics of a traced run, computed from the recorded spans
  * and the engine counters attributed to them. */
object LayerMetrics {
  val Layers = Seq("events", "relational", "load", "ann", "text",
    "streaming", "util")

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def add(t: Tracer, ctx: Ctx, m: Metrics,
      byOp: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]])
      : Unit = {
    val counts = t.attribute()
    val spans = t.spans.toSeq
    val children = spans.groupBy(_.parent)
    val byOpId = spans.groupBy(_.op)

    /** Layer metrics of one operation span. */
    def opMetrics(s: Span): Seq[(String, Double, String)] = {
      val c = counts(s.id)
      val fs = s.fs1.zip(s.fs0).map { case (a, b) => (a - b).toDouble }
      val inOp = byOpId.getOrElse(s.id, Nil)
      def self(x: Span) = t.selfMs(x, children.getOrElse(x.id, Nil))
      Seq(
        ("spark.catalyst.analysis_ms", c.analysisMs.toDouble, "ms"),
        ("spark.catalyst.optimization_ms", c.optimizationMs.toDouble, "ms"),
        ("spark.catalyst.planning_ms", c.planningMs.toDouble, "ms"),
        ("spark.catalyst.queries", c.queries.toDouble, "count"),
        ("spark.driver.gap_ms",
          s.ms - t.unionMs(c.jobIntervals.toSeq, s.startMs, s.endMs), "ms"),
        ("spark.exec.jobs", c.jobs.toDouble, "count"),
        ("spark.exec.stages", c.stages.toDouble, "count"),
        ("spark.exec.tasks", c.tasks.toDouble, "count"),
        ("spark.exec.run_ms", c.runMs.toDouble, "ms"),
        ("spark.exec.cpu_ms", c.cpuNs / 1e6, "ms"),
        ("spark.exec.gc_ms", c.gcMs.toDouble, "ms"),
        ("spark.exec.shuffle_read_bytes", c.shuffleRead.toDouble, "bytes"),
        ("spark.exec.shuffle_write_bytes", c.shuffleWrite.toDouble, "bytes"),
        ("spark.exec.spill_bytes", c.spill.toDouble, "bytes"),
        ("spark.exec.failed_task_ratio",
          c.failedTasks.toDouble / math.max(1L, c.tasks), "ratio"),
        ("hadoop.fs.read_ops", fs(0), "count"),
        ("hadoop.fs.list_ops", fs(1), "count"),
        ("hadoop.fs.write_ops", fs(2), "count"),
        ("hadoop.fs.bytes_read", fs(3), "bytes"),
        ("hadoop.fs.bytes_written", fs(4), "bytes"),
        ("bench.self_ms", self(s), "ms")) ++
        Layers.map(l => (s"$l.self_ms",
          inOp.filter(x => x.kind != "op" && x.layer == l).map(self).sum, "ms"))
    }

    val opSpans = spans.filter(_.kind == "op")
    val perOp = opSpans.map(s => s -> opMetrics(s))
    // every operation type on its own, then the mean over all operations
    for ((name, group) <- perOp.groupBy(_._1.name.stripPrefix(s"${ctx.workload}."))
         .toSeq.sortBy(_._1)) {
      val e = byOp.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
      for ((k, _, _) <- group.head._2)
        e(k) = Stats.mean(group.map(_._2.find(_._1 == k).get._2))
    }
    if (perOp.nonEmpty)
      for ((k, _, unit) <- perOp.head._2)
        m(k) = (Stats.mean(perOp.map(_._2.find(_._1 == k).get._2)), unit)

    // each public call: its time per call and the jobs it started
    val calls = spans.filter(_.kind != "op").groupBy(s => (s.name, s.kind))
    for (((name, kind), group) <- calls.toSeq.sortBy(_._1)) {
      val ms = Stats.median(group.map(_.ms))
      val jobs = Stats.mean(group.map(s => counts(s.id).jobs.toDouble))
      kind match {
        case "call" =>
          m(s"$name.ms") = (ms, "ms"); m(s"$name.jobs") = (jobs, "count")
        case "build" =>
          m(s"$name.build_ms") = (ms, "ms")
          m(s"$name.build_jobs") = (jobs, "count")
        case "action" => m(s"$name.action_ms") = (ms, "ms")
      }
    }

    // tracing overhead: the same operation types, traced against untraced
    val ok = ctx.ops.filter(_.ok)
    val pairs = ok.map(_.name).distinct.flatMap { n =>
      val tr = ok.filter(o => o.traced && o.name == n).map(_.ms).toSeq
      val un = ok.filter(o => !o.traced && o.name == n).map(_.ms).toSeq
      if (tr.nonEmpty && un.nonEmpty)
        Some((tr.size * Stats.median(tr), tr.size * Stats.median(un)))
      else None
    }
    m("trace.traced_wall_s") = (ok.filter(_.traced).map(_.ms).sum / 1000, "s")
    m("trace.untraced_wall_s") = (ok.filterNot(_.traced).map(_.ms).sum / 1000, "s")
    m("trace.overhead_ratio") = (pairs.map(_._1).sum / pairs.map(_._2).sum, "ratio")
    m("trace.spans") = (spans.size.toDouble, "count")
  }

  /** All spans as JSON lines, written once at the end of the run. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs,
        "dur_ms" -> s.ms)
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(text: String) {
    override def toString: String = text
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def value(v: Any): String = v match {
    case null | None => "null"
    case r: Raw => r.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
        .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
