package graftbench

import scala.jdk.CollectionConverters._

/** Reduces the traced run's spans and listener counts to the per-layer
  * metrics. Times are the median over the traced passes; counts are
  * those of the first traced pass, and every count is compared across
  * the traced passes (and across the probe repetitions for the table
  * loads) so one that does not repeat exactly is named as varying.
  */
object Layers {

  /** Length of the part of [lo, hi] that the intervals cover. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }

  def summarize(tracer: Tracer, listener: CountingListener, execGcMs: Map[Int, Long],
                passes: Seq[(Int, Boolean, Double)], cores: Int, tablesMs: Double,
                kernelNsPerRow: Map[String, Double], trainMs: Double): Map[String, Any] = {
    val spans = tracer.spans.toSeq
    val traced = passes.filter(_._2)
    val children = spans.groupBy(_.parent)

    def passTimes(p: Int): Map[String, Double] = {
      val ps = spans.filter(_.pass == p)
      def ms(layer: String, module: Option[String]): Double =
        ps.filter(s => s.name == layer && module.forall(_ == s.module)).map(_.durNs).sum / 1e6
      val exec = ps.filter(_.name == "exec")
      val counts = exec.map(s => listener.of(s.id))
      val execMs = ms("exec", None)
      val runMs = counts.map(_.executorRunMs).sum.toDouble
      val layerMs = for (layer <- Seq("build", "plan", "exec");
                         m <- None +: Harness.Modules.map(x => Some(x._1)))
        yield m.fold(s"${layer}_ms")(x => s"$x.${layer}_ms") -> ms(layer, m)
      val querySelf = ps.filter(_.name == "query").map { q =>
        q.durNs - children.getOrElse(q.id, Nil).map(_.durNs).sum
      }.sum / 1e6
      layerMs.toMap ++ Map(
        "query.self_ms" -> querySelf,
        "exec.executor_run_ms" -> runMs,
        "exec.executor_cpu_ms" -> counts.map(_.executorCpuNs).sum / 1e6,
        "exec.gc_ms" -> exec.map(s => execGcMs.getOrElse(s.id, 0L)).sum.toDouble,
        "exec.gap_ms" -> exec.map { s =>
          (s.endMs - s.startMs) - covered(listener.of(s.id).jobIntervals.toSeq, s.startMs, s.endMs)
        }.sum.toDouble,
        "exec.slot_util" -> runMs / (execMs * cores))
    }

    def passCounts(p: Int): Map[String, Long] = {
      val ps = spans.filter(_.pass == p)
      def sum(layer: String, module: Option[String])(f: SpanCounts => Long): Long =
        ps.filter(s => s.name == layer && module.forall(_ == s.module))
          .map(s => f(listener.of(s.id))).sum
      def exec(f: SpanCounts => Long) = sum("exec", None)(f)
      Map("exec.jobs" -> exec(_.jobs), "exec.stages" -> exec(_.stages),
        "exec.tasks" -> exec(_.tasks), "exec.input_rows" -> exec(_.inputRows),
        "exec.input_bytes" -> exec(_.inputBytes),
        "exec.shuffle_write_bytes" -> exec(_.shuffleWriteBytes),
        "exec.shuffle_read_bytes" -> exec(_.shuffleReadBytes),
        "exec.spill_bytes" -> exec(_.spillBytes),
        "build_jobs" -> sum("build", None)(_.jobs),
        "similarity.build_jobs" -> sum("build", Some("similarity"))(_.jobs))
    }

    def tableJobs(rep: Int): Long =
      spans.filter(s => s.name == "tables" && s.pass == Probes.ProbePass + rep)
        .map(s => listener.of(s.id).jobs).sum

    val times = traced.map(p => passTimes(p._1))
    val counts = traced.map(p => passCounts(p._1))
    val loadJobs = (1 to 3).map(tableJobs)
    val varying = counts.head.keys.toSeq.sorted.filter(n => counts.map(_(n)).distinct.size > 1) ++
      (if (loadJobs.distinct.size > 1) Seq("tables.load_jobs") else Nil)

    // per traced query: layer spans vs the query span they sit in
    val coverage = spans.filter(s => s.name == "query").map { q =>
      children.getOrElse(q.id, Nil).map(_.durNs).sum.toDouble / q.durNs
    }
    val untracedS = Harness.median(passes.filterNot(_._2).map(_._3))
    val tracedS = Harness.median(traced.map(_._3))

    val metrics: Map[String, Double] =
      times.head.keys.map(k => k -> Harness.median(times.map(_(k)))).toMap ++
        counts.head.map { case (k, v) => k -> v.toDouble } ++
        kernelNsPerRow.map { case (k, v) => s"kernel.$k.ns_per_row" -> v } ++
        Map("tables.load_ms" -> tablesMs, "tables.load_jobs" -> loadJobs.head.toDouble,
          "ml.codebook_train_ms" -> trainMs,
          "trace.overhead_s" -> (tracedS - untracedS),
          "trace.coverage_min" -> coverage.min,
          "trace.uncovered_queries" -> coverage.count(r => math.abs(1 - r) > 0.1).toDouble,
          "counts.varying" -> varying.size.toDouble)
    Map("metrics" -> metrics.asJava,
      "counts" -> (counts.head + ("tables.load_jobs" -> loadJobs.head)).asJava,
      "varying" -> varying.asJava)
  }
}
