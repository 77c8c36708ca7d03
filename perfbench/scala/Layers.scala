package graftbench

import org.apache.spark.graftbench.{Counters, Span, Tracer}

/** Turns a traced run's spans into the per-layer metrics and span table. */
object Layers {

  final case class Traced(spans: Seq[Span], counters: Map[Int, Counters]) {
    def named(name: String): Seq[Span] = spans.filter(_.name == name)
    def incl(s: Span): Counters = Tracer.inclusive(s, spans, counters)
    def self(s: Span): Double = Tracer.selfSeconds(s, spans)
    /** Mean self seconds per occurrence of the span `name` (0 if absent). */
    def selfMean(name: String): Double = Stats.mean(named(name).map(self))
  }

  /** Engine and planning metrics per operation: the mean over the root
    * spans `ops` of each one's inclusive counters. */
  def engine(t: Traced, ops: Seq[Span]): Seq[Metric] = {
    val ks = ops.map(s => (s, t.incl(s)))
    def m(name: String, unit: String)(f: (Span, Counters) => Double): Metric =
      Metric(name, Stats.mean(ks.map { case (s, k) => f(s, k) }), unit)
    Seq(
      m("spark.jobs", "count")((_, k) => k.jobs.toDouble),
      m("spark.stages", "count")((_, k) => k.stages.toDouble),
      m("spark.tasks", "count")((_, k) => k.tasks.toDouble),
      m("spark.task_cpu_s", "s")((_, k) => k.cpuNs / 1e9),
      m("spark.gc_s", "s")((_, k) => k.gcMs / 1e3),
      m("spark.no_task_s", "s")((s, k) => Tracer.noTaskSeconds(s, k)),
      m("spark.shuffle_write_bytes", "bytes")((_, k) => k.shuffleWrite.toDouble),
      m("spark.shuffle_read_bytes", "bytes")((_, k) => k.shuffleRead.toDouble),
      m("spark.spill_bytes", "bytes")((_, k) => k.spill.toDouble),
      m("spark.input_records", "count")((_, k) => k.inputRecords.toDouble),
      m("spark.barrier_blocks", "count")((_, k) => k.barrierBlocks.toDouble),
      m("spark.barrier_bytes", "bytes")((_, k) => k.barrierBytes.toDouble),
      m("plans.analysis_s", "s")((_, k) => k.analysisMs / 1e3),
      m("plans.optimization_s", "s")((_, k) => k.optimizationMs / 1e3),
      m("plans.planning_s", "s")((_, k) => k.planningMs / 1e3),
      m("plans.queries", "count")((_, k) => k.queries.toDouble))
  }

  /** The per-layer metrics every workload reports (BENCHMARK.json's
    * `per_layer`): engine metrics over `ops` and the tracing overhead.
    * Metrics of one layer (its times and counters) would read 0 on a
    * workload that does not reach it, so each workload reports those
    * alongside, in [[Outcome.layerOwn]]. */
  def metrics(t: Traced, ops: Seq[Span], untracedOpS: Double): Seq[Metric] = {
    val tracedOpS = Stats.median(ops.map(_.seconds))
    engine(t, ops) ++ Seq(
      Metric("trace.traced_op_s", tracedOpS, "s"),
      Metric("trace.untraced_op_s", untracedOpS, "s"),
      Metric("trace.overhead_frac", tracedOpS / untracedOpS - 1.0, "frac"))
  }

  /** One row per span name: occurrences, total and self seconds, and the
    * engine counters of those spans' own jobs. */
  def table(t: Traced): Seq[Map[String, Any]] =
    t.spans.groupBy(_.name).toSeq.sortBy(_._2.map(_.startNs).min).map { case (name, ss) =>
      val own = new Counters
      ss.foreach(s => t.counters.get(s.id).foreach(own.add))
      Map[String, Any](
        "span" -> name,
        "parent" -> t.spans.find(_.id == ss.head.parent).map(_.name).getOrElse(""),
        "count" -> ss.size,
        "total_s" -> ss.map(_.seconds).sum,
        "self_s" -> ss.map(t.self).sum,
        "self_s_per_occurrence" -> ss.map(t.self).sum / ss.size,
        "jobs" -> own.jobs, "stages" -> own.stages, "tasks" -> own.tasks,
        "task_cpu_s" -> own.cpuNs / 1e9,
        "no_task_s" -> ss.map(s => Tracer.noTaskSeconds(s, t.incl(s))).sum,
        "shuffle_write_bytes" -> own.shuffleWrite, "input_records" -> own.inputRecords,
        "barrier_blocks" -> own.barrierBlocks, "barrier_bytes" -> own.barrierBytes,
        "plans_s" -> (own.analysisMs + own.optimizationMs + own.planningMs) / 1e3,
        "queries" -> own.queries)
    }
}
