package graftbench

import org.apache.spark.graftbench.Tracer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Graph

/** graph_communities: `Graph.pageRank(symmetric = true)` then
  * `Graph.louvain` over a planted-community graph; both results written. */
object GraphWorkload extends Workload {
  val Iterations = 5

  def edges(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("header", "true").schema("src BIGINT, dst BIGINT").csv(s"$dir/edges.csv")

  def pageRank(spark: SparkSession, dir: String, out: String): Unit =
    Graph.pageRank(edges(spark, dir), Iterations, symmetric = true)
      .write.mode("overwrite").parquet(s"$out/pagerank")

  def louvain(spark: SparkSession, dir: String, out: String): Unit =
    Graph.louvain(edges(spark, dir)).write.mode("overwrite").parquet(s"$out/louvain")

  def warm(spark: SparkSession, dir: String, work: String): Unit = {
    pageRank(spark, dir, s"$work/graph_out")
    louvain(spark, dir, s"$work/graph_out")
  }

  final case class Output(prSum: BigInt, prNodes: Long, labelNodes: Long, distinctNodes: Long,
      modularity: Double, plantedModularity: Double)

  def modularity(e: DataFrame, labels: DataFrame): Double =
    Graph.modularity(e, labels).agg(sum(col("q_term_x9"))).head().getLong(0) / 1e9

  def collect(spark: SparkSession, dir: String, out: String): Output = {
    val e = edges(spark, dir)
    val pr = spark.read.parquet(s"$out/pagerank")
    val labels = spark.read.parquet(s"$out/louvain")
    val planted = spark.read.option("header", "true").schema("node BIGINT, label BIGINT")
      .csv(s"$dir/labels.csv")
    val nodes = e.select(col("src")).distinct().count()
    Output(BigInt(pr.agg(sum(col("pr").cast("decimal(38,0)"))).head().getDecimal(0).toBigInteger),
      pr.count(), labels.count(), nodes, modularity(e, labels), modularity(e, planted))
  }

  /** PageRank mass is 1e12 units; floor divisions leak at most
    * (2E + 2N) units per round (`pr div deg` drops < deg per node, the 85%
    * damping and the base term < 1 each) plus < N in the initial split. */
  def check(o: Output, directedEdges: Long, iterations: Int): Seq[String] = {
    val f = Seq.newBuilder[String]
    val leak = BigInt(iterations) * (2 * directedEdges + 2 * o.distinctNodes) + o.distinctNodes
    val total = BigInt(1000000000000L)
    if (o.prSum > total || o.prSum < total - leak)
      f += s"graph: pageRank mass ${o.prSum} outside [${total - leak}, $total]"
    if (o.prNodes != o.distinctNodes) f += s"graph: pageRank has ${o.prNodes} of ${o.distinctNodes} nodes"
    if (o.labelNodes != o.distinctNodes) f += s"graph: louvain labels ${o.labelNodes} of ${o.distinctNodes} nodes"
    if (o.modularity < 0.3) f += s"graph: modularity ${o.modularity} < 0.3"
    f.result()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = ctx.out("graph_out")
    val directed = ctx.t("directed_edges").asLong
    val (split, end) = ctx.window()
    val timed = Loop.run(split) { _ =>
      pageRank(spark, ctx.dir, out)
      louvain(spark, ctx.dir, out)
    }
    val o = collect(spark, ctx.dir, out)
    val corrupted = Seq(o.copy(prSum = o.prSum * 2), o.copy(modularity = 0.0), o.copy(labelNodes = 1))
    val failures = timed.errors ++ check(o, directed, Iterations) ++
      corrupted.zipWithIndex.collect { case (bad, i) if check(bad, directed, Iterations).isEmpty =>
        s"graph: self-test corruption $i was not caught" }
    val p50 = Stats.median(timed.seconds)
    val base = Outcome(timed.seconds.size, timed.failed, failures,
      Seq(Metric("throughput_per_s", directed / p50, "1/s"),
        Metric("quality", o.modularity, "frac")),
      Seq(Metric("graph_edges_per_s", directed / p50, "1/s"),
        Metric("graph_modularity", o.modularity, "frac"),
        Metric("graph_planted_modularity", o.plantedModularity, "frac"),
        Metric("graph_job_p50_ms", p50 * 1e3, "ms"),
        Metric("graph_jobs", timed.seconds.size.toDouble, "count")),
      notes = Map("job_seconds" -> timed.seconds, "pagerank_mass" -> o.prSum.toString))
    if (!ctx.traced) base else {
      val tracer = new Tracer(spark)
      val tr = Loop.run(end) { _ =>
        tracer.span("op") {
          tracer.span("ops.graph.pagerank")(pageRank(spark, ctx.dir, out))
          tracer.span("ops.graph.louvain")(louvain(spark, ctx.dir, out))
        }
      }
      val (spans, counters) = tracer.report()
      tracer.close()
      val t = Layers.Traced(spans, counters)
      val lv = t.named("ops.graph.louvain").map(t.incl)
      val lvS = t.named("ops.graph.louvain").zip(lv).map { case (s, k) => Tracer.noTaskSeconds(s, k) }
      base.copy(
        attempted = base.attempted + tr.seconds.size,
        failed = base.failed + tr.failed,
        failures = base.failures ++ tr.errors,
        layers = Layers.metrics(t, t.named("op"), p50),
        layerOwn = Seq(
          Metric("ops.graph.pagerank_s", t.selfMean("ops.graph.pagerank"), "s"),
          Metric("ops.graph.louvain_s", t.selfMean("ops.graph.louvain"), "s"),
          Metric("ops.graph.louvain_jobs", Stats.mean(lv.map(_.jobs.toDouble)), "count"),
          Metric("ops.graph.louvain_tasks", Stats.mean(lv.map(_.tasks.toDouble)), "count"),
          Metric("ops.graph.louvain_task_cpu_s", Stats.mean(lv.map(_.cpuNs / 1e9)), "s"),
          Metric("ops.graph.louvain_no_task_s", Stats.mean(lvS), "s")),
        spanTable = Layers.table(t),
        notes = base.notes ++ Map("materialization" ->
          "each result written to parquet inside its own span"))
    }
  }
}
