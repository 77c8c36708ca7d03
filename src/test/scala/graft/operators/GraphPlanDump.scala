// The job counter drains the listener bus before it reads its count
// (LiveListenerBus.waitUntilEmpty is private[spark]), hence this package.
package org.apache.spark.graftplans {

  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.SparkContext
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  /** Counts the jobs started since the last [[take]]. */
  final class JobCounter(sc: SparkContext) extends SparkListener {
    private val n = new AtomicInteger
    sc.addSparkListener(this)
    override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    def take(): Int = { sc.listenerBus.waitUntilEmpty(); n.getAndSet(0) }
  }
}

package graft.operators {

  import java.io.PrintStream
  import java.security.MessageDigest

  import org.apache.spark.graftplans.JobCounter
  import org.apache.spark.sql.{DataFrame, SparkSession}

  import graft.ops.Graph

  /** Plan dump for every public [[graft.ops.Graph]] operator on fixed small
    * fixtures (Test/runMain). Per case it prints the jobs the operator call
    * itself runs (control-plane counts, eager checkpoints), the jobs of one
    * `collect()` of its result, the row count and an md5 of the sorted
    * rows, then the optimized logical plan with expression and RDD ids
    * normalised — so two builds can be compared with a plain `diff`.
    *
    * {{{
    * sbt "Test/runMain graft.operators.GraphPlanDump graph_plans.txt"
    * }}}
    *
    * Without an argument it prints to stdout.
    *
    * Fixtures are parallelized RDDs rather than local relations, so the
    * optimizer keeps every projection and filter over the input visible.
    */
  object GraphPlanDump {
    def main(args: Array[String]): Unit = {
      // AQE off: adaptive re-planning submits stages as their inputs
      // finish, so its job count depends on timing; without it the count
      // is a function of the plan alone
      val spark = graft.GraftSession.builder("graph-plan-dump", Some("local[4]"))
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.sql.adaptive.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val jobs = new JobCounter(spark.sparkContext)
      val out = args.headOption.fold(System.out)(new PrintStream(_, "UTF-8"))
      cases(spark).foreach { case (name, op) =>
        jobs.take()
        val df = op()
        val build = jobs.take()
        val plan = normalise(df.queryExecution.optimizedPlan.toString)
        val rows = df.collect().map(_.toString).sorted
        val collect = jobs.take()
        out.println(s"== $name ==")
        out.println(s"build_jobs=$build collect_jobs=$collect " +
          s"rows=${rows.length} rows_md5=${md5(rows.mkString("\n"))}")
        out.println(plan.trim)
        out.println()
      }
      out.flush()
      spark.stop()
    }

    private def normalise(plan: String): String =
      plan.replaceAll("#\\d+", "#N").replaceAll("RDD\\[\\d+\\]", "RDD[N]")

    private def md5(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString

    private def cases(spark: SparkSession): Seq[(String, () => DataFrame)] = {
      import spark.implicits._
      val sc = spark.sparkContext
      def edges(es: Seq[(Long, Long)]): DataFrame =
        sc.parallelize(es.map { case (s, d) => (Option(s), Option(d)) }, 2)
          .toDF("src", "dst")
      def weighted(es: Seq[(Long, Long, Long)]): DataFrame =
        sc.parallelize(es.map { case (s, d, w) => (Option(s), Option(d), Option(w)) }, 2)
          .toDF("src", "dst", "w")
      def nodes(ns: Long*): DataFrame =
        sc.parallelize(ns.map(Option(_)), 2).toDF("node")

      // directed: a parallel edge, sink 9, source-only 10, three cycles
      val gEdges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
        (4L, 5L), (5L, 3L), (2L, 6L), (5L, 6L), (4L, 7L), (7L, 8L), (8L, 4L),
        (6L, 9L), (10L, 1L))
      // undirected (mirrored below): two triangles sharing node 3, a
      // 4-clique {5, 6, 7, 8}, and a tail 8 - 9 - 10
      val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
        (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L), (8L, 9L),
        (9L, 10L))
      val symEdges = und ++ und.map(_.swap)
      val g = edges(gEdges)
      val sym = edges(symEdges)
      val canon = edges(und) // u < v, unique, loop-free
      val wg = weighted(gEdges.zipWithIndex.map { case ((s, d), i) => (s, d, i % 3 + 1L) })
      val wsym = weighted(symEdges.map { case (s, d) => (s, d, (s + d) % 4 + 1L) })
      val labels = sc.parallelize((1L to 10L).map(n => (Option(n), Option((n - 1) / 3))), 2)
        .toDF("node", "label")
      val sets = sc.parallelize(Seq((1L, Seq(3L, 1L, 2L)), (2L, Seq(2L, 4L)),
        (3L, Seq(5L)), (4L, Seq(4L, 5L, 6L, 7L))), 2).toDF("gid", "ps")

      Seq[(String, () => DataFrame)](
        "pageRank" -> (() => Graph.pageRank(g)),
        "pageRank_interval" -> (() =>
          Graph.pageRank(g, iterations = 7, checkpointInterval = 3)),
        "pageRank_dangling" -> (() => Graph.pageRank(g, redistributeDangling = true)),
        "pageRank_symmetric" -> (() => Graph.pageRank(sym, symmetric = true)),
        "hits" -> (() => Graph.hits(g)),
        "orderedPairs" -> (() => Graph.orderedPairs(sets, "ps")),
        "undirectedEdges" -> (() => Graph.undirectedEdges(sets, "ps")),
        "triangleCounts" -> (() => Graph.triangleCounts(sym)),
        "triangleCounts_canonical" -> (() =>
          Graph.triangleCounts(canon, canonical = true)),
        "clusteringCoefficient" -> (() => Graph.clusteringCoefficient(sym)),
        "modularity" -> (() => Graph.modularity(sym, labels)),
        "bfsHops" -> (() => Graph.bfsHops(g, nodes(1L))),
        "bfsHops_sinkSeed" -> (() => Graph.bfsHops(g, nodes(1L, 9L))),
        "bfsHops_symmetric" -> (() =>
          Graph.bfsHops(sym, nodes(1L, 10L), symmetric = true)),
        "bfsPathCounts" -> (() => Graph.bfsPathCounts(g, nodes(1L, 9L))),
        "bfsPathCounts_symmetric" -> (() =>
          Graph.bfsPathCounts(sym, nodes(1L), symmetric = true)),
        "betweennessDependencies" -> (() =>
          Graph.betweennessDependencies(g, nodes(1L, 9L))),
        "betweennessDependencies_symmetric" -> (() =>
          Graph.betweennessDependencies(sym, nodes(1L), symmetric = true)),
        "betweennessSampled" -> (() => Graph.betweennessSampled(g, k = 3)),
        "betweennessSampled_symmetric" -> (() =>
          Graph.betweennessSampled(sym, k = 3, symmetric = true)),
        "personalizedPageRank" -> (() =>
          Graph.personalizedPageRank(g, nodes(1L, 9L))),
        "personalizedPageRank_interval" -> (() => Graph.personalizedPageRank(g,
          nodes(1L, 9L), iterations = 7, checkpointInterval = 3)),
        "personalizedPageRank_symmetric" -> (() =>
          Graph.personalizedPageRank(sym, nodes(1L, 10L), symmetric = true)),
        "pageRankWeighted" -> (() => Graph.pageRankWeighted(wg)),
        "pageRankWeighted_interval" -> (() =>
          Graph.pageRankWeighted(wg, iterations = 7, checkpointInterval = 3)),
        "pageRankWeighted_symmetric" -> (() =>
          Graph.pageRankWeighted(wsym, symmetric = true, uniqueEdges = true)),
        "ssspWeighted" -> (() => Graph.ssspWeighted(wg, nodes(1L, 9L))),
        "ssspWeighted_symmetric" -> (() => Graph.ssspWeighted(wsym, nodes(1L),
          symmetric = true, uniqueEdges = true)),
        "labelPropagation" -> (() => Graph.labelPropagation(g)),
        "labelPropagation_symmetric" -> (() =>
          Graph.labelPropagation(sym, symmetric = true)),
        "modularityMoves" -> (() => Graph.modularityMoves(sym)),
        "modularityMoves_canonical" -> (() =>
          Graph.modularityMoves(canon, rounds = 3, canonical = true)),
        "contractGraph" -> (() => Graph.contractGraph(sym, labels)),
        "louvain" -> (() => Graph.louvain(sym)),
        "louvain_canonical" -> (() =>
          Graph.louvain(canon, levels = 3, canonical = true)),
        "degreeAssortativity" -> (() => Graph.degreeAssortativity(g)),
        "kCore" -> (() => Graph.kCore(sym, k = 3)),
        "kTruss" -> (() => Graph.kTruss(sym, k = 3)),
        "maximalIndependentSet" -> (() => Graph.maximalIndependentSet(sym)),
        "coreness" -> (() => Graph.coreness(g))
      )
    }
  }
}
