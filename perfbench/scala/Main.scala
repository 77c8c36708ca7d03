package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, xxhash64}

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `e2e` holds the contract
  * metrics (all but setup_s); `named` the same measurements under the
  * workload's own metric names; `layers` the traced run's per-layer metrics
  * that every workload reports, `layerOwn` those of the layers only this
  * workload reaches. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    failures: Seq[String],
    e2e: Seq[Metric],
    named: Seq[Metric],
    layers: Seq[Metric] = Nil,
    layerOwn: Seq[Metric] = Nil,
    spanTable: Seq[Map[String, Any]] = Nil,
    notes: Map[String, Any] = Map.empty)

final class Ctx(val spark: SparkSession, val dir: String, val work: String,
    val seconds: Double, val traced: Boolean, val truth: JsonNode) {
  /** Opens the measuring window: (end of the untraced part, end of the
    * window). Traced runs measure untraced ops for the first 2/5 of the
    * window, for the overhead baseline, and traced ops after that. */
  def window(): (Long, Long) = {
    val now = System.nanoTime()
    val end = now + (seconds * 1e9).toLong
    (if (traced) now + (end - now) * 2 / 5 else end, end)
  }
  def t(key: String): JsonNode = truth.get("full").get(key)
  def path(name: String): String = new File(dir, name).getAbsolutePath
  def out(name: String): String = new File(work, name).getAbsolutePath
}

trait Workload {
  /** One small run on the warm input: JIT and codegen warm-up for set-up. */
  def warm(spark: SparkSession, dir: String, work: String): Unit
  def run(ctx: Ctx): Outcome
}

/** Benchmark harness: one process, one client, closed loop.
  *
  * {{{
  *   graftbench.Main --workload <name> --inputs <dir> --work <dir>
  *     --seconds <s> --trace <0|1> --result <file>
  * }}}
  * `inputs` is the generator's directory for one seed (full/, warm/,
  * truth.json); the program under test reads only those files. The result
  * file is one JSON document; perfbench/run.py turns it into the report.
  */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** Set-ups per run; setup_s is their median (here, their mean). */
  val Setups = 2

  val workloads: Map[String, Workload] = Map(
    "etl_pipeline" -> EtlWorkload,
    "graph_communities" -> GraphWorkload)

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder("graft-bench", Some(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed CPU probe (graft.Bench's canary shape, sized for a few cores):
    * max of xxhash64 over a range, one partition per core, no I/O. */
  def canary(spark: SparkSession): Double = {
    System.gc()
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, cpus).agg(max(xxhash64(col("id")))).head()
    (System.nanoTime() - t0) / 1e9
  }

  def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  private val t0 = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[bench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val inputs = a("inputs")
    val work = a("work")
    val traced = a("trace") == "1"
    val truth = new ObjectMapper().readTree(new File(inputs, "truth.json"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadavg()

    // Set-up, repeated: session creation + warm-up run on the warm input.
    var spark: SparkSession = null
    val setups = (0 until Setups).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      w.warm(spark, s"$inputs/warm", s"$work/warm")
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $s%.3f s")
      s
    }
    val coldSetupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - setups.drop(1).sum
    val canary0 = canary(spark)

    val ctx = new Ctx(spark, s"$inputs/full", work, a("seconds").toDouble, traced, truth)
    log("measuring")
    val o = w.run(ctx)
    log("measured and checked")

    val canary1 = canary(spark)
    val load1 = loadavg()
    spark.stop()

    val setupS = Stats.median(setups)
    val metrics = if (traced) o.layers else Metric("setup_s", setupS, "s") +: o.e2e
    val doc = Map[String, Any](
      "workload" -> name,
      "traced" -> traced,
      "correct" -> o.failures.isEmpty,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "failed_frac" -> o.failed.toDouble / math.max(1L, o.attempted),
      "check_failures" -> o.failures,
      "metrics" -> metrics.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "named_metrics" -> (Metric("setup_s", setupS, "s") +:
        Metric("failed_frac", o.failed.toDouble / math.max(1L, o.attempted), "frac") +: o.named)
        .map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit)),
      "layer_metrics" -> (o.layers ++ o.layerOwn).map(m => Map("name" -> m.name, "value" -> m.value, "unit" -> m.unit)),
      "spans" -> o.spanTable,
      "setup" -> Map("setup_s_runs" -> setups, "cold_setup_s" -> coldSetupS,
        "what" -> "SparkSession creation + one warm-up run on the warm input"),
      "noise" -> Map("canary_s" -> Seq(canary0, canary1), "loadavg_1m" -> Seq(load0, load1),
        "cpus" -> cpus),
      "truth" -> Json.fromNode(truth),
      "notes" -> o.notes)
    Files.write(Paths.get(a("result")), Json.render(doc).getBytes("UTF-8"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; failed operations enter as +Inf. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) Double.MaxValue
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Closed-loop timing: run `op` until the deadline, and at least `atLeast`
  * times, so that a run whose operations outlast the window still reports
  * the same statistic (the median of two) as its neighbours. A thrown
  * operation counts as failed and as an infinite latency. */
object Loop {
  final case class Result(seconds: Seq[Double], failed: Long, errors: Seq[String])

  def run(untilNs: Long, atLeast: Int = 2)(op: Int => Unit): Result = {
    val times = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var failed = 0L
    var i = 0
    while (i < atLeast || System.nanoTime() < untilNs) {
      val t0 = System.nanoTime()
      try {
        op(i)
        times += (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Exception =>
          failed += 1
          times += Double.PositiveInfinity
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      i += 1
    }
    Result(times.result(), failed, errors.result())
  }
}

/** Minimal JSON rendering for the result document. */
object Json {
  def fromNode(n: JsonNode): Any = new ObjectMapper().convertValue(n, classOf[java.util.Map[String, Any]])

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      render(m.asScala.toMap)
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      render(l.asScala.toSeq)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
