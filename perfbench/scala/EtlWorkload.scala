package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.graftbench.Tracer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.etl.{EtlJob, EtlTransform, FieldMap, Pipeline, Sinks, TransformOutput}
import graft.sources.{EavSource, IniConfig}

/** etl_pipeline: the reference lifecycle as one job, `EtlJob.run(fake =
  * true)` over a generated study read through graft-eav in 100-id chunks. */
object EtlWorkload extends Workload {

  def config(dir: String, out: String): IniConfig = IniConfig.parse(
    s"""[default]
       |field_map_file = $dir/fieldmap.csv
       |out_dir = $out
       |[dcc_transforms]
       |datetransform_type = dob_shifting
       |standard_date = 2010-01-01
       |dob_shift_inplace = true
       |deid_data_file = $dir/calcvars.csv
       |secondary_id_file = $dir/secondary.csv
       |[redcap]
       |eav_source = $dir/eav.csv
       |chunk_size = 100
       |project_id = 4242
       |[datalake]
       |chunk_rows = 50000
       |""".stripMargin)

  def warm(spark: SparkSession, dir: String, work: String): Unit =
    EtlJob.run(spark, config(dir, work), fake = true)

  /** What the checks look at, collected after the timed loop. */
  final case class Output(
      envelopeRows: Long, envelopeHash: String,
      chunkNumbers: Seq[Long], chunkSizes: Seq[Int],
      transformRecords: Long, errorRows: Long, unknownFields: Long)

  /** Row count and order-independent hash of (record_id, field_name, value):
    * the sum mod 2^64 of the first 8 bytes of each row's md5 (gen.row_hash). */
  def rowHash(df: DataFrame): (Long, String) = {
    val h = conv(substring(md5(concat_ws("\u001f", col("record_id"), col("field_name"),
      col("value"))), 1, 16), 16, 10).cast("decimal(20,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    val sum64 = BigInt(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO).toBigInteger)
      .mod(BigInt(1) << 64)
    (r.getLong(0), f"${sum64.toString(16).toLowerCase}%16s".replace(' ', '0'))
  }

  def collect(spark: SparkSession, out: String, errors: Option[DataFrame],
      unknownFields: Long): Output = {
    import spark.implicits._
    def parsed(dir: String, records: String) = spark.read.text(s"$out/$dir").select(from_json(
      col("value"), DataType.fromDDL(s"struct<chunk_number:bigint,redcap_records:array<$records>>")).as("e"))
    val env = parsed("envelopes", "struct<record_id:string,field_name:string,value:string>")
      .select(col("e.chunk_number").as("n"), col("e.redcap_records").as("r"))
      .localCheckpoint()
    val chunks = env.select(col("n"), size(col("r"))).as[(Long, Int)].collect()
    val (envN, envH) = rowHash(env.select(explode(col("r")).as("x")).select("x.*"))
    val trec = parsed("transform_envelopes", "string")
      .agg(sum(size(col("e.redcap_records")))).as[Long].head()
    Output(envN, envH, chunks.map(_._1).toSeq, chunks.map(_._2).toSeq,
      trec, errors.map(_.count()).getOrElse(0L), unknownFields)
  }

  /** Counts `EtlJob.run`'s unknown-field channel. With the session's default
    * configuration its plan fails to optimize ("Unable to resolve record_id
    * given [field_name]" under dynamic partition pruning), a program defect.
    * The first try keeps the default configuration and its outcome goes into
    * the result document, so every run shows whether the defect is still
    * there; only if it fails is the count retaken with DPP off for the check. */
  def countUnknown(spark: SparkSession, unknown: DataFrame): (Long, String) =
    scala.util.Try(unknown.count()) match {
      case scala.util.Success(n) => (n, s"ok: $n rows")
      case scala.util.Failure(e) =>
        (withoutDpp(spark)(unknown.count()),
          s"failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }

  def withoutDpp[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    val old = spark.conf.get(k)
    spark.conf.set(k, "false")
    try body finally spark.conf.set(k, old)
  }

  def check(o: Output, t: Ctx): Seq[String] = {
    val f = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) f += s"etl: $what = $got, expected $want"
    expect("envelope records", o.envelopeRows, t.t("kept_rows").asLong)
    expect("envelope records hash", o.envelopeHash, t.t("kept_hash").asText)
    expect("duplicate chunk_numbers", o.chunkNumbers.size - o.chunkNumbers.distinct.size, 0)
    expect("chunks over 50000 records", o.chunkSizes.count(_ > 50000), 0)
    expect("transform records", o.transformRecords, t.t("transform_records").asLong)
    expect("error-channel rows", o.errorRows, t.t("error_rows").asLong)
    expect("unknown fields", o.unknownFields, t.t("unknown_fields").asLong)
    f.result()
  }

  /** A deliberately corrupted output must fail the checks. */
  def selfTest(o: Output, t: Ctx): Seq[String] = {
    val corrupt = Seq(
      o.copy(envelopeHash = o.envelopeHash.reverse),
      o.copy(errorRows = o.errorRows + 1),
      o.copy(chunkNumbers = o.chunkNumbers ++ o.chunkNumbers.take(1)))
    corrupt.zipWithIndex.collect {
      case (c, i) if check(c, t).isEmpty => s"etl: self-test corruption $i was not caught"
    }
  }

  /** One `EtlJob.run` with the extract counters taken around it: chunk
    * fetches and bytes read by the process. */
  def measuredRun(spark: SparkSession, cfg: IniConfig): (EtlJob.Output, Long, Long) = {
    val f0 = EavSource.chunkFetches.get()
    val r0 = rchar()
    val o = EtlJob.run(spark, cfg, fake = true)
    (o, EavSource.chunkFetches.get() - f0, rchar() - r0)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val out = ctx.out("etl_out")
    val cfg = config(ctx.dir, out)
    val eavRows = ctx.t("eav_rows").asDouble
    var last: EtlJob.Output = null
    val extract = Seq.newBuilder[(Long, Long)] // chunk fetches, rchar bytes per job
    val (split, end) = ctx.window()
    val timed = Loop.run(split) { _ =>
      val (o, fetches, bytes) = measuredRun(spark, cfg)
      last = o
      extract += ((fetches, bytes))
    }
    require(last != null, s"etl: no EtlJob.run succeeded: ${timed.errors.mkString("; ")}")
    val (unknownN, unknownDefault) = countUnknown(spark, last.pipeline.unknownFields)
    val o = collect(spark, out, last.pipeline.transformErrors, unknownN)
    val failures = timed.errors ++ check(o, ctx) ++ selfTest(o, ctx)
    val p50 = Stats.median(timed.seconds)
    val rowsPerS = eavRows / p50
    val ex = extract.result()
    val fetchesPerJob = Stats.median(ex.map(_._1.toDouble))
    val rcharPerJob = Stats.median(ex.map(_._2.toDouble))
    val e2e = Seq(
      Metric("throughput_per_s", rowsPerS, "1/s"),
      Metric("quality", if (o.envelopeHash == ctx.t("kept_hash").asText) 1.0 else 0.0, "frac"))
    val named = Seq(
      Metric("etl_rows_per_s", rowsPerS, "1/s"),
      Metric("etl_job_p50_ms", p50 * 1e3, "ms"),
      Metric("etl_jobs", timed.seconds.size.toDouble, "count"),
      Metric("etl_chunk_fetches_per_job", fetchesPerJob, "count"))
    val base = Outcome(timed.seconds.size, timed.failed, failures, e2e, named,
      notes = Map("eav_rows" -> eavRows, "job_seconds" -> timed.seconds,
        "unknown_fields_default_conf" -> unknownDefault))
    if (!ctx.traced) base
    else traced(ctx, cfg, out, p50, base, end, fetchesPerJob, rcharPerJob)
  }

  /** Runs a transform inside its own span and materializes what it returns,
    * so that the transform's time is its own and not its consumer's. */
  private final class Materialized(inner: EtlTransform, tracer: Tracer) extends EtlTransform {
    def namespace: String = inner.namespace
    def apply(eav: DataFrame): TransformOutput = tracer.span(s"etl.transform.$namespace") {
      val o = inner(eav)
      TransformOutput(o.eav.localCheckpoint(), o.records.map(_.localCheckpoint()),
        o.errors.map(_.localCheckpoint()))
    }
    override def metadata(spark: SparkSession): Option[DataFrame] = inner.metadata(spark)
  }

  /** Traced run: `Pipeline.run` over the program's transforms, with the
    * extract, each transform and the PHI filter materialized (localCheckpoint)
    * so each span's time is its own; the envelopes are written as
    * `EtlJob.run` writes them. The extract counters (`sources.*`) come from
    * the untraced `EtlJob.run` calls, which this recomposition does not
    * change; the output checks run after the "op" span closes. */
  private def traced(ctx: Ctx, cfg: IniConfig, out: String, untracedS: Double,
      base: Outcome, end: Long, fetchesPerJob: Double, rcharPerJob: Double): Outcome = {
    val spark = ctx.spark
    val tracer = new Tracer(spark)
    val rowsOut = Seq.newBuilder[Long]
    var counts = Map.empty[String, Double]
    var lastCheck = Seq.empty[String]
    val timed = Loop.run(end) { _ =>
      val (result, kept, unknown, envelopes) = tracer.span("op") {
        val eav = tracer.span("sources.extract") { EtlJob.readEav(spark, cfg).localCheckpoint() }
        rowsOut += eav.count()
        val fieldMap = FieldMap.load(spark, cfg.resolved("default", "field_map_file").get)
        val result = tracer.span("etl.transforms") {
          Pipeline.run(eav, fieldMap, EtlJob.transformsFromConfig(spark, cfg, fieldMap)
            .map(new Materialized(_, tracer)))
        }
        val (kept, unknown) = tracer.span("etl.phi_filter") {
          (result.kept.localCheckpoint(), result.unknownFields.localCheckpoint())
        }
        val envelopes = tracer.span("etl.envelopes") {
          val m = Seq("redcap_project_id" -> Some("4242"), "redcap_project_type" -> None,
            "extraction_run_datetime" -> Some(java.time.LocalDateTime.now().toString))
          Sinks.envelopes(kept, 50000, m).write.mode("overwrite").text(s"$out/envelopes")
          result.transformRecords.foreach(
            Sinks.envelopes(_, 50000, m).write.mode("overwrite").text(s"$out/transform_envelopes"))
          Files.writeString(Paths.get(s"$out/header.json"),
            Sinks.headerDocument(result.transformMetadata, None))
          spark.read.text(s"$out/envelopes").count()
        }
        (result, kept, unknown, envelopes)
      }
      val o = collect(spark, out, result.transformErrors, unknown.count())
      lastCheck = check(o, ctx)
      counts = Map("etl.rows_kept" -> kept.count().toDouble,
        "etl.transform_records" -> result.transformRecords.map(_.count()).getOrElse(0L).toDouble,
        "etl.error_rows" -> o.errorRows.toDouble, "etl.envelopes" -> envelopes.toDouble)
    }
    val (spans, counters) = tracer.report()
    tracer.close()
    // the same job on the one-chunk warm input: does rchar follow chunks x file size?
    val warmDir = new java.io.File(ctx.dir).getParent + "/warm"
    val (_, _, warmBytes) = measuredRun(spark, config(warmDir, ctx.out("etl_warm_out")))
    val fileBytes = (dir: String) => new java.io.File(s"$dir/eav.csv").length().toDouble
    val t = Layers.Traced(spans, counters)
    val inclMean = (name: String) => Stats.mean(t.named(name).map(_.seconds))
    val layerOwn = Seq(
      Metric("sources.extract_s", t.selfMean("sources.extract"), "s"),
      Metric("sources.chunk_fetches", fetchesPerJob, "count"),
      Metric("sources.rchar_bytes", rcharPerJob, "bytes"),
      Metric("sources.rows_out", Stats.median(rowsOut.result().map(_.toDouble)), "count"),
      Metric("sources.rchar_per_file_byte", rcharPerJob / fileBytes(ctx.dir), "ratio"),
      Metric("sources.rchar_per_file_byte_1chunk", warmBytes / fileBytes(warmDir), "ratio"),
      Metric("etl.transforms_s", inclMean("etl.transforms"), "s"),
      Metric("etl.phi_filter_s", t.selfMean("etl.phi_filter"), "s"),
      Metric("etl.envelopes_s", t.selfMean("etl.envelopes"), "s")) ++
      Seq("etl.rows_kept", "etl.transform_records", "etl.error_rows", "etl.envelopes")
        .map(n => Metric(n, counts.getOrElse(n, 0.0), "count"))
    base.copy(
      attempted = base.attempted + timed.seconds.size,
      failed = base.failed + timed.failed,
      failures = base.failures ++ timed.errors ++ lastCheck,
      layers = Layers.metrics(t, t.named("op"), untracedS),
      layerOwn = layerOwn,
      spanTable = Layers.table(t),
      notes = base.notes ++ Map("materialization" ->
        ("Pipeline.run with localCheckpoint after the extract, each transform and the PHI " +
          "filter; envelopes written as text. spark.* and plans.* describe this recomposed " +
          "job; sources.chunk_fetches and sources.rchar_bytes are per untraced EtlJob.run")))
  }

  /** Bytes this process has read through read(2)-like calls so far. */
  def rchar(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("rchar:")).get.split(":")(1).trim.toLong
  }.getOrElse(0L)
}
