package graft.etl

import graft.SparkSpec
import graft.sources.IniConfig
import java.nio.file.Files

/** Config → extract → transform → filter → envelope, end to end, from an
  * INI the reference's users could have written. */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("etljob").toFile.getAbsolutePath

  private def write(name: String, content: String): String = {
    val f = java.nio.file.Paths.get(dir, name)
    Files.writeString(f, content)
    f.toString
  }

  private lazy val eavCsv = write("records.csv",
    """record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value
      |r1,screening_arm_1,,,np_dob,1990-05-20
      |r1,screening_arm_1,,,age,34
      |r1,screening_arm_1,,,visit_date,2001-06-15
      |r1,screening_arm_1,,,ssn,123-45-6789
      |r2,screening_arm_1,,,age,55
      |""".stripMargin)

  private lazy val fieldMapCsv = write("fieldmap.csv",
    """field_name,status,restrict_to_event_list
      |age,Include,
      |visit_date,TransformDate,
      |ssn,Exclude,
      |np_dob,Exclude,
      |""".stripMargin)

  private lazy val config = IniConfig.parse(
    s"""[default]
       |field_map_file = $fieldMapCsv
       |out_dir = $dir/out
       |[dcc_transforms]
       |datetransform_type = dob_shifting
       |standard_date = 2010-01-01
       |dob_shift_inplace = true
       |[redcap]
       |eav_source = $eavCsv
       |chunk_size = 100
       |project_id = 42
       |[datalake]
       |chunk_rows = 2
       |""".stripMargin)

  test("full config-driven run: extract, shift, filter, envelope, fake-write") {
    val out = EtlJob.run(spark, config, projectInfo = Map("project_id" -> "42"))
    val kept = out.pipeline.kept.select("record_id", "field_name", "value")
      .as[(String, String, String)].collect().toSet
    assert(kept.contains(("r1", "visit_date", "2021-01-27"))) // shifted in place
    assert(kept.contains(("r1", "age", "34")) && kept.contains(("r2", "age", "55")))
    assert(!kept.exists(_._2 == "ssn"))
    val envs = out.envelopes.as[String].collect()
    assert(envs.nonEmpty && envs.forall(_.startsWith("""{"chunk_number":""")))
    // every chunk carries the reference's transmit() metadata (237-243)
    assert(envs.forall(_.contains(""""redcap_project_id":"42"""")))
    assert(envs.forall(_.contains(""""redcap_project_type":null"""))) // not configured
    assert(envs.forall(_.contains(""""extraction_run_datetime":"""")))
    assert(out.header.startsWith("""{"chunk_number":0,"""))
    // fake mode wrote NDJSON + header
    assert(spark.read.text(s"$dir/out/envelopes").count() == envs.length)
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/out/header.json")) == out.header)
  }

  test("unknown fields count under default settings (dynamic partition " +
      "pruning on) with dob_shifting") {
    // the unknown-field plan reads only field_name from the extract, so the
    // scan must not offer record_id to runtime filtering
    assert(spark.conf.get(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled") == "true")
    val eav = write("records_unknown.csv",
      """record_id,redcap_event_name,redcap_repeat_instrument,redcap_repeat_instance,field_name,value
        |r1,screening_arm_1,,,np_dob,1990-05-20
        |r1,screening_arm_1,,,age,34
        |r1,screening_arm_1,,,visit_date,2001-06-15
        |r1,screening_arm_1,,,mystery,7
        |r2,screening_arm_1,,,age,55
        |""".stripMargin)
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |out_dir = $dir/outunknown
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = true
         |[redcap]
         |eav_source = $eav
         |chunk_size = 100
         |""".stripMargin)
    val unknown = EtlJob.run(spark, cfg).pipeline.unknownFields
    assert(unknown.count() == 1L)
    assert(unknown.select("field_name").as[String].collect().toSeq == Seq("mystery"))
  }

  test("include_metadata ships kept-field metadata in the header") {
    val metaJson = write("metadata.json",
      """[{"field_name":"age","field_label":"Age","field_type":"text"},
        | {"field_name":"ssn","field_label":"SSN","field_type":"text"},
        | {"field_name":"visit_date","field_label":"Visit","field_type":"text"}]""".stripMargin)
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = true
         |[redcap]
         |eav_source = $eavCsv
         |include_metadata = true
         |metadata_source = $metaJson
         |""".stripMargin)
    val out = EtlJob.run(spark, cfg)
    // kept fields: age, visit_date, demo_complete-style — ssn is PHI-dropped
    assert(out.header.contains(""""redcap_metadata_filtered":["""))
    assert(out.header.contains(""""field_name":"age""""))
    assert(out.header.contains(""""field_name":"visit_date""""))
    assert(!out.header.contains(""""field_name":"ssn""""))
    // default (no include_metadata): empty filtered metadata, like fallback=False
    val outDefault = EtlJob.run(spark, config, projectInfo = Map("project_id" -> "42"))
    assert(outDefault.header.contains(""""redcap_metadata_filtered":[]"""))
  }

  test("pub-debug writes the wide record×field pivot CSV (reference -p path)") {
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |out_dir = $dir/outdbg
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |dob_shift_inplace = false
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    EtlJob.run(spark, cfg, pubDebug = true)
    val wide = spark.read.option("header", "true").csv(s"$dir/outdbg/debug-public")
    assert(wide.columns.contains("record_id") && wide.columns.contains("visit_date"))
    val row = wide.filter($"record_id" === "r1").head
    assert(row.getAs[String]("visit_date") == "2021-01-27") // shifted, wide
  }

  test("writeout streams header + all chunk docs into one NDJSON file (reference -w)") {
    val cfg = IniConfig.parse(
      s"""[default]
         |field_map_file = $fieldMapCsv
         |[dcc_transforms]
         |datetransform_type = dob_shifting
         |standard_date = 2010-01-01
         |[redcap]
         |eav_source = $eavCsv
         |""".stripMargin)
    EtlJob.run(spark, cfg, fake = false, writeout = Some(s"$dir/writeout"))
    val lines = spark.read.text(s"$dir/writeout").collect().map(_.getString(0))
    assert(lines.length >= 2)
    // header document first (the only chunk carrying transform_metadata),
    // then envelope chunks
    assert(lines.head.contains("transform_metadata"))
    assert(lines.tail.forall(_.contains("redcap_records")))
  }

  test("EtlMain parses the reference's argparse surface") {
    assert(EtlMain.parse(Nil) == EtlMain.Args())
    assert(EtlMain.parse(Seq("-c", "x.ini", "-f", "-p")) ==
      EtlMain.Args("x.ini", fake = true, pubDebug = true))
    assert(EtlMain.parse(Seq("--configfile", "y.ini", "--debug",
      "--writeout", "out.ndjson")) ==
      EtlMain.Args("y.ini", debug = true, writeout = Some("out.ndjson")))
    intercept[IllegalArgumentException](EtlMain.parse(Seq("--nope")))
    // argparse's = form and missing-value diagnostics
    assert(EtlMain.parse(Seq("--configfile=z.ini")) == EtlMain.Args("z.ini"))
    val e = intercept[IllegalArgumentException](EtlMain.parse(Seq("-f", "-w")))
    assert(e.getMessage.contains("missing value"))
  }

  test("project-id mismatch fails before any work") {
    intercept[IllegalArgumentException] {
      EtlJob.run(spark, config, projectInfo = Map("project_id" -> "99"))
    }
  }
}
