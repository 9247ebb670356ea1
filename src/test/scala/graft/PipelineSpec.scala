package graft

import graft.catalog.SchemaEvolution
import graft.config.Specs
import graft.config.Specs.NodeOps
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.sources.{ExcelSource, Sources}
import graft.stores.{LookupStore, TokenStore}
import graft.transforms.TransformContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class SchemaEvolutionSpec extends SparkSpec {
  private def st(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  test("policy matrix mirrors the reference decision table") {
    val base = st("a" -> IntegerType, "b" -> StringType)
    assert(SchemaEvolution.allowed(base, base, "strict"))
    assert(!SchemaEvolution.allowed(base, st("b" -> StringType, "a" -> IntegerType), "strict"))
    assert(SchemaEvolution.allowed(base, st("b" -> StringType, "a" -> IntegerType), "reorder"))
    assert(!SchemaEvolution.allowed(base, st("a" -> IntegerType), "reorder"))
    // evolve: add ok, delete not ok, widen int→bigint ok, narrow not ok
    assert(SchemaEvolution.allowed(base, st("a" -> IntegerType, "b" -> StringType, "c" -> DoubleType), "evolve"))
    assert(!SchemaEvolution.allowed(base, st("a" -> IntegerType), "evolve"))
    assert(SchemaEvolution.allowed(base, st("a" -> LongType, "b" -> StringType), "evolve"))
    assert(!SchemaEvolution.allowed(st("a" -> LongType), st("a" -> IntegerType), "evolve"))
    assert(SchemaEvolution.allowed(st("a" -> FloatType), st("a" -> DoubleType), "evolve"))
    assert(SchemaEvolution.allowed(st("a" -> DateType), st("a" -> TimestampType), "evolve"))
    assert(SchemaEvolution.allowed(base, st("x" -> BinaryType), "permissive"))
    intercept[IllegalArgumentException](SchemaEvolution.allowed(base, base, "bogus"))
  }

  test("decimal growth comparison") {
    assert(SchemaEvolution.decimalGrows("decimal(10,2)", "decimal(12,2)"))
    assert(SchemaEvolution.decimalGrows("decimal(10,2)", "decimal(12,4)"))
    assert(!SchemaEvolution.decimalGrows("decimal(10,2)", "decimal(10,2)"))
    assert(!SchemaEvolution.decimalGrows("decimal(10,2)", "decimal(12,1)"))
    assert(SchemaEvolution.allowed(
      st("m" -> DecimalType(10, 2)), st("m" -> DecimalType(16, 2)), "evolve"))
  }

  test("environment defaults") {
    assert(SchemaEvolution.defaultPolicy("Dev") == "permissive")
    assert(SchemaEvolution.defaultPolicy("Test") == "reorder")
    assert(SchemaEvolution.defaultPolicy("Prod") == "strict")
  }
}

class SourcesSpec extends SparkSpec {

  test("fixed-width read slices by cumulative widths and drops null-dest fields") {
    val dir = Files.createTempDirectory("graft_fw")
    val f = dir.resolve("data.txt")
    Files.writeString(f, "AB123 x\nCD456 y\n")
    val out = Sources.readFixedWidth(spark, f.toString, Seq(
      Sources.FixedWidthField("code", 2),
      Sources.FixedWidthField("num", 3),
      Sources.FixedWidthField("null", 1),
      Sources.FixedWidthField("tag", 1)))
    assert(out.columns.toSeq == Seq("code", "num", "tag"))
    assert(out.collect().map(_.toSeq).toSeq == Seq(Seq("AB", "123", "x"), Seq("CD", "456", "y")))
  }

  test("csv dispatch honors delimiter/header spec; tsv/pipe switch delimiters") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("t.csv")
    Files.writeString(f, "a|b\n1|x\n2|y\n")
    val spec = Specs.parseJson("""{"pipe": {}}""")
    val out = Sources.read(spark, f.toString, Some(spec))
    assert(out.columns.toSeq == Seq("a", "b"))
    assert(out.count() == 2)
  }

  test("compressed sources: gzip csv, gzip jsonl, zstd parquet round-trip") {
    import java.util.zip.GZIPOutputStream
    val dir = Files.createTempDirectory("graft_gz")
    def gz(name: String, content: String): String = {
      val p = dir.resolve(name)
      val out = new GZIPOutputStream(java.nio.file.Files.newOutputStream(p))
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p.toString
    }
    // gzip CSV through the Sources dispatch (Spark decompresses by extension)
    val csv = gz("t.csv.gz", "a,b\n1,x\n2,y\n")
    val outCsv = Sources.read(spark, csv, Some(Specs.parseJson("""{"csv": {"header": true}}""")))
    assert(outCsv.count() == 2 && outCsv.columns.toSeq == Seq("a", "b"))
    // gzip JSONL
    val jsonl = gz("t.jsonl.gz", """{"k": 1}""" + "\n" + """{"k": 2}""" + "\n")
    val outJson = Sources.read(spark, jsonl, Some(Specs.parseJson("""{"json": {}}""")))
    assert(outJson.selectExpr("sum(k)").head().getLong(0) == 3L)
    // zstd-compressed parquet (zstd-jni ships in this distribution; the
    // HADOOP text-codec zstd path would need native libhadoop — absent)
    import spark.implicits._
    val pq = dir.resolve("z.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.option("compression", "zstd").mode("overwrite").parquet(pq)
    val files = new java.io.File(pq).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.contains("zstd")))
    assert(spark.read.parquet(pq).count() == 2)
  }

  test("avro reader: streams a container file lazily and round-trips values") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = Files.createTempDirectory("graft_avro")
    val schema = SchemaBuilder.record("r").fields()
      .requiredLong("id").optionalString("name").endRecord()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, dir.resolve("part-0.avro").toFile)
    (0L until 100L).foreach { i =>
      val rec = new GenericData.Record(schema)
      rec.put("id", i)
      rec.put("name", if (i % 10 == 0) null else s"n$i")
      w.append(rec)
    }
    w.close()
    val out = graft.sources.AvroSource.read(spark, dir.toString)
    assert(out.count() == 100)
    assert(out.where(org.apache.spark.sql.functions.col("name").isNull).count() == 10)
    assert(out.selectExpr("sum(id)").head().getLong(0) == (0L until 100L).sum)
    // early-stop consumer (limit): the task-completion listener closes the
    // reader the iterator never exhausted
    assert(out.limit(3).collect().length == 3)
  }

  test("avro reader surfaces an unreadable directory as an error with the path") {
    // File.listFiles() returns null on I/O error / permission denial; root
    // bypasses permission bits, so simulate the null contractually
    val bad = new java.io.File("/some/flaky/mount") {
      override def listFiles(): Array[java.io.File] = null
    }
    val e = intercept[IllegalArgumentException] {
      graft.sources.AvroSource.listAvroFiles(bad)
    }
    assert(e.getMessage.contains("/some/flaky/mount"))
    // and a present-but-empty dir is the distinct "no .avro files" error
    val empty = Files.createTempDirectory("graft_avro_empty")
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.AvroSource.read(spark, empty.toString)
    }
    assert(e2.getMessage.contains("no .avro files"))
  }

  test("xlsx round-trip: shared strings, numbers, gaps, header, sheet select") {
    val dir = Files.createTempDirectory("graft_xlsx")
    val f = dir.resolve("t.xlsx").toString
    ExcelSource.write(f, Seq(
      Seq("Name", "Qty", "Note"),
      Seq("alpha", "1", "x & y"),
      Seq("beta", "2.5", null),       // trailing gap
      Seq("alpha", "3", "<tag>")),    // shared string reused + xml escapes
      sheetName = "Data")
    val out = Sources.read(spark, f, Some(Specs.parseJson("""{"excel": {"sheet": "Data"}}""")))
    assert(out.columns.toSeq == Seq("Name", "Qty", "Note"))
    assert(out.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = out.collect().map(_.toSeq).sortBy(_.apply(1).asInstanceOf[String])
    assert(rows(0) == Seq("alpha", "1", "x & y"))
    assert(rows(1) == Seq("beta", "2.5", null))
    assert(rows(2) == Seq("alpha", "3", "<tag>"))
    // unknown sheet name → clear error
    val err = intercept[IllegalArgumentException] {
      ExcelSource.read(spark, f, sheet = Some("Nope"))
    }
    assert(err.getMessage.contains("Data"))
    // legacy .xls must fail loudly, not mojibake through the CSV reader
    val xlsErr = intercept[IllegalArgumentException] {
      Sources.read(spark, dir.resolve("old.xls").toString, None)
    }
    assert(xlsErr.getMessage.contains("xlsx"))
  }

  test("xlsx reader edge cases: refless cells, duplicate headers, blank rows") {
    val dir = Files.createTempDirectory("graft_xlsx_edge")
    val f = dir.resolve("e.xlsx").toString
    ExcelSource.write(f, Seq(
      Seq("amount", "amount", "note"),
      Seq("1", "2", "x"),
      Seq(null, null, null))) // all-null row: must be dropped, as in CSV reads
    val out = ExcelSource.read(spark, f)
    // position-suffixed, matching Spark's CSV makeSafeHeader
    assert(out.columns.toSeq == Seq("amount0", "amount1", "note"))
    assert(out.count() == 1)
    // a real column named like a would-be generated suffix must not collide
    val f2 = dir.resolve("e2.xlsx").toString
    ExcelSource.write(f2, Seq(
      Seq("amount", "amount", "amount1"),
      Seq("1", "2", "3")))
    val out2 = ExcelSource.read(spark, f2)
    assert(out2.columns.distinct.length == 3)
    assert(out2.columns.contains("amount0"))
  }

  test("xlsx data_address range crops junk around the table; sheet_names try-list") {
    val dir = Files.createTempDirectory("graft_xlsx_range")
    val f = dir.resolve("r.xlsx").toString
    // table lives at C3:E5 with a title above, notes left, totals below
    ExcelSource.write(f, Seq(
      Seq("QUARTERLY REPORT"),
      Seq(null, null, null),
      Seq("note", null, "k", "v", "w"),
      Seq(null, null, "1", "a", "x"),
      Seq(null, null, "2", "b", "y"),
      Seq(null, null, "TOTAL", null, null)), sheetName = "Data")
    val spec = Specs.parseJson(
      """{"excel": {"sheet_names": ["Missing", "Data"], "data_address": "C3:E5"}}""")
    val out = Sources.read(spark, f, Some(spec))
    assert(out.columns.toSeq == Seq("k", "v", "w"))
    assert(out.count() == 2) // TOTAL row at C6 excluded by the range
    // sheet override inside the address, open-ended range, index fallback
    val out2 = ExcelSource.read(spark, f, sheet = None,
      dataAddress = Some("'Data'!C3"))
    assert(out2.columns.toSeq == Seq("k", "v", "w"))
    assert(out2.count() == 3) // open-ended: TOTAL row included
    val byIndex = ExcelSource.read(spark, f, sheet = Some("0"))
    assert(byIndex.count() == 4) // title row is the header; blank row dropped
    // password workbooks are a loud unsupported, not a silent mojibake
    val pwErr = intercept[IllegalArgumentException] {
      Sources.read(spark, f, Some(Specs.parseJson(
        """{"excel": {"password": "hunter2"}}""")))
    }
    assert(pwErr.getMessage.contains("password"))
  }

  test("csv reads quoted embedded newlines by default (reference parity)") {
    // etl_collect_to_cleanse.py:237 hard-codes multiLine=True for CSV
    val dir = Files.createTempDirectory("graft_csv_ml")
    val f = dir.resolve("m.csv")
    Files.writeString(f, "k,v\n1,\"line1\nline2\"\n2,plain\n")
    val out = Sources.read(spark, f.toString, Some(Specs.parseJson("""{"csv": {}}""")))
    assert(out.count() == 2)
    assert(out.filter(out("v").contains("line2")).count() == 1)
    // splittability opt-out still honored
    val off = Sources.read(spark, f.toString,
      Some(Specs.parseJson("""{"csv": {"multiline": false}}""")))
    assert(off.count() == 3) // continuation line becomes its own (malformed) row
  }

  test("csv spec-provided schema DDL skips inference and pins types") {
    val dir = Files.createTempDirectory("graft_csv_schema")
    val f = dir.resolve("t.csv")
    Files.writeString(f, "k,v\n1,1.5\n2,2.5\n")
    val spec = Specs.parseJson(
      """{"csv": {"schema": "k BIGINT, v DECIMAL(10,2)"}}""")
    val out = Sources.read(spark, f.toString, Some(spec))
    assert(out.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(out.schema("v").dataType == DecimalType(10, 2))
    assert(out.count() == 2)
  }

  test("json multiline read with prefersDecimal") {
    val dir = Files.createTempDirectory("graft_json")
    val f = dir.resolve("t.json")
    Files.writeString(f, """[{"a": 1.50, "b": "x"}, {"a": 2.25, "b": "y"}]""")
    val spec = Specs.parseJson("""{"json": {"multiline": true}}""")
    val out = Sources.read(spark, f.toString, Some(spec))
    assert(out.schema("a").dataType.isInstanceOf[DecimalType])
    assert(out.count() == 2)
  }
}

class SpecsSpec extends SparkSpec {
  test("transform_spec preserves JSON key order and strips :suffix") {
    val root = Specs.parseJson(
      """{"transform_spec": {"date": [], "literal": {}, "date:2": [], "currency": []}}""")
    val ds = Specs.datasetSpec(root)
    assert(ds.transformSpec.map(_._1) == Seq("date", "literal", "date:2", "currency"))
    assert(Specs.dispatchName("date:2") == "date")
  }

  test("dq rules json → ruleset/action map") {
    val rules = Specs.dqRules(Specs.parseJson(
      """{"before_transform": {"quarantine_rules": ["IsComplete 'a'"]},
          "after_transform": {"warn_rules": ["RowCount > 0"], "halt_rules": []}}"""))
    assert(rules("before_transform")("quarantine_rules") == Seq("IsComplete 'a'"))
    assert(rules("after_transform")("warn_rules") == Seq("RowCount > 0"))
  }

  test("mapping csv parse with drop + fuzzy rows and BOM tolerance") {
    val rows = Specs.mappingCsv("﻿SourceName,DestName\nTIN,EIN\nDrop,Null\nfuzzy col,dest,80,ratio\n")
    assert(rows(0) == graft.mapping.MappingRow("TIN", "EIN"))
    assert(rows(1).destName == "null")
    assert(rows(2).threshold.contains(80.0) && rows(2).scorer.contains("ratio"))
  }
}

class PipelineE2eSpec extends SparkSpec {
  import spark.implicits._

  private def uniqueDb = s"testdb${System.nanoTime()}"

  test("collect-to-cleanse end to end: csv → mapping → transforms → dq → partitioned table") {
    val dir = Files.createTempDirectory("graft_e2e")
    Files.writeString(dir.resolve("policy-20240115.csv"),
      "PolicyNumber,EffDate,Premium,SmokerClass,Secret\n" +
      "P001,2024-01-01,1200.50,S,abc\nP002,2024-02-01,800.25,N,def\nP003,2024-03-01,-1,X,ghi\n")
    val spec = Specs.datasetSpec(Specs.parseJson(
      """{
        "input_spec": {"csv": {"header": true}, "allow_schema_change": "evolve"},
        "transform_spec": {
          "filename": [{"field": "valuationdate", "pattern": "\\S+-(\\d{8})\\.csv", "required": true}],
          "date": [{"field": "effectivedate", "format": "yyyy-MM-dd"}],
          "changetype": {"premium": "decimal(10,2)"},
          "lookup": [{"field": "smokerclass", "lookup": "smokingclass", "nomatch": "N/A"}],
          "hash": ["secret"],
          "literal": {"source_system": "synthetic"}
        }
      }"""))
    val mapping = Specs.mappingCsv(
      "SourceName,DestName\nPolicyNumber,policynumber\nEffDate,effectivedate\nPremium,premium\nSmokerClass,smokerclass\nSecret,secret\n")
    val dq = Specs.dqRules(Specs.parseJson(
      """{"after_transform": {
           "quarantine_rules": ["ColumnValues 'premium' >= 0"],
           "halt_rules": ["(ColumnExists 'policynumber') and (IsComplete 'policynumber')"]}}"""))
    val db = uniqueDb
    val args = JobArgs("SynTest", "policydata", dir.resolve("policy-20240115.csv").toString,
      "exec-1", Map("year" -> "2024", "month" -> "01", "day" -> "15"), db)
    val ctx = TransformContext(spark, filename = "policy-20240115.csv",
      lookupStore = LookupStore.inMemory(Map("smokingclass" -> Map("S" -> "Smoker", "N" -> "NonSmoker"))))

    val out = new PipelineRunner(spark).collectToCleanse(args, spec, mapping, dq, ctx)

    val stored = spark.table(s"$db.policydata")
    assert(stored.count() == 2) // P003 quarantined (negative premium)
    assert(stored.schema("premium").dataType == DecimalType(10, 2))
    assert(stored.schema("effectivedate").dataType == DateType)
    assert(stored.select("valuationdate").distinct().as[String].head() == "20240115")
    assert(stored.select("smokerclass").as[String].collect().toSet == Set("Smoker", "NonSmoker"))
    assert(stored.select("year").distinct().as[String].head() == "2024")
    val q = spark.table(s"$db.policydata_quarantine_after_transform")
    assert(q.count() == 1)
    assert(q.columns.contains("quarantine_timestamp"))
  }

  test("pipeline dispatches a user-supplied transform from the spec by name") {
    val dir = Files.createTempDirectory("graft_usertr")
    Files.writeString(dir.resolve("rates-20240101.csv"),
      "Product,Rate\nA,0.10\nB,0.20\n")
    val spec = Specs.datasetSpec(Specs.parseJson(
      """{
        "input_spec": {"csv": {"header": true}, "allow_schema_change": "permissive"},
        "transform_spec": {
          "changetype": {"rate": "double"},
          "bump_rate": {"field": "rate", "bps": 50}
        }
      }"""))
    val mapping = Specs.mappingCsv("SourceName,DestName\nProduct,product\nRate,rate\n")
    // drop-in user transform, same (df, spec, ctx) contract as the built-ins
    val bumpRate: graft.transforms.TransformRegistry.Transform = (d, s, _) =>
      d.withColumn(s.str("field").get,
        col(s.str("field").get) + s.dbl("bps").get / 10000.0)
    val db = uniqueDb
    val args = JobArgs("SynTest", "rates", dir.resolve("rates-20240101.csv").toString,
      "exec-u", Map("year" -> "2024"), db)
    new PipelineRunner(spark).collectToCleanse(args, spec, mapping, Map.empty,
      TransformContext(spark, filename = "rates-20240101.csv"),
      extraTransforms = Map("bump_rate" -> bumpRate))
    val stored = spark.table(s"$db.rates")
    assert(stored.select(sum(col("rate"))).as[Double].head() == 0.10 + 0.20 + 2 * 0.005)
  }

  test("K10: missing mapping and transform spec write generated files to specOutDir") {
    val dir = Files.createTempDirectory("graft_k10")
    Files.writeString(dir.resolve("raw.csv"),
      "Policy Number,Eff Date,Premium\nP1,01/02/24,10.5\n")
    val spec = Specs.datasetSpec(Specs.parseJson(
      """{"input_spec": {"csv": {"header": true}, "allow_schema_change": "permissive"}}"""))
    val out = Files.createTempDirectory("graft_k10_out")
    val args = JobArgs("S", "gen", dir.resolve("raw.csv").toString, "e",
      Map("year" -> "2024"), uniqueDb, environment = "Dev", specOutDir = Some(out.toString))
    new PipelineRunner(spark).collectToCleanse(args, spec, Seq.empty, Map.empty,
      TransformContext(spark, filename = "raw.csv"))
    val mappingCsv = Files.readString(out.resolve("gen.csv"))
    assert(mappingCsv.startsWith("SourceName,DestName\n"))
    assert(mappingCsv.contains("Policy Number,policy_number"))
    val specJson = Files.readString(out.resolve("gen.json"))
    assert(specJson.contains(""""premium": "decimal(16,2)"""")) // inferred double
    assert(specJson.contains("eff_date")) // *date* column gets a date-parse entry
  }

  test("idempotent reload: rerunning the same partition does not duplicate rows") {
    val db = uniqueDb
    val runner = new PipelineRunner(spark)
    val df = Seq((1, "a", "2024", "01"), (2, "b", "2024", "01")).toDF("id", "v", "year", "month")
    runner.writePartitioned(df, s"$db.t", Seq("year", "month"), "strict")
    runner.writePartitioned(df, s"$db.t", Seq("year", "month"), "strict")
    assert(spark.table(s"$db.t").count() == 2)
  }

  test("dynamic partition overwrite keeps other partitions") {
    val db = uniqueDb
    val runner = new PipelineRunner(spark)
    val jan = Seq((1, "a", "2024", "01")).toDF("id", "v", "year", "month")
    val feb = Seq((9, "z", "2024", "02")).toDF("id", "v", "year", "month")
    runner.writePartitioned(jan, s"$db.t", Seq("year", "month"), "strict")
    runner.writePartitioned(feb, s"$db.t", Seq("year", "month"), "strict")
    assert(spark.table(s"$db.t").count() == 2)
    val jan2 = Seq((7, "a2", "2024", "01")).toDF("id", "v", "year", "month")
    runner.writePartitioned(jan2, s"$db.t", Seq("year", "month"), "strict")
    val rows = spark.table(s"$db.t").select("id").as[Int].collect().toSet
    assert(rows == Set(7, 9)) // Jan replaced, Feb kept
  }

  test("schema evolution gate: strict rejects new column, evolve adds it") {
    val db = uniqueDb
    val runner = new PipelineRunner(spark)
    val v1 = Seq((1, "2023")).toDF("id", "year")
    runner.writePartitioned(v1, s"$db.t", Seq("year"), "strict")
    val v2 = Seq((2, "x", "2024")).toDF("id", "extra", "year")
    intercept[RuntimeException] {
      runner.writePartitioned(v2, s"$db.t", Seq("year"), "strict")
    }
    runner.writePartitioned(v2, s"$db.t", Seq("year"), "evolve")
    val t = spark.table(s"$db.t")
    assert(t.columns.contains("extra"))
    assert(t.count() == 2)
    assert(t.filter(col("id") === 1).select("extra").head().isNullAt(0))
  }

  test("cleanse-to-consume: sql over cleanse tables with substitution and view ddl") {
    val db = uniqueDb
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq((1, "P1", 100.0, "2024"), (2, "P2", 50.0, "2024"))
      .toDF("id", "policy", "amount", "year")
      .write.format("parquet").partitionBy("year").saveAsTable(s"$db.policies")
    val sql = s"SELECT policy, amount * {factor} AS scaled, year FROM $db.policies"
    val args = JobArgs("SynTest", "scaledpolicies", "", "exec-2",
      Map("year" -> "2024"), db)
    val out = new PipelineRunner(spark).cleanseToConsume(args, sql,
      Map("factor" -> "2"), Map.empty,
      viewSql = Seq(s"CREATE OR REPLACE VIEW ${db}_consume.v_scaled AS SELECT * FROM ${db}_consume.scaledpolicies"))
    assert(spark.table(s"${db}_consume.scaledpolicies")
      .filter(col("policy") === "P1").select("scaled").as[Double].head() == 200.0)
    assert(spark.table(s"${db}_consume.v_scaled").count() == 2)
  }

  test("cleanse-to-consume: CREATE TABLE <t> AS prefix overrides target") {
    val db = uniqueDb
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq((1, "x")).toDF("id", "v").write.format("parquet").saveAsTable(s"$db.src")
    val args = JobArgs("S", "ignored", "", "e", Map.empty, db)
    new PipelineRunner(spark).cleanseToConsume(args,
      s"CREATE TABLE $db.overridden AS SELECT * FROM $db.src", Map.empty, Map.empty)
    assert(spark.table(s"$db.overridden").count() == 1)
  }

  test("cleanse-to-consume: BARE CREATE TABLE name stays in the consume database (reference semantics)") {
    val db = uniqueDb
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq((1, "x")).toDF("id", "v").write.format("parquet").saveAsTable(s"$db.src2")
    val args = JobArgs("S", "ignored", "", "e", Map.empty, db)
    new PipelineRunner(spark).cleanseToConsume(args,
      s"CREATE TABLE renamed AS SELECT * FROM $db.src2", Map.empty, Map.empty)
    assert(spark.table(s"${db}_consume.renamed").count() == 1)
  }

  test("cleanse-to-consume: the returned frame keeps the stage's last-win map keys") {
    // the stage runs under mapKeyDedupPolicy=LAST_WIN and restores the
    // caller's policy on return: the frame must not depend on it
    val db = uniqueDb
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Seq("P1", "P2").toDF("policynumber").write.format("parquet").saveAsTable(s"$db.maps_src")
    val args = JobArgs("S", "maps", "", "e", Map.empty, db)
    val out = new PipelineRunner(spark).cleanseToConsume(args,
      s"SELECT policynumber, map(policynumber, 1, policynumber, 2) AS m FROM $db.maps_src",
      Map.empty, Map.empty)
    assert(out.columns.toSeq == Seq("policynumber", "m"))
    assert(out.collect().map(r => r.getString(0) -> r.getMap[String, Int](1).toMap).toMap ==
      Map("P1" -> Map("P1" -> 2), "P2" -> Map("P2" -> 2)))
  }

  test("tokenize persists distinct pairs to the token store idempotently") {
    val dir = Files.createTempDirectory("graft_tok").resolve("store").toString
    val store = new TokenStore(dir)
    val df = Seq("a", "b", "a").toDF("raw")
    store.append(df.select(col("raw").as("raw_data"), sha2(col("raw"), 256).as("hash_key")))
    store.append(df.select(col("raw").as("raw_data"), sha2(col("raw"), 256).as("hash_key")))
    assert(store.read(spark).count() == 2)
  }
}

class XmlSpec extends SparkSpec {
  import spark.implicits._

  test("xml source read with row_tag (Spark 4 native)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xml")
    java.nio.file.Files.writeString(dir.resolve("t.xml"),
      "<rows><rec><id>1</id><name>a</name></rec><rec><id>2</id><name>b</name></rec></rows>")
    val spec = graft.config.Specs.parseJson("""{"xml": {"row_tag": "rec"}}""")
    val out = graft.sources.Sources.read(spark, dir.resolve("t.xml").toString, Some(spec))
    assert(out.count() == 2)
    assert(out.columns.toSet == Set("id", "name"))
  }

  test("G4 xmlStringToStruct infers schema from an XML string column") {
    val df = Seq("<r><a>1</a><b>x</b></r>", "<r><a>2</a><b>y</b></r>").toDF("payload")
    val out = graft.functions.StructuredTransforms.xmlStringToStruct(df, "payload")
    assert(out.schema("payload").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(out.select(org.apache.spark.sql.functions.col("payload.a").cast("long"))
      .as[Long].collect().toSet == Set(1L, 2L))
  }
}

class DependencyGateSpec extends SparkSpec {
  import graft.pipeline.DependencyGate
  import java.time.{Duration, Instant}

  private val spec = DependencyGate.parseSpec(Specs.parseJson(
    """{"depends_on": {"SynGeneral/PolicyData": 1}, "lookback": {"days": 1}}"""))

  test("parseSpec reads depends_on + lookback") {
    assert(spec.dependsOn == Map("SynGeneral/PolicyData" -> 1))
    assert(spec.lookback.contains(Duration.ofDays(1)))
  }

  test("queues until the dependency succeeded within lookback, then releases") {
    val audit = new DependencyGate.AuditLog
    val now = Instant.parse("2026-08-12T12:00:00Z")
    assert(DependencyGate.mustQueue(spec, audit, now)) // no run yet
    audit.record(DependencyGate.JobRun("SynGeneral/PolicyData", "e1", "SUCCEEDED",
      now.minus(Duration.ofDays(3))))
    assert(DependencyGate.mustQueue(spec, audit, now)) // stale success
    audit.record(DependencyGate.JobRun("SynGeneral/PolicyData", "e2", "FAILED",
      now.minus(Duration.ofHours(1))))
    assert(DependencyGate.mustQueue(spec, audit, now)) // failure doesn't count
    audit.record(DependencyGate.JobRun("SynGeneral/PolicyData", "e3", "SUCCEEDED",
      now.minus(Duration.ofHours(2))))
    assert(!DependencyGate.mustQueue(spec, audit, now)) // fresh success
  }

  test("no dependencies → never queue; no lookback → queue while deps exist") {
    val none = DependencyGate.parseSpec(Specs.parseJson("""{}"""))
    assert(!DependencyGate.mustQueue(none, new DependencyGate.AuditLog))
    val noLb = DependencyGate.parseSpec(Specs.parseJson(
      """{"depends_on": {"X/Y": 1}}"""))
    assert(DependencyGate.mustQueue(noLb, new DependencyGate.AuditLog))
  }

  test("generateSpec recommends type conversions from inferred schema") {
    import spark.implicits._
    val df = Seq((1.5, "a", "2024-01-01", "10:00")).toDF("amount", "name", "startdate", "loadtime")
    val out = graft.mapping.CustomMapping.generateSpec(df)
    val parsed = Specs.datasetSpec(Specs.parseJson(out))
    assert(parsed.transformSpec.map(_._1) == Seq("date", "timestamp", "changetype"))
    assert(out.contains(""""amount": "decimal(16,2)""""))
    assert(out.contains(""""field": "startdate""""))
    assert(out.contains(""""field": "loadtime""""))
  }
}

class FixedWidthPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("collect-to-cleanse with fixed-width source: widths from the mapping file") {
    val dir = Files.createTempDirectory("graft_fwp")
    // layout: policy(4) drop(2) amount(6)
    Files.writeString(dir.resolve("feed-20240115.txt"),
      "P001xx001200\nP002yy000850\n")
    val spec = Specs.datasetSpec(Specs.parseJson(
      """{
        "input_spec": {"fixed": {}, "allow_schema_change": "permissive"},
        "transform_spec": {
          "implieddecimal": [{"field": "amount", "num_implied": "2", "format": "10,2"}]
        }
      }"""))
    val mapping = Specs.mappingCsv(
      "SourceName,DestName,Width\nf1,policy,4\nf2,Null,2\nf3,amount,6\n")
    val db = s"fwdb${System.nanoTime()}"
    val args = JobArgs("S", "fixeddata", dir.resolve("feed-20240115.txt").toString,
      "e-fw", Map("year" -> "2024"), db)
    val out = new graft.pipeline.PipelineRunner(spark)
      .collectToCleanse(args, spec, mapping, Map.empty,
        graft.transforms.TransformContext(spark, filename = "feed-20240115.txt"))
    val rows = spark.table(s"$db.fixeddata")
      .select("policy", "amount").orderBy("policy")
      .as[(String, java.math.BigDecimal)].collect().toSeq
    assert(rows.map(_._1) == Seq("P001", "P002"))
    assert(rows.map(_._2.toString) == Seq("12.00", "8.50"))
  }
}

class ConsumeOverwriteSpec extends SparkSpec {
  import spark.implicits._

  test("consume publish replaces the WHOLE table, not just incoming partitions") {
    val db = s"cons${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val runner = new graft.pipeline.PipelineRunner(spark)
    def publish(year: String, id: Int): Unit = {
      Seq((id, year)).toDF("id", "year")
        .createOrReplaceTempView("consume_src")
      val args = JobArgs("S", "summary", "", s"e-$id", Map("year" -> year), db)
      runner.cleanseToConsume(args, "SELECT id, year FROM consume_src", Map.empty, Map.empty)
    }
    publish("2023", 1)
    publish("2024", 2) // full overwrite: 2023 partition must be gone
    val got = spark.table(s"${db}_consume.summary").select("id", "year")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((2, "2024")), s"stale partitions survived: $got")
  }
}
