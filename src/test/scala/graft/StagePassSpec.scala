package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.config.Specs
import graft.dq.{DqEngine, RuleOutcome}
import graft.lineage.Lineage
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.sources.Sources
import graft.transforms.TransformContext

/** `runRuleset` evaluates its three tiers in one metrics pass; it must give
  * exactly what the one-tier public calls give on the same frame. */
class RulesetPassSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1, Some(100.0), "New"),
    (2, Some(-5.0), "Renewal"),
    (3, None, "Other"),
    (4, Some(7.5), "New")
  ).toDF("id", "amount", "kind")

  /** What one evaluation of a ruleset left behind: recorded outcomes, the
    * passed rows, the quarantine sink's rows and the error, if any. */
  private case class Run(log: Seq[(String, String, RuleOutcome)], passed: Option[Seq[String]],
                         sink: Seq[String], error: Option[String])

  private def capturing(sink: ListBuffer[String]) = new DqEngine(Some((f: DataFrame, name: String) =>
    sink ++= f.drop("quarantine_timestamp").collect().map(r => s"$name:$r")))

  private def rows(f: DataFrame): Seq[String] = f.collect().map(_.toString).sorted.toSeq

  private def attempt[A](body: => A): Either[String, A] =
    try Right(body) catch { case e: RuntimeException => Left(e.getMessage) }

  private def viaRuleset(frame: DataFrame, rs: Map[String, Seq[String]]): Run = {
    val sink = ListBuffer.empty[String]
    val eng = capturing(sink)
    val out = attempt(rows(eng.runRuleset(frame, rs, "rs")))
    Run(eng.resultsLog, out.toOption, sink.toSeq, out.left.toOption)
  }

  /** The same ruleset through `runWarn`, `runQuarantine` and
    * `evaluateDataset` + halt, in the reference's order. */
  private def viaTiers(frame: DataFrame, rs: Map[String, Seq[String]]): Run = {
    val sink = ListBuffer.empty[String]
    val eng = capturing(sink)
    val log = ListBuffer.empty[(String, String, RuleOutcome)]
    val out = attempt {
      rs.get("warn_rules").foreach(r => log ++= eng.runWarn(frame, r).map(("rs", "warn", _)))
      val passed = rs.get("quarantine_rules").fold(frame) { r =>
        val res = eng.runQuarantine(frame, r, "rs")
        log ++= res.outcomes.map(("rs", "quarantine", _))
        res.passed
      }
      rs.get("halt_rules").foreach { r =>
        val o = eng.evaluateDataset(frame, r)
        log ++= o.map(("rs", "halt", _))
        if (o.exists(!_.passed))
          throw new RuntimeException("Data quality check failed: " +
            o.filterNot(_.passed).map(_.rule).mkString("; "))
      }
      rows(passed)
    }
    Run(log.toSeq, out.toOption, sink.toSeq, out.left.toOption)
  }

  private def parity(frame: DataFrame, rs: Map[String, Seq[String]]): Run = {
    val (a, b) = (viaRuleset(frame, rs), viaTiers(frame, rs))
    assert(a == b)
    a
  }

  test("a dataset-level quarantine rule folds into the split: passing keeps rows, failing quarantines all") {
    val kept = parity(df, Map(
      "quarantine_rules" -> Seq("ColumnValues 'kind' in ['New','Renewal']", "RowCount > 3")))
    assert(kept.passed.get.size == 3 && kept.sink.size == 1 && kept.error.isEmpty)
    val all = parity(df, Map(
      "warn_rules" -> Seq("IsComplete 'amount'"),
      "quarantine_rules" -> Seq("ColumnValues 'kind' in ['New','Renewal']", "RowCount > 10")))
    assert(all.sink.size == 4 && all.error.contains("Data quality check quarantined all rows"))
    assert(all.log.map(_._2) == Seq("warn")) // the throwing tier records nothing
  }

  test("an Or of a row rule and a dataset rule is dataset-level in the split") {
    val r = parity(df, Map(
      "quarantine_rules" -> Seq("(ColumnValues 'amount' >= 0) or (RowCount > 2)",
        "ColumnValues 'amount' < 1000")))
    // the Or passes on its RowCount branch, so only the NULL amount fails
    assert(r.passed.get.size == 3 && r.sink.size == 1)
  }

  test("a CustomSql semi-join quarantine rule and a CustomSql comparator") {
    val r = parity(df, Map(
      "warn_rules" -> Seq("CustomSql 'SELECT COUNT(*) FROM primary WHERE amount < 0' = 0"),
      "quarantine_rules" -> Seq("CustomSql 'SELECT id FROM primary WHERE amount IS NOT NULL'",
        "ColumnValues 'amount' > -100"),
      "halt_rules" -> Seq("CustomSql 'SELECT COUNT(*) FROM primary' = 4")))
    assert(r.passed.get.size == 3 && r.sink.size == 1 && r.error.isEmpty)
    assert(r.log.map(o => o._2 -> o._3.passed) ==
      Seq("warn" -> false, "quarantine" -> true, "quarantine" -> false, "halt" -> true))
  }

  test("a halt that fails after quarantine still sees the pre-quarantine frame") {
    val r = parity(df, Map(
      "warn_rules" -> Seq("ColumnValues 'amount' >= 0"),
      "quarantine_rules" -> Seq("IsComplete 'amount'"),
      "halt_rules" -> Seq("Completeness 'amount' >= 1.0", "RowCount = 4")))
    assert(r.sink.size == 1) // quarantine wrote before halt threw
    assert(r.error.exists(_.startsWith("Data quality check failed: Completeness")))
    assert(r.log.map(_._2) == Seq("warn", "quarantine", "halt", "halt"))
  }

  test("an empty frame passes vacuously, quarantines nothing and runs no sink") {
    val r = parity(df.filter(lit(false)), Map(
      "warn_rules" -> Seq("ColumnValues 'amount' >= 0"),
      "quarantine_rules" -> Seq("ColumnValues 'kind' in ['New']", "RowCount >= 0"),
      "halt_rules" -> Seq("IsComplete 'id'")))
    assert(r.passed.contains(Nil) && r.sink.isEmpty && r.error.isEmpty)
    assert(r.log.forall(_._3.passed))
  }
}

/** The collect→cleanse and cleanse→consume stages: audits taken on the
  * write, one materialization of the input per call, and a job budget. */
class PipelineStageSpec extends SparkSpec {
  private def uniqueDb = s"stagedb${System.nanoTime()}"

  private val mappingCsv =
    "SourceName,DestName\nPolicyNumber,policynumber\nPremium,premium\nUnits,units\n"

  private def spec(policy: String, units: String = "int", filter: Option[String] = None) =
    Specs.datasetSpec(Specs.parseJson(
      s"""{"input_spec": {"csv": {"header": true}, "allow_schema_change": "$policy"},
           "transform_spec": {
             "changetype": {"premium": "double", "units": "$units"}
             ${filter.fold("")(c => s""", "filterrows": [{"condition": "$c"}]""")}
           }}"""))

  private def csv(dir: Path, rows: Seq[(String, String, Int)]): String = {
    val f = dir.resolve("policy.csv")
    Files.writeString(f, "PolicyNumber,Premium,Units\n" +
      rows.map { case (p, v, u) => s"$p,$v,$u\n" }.mkString)
    f.toString
  }

  private def run(db: String, path: String, sink: String, exec: String,
                  s: Specs.DatasetSpec = spec("permissive"),
                  dq: Map[String, Map[String, Seq[String]]] = Map.empty): DataFrame =
    new PipelineRunner(spark).collectToCleanse(
      JobArgs("t", "policy", path, exec, Map("year" -> "2024"), db, lineageSink = Some(sink)),
      s, Specs.mappingCsv(mappingCsv), dq, TransformContext(spark, filename = "policy.csv"))

  /** `phase -> detail` of the sink's audit lines for one execution. */
  private def audits(sink: String, exec: String): Seq[String] =
    Files.readAllLines(Path.of(sink)).asScala.toSeq.map(Specs.parseJson)
      .filter(l => l.get("execution_id").asText == exec && l.get("op").asText == "numericaudit")
      .map(_.get("detail").asText)

  private def eager(frame: DataFrame, phase: String): String = {
    val l = new Lineage("eager")
    l.numericAudit(frame, phase)
    Specs.parseJson(l.log.last).get("detail").asText
  }

  private val day1 = Seq(("P1", "1200.5", 3), ("P2", "800.25", 1), ("P3", "10.75", 2))

  test("audit lines equal eager numericAudit: table creation, fast path, evolve widening, consume") {
    val dir = Files.createTempDirectory("graft_audit")
    val sink = dir.resolve("lineage.jsonl").toString
    val db = uniqueDb
    val path = csv(dir, day1)
    val readBack = Sources.read(spark, path, spec("permissive").inputSpec)
    val created = run(db, path, sink, "e1", spec("evolve"))
    assert(audits(sink, "e1") == Seq(eager(readBack, "before"), eager(created, "after")))
    assert(audits(sink, "e1").last.startsWith("after: rowcount=3.0,premium=2011.5"))

    val fast = run(db, path, sink, "e2", spec("evolve"))
    assert(audits(sink, "e2") == Seq(eager(readBack, "before"), eager(fast, "after")))

    // int → bigint under evolve: the widening rewrite uses the frame twice
    val widened = run(db, csv(dir, day1 :+ (("P4", "4.5", 9))), sink, "e3",
      spec("evolve", units = "bigint"))
    assert(spark.table(s"$db.policy").schema("units").dataType.sql == "BIGINT")
    assert(spark.table(s"$db.policy").count() == 4)
    assert(audits(sink, "e3").last == eager(widened, "after"))
    assert(audits(sink, "e3").last.startsWith("after: rowcount=4.0,premium=2016.0"))

    // consume publishes with overwriteAll; run twice so the second write
    // takes the existing-table branch
    val runner = new PipelineRunner(spark)
    Seq("c1", "c2").foreach { exec =>
      val out = runner.cleanseToConsume(
        JobArgs("t", "premiums", "", exec, Map("year" -> "2024"), db, lineageSink = Some(sink)),
        s"SELECT policynumber, premium * 2 AS premium2, year FROM $db.policy", Map.empty, Map.empty)
      assert(audits(sink, exec) == Seq(eager(out, "consume")))
      assert(audits(sink, exec).head.startsWith("consume: rowcount=4.0,premium2=4032.0"))
    }
    assert(spark.table(s"${db}_consume.premiums").count() == 4)
  }

  test("transforms that filter every row: an empty write, rowcount=0.0, no hang") {
    val dir = Files.createTempDirectory("graft_audit_empty")
    val sink = dir.resolve("lineage.jsonl").toString
    val db = uniqueDb
    val path = csv(dir, day1)
    Seq("e1", "e2").foreach { exec => // table creation, then the fast path
      val t0 = System.nanoTime()
      run(db, path, sink, exec, spec("permissive", filter = Some("premium < 0")))
      assert((System.nanoTime() - t0) / 1e9 < 8.0, s"$exec took too long")
      assert(audits(sink, exec).last == "after: rowcount=0.0,premium=0.0")
    }
    assert(spark.table(s"$db.policy").count() == 0)
    val consumed = new PipelineRunner(spark).cleanseToConsume(
      JobArgs("t", "none", "", "c1", Map("year" -> "2024"), db, lineageSink = Some(sink)),
      s"SELECT policynumber, premium, year FROM $db.policy", Map.empty, Map.empty)
    assert(audits(sink, "c1") == Seq("consume: rowcount=0.0,premium=0.0"))
    assert(consumed.count() == 0)
  }

  test("a refused schema change throws promptly and records no after line") {
    val dir = Files.createTempDirectory("graft_audit_refused")
    val sink = dir.resolve("lineage.jsonl").toString
    val db = uniqueDb
    val path = csv(dir, day1)
    run(db, path, sink, "e1", spec("strict"))
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException](run(db, path, sink, "e2", spec("strict", units = "bigint")))
    assert(e.getMessage.contains("Schema change not allowed"))
    assert((System.nanoTime() - t0) / 1e9 < 8.0)
    assert(audits(sink, "e2").map(_.takeWhile(_ != ':')) == Seq("before"))
  }

  test("a file re-delivered to the same path is read again, and no cache entry stays") {
    val dir = Files.createTempDirectory("graft_redeliver")
    val sink = dir.resolve("lineage.jsonl").toString
    val db = uniqueDb
    val path = csv(dir, day1.take(2))
    // a cache entry for the stage's read would serve this plan from memory
    def cached: Boolean = Sources.read(spark, path, spec("permissive").inputSpec)
      .queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
    run(db, path, sink, "e1")
    assert(spark.table(s"$db.policy").count() == 2)
    assert(!cached)
    csv(dir, day1 :+ (("P4", "4.5", 9))) // corrected delivery, same path
    run(db, path, sink, "e2")
    assert(spark.table(s"$db.policy").count() == 4)
    assert(!cached)
  }

  test("a header-only CSV aborts with the reference's message") {
    val dir = Files.createTempDirectory("graft_empty_src")
    val path = csv(dir, Nil)
    val e = intercept[RuntimeException](
      run(uniqueDb, path, dir.resolve("lineage.jsonl").toString, "e1"))
    assert(e.getMessage == "No data found in source file; aborting")
  }
}
