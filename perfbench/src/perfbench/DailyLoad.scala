package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.config.Specs
import graft.dq.DqEngine
import graft.lineage.Lineage
import graft.mapping.CustomMapping
import graft.operators.EntityMatch
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.sources.Sources
import graft.stores.LookupStore
import graft.transforms.{TransformContext, TransformRegistry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `daily_load`: each day, three generated feeds (policy, claim, customer)
  * go through collect→cleanse, then the policy⋈claim consume SQL runs, then
  * entity match over the day's cleansed customers. One operation = one
  * day. Day 1 is the warm-up: it creates every table. The timed days take
  * the insert path with planted entity variants (day 2), re-deliver day 2
  * (the idempotent reload), then add a column to the policy feed
  * (`ALTER TABLE ADD COLUMNS`). */
final class DailyLoad(val spark: SparkSession, inputs: String, val exp: JsonNode)
    extends Workload {
  private val runner = new PipelineRunner(spark)
  private val cfg = s"$inputs/config"
  private val feeds = Seq("policy", "claim", "customer")
  private val specs = feeds.map(f =>
    f -> Specs.datasetSpec(Specs.readJsonFile(s"$cfg/${f}_spec.json"))).toMap
  private val mappings = feeds.map(f =>
    f -> Specs.mappingCsv(text(s"$cfg/${f}_mapping.csv"))).toMap
  private val dqRules = feeds.map(f =>
    f -> Specs.dqRules(Specs.readJsonFile(s"$cfg/${f}_dq.json"))).toMap
  private val consumeSql = text(s"$cfg/consume.sql")
  private val matchSpec = text(s"$cfg/match_spec.json")
  private val lookup = LookupStore.fromDirectory(s"$cfg/lookup")
  private val days = elems(exp.get("days"))
  private val warmDays = exp.get("warmup_days").asInt

  def databases(ns: String): Seq[String] = Seq(s"${ns}_ins", s"${ns}_ins_consume")

  private def partOf(day: JsonNode): Map[String, String] =
    runner.partitionFor(java.time.LocalDate.parse(day.get("date").asText))

  private def ctxFor(path: String): TransformContext =
    TransformContext(spark, filename = java.nio.file.Paths.get(path).getFileName.toString,
      lookupStore = lookup)

  private def runDay(ns: String, day: JsonNode, rec: Recorder): Unit = {
    val db = s"${ns}_ins"
    val part = partOf(day)
    val tag = s"$ns-d${day.get("day_index").asInt}"
    feeds.foreach { f =>
      val path = day.get("files").get(f).asText
      val args = JobArgs(sourceSystem = "ins", tableName = f, sourcePath = path,
        executionId = s"$tag-$f", partition = part, databaseName = db)
      rec.span("pipeline.collect_to_cleanse") {
        runner.collectToCleanse(args, specs(f), mappings(f), dqRules(f), ctxFor(path))
      }
    }
    val cargs = JobArgs("ins", "policy_claims", "", s"$tag-consume", part, db)
    rec.span("pipeline.cleanse_to_consume") {
      runner.cleanseToConsume(cargs, consumeSql, Map("db" -> db) ++ part, Map.empty)
    }
    val spec = EntityMatch.parseSpec(Specs.parseJson(matchSpec.replace("{db}", db)))
    val incoming = spark.table(s"$db.customer")
      .where(part.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
    rec.span("operators.entity_match") {
      EntityMatch.run(spark, incoming, spec, Seq("customer_no", "src_system_id"))
    }
  }

  private def cents(df: DataFrame, c: String): Long = {
    val v = df.agg(sum(col(c))).head().get(0)
    if (v == null) 0L else BigDecimal(v.toString).*(100).toLongExact
  }

  private def checkDay(ns: String, day: JsonNode, rec: Recorder): Boolean = {
    val db = s"${ns}_ins"
    val e = exp.get("per_date").get(day.get("date").asText)
    val consume = spark.table(s"${db}_consume.policy_claims")
    val primary = spark.table(s"${db}_consume.entity_primary")
    val label = s"day ${day.get("day_index").asInt}"
    val nConsume = consume.count()
    val claimCents = cents(consume, "claim_total")
    val nEntities = primary.count()
    val nGids = primary.select("globalid").distinct().count()
    Seq(
      rec.check(s"$label consume rows", nConsume == e.get("consume_rows").asLong,
        s"$nConsume != ${e.get("consume_rows")}"),
      rec.check(s"$label consume claim total", claimCents == e.get("consume_claim_cents").asLong,
        s"$claimCents != ${e.get("consume_claim_cents")}"),
      rec.check(s"$label entities", nEntities == day.get("entities_after").asLong &&
        nGids == nEntities, s"$nEntities rows / $nGids gids != ${day.get("entities_after")}")
    ).forall(identity)
  }

  /** Day 1: table creation. */
  def warmup(ns: String): Unit =
    days.take(warmDays).foreach(runDay(ns, _, new Recorder(spark, false)))

  def run(ns: String, rec: Recorder): Unit = days.drop(warmDays).foreach { d =>
    rec.op("day", s"${d.get("kind").asText} ${d.get("date").asText}", d.get("rows").asLong)(
      runDay(ns, d, rec))(_ => checkDay(ns, d, rec))
  }

  def finalChecks(ns: String, rec: Recorder): Unit = {
    val db = s"${ns}_ins"
    val q = exp.get("quarantine")
    def n(t: String): Long = spark.table(s"$db.$t").count()
    val policy = spark.table(s"$db.policy")
    val claim = spark.table(s"$db.claim")
    rec.check("policy rows", n("policy") == exp.get("policy_clean").asLong,
      s"${n("policy")} != ${exp.get("policy_clean")}")
    rec.check("policy premium", cents(policy, "written_premium") == exp.get("policy_premium_cents").asLong,
      s"${cents(policy, "written_premium")} != ${exp.get("policy_premium_cents")}")
    rec.check("claim rows", n("claim") == exp.get("claim_clean").asLong,
      s"${n("claim")} != ${exp.get("claim_clean")}")
    rec.check("claim amount", cents(claim, "claim_amount") == exp.get("claim_amount_cents").asLong,
      s"${cents(claim, "claim_amount")} != ${exp.get("claim_amount_cents")}")
    Seq("policy_quarantine_before_transform" -> "policy_before",
      "policy_quarantine_after_transform" -> "policy_after",
      "claim_quarantine_before_transform" -> "claim_before").foreach { case (t, k) =>
      rec.check(s"$t rows", n(t) == q.get(k).asLong, s"${n(t)} != ${q.get(k)}")
    }
    rec.check("policy evolved schema", policy.columns.contains("discount"),
      policy.columns.mkString(","))
    val ents = spark.table(s"${db}_consume.entity_primary").count()
    rec.check("entities", ents == exp.get("entities").asLong, s"$ents != ${exp.get("entities")}")
  }

  /** Each plan-building layer, timed alone on the last day's three feeds:
    * its input checkpointed, its output forced into a `noop` sink. */
  override def legs(ns: String, rec: Recorder): Map[String, Double] = {
    val day = days.last
    val part = partOf(day)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val legDb = s"${ns}_legs"
    val t = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def timed(leg: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      t(leg) += (System.nanoTime() - t0) / 1e9
    }
    val quiet = new DqEngine(Some((df: DataFrame, _: String) => noop(df)))
    feeds.foreach { f =>
      val path = day.get("files").get(f).asText
      val spec = specs(f)
      val ctx = ctxFor(path)
      timed("sources")(noop(Sources.read(spark, path, spec.inputSpec)))
      val read = rec.aux(Sources.read(spark, path, spec.inputSpec).localCheckpoint(true))
      timed("mapping")(noop(CustomMapping.applyMapping(read, mappings(f))))
      val mapped = rec.aux(CustomMapping.applyMapping(read, mappings(f)).localCheckpoint(true))
      timed("transforms")(noop(TransformRegistry.applyAll(mapped, spec.transformSpec, ctx)))
      val transformed = rec.aux(TransformRegistry.applyAll(mapped, spec.transformSpec, ctx)
        .withColumns(part.map { case (k, v) => k -> lit(v) }).localCheckpoint(true))
      timed("dq") {
        val rules = dqRules(f)
        noop(quiet.runRuleset(mapped, rules.getOrElse("before_transform", Map.empty), "before"))
        noop(quiet.runRuleset(transformed, rules.getOrElse("after_transform", Map.empty), "after"))
      }
      timed("lineage") {
        val l = new Lineage(s"$ns-legs")
        l.numericAudit(read, "before")
        l.numericAudit(transformed, "after")
      }
      timed("pipeline") {
        runner.writePartitioned(transformed, s"$legDb.$f", part.keys.toSeq, "permissive")
      }
    }
    spark.sql(s"DROP DATABASE IF EXISTS $legDb CASCADE")
    Seq("sources", "mapping", "transforms", "dq", "lineage", "pipeline")
      .map(l => s"$l.leg_s" -> t(l)).toMap
  }
}
