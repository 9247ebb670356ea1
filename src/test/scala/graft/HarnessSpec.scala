package graft

import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer

/** The shared measurement helper and the ScaleCheck row registry. */
class HarnessSpec extends SparkSpec {

  private def parse(line: String) = graft.config.Specs.parseJson(line)

  test("timing the same shuffle query twice reports identical exact counters") {
    val lines = ArrayBuffer.empty[String]
    val timer = new Harness.Timer(spark, 1, lines += _)
    try (0 until 2).foreach { _ =>
      timer("fixed shuffle")(((), spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 97).as("k")).count().collect().length.toLong))
    } finally timer.close()
    val Seq(a, b) = lines.toSeq.map(parse)
    assert(a.get("rows").asLong == 97)
    assert(a.get("jobs").asLong > 0 && a.get("shuffle_write_bytes").asLong > 0)
    assert(a.get("jobs").asLong == b.get("jobs").asLong)
    assert(a.get("shuffle_write_bytes").asLong == b.get("shuffle_write_bytes").asLong)
  }

  test("every finished job is logged with its call site") {
    val counters = new Harness.Counters
    spark.sparkContext.addSparkListener(counters)
    try {
      val before = counters.snapshot
      spark.range(0, 1000, 1, 2).groupBy((col("id") % 3).as("k")).count().collect()
      org.apache.spark.sql.graftbridge.BusBridge.drain(spark.sparkContext)
      val jobs = counters.jobsBetween(before, counters.snapshot)
      assert(jobs.nonEmpty && jobs.forall(_.site.nonEmpty), jobs)
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("an unknown section or query name is rejected, not measured as empty") {
    val e = intercept[IllegalArgumentException](ScaleCheck.resolve(Some("jaccard,jacard")))
    assert(e.getMessage.contains("jacard") && !e.getMessage.contains("jaccard,"))
    intercept[IllegalArgumentException](ScaleCheck.resolve(Some("q01_agg,q_nosuch")))
    intercept[IllegalArgumentException](ScaleCheck.resolve(Some(",")))
    assert(ScaleCheck.resolve(Some("q01_agg, kmeans")) == Seq("q01_agg", "kmeans"))
    assert(ScaleCheck.resolve(None) == ScaleCheck.sections.map(_._1))
    assert(ScaleCheck.resolve(Some(ScaleCheck.Tier100.mkString(","))) == ScaleCheck.Tier100)
  }

  test("a ScaleCheck row emits one record per tier with every field") {
    val lines = ArrayBuffer.empty[String]
    ScaleCheck.run(spark, "/root/testdata/sf0.001", 2, Seq("line_repetition"), lines += _)
    val recs = lines.toSeq.map(parse)
    assert(recs.map(_.get("row").asText) ==
      Seq("line repetition metrics 1x", "line repetition metrics 2x"))
    val fields = Seq("section", "row", "n", "rows", "wall_s", "jobs", "shuffle_write_bytes",
      "spill_bytes", "input_bytes", "slow_jobs")
    recs.foreach { r =>
      fields.foreach(f => assert(r.has(f), s"missing $f in $r"))
      assert(r.get("section").asText == "line_repetition" && r.get("n").asInt == 2)
      assert(r.get("jobs").asLong > 0 && r.get("input_bytes").asLong > 0)
      assert(r.get("slow_jobs").isArray)
    }
    assert(recs(1).get("rows").asLong == 2 * recs(0).get("rows").asLong)
  }
}
