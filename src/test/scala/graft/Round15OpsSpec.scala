package graft

import org.apache.spark.sql.functions._
import graft.functions.{SimilarityFunctions => S}
import graft.operators.Dedup

/** Round-15: the dedup gate's per-batch canonical-order fix —
  * [[Dedup.jaccardCrossJoin]]'s `freqFrom` is a PHYSICAL-strategy knob only
  * (which side the prefix order is counted over); the emitted pair set is
  * identical for union/left by the prefix-filter lemma + exact verify, and a
  * right-side order is the left order with the arguments swapped.
  * The fixture stresses exactly the places a wrong order could lose recall:
  * tokens private to one side's vocabulary (they drop out of the other
  * side's ranking under a single-side order) and threshold-boundary pairs
  * (where a too-short prefix would silently drop a qualifying pair). */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  // vocabularies deliberately asymmetric: left docs carry tokens the right
  // side never sees and vice versa; sizes vary so prefix lengths differ;
  // pair (1, 101) sits exactly AT the 0.5 threshold (3 shared / 6 union)
  private lazy val lhs = Seq(
    (1L, "en", "alpha beta gamma leftonly1 leftonly2"),
    (2L, "en", "delta epsilon zeta eta theta"),
    (3L, "en", "alpha beta gamma delta"),
    (4L, "de", "alpha beta gamma delta"), // cross-block: must never pair
    (5L, "en", "solo leftprivate tokens nothing shared"),
    (6L, "en", "iota kappa lambda mu nu xi omicron pi rho sigma")
  ).toDF("id", "lang", "text")
    .select($"lang", $"id", array_distinct(S.tokens($"text")).as("toks"))

  private lazy val rhs = Seq(
    (101L, "en", "alpha beta gamma rightonly1"),
    (102L, "en", "delta epsilon zeta eta theta rightonly2"),
    (103L, "en", "totally disjoint benchmark words"),
    (104L, "de", "delta epsilon zeta eta theta"),
    (105L, "en", "iota kappa lambda mu nu xi omicron pi rho tau")
  ).toDF("id", "lang", "text")
    .select($"lang", $"id", array_distinct(S.tokens($"text")).as("toks"))

  private def brute(t: Double) =
    lhs.select($"lang", $"id".as("id_l"), $"toks".as("t_l"))
      .join(rhs.select($"lang", $"id".as("id_r"), $"toks".as("t_r")), Seq("lang"))
      .select($"id_l", $"id_r", S.jaccard($"t_l", $"t_r").as("jaccard"))
      .filter($"jaccard" >= t)
      .as[(Long, Long, Double)].collect().toSet

  test("jaccardCrossJoin: freqFrom union/left emit the identical " +
    "pair set (= brute force), incl. at an exact-threshold boundary") {
    for (t <- Seq(0.5, 0.7)) {
      val expect = brute(t)
      assert(expect.nonEmpty, s"fixture must have cross pairs at $t")
      for (side <- Seq("union", "left")) {
        val got = Dedup.jaccardCrossJoin(lhs, rhs, "toks", "id", Seq("lang"),
            t, freqFrom = side)
          .as[(Long, Long, Double)].collect().toSet
        assert(got == expect, s"freqFrom=$side t=$t: $got vs $expect")
      }
    }
  }

  test("jaccardCrossJoin: a right-side order is the left order over swapped " +
    "arguments — same pair set (= brute force) once id_l/id_r swap back") {
    for (t <- Seq(0.5, 0.7)) {
      val got = Dedup.jaccardCrossJoin(rhs, lhs, "toks", "id", Seq("lang"),
          t, freqFrom = "left")
        .select($"id_r".as("id_l"), $"id_l".as("id_r"), $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute(t), s"swapped left order t=$t: $got")
    }
  }

  test("jaccardCrossJoin: freqFrom accepts only union|left") {
    val e = intercept[IllegalArgumentException](
      Dedup.jaccardCrossJoin(lhs, rhs, "toks", "id", Seq("lang"), 0.5, freqFrom = "right"))
    assert(e.getMessage.contains("swap the arguments"), e.getMessage)
  }

  test("jaccardCrossJoin: all three single-side physical strategies emit " +
    "the same pairs — row-local collected order (default), window over the " +
    "broadcast order (freqCollectMaxRows=0), window unhinted (both 0)") {
    val expect = brute(0.5)
    for ((coll, bcast) <- Seq((1000000L, 4000000L), (0L, 4000000L), (0L, 0L))) {
      val got = Dedup.jaccardCrossJoin(lhs, rhs, "toks", "id", Seq("lang"),
          0.5, freqFrom = "left", freqBroadcastMaxRows = bcast,
          freqCollectMaxRows = coll)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expect, s"collect=$coll broadcast=$bcast: $got")
    }
  }

  test("prefixTokens kernel: set-identical to the window formulation " +
    "(same k from full size, (cnt, token) order, absent tokens dropped)") {
    import graft.functions.expressions.HashExpressions.prefix_tokens
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.expressions.Window
    val docs = lhs.select($"id", $"toks")
    val freq = rhs.select(explode($"toks").as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    freq.collect().foreach(r =>
      m.put(UTF8String.fromString(r.getString(0)), java.lang.Long.valueOf(r.getLong(1))))
    for (t <- Seq(0.5, 0.7, 0.999)) {
      val local = docs.select($"id",
          explode(prefix_tokens($"toks", t, m)).as("token"))
        .as[(Long, String)].collect().toSet
      val win = docs.select($"id", size($"toks").as("sz"), explode($"toks").as("token"))
        .join(freq, Seq("token"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"id").orderBy($"cnt", $"token")))
        .filter($"rnk" <= ($"sz" - ceil($"sz" * t - lit(1e-9)) + 1).cast("int"))
        .select($"id", $"token")
        .as[(Long, String)].collect().toSet
      assert(local == win, s"t=$t: ${local.diff(win)} / ${win.diff(local)}")
    }
  }

  test("deleteRows with statsTable: the post-delete refresh is SCOPED to " +
    "touched partitions yet leaves the index complete — a follow-up FULL " +
    "refresh scans nothing, and pruned reads stay row-identical") {
    import graft.catalog.{FileStats, Retention}
    import graft.catalog.FileStats.StatsSpec
    val db = s"r15scope${System.nanoTime()}"
    spark.sql(s"CREATE DATABASE $db")
    val t = s"$db.events"
    spark.range(0, 4000).select(col("id").as("event_id"),
        col("id").as("user_id"),
        pmod(col("id"), lit(16)).cast("int").as("bucket"))
      .repartition(16, col("bucket"))
      .write.partitionBy("bucket").saveAsTable(t)
    val st = s"$db.events_stats"
    val spec = StatsSpec(Seq("user_id"), bloomCols = Seq("user_id"),
      bloomBits = 1 << 14)
    FileStats.refresh(spark, t, st, spec)
    // keys land in 2 buckets only — the delete rewrites 2 of 16 partitions
    val keys = Seq(17L, 34L).toDF("user_id")
    val rep = Retention.deleteRows(spark, t, "user_id", keys,
      statsTable = Some(st))
    assert(rep.rowsDeleted == 2 && rep.partitionsRewritten == 2, rep.toString)
    // the scoped refresh inside deleteRows must have covered everything the
    // delete changed: a full refresh now finds nothing to scan or drop
    val follow = FileStats.refresh(spark, t, st, spec)
    assert(follow.filesScanned == 0 && follow.filesRemoved == 0, follow.toString)
    // and pruning still answers exactly
    val pred = col("user_id") === 35L
    val pruned = graft.catalog.CatalogOps.readPruned(spark, t, st, pred)
    val plain = spark.table(t).filter(pred)
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length < spark.table(t).inputFiles.length)
    // deleted keys really gone
    assert(spark.table(t).filter(col("user_id").isin(17L, 34L)).isEmpty)
  }

  test("incrementalDedup report is unchanged by the batch-side order " +
    "(vs a union-order jaccardCrossJoin replay)") {
    val stored = rhs.withColumnRenamed("id", "doc_id")
    val batch = lhs.withColumnRenamed("id", "doc_id")
    val report = Dedup.incrementalDedup(stored, batch, "toks", "doc_id",
      Seq("lang"), 0.5)
    // replay the operator's semantics with the historical union order
    val toStored = Dedup.jaccardCrossJoin(batch, stored, "toks", "doc_id",
        Seq("lang"), 0.5, freqFrom = "union")
      .groupBy($"id_l").agg(min($"id_r").as("__att"))
    val clean = batch.join(toStored.select($"id_l".as("doc_id")), Seq("doc_id"), "left_anti")
    val within = Dedup.jaccardSelfJoin(clean, "toks", "doc_id", Seq("lang"), 0.5)
      .select($"id_a", $"id_b")
    val comps = graft.operators.ConnectedComponents.run(within, "id_a", "id_b")
    val expect = batch.select($"doc_id")
      .join(toStored.withColumnRenamed("id_l", "doc_id"), Seq("doc_id"), "left")
      .join(comps.select($"vertex".as("doc_id"), $"component"), Seq("doc_id"), "left")
      .select($"doc_id",
        when($"__att".isNotNull, lit("dup_of_stored"))
          .when($"component".isNotNull && $"component" =!= $"doc_id", lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        when($"__att".isNotNull, $"__att")
          .when($"component".isNotNull && $"component" =!= $"doc_id", $"component")
          .otherwise(lit(null).cast("long")).as("attributed_to"))
    assert(report.exceptAll(expect).isEmpty && expect.exceptAll(report).isEmpty)
  }
}
