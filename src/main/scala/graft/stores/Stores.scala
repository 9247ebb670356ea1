package graft.stores

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Local replacements for the reference's DynamoDB surfaces (SURVEY.md §7.1):
  * value/multi lookups (S9/S10), the tokenize token store (K6), all behind
  * small traits so a cluster deployment can swap in a real KV service. */

/** Lookup store: named value-lookups `(orig_value, new_value)` and named
  * multi-lookup groups `(lookup_item, attr...)`. The in-memory form covers
  * tests; the directory form reads one parquet/json per lookup name. */
trait LookupStore {
  def valueLookup(spark: SparkSession, name: String): DataFrame
  def multiLookup(spark: SparkSession, group: String): DataFrame
}

object LookupStore {
  val empty: LookupStore = new LookupStore {
    def valueLookup(spark: SparkSession, name: String): DataFrame =
      throw new IllegalArgumentException(s"no lookup named $name in empty store")
    def multiLookup(spark: SparkSession, group: String): DataFrame =
      throw new IllegalArgumentException(s"no lookup group $group in empty store")
  }

  /** In-memory store from maps: value lookups name→(orig→new);
    * multi groups name→rows of (lookup_item, attrs). */
  def inMemory(values: Map[String, Map[String, String]],
               multis: Map[String, DataFrame] = Map.empty): LookupStore = new LookupStore {
    def valueLookup(spark: SparkSession, name: String): DataFrame = {
      import spark.implicits._
      values.getOrElse(name,
        throw new IllegalArgumentException(s"no lookup named $name"))
        .toSeq.toDF("orig_value", "new_value")
    }
    def multiLookup(spark: SparkSession, group: String): DataFrame =
      multis.getOrElse(group, throw new IllegalArgumentException(s"no lookup group $group"))
  }

  /** Directory-backed store: `<dir>/<name>.json` files of {"orig": "new"} maps
    * for value lookups and `<dir>/multi_<group>.parquet` for multi groups. */
  def fromDirectory(dir: String): LookupStore = new LookupStore {
    def valueLookup(spark: SparkSession, name: String): DataFrame = {
      import spark.implicits._
      val path = java.nio.file.Paths.get(dir, s"$name.json")
      val node = graft.config.Specs.readJsonFile(path.toString)
      import scala.jdk.CollectionConverters._
      node.properties().asScala.toSeq.map(e => (e.getKey, e.getValue.asText))
        .toDF("orig_value", "new_value")
    }
    def multiLookup(spark: SparkSession, group: String): DataFrame =
      spark.read.parquet(s"$dir/multi_$group.parquet")
  }
}

/** Token store (K6): append-only distinct `(raw_data, hash_key)` pairs.
  * Parquet-dir backed; `append` dedups against what is already stored so
  * repeated tokenize runs stay idempotent
  * (datatransform_dataprotection.py:158-173). */
class TokenStore(path: String) {
  def append(pairs: DataFrame): Unit = {
    val spark = pairs.sparkSession
    val existing =
      // only a missing path means "empty store"; any other read failure
      // (corrupt footer, permissions) must NOT silently skip the dedup
      // anti-join, or duplicate raw_data rows fan out every detokenize join
      try spark.read.parquet(path).select("raw_data", "hash_key")
      catch {
        case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("PATH_NOT_FOUND") ||
             e.getMessage.toLowerCase.contains("path does not exist") =>
          spark.emptyDataFrame
      }
    val fresh =
      if (existing.isEmpty) pairs.dropDuplicates("raw_data")
      else pairs.dropDuplicates("raw_data")
        .join(existing.select(col("raw_data")), Seq("raw_data"), "left_anti")
    if (!fresh.isEmpty)
      fresh.write.mode("append").option("compression", graft.catalog.TableWrite.Codec).parquet(path)
  }

  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}
