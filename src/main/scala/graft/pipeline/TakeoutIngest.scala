package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.RecencySplit

/** Ingestion of Google-Takeout `MyActivity.json` per user (SURVEY §3 EP1 /
  * assets/takeout.py:36-76): declared schema (no driver-side inference at
  * scale), derived time columns, data-relative recency split.
  *
  * Layout contract: `<root>/<user_id>/MyActivity.json` — the directory name
  * is the user partition (the reference's Dagster dynamic partition);
  * here it becomes a `user_id` column captured from the input path. */
object TakeoutIngest {

  /** Repo-local raw-JSON fixture root (tools/gen_takeout_fixture.py,
    * committed under fixtures/takeout/). The driver contract passes only a
    * parquet testdata dir, but this entry point ingests raw per-user JSON
    * with its own `<root>/<user_id>/MyActivity.json` layout — so the
    * driver-checked ingest queries read this fixed location, resolved at
    * QUERY time (see [[graft.core.Fixtures.resolve]]; the q85/q89 oracle
    * SQL embeds this path, so the lazy QueryDef oracle re-resolves it in
    * whatever environment actually runs the check). */
  def fixtureRoot: String =
    graft.core.Fixtures.resolve("takeout", "GRAFT_TAKEOUT_FIXTURES")

  /** Only `time` is schema-pinned by the reference; the rest of the fields
    * it actually consumes are declared here (inference is an anti-pattern
    * at 100 TB — SURVEY §1.2). */
  val takeoutSchema: StructType = StructType(Seq(
    StructField("header", StringType),
    StructField("title", StringType),
    StructField("titleUrl", StringType),
    StructField("time", TimestampType),
    StructField("products", ArrayType(StringType))))

  /** `user_id` of a row read from `<root>/<user_id>/MyActivity.json`: the
    * name of the file's directory. `input_file_name()` is a URI (`a b`
    * arrives as `a%20b`), so it is decoded with URI path semantics; form
    * decoding (`url_decode`) would also turn `+` into a space. */
  def userIdFromPath: Column = parentDirName(input_file_name())

  private val parentDirName = udf((uri: String) =>
    new org.apache.hadoop.fs.Path(new java.net.URI(uri)).getParent.getName)

  /** Parse + derive (timestamp/date/hour/month — `month` is a full date
    * string, reproducing the reference's naming quirk, assets/takeout.py:67). */
  def parse(spark: SparkSession, root: String): DataFrame = {
    spark.read
      .schema(takeoutSchema)
      .option("multiLine", "true")
      .json(s"$root/*/MyActivity.json")
      .withColumn("user_id", userIdFromPath)
      .withColumn("timestamp", col("time"))
      .drop("time")
      .withColumn("date", to_date(col("timestamp")))
      .withColumn("hour", date_format(col("timestamp"), "HH:mm"))
      .withColumn("month", date_format(col("timestamp"), "yyyy-MM-dd"))
  }

  /** (full_takeout, recent_takeout) with the reference's "-15d" default. */
  def parseAndSplit(spark: SparkSession, root: String,
      threshold: String = "-15d"): (DataFrame, DataFrame) = {
    val parsed = parse(spark, root)
    RecencySplit.split(parsed, col("timestamp"), col("user_id"), threshold)
  }
}
