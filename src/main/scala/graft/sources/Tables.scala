package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Schema-pinned readers over the driver parquet fixtures
  * (/root/repo/TESTDATA.md). Parquet carries the authoritative schema;
  * these helpers centralize path layout so every operator reads the same way
  * and Catalyst can push filters/pruning into the scan.
  *
  * Reference analogue: the line-oriented text scan + naive CSV split at
  * /root/reference/src/LDATopicModelingWithGibbs.py:28-31 (S1/S2 in
  * SURVEY.md §2.1); a real parquet/CSV reader subsumes both.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events fixture stores ts as parquet TIMESTAMP(NANOS), which Spark 4
    * rejects unless spark.sql.legacy.parquet.nanosAsLong is set (it is, in
    * every session builder here). The long nanos (µs-aligned in the fixture)
    * are converted back to a proper TimestampType column on read.
    * INTEGER division is essential: `/` on longs promotes to double, and
    * 2024-era nano epochs (~1.7e18) exceed 2^53, so double division puts
    * ~1.6% of µs-aligned timestamps off by 1 µs vs engines that read the
    * nanos exactly. */
  def nanosLongToTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Spark 4.1.2 reads parquet TIMESTAMP(NANOS) as TIMESTAMP_NTZ and no
        // longer honors nanosAsLong; with the session timezone pinned to UTC
        // the NTZ wall clock IS the UTC instant, so this cast reproduces the
        // long→timestamp_micros path bit-for-bit (fixture is µs-aligned).
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    nanosLongToTs(table(spark, dir, "events"))
  /** INVARIANT: doc_id is unique (the fixture generator emits it as a
    * sequence). pipeline_curate's doc_id-only group key relies on this —
    * duplicate doc_ids would merge token stats across distinct texts. */
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** CSV reader with an explicit schema — never infer in production paths
    * (SURVEY.md §1.3). Quote-aware: fixes the reference's naive split(',')
    * (LDATopicModelingWithGibbs.py:31) which breaks on text containing commas.
    */
  def csv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
      header: Boolean = true, multiLine: Boolean = false): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", multiLine.toString)
      .schema(schema)
      .csv(path)
}
