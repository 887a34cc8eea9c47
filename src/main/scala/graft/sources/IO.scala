package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY §2.1 S1-S3, S5): schema-first readers, a
  * partition-aware JDBC layer (the reference's Postgres scans/inserts,
  * psycopg2 row loops → set-based reads/writes), and the byte-budget
  * prefix sampler (createdataset.py).
  *
  * All connection config is injected — the reference's hardcoded
  * credentials (process_publications_dag.py:16-22) are explicitly not
  * replicated.
  */
object IO {

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header).csv(path)

  /** JDBC connection config — injected, never literal. */
  final case class JdbcConfig(url: String, user: String, password: String,
      driver: String = "org.postgresql.Driver")

  /** S2: partitioned JDBC table scan. `partitionColumn`+bounds split the
    * read into `numPartitions` parallel range queries — the single-cursor
    * `SELECT *` of the reference serializes the whole table through one
    * connection; at 100 TB the partitioned form is the only viable shape.
    */
  def readJdbc(spark: SparkSession, cfg: JdbcConfig, table: String,
      partitionColumn: Option[String] = None,
      lowerBound: Long = 0, upperBound: Long = 0,
      numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("driver", cfg.driver)
    partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", lowerBound)
        .option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }.load()
  }

  /** S3: batched JDBC append — replaces the reference's row-at-a-time
    * INSERT loops (`execute_values` batching comes free from the JDBC
    * writer's `batchsize`).
    */
  def writeJdbc(df: DataFrame, cfg: JdbcConfig, table: String,
      mode: SaveMode = SaveMode.Append, batchSize: Int = 10000): Unit =
    df.write.format("jdbc")
      .option("url", cfg.url)
      .option("dbtable", table)
      .option("user", cfg.user)
      .option("password", cfg.password)
      .option("driver", cfg.driver)
      .option("batchsize", batchSize)
      .mode(mode)
      .save()

  /** Parquet sink partitioned by columns — the at-rest layout knob that
    * decides partition pruning for every downstream reader.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC source/sink — same columnar pushdown/pruning properties as
    * parquet for shops standardized on ORC.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** CSV sink (header on by default) — the interchange format; prefer the
    * columnar sinks for anything read back by the engine.
    */
  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", header).csv(path)

  /** S5: byte-budget prefix sampler (createdataset.py:26-36): keep rows in
    * order while the cumulative serialized size stays ≤ `targetBytes` —
    * the row that would cross the budget is EXCLUDED
    * (`if bytes_written + len(line) > target: break`). The CUT RULE
    * mirrors the reference; row sizes are measured as compact
    * `to_json` + newline, which is smaller than the reference's raw
    * snapshot lines (python json keeps null fields and ': ' spacing), so
    * the same budget admits somewhat more rows than the reference script
    * would. Distributed and exact for its own size measure: one pass
    * computes per-partition byte subtotals, the driver prefix-sums them
    * (tiny), a second pass cuts each partition at its byte offset.
    */
  def byteBudgetPrefix(df: DataFrame, targetBytes: Long): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val sized = df.withColumn("__bytes",
      length(to_json(struct(df.columns.map(col).toSeq: _*))).cast("long") + 1)
    val perPartition = sized.select(col("__bytes")).rdd
      .mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.map(_.getLong(0)).sum))
      }.collect().sortBy(_._1)
    val offsets = perPartition.map(_._2).scanLeft(0L)(_ + _) // bytes before partition i
    val rows = sized.rdd.mapPartitionsWithIndex { (i, it) =>
      var running = offsets(i)
      it.takeWhile { r =>
        running += r.getLong(r.length - 1)
        running <= targetBytes // the crossing row is excluded (py:28-30)
      }
    }
    spark.createDataFrame(
      rows.map(r => Row.fromSeq(r.toSeq.dropRight(1))), schema)
  }
}
