package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch table sources/sinks and the storage-layout utilities that make the
  * 100 TB posture concrete. The reference's only "source" is a Kafka topic
  * (SURVEY §2.1); the batch engine reads Parquet tables and controls HOW
  * they are laid out, because at scale the layout *is* the query plan:
  *
  *  - **partitionBy(dates/categories)** → partition pruning: a filter on the
  *    partition column skips whole directories before any IO.
  *  - **bucketBy(key)** → co-located joins/aggregations: two tables bucketed
  *    on the same key by the same bucket count join with ZERO shuffle
  *    (`SortMergeJoin` over pre-shuffled buckets).
  *  - **sortWithinPartitions** → row-group/page min-max pruning inside
  *    Parquet for range predicates on the sort key.
  */
object Tables {

  /** Read a newline-delimited JSON table with an explicit schema. Schema-on
    * -read is mandatory at scale: inference is a full extra pass over the
    * data, and a drifting inferred schema silently changes downstream plans.
    */
  def jsonTable(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "FAILFAST") // corrupt lines fail loudly, not null-rows
      .json(path)

  /** Read a headered CSV table with an explicit schema (no inference pass;
    * `mode=FAILFAST` so corrupt rows fail loudly instead of becoming nulls).
    */
  def csvTable(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("mode", "FAILFAST")
      // validate header names against the schema instead of binding columns
      // positionally — a reordered producer must fail, not silently swap
      .option("enforceSchema", "false")
      .csv(path)

  /** Read an ORC table. ORC is the second columnar format large estates
    * actually hold data in; Spark's native reader gives it the same
    * predicate-pushdown/column-pruning treatment as Parquet, so everything
    * in this engine works unchanged over ORC inputs.
    */
  def orcTable(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Write partitioned by low-cardinality columns (dates, categories):
    * filters on `cols` become directory pruning. `maxRecordsPerFile` bounds
    * file size without an extra repartition shuffle.
    */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
                       maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(cols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Write as a bucketed+sorted managed table: subsequent equi-joins or
    * aggregations on `bucketCols` read the buckets directly instead of
    * shuffling. This is the materialization you'd give the LSH `buckets`
    * column or a join key touched by many queries.
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(tableName)
  }

  /** Repartition-then-sort layout for range-heavy access without a managed
    * table: `repartitionByRange` gives globally ordered files, so min/max
    * footer stats prune file scans for range predicates on `sortCols`.
    */
  def writeRangeLayout(df: DataFrame, path: String, sortCols: Seq[String],
                       numFiles: Int): Unit =
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Morton (Z-order) interleave of two non-negative 32-bit int columns —
    * the multi-dimensional clustering key. A 1-D sort gives one column tight
    * per-file min/max stats and leaves the other spanning the full domain;
    * Z-order keeps BOTH dimensions locally clustered so footer-stats pruning
    * works for predicates on either column. Bit-spreading uses the classic
    * shift/mask ladder — ~10 fused bitwise ops, whole-stage codegen'd.
    */
  def zorder2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def spread(c: org.apache.spark.sql.Column) = {
      // inputs must be non-negative 32-bit values; the mask guarantees the
      // spread ladder sees only the low 32 bits (a negative int would
      // otherwise sign-extend garbage into the interleave)
      var x = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered file layout over two columns: range-partition and sort by the
    * Morton key so per-file min/max stats stay tight on both `colA` and
    * `colB` — file pruning for range predicates on either.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int): Unit = {
    // collision-safe temp name: silently clobbering a user column called
    // "_z" would drop their data from the written table
    val zc = Iterator.from(0).map(i => s"_z$i").find(!df.columns.contains(_)).get
    df.withColumn(zc, zorder2(col(colA), col(colB)))
      .repartitionByRange(numFiles, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
      .write.mode("overwrite").parquet(path)
  }

  /** Zone-map (file min/max footer stats) pruning audit: for each candidate
    * layout — a `(name, fileIdColumn)` assignment of rows to files — compute
    * per-file min/max of `statCol` and report how many files a half-open
    * range predicate `[lo, hi)` on `statCol` would actually have to scan,
    * plus the read amplification in rows. This is the question that decides
    * a 100 TB table's layout: the same predicate against an
    * insertion-ordered layout touches every file (each spans the full
    * domain) while a range/Z-ordered layout touches only the overlapping
    * slice — measured here as `scan_frac` BEFORE committing to a rewrite.
    *
    * One scan of the input: layouts fan out via a per-row explode (k small
    * structs per row, codegen'd), per-(layout, file) stats are one
    * partial-aggregated shuffle whose key space is Σ files — thousands of
    * rows, not the data — and the final per-layout rollup is a second
    * shuffle over that census.
    */
  def zoneMapAudit(df: DataFrame, layouts: Seq[(String, org.apache.spark.sql.Column)],
                   statCol: org.apache.spark.sql.Column,
                   lo: org.apache.spark.sql.Column,
                   hi: org.apache.spark.sql.Column): DataFrame = {
    val hit = when(statCol >= lo && statCol < hi, 1L).otherwise(0L)
    val fanned = df.select(explode(array(layouts.map { case (name, fid) =>
        struct(lit(name).as("layout"), fid.cast("long").as("file_id"))
      }: _*)).as("__l"), statCol.as("__v"), hit.as("__hit"), lo.as("__lo"), hi.as("__hi"))
    val files = fanned
      .groupBy(col("__l.layout").as("layout"), col("__l.file_id").as("file_id"))
      .agg(count(lit(1)).as("rows_in_file"),
        min(col("__v")).as("mn"), max(col("__v")).as("mx"),
        sum(col("__hit")).as("hits"),
        first(col("__lo")).as("__lo"), first(col("__hi")).as("__hi"))
    val scanned = col("mx") >= col("__lo") && col("mn") < col("__hi")
    files.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(scanned, 1L).otherwise(0L)).as("files_scanned"),
        coalesce(sum(when(scanned, col("rows_in_file"))), lit(0L)).as("rows_scanned"),
        sum(col("hits")).as("selected_rows"))
      .withColumn("scan_frac",
        round(col("files_scanned").cast("double") / col("n_files").cast("double"), 6))
  }
}
