package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)` and reads through here, so filters
  * and projections declared downstream reach the parquet scan (predicate
  * pushdown / column pruning) — at 100 TB the scan is the dominant cost.
  *
  * SCHEMA MEMO: a parquet read without a schema runs a Spark job that opens
  * a footer to infer one (`ParquetUtils.inferSchema`), even with
  * `mergeSchema=false` — about 60 ms of scheduling and job time per table read
  * on a 4-core host, paid by every query. [[parquet]] infers each table's schema once per JVM
  * and hands it to every later read as a user-supplied schema, so inference
  * never runs again. The memo holds one schema per (qualified path, values
  * of [[SchemaConfs]]), stamped with the [[fingerprint]] of the files it
  * was inferred from. A read whose fingerprint differs — the table was
  * rewritten, appended to or replaced — re-infers and replaces the entry;
  * so does a read under different schema-conversion confs. Each call still
  * returns a fresh `spark.read.schema(s).parquet(path)`: new attribute ids
  * (self-joins resolve), Spark's own file listing per read, and the same
  * scan as an inferring read, since inference yields that same schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session confs that change the schema Spark infers from the same
    * parquet files: the footer-to-Catalyst type conversion
    * (`ParquetToSparkSchemaConverter`), which footers are merged, and
    * partition-column typing. */
  private val SchemaConfs: Seq[String] = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** (qualified path, schema conf values) -> (fingerprint, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (String, StructType)]()

  /** The file METADATA under `path` (a file or a directory tree): each
    * leaf's `path:length:mtime`, sorted; no data is read. A rewrite,
    * append or delete changes it. One recursive listing, no Spark job. */
  def fingerprint(fs: FileSystem, path: Path): String = {
    val leaves = fs.listFiles(path, true)
    val out = Seq.newBuilder[String]
    while (leaves.hasNext) {
      val f = leaves.next()
      out += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    out.result().sorted.mkString("|")
  }

  /** `spark.read.parquet(path)` with the schema taken from the memo (see
    * SCHEMA MEMO above); only a miss runs the inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (fs.makeQualified(p).toString, SchemaConfs.map(spark.conf.getOption))
    val stamp = fingerprint(fs, p)
    val schema = Option(schemas.get(key)) match {
      case Some((`stamp`, s)) => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemas.put(key, (stamp, s))
        s
    }
    spark.read.schema(schema).parquet(path)
  }

  /** How many independently-readable units a DataFrame's input offers —
    * the guard every fan-out seam shares. For a parquet-scan-backed plan
    * this is the TOTAL ROW-GROUP count across its files, not the split
    * count: Spark byte-splits one large file into ~parallelism
    * FilePartitions, but a row group is read by exactly ONE task, so a
    * single-row-group file runs single-threaded no matter how it splits
    * (the r15 Tables-level guard used `rdd.getNumPartitions` and silently
    * no-op'd on exactly the large single-file corpora where the serial
    * wall is largest). Footers are only opened when the file count alone
    * cannot prove splittability (fewer files than `target`), so a real
    * multi-file layout — the 100 TB case — never pays a footer read.
    * Non-file-backed inputs (checkpointed RDDs, in-memory relations) fall
    * back to the RDD partition count. */
  private def splittableUnits(df: DataFrame, target: Int): Int = {
    val files = df.inputFiles
    if (files.isEmpty) df.rdd.getNumPartitions
    else if (files.length >= target) files.length
    else {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      files.iterator.map { f =>
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size finally r.close()
        } catch { case _: Throwable => 1 } // non-parquet / unreadable: count as one unit
      }.sum
    }
  }

  /** Fan-out seam for an unsplittable scan feeding an expensive PER-ROW
    * KERNEL (shingle arrays, MinHash signatures, gram digests, quality
    * scores): round-robin repartition to the session's parallelism, ONLY
    * when the input offers fewer splittable units (row groups / RDD
    * partitions — see [[splittableUnits]]) than the session's default
    * parallelism. A no-op on any real multi-file / multi-row-group layout,
    * so the 100 TB plan shape is untouched. Applied INSIDE the
    * kernel-heavy operators, never at the table read: the r15 blanket
    * variant on every documents/embeddings read taxed ~14 light
    * text queries 20–100% (driver-measured at both 8 and 32 cores) for
    * wins that only the kernel paths collect. */
  def fanOutKernel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // fire only on a >= 2x parallelism deficit: the fan-out pays a full
    // exchange, which a 30-units-vs-32-cores layout (the x30 corpus)
    // cannot amortize — the serial-wall case it exists for is orders of
    // magnitude under target, not marginally
    if (2 * splittableUnits(df, target) >= target) df else df.repartition(target)
  }

  /** Query-level fan-out seam for an unsplittable relational scan feeding
    * an expensive SELF-JOIN (pair generation): hash-repartition on the
    * join key — no round-robin pre-sort, and the exchange IS the join's
    * required distribution, so nothing extra moves — but only when the
    * scan offers fewer splittable units than the session's parallelism
    * (the single-row-group case; a no-op on any real multi-file layout,
    * so the 100 TB plan shape is untouched). A Tables-level variant for
    * ALL relational reads was measured and REJECTED in r15: it broke the
    * one-slim-shuffle / pruning plan audits of eleven scan-aggregate
    * queries for a win that only exists at local file sizes. */
  def fanOutOn(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (splittableUnits(df, target) >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    if (name == "events") {
      // Contract for every events query: `ts` is a LONG of nanoseconds
      // since epoch, so `ts div 1000000` is the millisecond timestamp that
      // DuckDB's epoch_ms(ts) produces on the same rows. The driver has
      // shipped the column as TIMESTAMP(NANOS) (readable only via
      // nanosAsLong) and as TIMESTAMP(MICROS) (which Spark 4 reads as
      // TIMESTAMP_NTZ) — normalize both to the Long-nanos contract here so
      // the queries and their oracles never track the physical type.
      // timestampdiff is timezone-free on NTZ (no session-tz dependence).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => df
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000L"))
        case org.apache.spark.sql.types.TimestampType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.unix_micros(
              org.apache.spark.sql.functions.col("ts")) * 1000L)
        case other =>
          throw new IllegalStateException(s"events.ts unsupported type: $other")
      }
    } else parquet(spark, s"$sfDir/$name.parquet")
  }
}
