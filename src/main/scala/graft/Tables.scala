package graft

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All engine operators take DataFrames; these helpers only centralize the
  * path convention `<sfDir>/<table>.parquet`. Reads are plain parquet scans so
  * Catalyst predicate pushdown / column pruning apply unimpeded.
  *
  * Building a loader's DataFrame starts no Spark job. The schema comes from
  * ONE parquet footer read on the driver ([[parquetSchema]]) and is handed
  * to the reader, so Spark skips its schema-inference job (a whole job to
  * read one footer, ~70-90 ms of scheduling per loader call on a 4-core
  * box, paid on every query build). The file picked is the one Spark's
  * own non-merging inference reads: `_common_metadata` if present, else
  * `_metadata`, else the first data file in path order, skipping other
  * hidden `_`/`.` files (`_SUCCESS`, `.crc`). Like that inference, it
  * assumes every part file shares the picked file's schema.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema Spark's non-merging parquet inference gives `path` (a file
    * or a directory), resolved from one footer on the driver without a
    * Spark job. Fails, naming the path, when the path is missing or holds
    * no data file, and fails when `spark.sql.parquet.mergeSchema` is on:
    * one footer cannot stand for a merged schema. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    require(!spark.conf.get(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key).toBoolean,
      s"Tables: ${SQLConf.PARQUET_SCHEMA_MERGING_ENABLED.key}=true is not " +
        s"supported; the loaders read one footer per table ($path)")
    val conf = FooterBridge.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val rootStatus =
      try fs.getFileStatus(root)
      catch { case e: FileNotFoundException =>
        throw new IllegalArgumentException(s"Tables: no parquet table at $path", e)
      }
    def summary(n: String) = n == "_common_metadata" || n == "_metadata"
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot { c => val n = c.getPath.getName; hidden(n) && !summary(n) }
        .flatMap(leaves)
    val files = leaves(rootStatus).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !summary(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"Tables: no parquet data file under $path"))
    FooterBridge.footerSchema(spark, pick, conf)
  }

  /** `schema` with every top-level TIMESTAMP_NTZ column re-typed as a µs
    * TIMESTAMP: read through the reader schema, the column's instant is
    * the stored wall clock read as UTC — the same value [[ntzAsUtcInstant]]
    * computes (the parquet int64 micros pass through unchanged, so this is
    * session-timezone-independent like the expression form). The
    * difference is plan shape, not values: a filter on the column reaches
    * the scan as a parquet pushdown predicate (PushedFilters gains the
    * comparison, enabling row-group min/max skipping — q3_join plans
    * showed the projection form reduced pushdown to bare IsNotNull), and
    * no per-row
    * timestampdiff/timestamp_micros conversion runs. Value parity with
    * the expression form is pinned by TablesSpec. */
  private def ntzAsUtc(schema: StructType): StructType = StructType(schema.map {
    case f if f.dataType == TimestampNTZType => f.copy(dataType = TimestampType)
    case f => f
  })

  private def loadNtzAsUtc(spark: SparkSession, sfDir: String,
                           table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    spark.read.schema(ntzAsUtc(parquetSchema(spark, path))).parquet(path)
  }

  /** Ceiling for the tiny-input rebalance below: a table at most this
    * big may pay one extra round-robin exchange to unblock map-side
    * parallelism; anything larger keeps its scan partitioning. */
  private val RebalanceMaxBytes: Long = 256L << 20

  // one decision per (session, table path): the probe plans a physical
  // scan (file listing + split planning), which is not free to repeat on
  // every query construction
  private val rebalanceCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Boolean]()

  /** Rebalance for UNDER-SPLIT tiny inputs whose downstream map kernels
    * are CPU-heavy (guide §2; the round brief's "derive partitioning from
    * input size, not a constant tuned for local mode or the cluster"). A
    * parquet file with one row group yields exactly one scan task
    * regardless of `files.maxPartitionBytes` (row groups are
    * unsplittable), so a map-side kernel over it — tokenizers, shingle
    * hash families, the ~170× fuzzy deletion-band explode — serializes on
    * one core while the other N−1 idle; the driver testdata ships every
    * table in exactly that layout. When the planned scan parallelism is
    * below the session default AND the table is tiny
    * (≤ [[RebalanceMaxBytes]]), insert ONE hash repartition on the
    * table's natural unique key: deterministic per row (so no
    * sort-before-repartition pass — the r20 blanket ROUND-ROBIN attempt
    * measured that hidden whole-row sort at ~+0.6 s on EVERY query's
    * single scan task and was rolled back for this form), unique (so no
    * skew), and the moved payload is bounded-tiny. At production scale
    * (many files / many row groups) the partition count clears the bound
    * and this is the identity — the condition derives from the input.
    * Applied ONLY to the tables whose per-row kernels dominate their
    * scans (documents: text kernels; customer: the fuzzy explode) — for
    * the fact tables the map work between scan and first shuffle is too
    * cheap to buy back an extra exchange of the full payload, measured
    * not guessed (q1_agg 0.2→1.2 s under the blanket form). Filters and
    * column pruning push through a RepartitionByExpression node, so
    * PushedFilters/ReadSchema at the scan are unchanged (TablesSpec pins
    * the pushdown). */
  private def rebalanceTiny(spark: SparkSession, df: DataFrame,
                            path: String, key: String): DataFrame = {
    val para = spark.sparkContext.defaultParallelism
    val doIt = rebalanceCache.computeIfAbsent(
      (spark.sparkContext.applicationId, path),
      _ => df.rdd.getNumPartitions < para &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= RebalanceMaxBytes)
    if (doIt) df.repartition(para, org.apache.spark.sql.functions.col(key))
    else df
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   =
    loadNtzAsUtc(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     =
    loadNtzAsUtc(spark, sfDir, "orders")
  // plain loader: the relational consumers (q3_join, q5_multijoin,
  // q_semi_anti, q_upsert) do trivial map work between scan and first
  // join, so an extra exchange of the payload buys nothing (r20 verdict:
  // the blanket customer rebalance cost q_semi_anti 8→72 tasks and an
  // extra exchange on q3/q5). The pure dims (supplier/part/nation/
  // region) are broadcast-sized with no map-side work worth an exchange
  def customer(spark: SparkSession, sfDir: String): DataFrame   =
    load(spark, sfDir, "customer")

  /** [[customer]] with the tiny-input rebalance — ONLY for consumers
    * whose per-row map kernel dominates the scan (the fuzzy join's ~170×
    * deletion-band explode). Mirrors the documents/documentsKernel
    * split: kernel consumers get scan-side parallelism, join-only
    * consumers keep the plain scan (and its runtime-bloom eligibility). */
  def customerKernel(spark: SparkSession, sfDir: String): DataFrame =
    rebalanceTiny(spark, load(spark, sfDir, "customer"),
      s"$sfDir/customer.parquet", "c_custkey")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  /** events.ts has shipped in two physical forms across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (unreadable as a timestamp in
    * Spark 4 — read as raw long ns via the legacy conf) and, since r9,
    * untagged µs (`timestamp[us]`, isAdjustedToUTC=false → TIMESTAMP_NTZ).
    * Normalize either to a µs TIMESTAMP whose instant is the stored wall
    * clock read as UTC — exactly the value DuckDB-side oracles see via
    * epoch_us(ts), independent of `spark.sql.session.timeZone`.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = parquetSchema(spark, path)
    schema("ts").dataType match {
      // untagged-µs form: reader-schema swap (see ntzAsUtc) so ts
      // predicates stay pushdown-eligible and no per-row rewrite runs
      case TimestampNTZType => spark.read.schema(ntzAsUtc(schema)).parquet(path)
      // legacy TIMESTAMP(NANOS)-as-long form: the expression rewrite is
      // unavoidable (ns→µs integer division per row)
      case LongType => normalizeEventTs(spark.read.schema(schema).parquet(path))
      case _ => spark.read.schema(schema).parquet(path)
    }
  }

  /** ts → µs TIMESTAMP (instant = stored wall clock as UTC), whatever the
    * physical representation was. Shared by batch and streaming reads. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    raw.schema("ts").dataType match {
      // ns→µs MUST be integer division: `/` on longs promotes to double, and
      // epoch-ns (~1.7e18) exceeds double's 2^53 mantissa → off-by-1µs noise.
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => ntzAsUtcInstant(raw, "ts")
    }
  }

  /** If `c` is TIMESTAMP_NTZ, reinterpret its wall clock as a UTC instant
    * (µs TIMESTAMP). timestampdiff on two NTZ values is pure wall-clock
    * arithmetic, so this pins "NTZ means UTC" without consulting the
    * session time zone — a plain NTZ→TIMESTAMP cast would shift by
    * whatever tz the driver's session happens to run in, and the DuckDB
    * oracle reads the same bytes as naive wall clocks. */
  def ntzAsUtcInstant(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    df.schema(c).dataType match {
      case TimestampNTZType => df.withColumn(c, timestamp_micros(
        expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $c)")))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")

  /** [[documents]] with the tiny-input rebalance — for consumers whose
    * per-row map KERNEL dominates the scan (md5 shingle sets, the
    * Stupid-Backoff gate scorer, multi-regex redaction/quality/langid
    * chains). Light-map consumers (single md5, split-and-count, id
    * hashing) keep the plain loader: for them the extra exchange of the
    * text payload costs more than one core's worth of map work saves —
    * measured per query in the r20 bench A/B, not assumed (dedup_minhash
    * 1.2→0.9 s, dedup_ngram 0.9→0.5, curation_gate 0.7→0.3, text_pii
    * 0.5→0.2 with the rebalance vs dedup_exact 0.2→0.6, doc_stratified
    * 0.3→0.8 under a blanket one). */
  def documentsKernel(spark: SparkSession, sfDir: String): DataFrame =
    rebalanceTiny(spark, load(spark, sfDir, "documents"),
      s"$sfDir/documents.parquet", "doc_id")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Session-tz-independent timestamp literal: the given ISO date (or
    * `yyyy-MM-dd HH:mm:ss` timestamp) as a UTC instant. The tables above
    * pin their NTZ wall clocks to UTC instants, but a bare
    * `lit(s).cast("timestamp")` parses in `spark.sql.session.timeZone` —
    * correct only under a UTC session; a non-UTC driver would shift every
    * date-literal filter boundary by the zone offset (r9 advice). This
    * resolves the epoch offset driver-side with java.time, so the filter
    * compares instant-to-instant whatever the session zone is. */
  def utcTs(isoDateOrTs: String): org.apache.spark.sql.Column = {
    val ldt =
      if (isoDateOrTs.length == 10)
        java.time.LocalDate.parse(isoDateOrTs).atStartOfDay()
      else java.time.LocalDateTime.parse(isoDateOrTs.replace(' ', 'T'))
    org.apache.spark.sql.functions.timestamp_micros(
      org.apache.spark.sql.functions.lit(
        java.time.temporal.ChronoUnit.MICROS.between(
          java.time.Instant.EPOCH, ldt.toInstant(java.time.ZoneOffset.UTC))))
  }
}
