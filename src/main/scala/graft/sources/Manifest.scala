package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-statistics manifest — the metadata layer that makes planning-time
  * data skipping possible WITHOUT opening a single data file.
  *
  * Parquet footers already carry min/max, and [[Layout]] makes them tight
  * — but footer pruning still costs one open+read per FILE per query. At
  * 100 TB a table is millions of files; "skip 99.9% of the data" via
  * footers alone still means millions of S3 GETs just to decide what to
  * skip. Table formats (Delta, Iceberg, Hudi) all converge on the same
  * fix: hoist per-file stats into a separate, tiny manifest consulted at
  * PLANNING time, so the scan is constructed from the surviving file list
  * and the object store never hears about the rest. This is that layer in
  * its minimal honest form:
  *
  *  - [[build]] — one distributed scan of the table computes per-file
  *    (row count, per-column min/max/null-count). O(files) rows out.
  *  - [[prune]] — interval predicates evaluated against the manifest;
  *    returns the surviving file list. Runs ON THE MANIFEST (KBs-MBs),
  *    never the table.
  *  - [[readPruned]] — constructs a scan over only the surviving files,
  *    re-applies the exact predicate (manifest pruning is conservative:
  *    a surviving file may still hold zero matching rows), and — because
  *    a stale manifest silently DROPS data — refuses to serve a
  *    directory whose file set no longer matches the manifest.
  *
  * The driver-side file list is planner state, the same object a table
  * format's log replay holds; it is bounded by the table's file count at
  * build time and by predicate selectivity at read time.
  *
  * MEASURED CEILING (r18, a one-off probe over synthesized
  * 10k/100k/300k-file tables, BENCH_FORENSICS_r18_manifest.txt): the
  * driver-side terms are linear in the file count at ~324 bytes of
  * collected row per file — 10k files: prune 85-91 ms, requireFresh
  * 381 ms, update-with-nothing-changed 358 ms, 3.2 MB driver; 100k
  * files: prune 79-112 ms, requireFresh 3.58 s, update-noop 3.50 s,
  * 32.4 MB driver; 300k files: requireFresh 9.30 s, update-noop
  * 10.17 s, 97.2 MB driver — a measured three-point LINE, not an
  * extrapolation; an 8-file increment's update costs the noop term +
  * ~0.4-1.3 s of scan at every size (O(increment) holds). On that
  * line, a 100 TB table at the 128 MB target file size (~800k files)
  * pays ~26-28 s per freshness gate / update and ~260 MB of driver
  * state — inside a planner's budget, so the flat per-file manifest
  * covers the design target. The regime that
  * needs a TWO-LEVEL manifest (per-partition manifests + a manifest of
  * manifests, the Iceberg manifest-list shape) is ~1M+ files or
  * maintenance latency under a few seconds: both gates collect EVERY
  * row today, where a partition-grouped layer would localize
  * requireFresh/update to the touched partition and prune to the
  * surviving groups. `prune`'s own filter stays sub-second far past
  * that (it is a localized-relation scan, not a collect-per-call).
  */
object Manifest {

  private val FileCol = "_file"
  private val LenCol = "_file_len"
  private val MtimeCol = "_file_mtime"

  /** Per-file stats in ONE scan: `groupBy(input_file_name())` makes every
    * statistic a partial (map-side) aggregate, so each file's stats are
    * computed by the tasks that read it and only O(files × cols) summary
    * rows move. Columns beyond `cols` cost nothing (column-pruned scan). */
  def build(spark: SparkSession, tablePath: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "manifest: need at least one stats column")
    val df = spark.read.parquet(tablePath)
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"manifest: column(s) ${missing.mkString(", ")} not in $tablePath " +
        s"(has: ${df.columns.mkString(", ")})")
    buildForFiles(spark, listDataFiles(spark, tablePath), cols)
  }

  /** The stats scan for an EXPLICIT file set — one job over exactly
    * those files; what [[build]] runs on a directory listing and
    * [[GroupedManifest.writeGroup]] runs on one group's files. */
  private[sources] def buildForFiles(spark: SparkSession,
                                     files: Seq[(String, Long, Long)],
                                     cols: Seq[String]): DataFrame = {
    require(files.nonEmpty, "manifest: no files to scan")
    val stats = spark.read.parquet(files.map(_._1): _*)
      .groupBy(input_file_name().as(FileCol))
      .agg(count(lit(1)).as("n_rows"), statsAggs(cols): _*)
    // a ZERO-ROW parquet file (metadata-only part file of an empty
    // append) contributes no group above but exists on disk — without a
    // manifest row it would permanently fail the staleness gate with no
    // way to converge. Give it an explicit n_rows=0 row (null min/max,
    // so every interval prunes it — correct, it holds nothing).
    completeWithEmpty(spark, stats, files)
  }

  /** The per-column stats expressions — ONE definition shared by the
    * full build and the incremental update, so the stats layout cannot
    * drift between the two construction paths. */
  private def statsAggs(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull"))
    }

  /** The directory's data files WITH their on-disk byte lengths AND
    * modification times — ONE definition of what counts as a data file,
    * shared by build/update/requireFresh. Both travel into the manifest
    * row and the freshness comparison: identity by path alone would let
    * a file REWRITTEN IN PLACE under the same name keep its stale
    * min/max (the staleness gate passes, prune excludes a file whose new
    * rows match the predicate — the silent-row-drop failure mode this
    * layer promises can never happen quietly), and identity by
    * (path, length) alone would still miss a rewrite that happens to
    * land on the same byte count. The mtime comes from the SAME
    * listStatus call, so the stronger identity costs nothing. Residual
    * best-effort window: a same-length rewrite within the filesystem's
    * mtime resolution — the object stores a 100 TB table lives on stamp
    * every PUT, and that window is theirs, not ours. */
  private[graft] def listDataFiles(spark: SparkSession,
                            tablePath: String): Seq[(String, Long, Long)] = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(tablePath))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toUri.toString, s.getLen, s.getModificationTime))
      .toSeq
  }

  /** Localize `stats`, append each file's on-disk byte length and
    * modification time, and add n_rows=0 rows (null min/max, 0 nulls)
    * for any of `allFiles` the aggregation could not see (zero-row
    * files). */
  private def completeWithEmpty(spark: SparkSession, stats: DataFrame,
                                allFiles: Seq[(String, Long, Long)]): DataFrame = {
    val idents = allFiles.map { case (f, l, t) => normalize(f) -> ((l, t)) }.toMap
    def identOf(f: String): (Long, Long) = idents.getOrElse(normalize(f),
      sys.error(s"manifest: scanned file $f absent from the directory " +
        "listing — concurrent writer? Rebuild the manifest."))
    val rows = stats.collect()
      .map { r =>
        val (len, mtime) = identOf(r.getString(0))
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ len :+ mtime)
      }
    val seen = rows.map(r => normalize(r.getString(0))).toSet
    val emptyRows = allFiles.filterNot { case (f, _, _) => seen.contains(normalize(f)) }
      .map { case (f, len, mtime) =>
        val tail: Seq[Any] = stats.schema.fields.drop(2).toSeq.map { fld =>
          if (fld.name.endsWith("__nnull")) 0L else null
        }
        org.apache.spark.sql.Row.fromSeq((f +: 0L +: tail) :+ len :+ mtime)
      }
    val schema = stats.schema
      .add(LenCol, org.apache.spark.sql.types.LongType, nullable = false)
      .add(MtimeCol, org.apache.spark.sql.types.LongType, nullable = false)
    spark.createDataFrame(
      java.util.Arrays.asList((rows.toSeq ++ emptyRows): _*), schema)
  }

  /** Persist a manifest as a single small parquet file (it is O(files)
    * rows — planner metadata, not data). */
  def write(manifest: DataFrame, manifestPath: String): Unit =
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(manifestPath)

  def read(spark: SparkSession, manifestPath: String): DataFrame =
    spark.read.parquet(manifestPath)

  /** Surviving files for a conjunction of closed-interval predicates
    * `col BETWEEN lo AND hi` (either bound may be null for one-sided
    * ranges). A file survives unless some interval PROVABLY excludes it:
    * its max below lo or its min above hi. Files where the column is
    * entirely null have null min/max and cannot satisfy a range
    * predicate on any row — they are excluded for that interval, which
    * is exactly what the re-applied exact predicate would do row-wise.
    * Conservative by construction: never drops a file that could hold a
    * matching row. */
  /** The can-this-summary-row-satisfy-the-intervals condition over
    * `<col>__min`/`<col>__max` stats columns — ONE definition shared by
    * the per-file prune and [[GroupedManifest]]'s per-group prune (the
    * same conservative logic applies at every level of a stats tree). */
  private[sources] def pruneCondition(
      intervals: Map[String, (Any, Any)]): Column = {
    require(intervals.nonEmpty, "manifest: no intervals to prune on")
    intervals.map { case (c, (lo, hi)) =>
      val minC = col(s"${c}__min")
      val maxC = col(s"${c}__max")
      val loOk = if (lo == null) minC.isNotNull else maxC >= lit(lo)
      val hiOk = if (hi == null) minC.isNotNull else minC <= lit(hi)
      loOk && hiOk
    }.reduce(_ && _)
  }

  def prune(manifest: DataFrame, intervals: Map[String, (Any, Any)],
            maxFiles: Int = 1 << 20): Seq[String] = {
    val cond = pruneCondition(intervals)
    // maxFiles + 1 would overflow at Int.MaxValue — which the error
    // message below explicitly invites callers to raise it to
    val lim = if (maxFiles >= Int.MaxValue) Int.MaxValue else maxFiles + 1
    val survivors = manifest.filter(cond).select(col(FileCol))
      .limit(lim).collect().map(_.getString(0)).toSeq
    require(survivors.length <= maxFiles,
      s"manifest: more than $maxFiles files survive pruning — this file " +
        "list is driver/planner state; raise maxFiles deliberately or " +
        "tighten the predicate")
    survivors
  }

  /** The staleness gate: the (path, byte length, mtime) set of data
    * files on disk must EQUAL the manifest's. A manifest missing new
    * files would silently drop their rows from every pruned read, and a
    * file REWRITTEN IN PLACE under the same name (length OR mtime
    * changed) carries stale min/max that could prune away its new rows —
    * both are the one failure mode a skipping layer must never have
    * quietly. (Table formats solve this by making the manifest the
    * source of truth for commits; for a plain directory, refusing loudly
    * is the honest contract.) Flat (unpartitioned) directories — the
    * layout [[Layout]] writes; hive-partitioned trees should manifest
    * each leaf. */
  /** A manifest written before the identity columns existed would
    * otherwise die in an unexplained UNRESOLVED_COLUMN / fieldIndex
    * error deep inside the gate — name the migration instead. */
  private def requireIdentityColumns(manifest: DataFrame): Unit =
    require(manifest.columns.contains(LenCol) &&
        manifest.columns.contains(MtimeCol),
      s"manifest: no $LenCol/$MtimeCol column(s) — this manifest " +
        "predates rewrite detection (built by an older Manifest.build). " +
        "Rebuild it; byte length + modification time are what catch " +
        "files rewritten in place.")

  def requireFresh(spark: SparkSession, tablePath: String,
                   manifest: DataFrame): Unit = {
    requireIdentityColumns(manifest)
    val inManifest = manifest.select(col(FileCol), col(LenCol), col(MtimeCol))
      .collect()
      .map(r => normalize(r.getString(0)) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val disk = listDataFiles(spark, tablePath)
      .map { case (f, l, t) => normalize(f) -> ((l, t)) }.toMap
    val missing = disk.keySet -- inManifest.keySet
    val gone = inManifest.keySet -- disk.keySet
    val rewritten = (disk.keySet & inManifest.keySet)
      .filter(f => disk(f) != inManifest(f))
    require(missing.isEmpty && gone.isEmpty && rewritten.isEmpty,
      s"manifest: stale vs $tablePath — ${missing.size} file(s) on disk " +
        s"missing from manifest, ${gone.size} manifest file(s) gone from " +
        s"disk, ${rewritten.size} file(s) rewritten in place (byte length " +
        "or modification time changed under the same name; their manifest " +
        "stats are stale). Rebuild the manifest before pruned reads.")
  }

  /** Write `df` AND its manifest in one call — the ingest path that
    * leaves no staleness window for a single writer: data lands first,
    * the manifest is built from exactly the files just written, then
    * persisted. With concurrent writers to the same directory this is
    * NOT a transaction (that is what table formats' commit logs are
    * for — see [[requireFresh]]'s scaladoc); for the single-ingest-job
    * pattern the layout writers serve, the pair is consistent by
    * construction and [[readPruned]]'s staleness gate passes without a
    * rebuild. Returns the manifest. */
  def writeWithManifest(df: DataFrame, tablePath: String,
                        manifestPath: String, cols: Seq[String],
                        nFiles: Int, clusterBy: Seq[String]): DataFrame = {
    require(clusterBy.nonEmpty,
      "manifest: clusterBy must be non-empty — an unclustered write " +
        "gives every file full-domain stats and the manifest prunes nothing")
    // validate the stats columns BEFORE the destructive overwrite: a
    // typo'd column failing inside build() AFTER the write would leave
    // new data paired with the old manifest — the exact inconsistent
    // state this function exists to prevent
    val badCols = cols.filterNot(df.columns.contains)
    require(badCols.isEmpty,
      s"manifest: stats column(s) ${badCols.mkString(", ")} not in the " +
        s"DataFrame (has: ${df.columns.mkString(", ")}) — refusing before " +
        "the table write")
    Layout.writeClustered(df, tablePath, nFiles, clusterBy: _*)
    val spark = df.sparkSession
    val m = build(spark, tablePath, cols)
    write(m, manifestPath)
    read(spark, manifestPath)
  }

  /** Incremental manifest maintenance: bring `manifest` up to date with
    * the directory by scanning ONLY the files the manifest has not seen
    * — stats rows for gone files are dropped, stats for new files AND
    * files rewritten in place (same name, different byte length — their
    * old stats are stale) are computed from a scan of just those files,
    * everything else is reused untouched. After an append-style ingest
    * the maintenance cost tracks the INCREMENT, not the table — the
    * property that keeps a manifest viable at 100 TB where a full
    * [[build]] per ingest would re-scan everything. The stats columns
    * are taken from the existing manifest's schema, so the update is
    * column-consistent by construction. Returns the refreshed manifest
    * (localized — pass it straight to [[prune]]/[[readPruned]] or
    * persist via [[write]]). */
  def update(spark: SparkSession, tablePath: String,
             manifest: DataFrame): DataFrame = {
    requireIdentityColumns(manifest)
    val snapRows = manifest.collect() // evaluate the lineage exactly once
    val schema = manifest.schema
    val fileIdx = schema.fieldIndex(FileCol)
    val lenIdx = schema.fieldIndex(LenCol)
    val mtimeIdx = schema.fieldIndex(MtimeCol)
    val statCols = schema.fieldNames.filter(_.endsWith("__min"))
      .map(_.stripSuffix("__min")).toSeq
    require(statCols.nonEmpty,
      "manifest: no stats columns recognized — was this built by Manifest.build?")
    val diskFiles = listDataFiles(spark, tablePath)
    val disk = diskFiles.map { case (f, l, t) => normalize(f) -> ((l, t)) }.toMap
    // both directions driver-side over the already-collected rows — the
    // rows ARE local; routing a million-literal isin through Catalyst to
    // re-derive a set intersection would be planner abuse. A row is kept
    // only if its file is still on disk AT THE SAME (byte length, mtime)
    // — identity by path alone would reuse stale stats for a file
    // rewritten in place under its old name, and path+length alone would
    // miss a same-size rewrite.
    val keptRows = snapRows.filter(r =>
      disk.get(normalize(r.getString(fileIdx)))
        .contains((r.getLong(lenIdx), r.getLong(mtimeIdx))))
    val known = keptRows.map(r => normalize(r.getString(fileIdx))).toSet
    val newFiles = diskFiles.filterNot { case (f, _, _) =>
      known.contains(normalize(f)) }
    val kept = spark.createDataFrame(
      java.util.Arrays.asList(keptRows.toSeq: _*), schema)
    if (newFiles.isEmpty) kept
    else {
      val fresh = spark.read.parquet(newFiles.map(_._1): _*)
        .groupBy(input_file_name().as(FileCol))
        .agg(count(lit(1)).as("n_rows"), statsAggs(statCols): _*)
      localize(kept.unionByName(completeWithEmpty(spark, fresh, newFiles)))
    }
  }

  /** Materialize a manifest's rows into a driver-local relation so
    * downstream consultations cost zero jobs. */
  private[sources] def localize(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    val rows = java.util.Arrays.asList(manifest.collect(): _*)
    spark.createDataFrame(rows, manifest.schema)
  }

  /** `input_file_name()` and Hadoop listings render the same file with
    * different scheme spellings (`file:///x` vs `file:/x`); compare on
    * scheme-stripped paths. */
  private[graft] def normalize(uri: String): String =
    uri.replaceFirst("^[a-zA-Z0-9+.-]+:/+", "/")

  /** A scan over only the files that can satisfy `intervals`, with the
    * exact closed-interval predicates re-applied row-wise. Fails loudly
    * on a stale manifest (see [[requireFresh]]); `staleCheck = false` is
    * for callers whose ingest already guarantees manifest/table atomicity.
    * Returns an empty Dataset with the table's schema when nothing
    * survives. */
  def readPruned(spark: SparkSession, tablePath: String, manifest: DataFrame,
                 intervals: Map[String, (Any, Any)],
                 staleCheck: Boolean = true): DataFrame = {
    // evaluate the manifest's lineage ONCE: a freshly built (unpersisted)
    // manifest is a whole-table aggregation, and consulting it lazily in
    // both the staleness gate and the prune would re-run that scan twice
    // — the planning layer re-reading the table it exists to avoid. The
    // manifest is O(files) rows (bounded planner state by design), so
    // snapshotting it to a local relation is the same budget class as
    // prune's own collect.
    val snap = localize(manifest)
    if (staleCheck) requireFresh(spark, tablePath, snap)
    val files = prune(snap, intervals)
    val base =
      if (files.isEmpty)
        spark.read.parquet(tablePath).limit(0)
      else spark.read.parquet(files: _*)
    val exact = intervals.map { case (c, (lo, hi)) =>
      val loOk = if (lo == null) col(c).isNotNull else col(c) >= lit(lo)
      val hiOk = if (hi == null) col(c).isNotNull else col(c) <= lit(hi)
      loOk && hiOk
    }.reduce(_ && _)
    base.filter(exact)
  }
}
