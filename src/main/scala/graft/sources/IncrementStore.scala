package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** An accreting clustered + manifested parquet table with ONE write
  * entry point — the storage owner of the daily curation loop's verdict
  * history (README "The daily loop"), and of any append-style ingest
  * whose increments arrive with disjoint or mostly-disjoint key ranges
  * (per-day id blocks, time-ordered event ingest).
  *
  * The contract it composes (each piece individually spec-pinned, the
  * chain pinned by CurationStorageSpec):
  *
  *  - the FIRST `writeDay` lands data + manifest as the consistent
  *    single-writer pair ([[Manifest.writeWithManifest]] — no staleness
  *    window between table and manifest);
  *  - every later `writeDay` appends the increment range-clustered
  *    within itself ([[Layout.appendClustered]] — existing files stay
  *    byte-identical) and brings the manifest forward by scanning ONLY
  *    the new files ([[Manifest.update]] — O(increment) maintenance,
  *    what keeps the pair viable at 100 TB);
  *  - reads go through [[readRange]] → [[Manifest.readPruned]]: interval
  *    pruning against the KB-sized manifest before any data file is
  *    opened, with the loud staleness refusal intact (an out-of-band
  *    writer can never cause a silent under-read — the read fails
  *    loudly until the manifest is rebuilt or updated).
  *
  * Every destructive mutation (deleteRows/compact/compactRange) stages
  * its rewrite, persists its intended-victim list, and swaps — so a
  * crash ANYWHERE leaves a state [[recover]] finishes mechanically (the
  * refusal messages name it).
  *
  * NOT a transaction log: with a single writer per table (the daily-loop
  * topology) the pair is consistent by construction; concurrent writers
  * need a table format's commit protocol instead, per
  * [[Manifest.writeWithManifest]]'s scaladoc.
  *
  * METADATA LAYERS (r19): `grouped = false` (default) keeps the flat
  * [[Manifest]] — measured viable to its ~1M-file ceiling (its
  * scaladoc). `grouped = true` runs the SAME store contract on a
  * [[GroupedManifest]] rooted at `manifestPath` — the natural marriage
  * the two-level layer was built for: every `writeIncrement` registers
  * its files as ONE new group (`inc_NNNNNN` — one O(increment) stats
  * scan plus a KB index rewrite, never a whole-manifest collect), reads
  * prune group-first, and every destructive mutation converges the
  * group metadata through ONE reconciliation primitive
  * ([[reconcileGrouped]]): compare disk identity against the group
  * manifests, rewrite the touched groups, drop the emptied ones,
  * register unregistered files as a fresh group. Because the
  * reconciliation is derived purely from (disk, metadata) state it is
  * also exactly what [[recover]] runs after finishing a crashed swap —
  * maintenance and crash recovery share one code path. Driver state for
  * steady-state maintenance is O(groups) (the index), not O(files);
  * the reconciliation's batched group-manifest read is paid only by
  * destructive maintenance and recovery, never by reads or appends. */
final case class IncrementStore(tablePath: String, manifestPath: String,
                                filesPerIncrement: Int = 8,
                                clusterBy: Seq[String] = Seq("doc_id"),
                                statsCols: Seq[String] = Seq("doc_id"),
                                grouped: Boolean = false) {
  require(filesPerIncrement > 0,
    s"increment store: filesPerIncrement must be positive, got $filesPerIncrement")
  require(clusterBy.nonEmpty, "increment store: clusterBy must be non-empty")
  require(statsCols.nonEmpty, "increment store: statsCols must be non-empty")

  /** The two-level metadata layer when `grouped = true` (rooted at
    * `manifestPath`). */
  private[graft] def groupedManifest: GroupedManifest =
    GroupedManifest(manifestPath, statsCols)

  /** Store-created groups are `inc_NNNNNN`; the next sequence number is
    * parsed from the index's group names (O(groups) driver work).
    * Anchored to WHOLE store-owned names (r19 ADVICE): a caller-created
    * group merely containing the substring (`reinc_12`,
    * `sync_inc_999999`) must not perturb the store's sequence. */
  private def nextGroupName(spark: SparkSession): String = {
    val pat = "^inc_(\\d+)$".r
    val seqs =
      if (!groupedManifest.indexExists(spark)) Seq.empty
      else groupedManifest.groupNames(spark).collect {
        case pat(n) => n.toLong
      }
    f"inc_${seqs.foldLeft(-1L)(math.max) + 1}%06d"
  }

  private def exists(spark: SparkSession): Boolean =
    if (grouped) groupedManifest.indexExists(spark)
    else {
      val p = new Path(manifestPath)
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }

  private def dataFilesOnDisk(spark: SparkSession): Seq[Path] = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
  }

  /** The victim/original file list every destructive maintenance job
    * persists into its staging dir BEFORE deleting anything — what makes
    * mid-swap crash recovery MECHANICAL instead of forensic. Without it,
    * "move the staged files back in" is only correct if every original
    * was already deleted: compaction's staged files carry fresh names, so
    * after a crash partway through the delete loop, surviving originals
    * plus the full staged copy would DUPLICATE those rows — and a
    * Manifest.build would bless the corrupted table (r17 ADVICE). The
    * list pins exactly which originals the job intended to remove, so
    * [[recover]] can finish the removal before moving staged files in.
    * File NAMES, not paths: recovery is table-relocation-safe, and the
    * names are unambiguous within the one directory a store owns. */
  private[graft] val OriginalsList = "_graft_originals"

  /** The list write must be ATOMIC: recover() keys its whole decision on
    * list presence ("list ⇒ the delete loop may have started"), so a
    * crash DURING the list write must never leave a truncated list —
    * recover() would then delete only the listed survivors and move the
    * FULL staged copy in next to the unlisted ones, duplicating their
    * rows (the exact r17 corruption the list prevents; r18 ADVICE).
    * Write to a temp name, then one fs.rename — atomic on HDFS and
    * local filesystems, so the final name either holds the complete
    * list or does not exist. */
  private[graft] def writeOriginalsList(fs: FileSystem, staging: Path,
                                 names: Seq[String]): Unit = {
    val tmp = new Path(staging, OriginalsList + ".tmp")
    val dst = new Path(staging, OriginalsList)
    val out = fs.create(tmp, true)
    try out.write(names.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(dst)) { fs.delete(dst, false); () }
    require(fs.rename(tmp, dst),
      s"increment store: could not rename $tmp to $dst — the victim " +
        "list must land atomically before any original is deleted")
  }

  /** Belt to the rename's braces: a ZERO-BYTE (or whitespace-only) list
    * reads as None — list-less means the delete loop never started, so
    * the originals are intact and recover()'s correct move is to drop
    * staging. (An empty victim list is also what a zero-dirty-file
    * delete legitimately writes: nothing was going to be removed, so
    * the None ⇒ drop-staging path converges identically.) */
  private[graft] def readOriginalsList(fs: FileSystem,
                                staging: Path): Option[Seq[String]] = {
    val p = new Path(staging, OriginalsList)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        val names = new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
        if (names.isEmpty) None else Some(names)
      } finally in.close()
    }
  }

  private[graft] def stagedParquet(fs: FileSystem, staging: Path): Seq[Path] =
    fs.listStatus(staging)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq

  /** Land one increment; returns the refreshed manifest (localized —
    * consultable without re-reading the table). First call creates the
    * pair; later calls append + maintain. The manifest on disk is always
    * left current with the table — callers materialize verdicts THROUGH
    * this call (it is the write), then close their stage handles.
    *
    * Create-vs-append is keyed on the MANIFEST, so a table directory
    * that already holds parquet data without one (a pre-store table, or
    * a manifest deleted out-of-band) is refused loudly: the create path
    * is a SaveMode.Overwrite and would silently destroy the existing
    * rows. Adopt such a table by building its manifest first
    * ([[Manifest.build]] + [[Manifest.write]] to `manifestPath`) — the
    * next writeIncrement then takes the append path.
    *
    * The store owns the table's SCHEMA the same way it owns its layout:
    * an increment whose columns drift from the table's (renamed, added,
    * dropped, or retyped) is refused loudly with the exact diff named —
    * the raw append path would land mixed-schema parquet silently, and
    * every later [[readRange]]'s shape would then depend on which files
    * parquet schema inference happened to sample. Nullability is
    * deliberately NOT part of the check (parquet appends tolerate it and
    * optional-vs-required drifts with Spark's write path); column ORDER
    * is not either (parquet resolves by name). The check costs one
    * footer read per increment — O(1), not O(table). */
  def writeIncrement(increment: DataFrame): DataFrame = {
    val spark = increment.sparkSession
    if (!exists(spark)) {
      val preexisting = dataFilesOnDisk(spark)
      require(preexisting.isEmpty,
        s"increment store: $tablePath already holds ${preexisting.size} " +
          s"parquet file(s) but no manifest exists at $manifestPath — the " +
          "create path would OVERWRITE them. Adopt the table first: " +
          (if (grouped) "GroupedManifest.buildGrouped to the manifest root, "
           else "Manifest.build + Manifest.write to the manifest path, ") +
          "then writeIncrement appends.")
      if (grouped) {
        // validate the stats columns BEFORE any write, mirroring
        // writeWithManifest's ordering guarantee
        val badCols = statsCols.filterNot(increment.columns.contains)
        require(badCols.isEmpty,
          s"increment store: stats column(s) ${badCols.mkString(", ")} " +
            s"not in the increment (has: ${increment.columns.mkString(", ")})")
        Layout.writeClustered(increment, tablePath, filesPerIncrement,
          clusterBy: _*)
        groupedManifest.writeGroup(spark, nextGroupName(spark),
          Manifest.listDataFiles(spark, tablePath).map(_._1))
        manifest(spark)
      } else Manifest.writeWithManifest(increment, tablePath, manifestPath,
        statsCols, filesPerIncrement, clusterBy)
    } else {
      requireSchemaMatch(spark, increment)
      if (grouped) {
        // the increment's files = the listing diff around the append —
        // exactly what a commit-time ingest job knows; one O(increment)
        // stats scan registers them as one new group
        val before = Manifest.listDataFiles(spark, tablePath)
          .map(f => Manifest.normalize(f._1)).toSet
        Layout.appendClustered(increment, tablePath, filesPerIncrement,
          clusterBy: _*)
        val fresh = Manifest.listDataFiles(spark, tablePath)
          .filterNot(f => before(Manifest.normalize(f._1))).map(_._1)
        groupedManifest.writeGroup(spark, nextGroupName(spark), fresh)
        manifest(spark)
      } else {
        Layout.appendClustered(increment, tablePath, filesPerIncrement,
          clusterBy: _*)
        val m = Manifest.update(spark, tablePath,
          Manifest.read(spark, manifestPath))
        Manifest.write(m, manifestPath)
        m
      }
    }
  }

  /** Schema-drift guard for the append path (see [[writeIncrement]]):
    * the increment's (name → type) map must equal the table's. */
  private def requireSchemaMatch(spark: SparkSession,
                                 increment: DataFrame): Unit = {
    def byName(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    val table = byName(spark.read.parquet(tablePath).schema)
    val inc = byName(increment.schema)
    val missing = (table.keySet -- inc.keySet).toSeq.sorted
    val added = (inc.keySet -- table.keySet).toSeq.sorted
    val retyped = (table.keySet & inc.keySet)
      .filter(c => table(c) != inc(c)).toSeq.sorted
      .map(c => s"$c: table ${table(c).simpleString} vs " +
        s"increment ${inc(c).simpleString}")
    require(missing.isEmpty && added.isEmpty && retyped.isEmpty,
      s"increment store: increment schema drifts from $tablePath — " +
        (if (missing.nonEmpty)
          s"missing column(s) [${missing.mkString(", ")}]; " else "") +
        (if (added.nonEmpty)
          s"unknown column(s) [${added.mkString(", ")}]; " else "") +
        (if (retyped.nonEmpty)
          s"retyped column(s) [${retyped.mkString("; ")}]; " else "") +
        "appending it would land mixed-schema parquet silently. Align " +
        "the increment to the table schema (or migrate the table " +
        "deliberately: read, transform, writeClustered + Manifest.build).")
  }

  /** The current per-file manifest view, read from its persisted form
    * (grouped mode: the batched union over every group's manifest — the
    * flat-schema compat/audit frame; planning goes group-first inside
    * [[readRange]]). */
  def manifest(spark: SparkSession): DataFrame =
    if (grouped) groupedManifest.unionManifest(spark)
    else Manifest.read(spark, manifestPath)

  /** Pruned interval read over the accreted table — only the files whose
    * stats can satisfy `intervals` are opened, the exact predicates
    * re-applied row-wise, staleness refused loudly.
    *
    * `staleCheck = false` skips the freshness gate (a directory listing
    * plus a manifest diff per read — measured at sf10/16 local files to
    * cost more than the pruning saves: read_pruned 0.257 s vs read_full
    * 0.113 s, BENCH_FORENSICS_r16_scaleprobe_sf10.txt). It is safe
    * EXACTLY when every write goes through [[writeIncrement]], which
    * leaves the persisted manifest current by construction; any
    * out-of-band writer voids that guarantee silently, which is why the
    * gate stays the default. */
  def readRange(spark: SparkSession,
                intervals: Map[String, (Any, Any)],
                staleCheck: Boolean = true): DataFrame =
    if (grouped)
      groupedManifest.readPruned(spark, tablePath, intervals,
        staleCheck = staleCheck)
    else Manifest.readPruned(spark, tablePath, manifest(spark), intervals,
      staleCheck = staleCheck)

  /** Targeted row erasure through the store — delete + manifest
    * maintenance as one consistent pair. The verdict history this store
    * accretes is exactly the table a right-to-erasure request hits, and
    * the store owns the clustered layout that makes the delete cheap
    * ([[Layout.deleteRows]]: only the files whose key ranges cover the
    * victims are rewritten — dirty-proportional, not table-proportional).
    * Going around the store (deleteRows to a side directory, swap by
    * hand) left the manifest stale and every subsequent read refused;
    * this method does the rewrite, swaps the dirty files in place, and
    * brings the manifest forward in the same call, so the staleness gate
    * stays green and clean files keep their manifest rows VERBATIM
    * (O(dirty) maintenance, the same economics as the append path).
    *
    * Single-writer contract, like every other mutation here: between the
    * file swap and the manifest write a concurrent pruned read would
    * trip the staleness gate — loudly, which is the documented failure
    * mode (never an under-read). Concurrent writers need a table
    * format's commit protocol, per the class scaladoc. */
  /** Store-owned compaction — the maintenance job that keeps the
    * append path's read-side promise over time ([[Layout.compact]]'s
    * scaladoc): every day's `writeIncrement` adds `filesPerIncrement`
    * files, and after enough days the per-file open cost (footer fetch,
    * task setup — at 100 TB, millions of object-store GETs) dominates
    * scans. Compacts the whole table to ~`targetFileBytes` files
    * re-clustered GLOBALLY on `clusterBy` (per-day increments each own a
    * tight range of their own day; a global re-cluster tightens the
    * whole table's pruning to what a single clustered write would give),
    * swaps the files in, and REBUILDS the manifest in the same call —
    * a full rebuild, deliberately: compaction rewrites every byte, so
    * O(table) manifest work is already paid for; there is nothing
    * incremental left to exploit. Same single-writer contract as
    * [[deleteRows]]: a concurrent pruned read during the swap refuses
    * loudly, never under-reads. */
  def compact(spark: SparkSession, targetFileBytes: Long): DataFrame = {
    require(exists(spark),
      s"increment store: no manifest at $manifestPath — this table is " +
        "not store-managed; use Layout.compact directly")
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val staging = new Path(tablePath + "__compact_staging")
    require(!fs.exists(staging),
      s"increment store: staging dir $staging already exists — a prior " +
        "compaction died mid-swap and the staging files may be the ONLY " +
        "copy of rows whose originals were already removed; run " +
        "recover() (mechanical: it finishes removing the originals " +
        s"named in the staged $OriginalsList list, moves the staged " +
        "files in, and brings the manifest forward) before retrying")
    // staging is cleaned up ONLY on success: after the originals start
    // being deleted, the staged files may be the only copy of their rows
    // — a finally-cleanup here would turn a mid-swap crash into data loss
    // (self-review catch). On failure the entry require above names the
    // recovery.
    Layout.compact(spark, tablePath, staging.toString, targetFileBytes,
      clusterBy: _*)
    // swap: the compacted set REPLACES the accreted set wholesale. The
    // intended-victim list lands in staging BEFORE the first delete, so
    // a crash anywhere in the loop leaves a mechanically recoverable
    // state (r17 ADVICE: without the list, surviving originals + the
    // full staged copy duplicate rows and Manifest.build blesses it).
    val originals = fs.listStatus(table)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
    writeOriginalsList(fs, staging, originals.map(_.getName))
    originals.foreach { p => fs.delete(p, false); () }
    stagedParquet(fs, staging).foreach { p =>
      fs.rename(p, new Path(table, p.getName)); ()
    }
    fs.delete(staging, true)
    if (grouped) { reconcileGrouped(spark); manifest(spark) }
    else {
      val m = Manifest.build(spark, tablePath, statsCols)
      Manifest.write(m, manifestPath)
      Manifest.read(spark, manifestPath)
    }
  }

  /** Range-scoped compaction — the 100 TB-correct maintenance
    * primitive: [[compact]] rewrites the whole table in one O(table)
    * job, which is fine for a directory and wrong for a 100 TB history
    * (a single job over everything, a full manifest rebuild, and every
    * reader's working set invalidated at once). This compacts ONLY the
    * files whose manifest stats intersect `intervals` (e.g. last
    * month's accumulated daily increments), leaves every other file
    * byte-identical on disk WITH its manifest row reused verbatim, and
    * brings the manifest forward via [[Manifest.update]] — so both the
    * rewrite and the metadata maintenance are proportional to the
    * TOUCHED range, never the table. Rolling maintenance = a cron of
    * compactRange calls over aging ranges, each cheap, exactly how
    * table formats schedule bin-packing. File-level, row-preserving:
    * a touched file's out-of-range rows are re-clustered along with it
    * (pruning is conservative, correctness unaffected). Single-writer,
    * like every mutation here. */
  def compactRange(spark: SparkSession, intervals: Map[String, (Any, Any)],
                   targetFileBytes: Long): DataFrame = {
    require(exists(spark),
      s"increment store: no manifest at $manifestPath — this table is " +
        "not store-managed")
    require(targetFileBytes >= (1L << 20),
      s"increment store: target file size ${targetFileBytes}B under 1 MiB")
    val victims =
      if (grouped) groupedManifest.prune(spark, intervals)
      else Manifest.prune(Manifest.read(spark, manifestPath), intervals)
    if (victims.size <= 1) return manifest(spark) // nothing to bin-pack
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    val staging = new Path(tablePath + "__compact_staging")
    require(!fs.exists(staging),
      s"increment store: staging dir $staging already exists — a prior " +
        "compaction died mid-swap and the staging files may be the ONLY " +
        "copy of rows whose originals were already removed; run " +
        "recover() (mechanical: it finishes removing the originals " +
        s"named in the staged $OriginalsList list, moves the staged " +
        "files in, and brings the manifest forward) before retrying")
    val victimPaths = victims.map(new Path(_))
    val bytes = victimPaths.map(p => fs.getFileStatus(p).getLen).sum
    val nFiles = math.max(1,
      math.ceil(bytes.toDouble / targetFileBytes).toInt)
    import org.apache.spark.sql.functions.col
    spark.read.parquet(victims: _*)
      .repartitionByRange(nFiles, clusterBy.map(col): _*)
      .sortWithinPartitions(clusterBy.map(col): _*)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(staging.toString)
    // staging cleaned up ONLY on success — once victims start being
    // deleted it may hold the only copy of their rows (see [[compact]]);
    // the victim list lands BEFORE the first delete so recover() can
    // finish the removal mechanically (r17 ADVICE)
    writeOriginalsList(fs, staging, victimPaths.map(_.getName))
    victimPaths.foreach { p => fs.delete(p, false); () }
    stagedParquet(fs, staging).foreach { p =>
      fs.rename(p, new Path(table, p.getName)); ()
    }
    fs.delete(staging, true)
    if (grouped) { reconcileGrouped(spark); manifest(spark) }
    else {
      val m = Manifest.update(spark, tablePath,
        Manifest.read(spark, manifestPath))
      Manifest.write(m, manifestPath)
      m
    }
  }

  def deleteRows(spark: SparkSession, keyCol: String,
                 dropKeys: Seq[Any]): Layout.DeleteStats = {
    require(exists(spark),
      s"increment store: no manifest at $manifestPath — this table is " +
        "not store-managed; use Layout.deleteRows directly")
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)
    // rewrite ONLY the dirty files into a sibling staging dir (clean
    // files stay where they are — copyClean=false keeps the delete
    // dirty-proportional; the store IS the "table format" that re-points
    // the clean files, by simply never touching them)
    val staging = new Path(tablePath + "__delete_staging")
    require(!fs.exists(staging),
      s"increment store: staging dir $staging already exists — a prior " +
        "delete died mid-swap and the staging files may be the ONLY copy " +
        "of kept rows whose originals were already removed; run " +
        "recover() (mechanical: it finishes swapping the staged files " +
        "over their same-named originals and brings the manifest " +
        "forward) before retrying")
    val stats = Layout.deleteRows(spark, tablePath, staging.toString,
      keyCol, dropKeys, copyClean = false)
    // swap each rewritten file over its original under the same name;
    // Manifest.update sees (len, mtime) change and rescans exactly them.
    // Staging is cleaned up ONLY after the swap completes — mid-swap, a
    // staged file is the only copy of its kept rows once the original is
    // deleted, so a finally-cleanup would turn a crash into data loss
    // (self-review catch); on failure the entry require names recovery.
    // The list marks "the staging write completed, the swap began" for
    // recover(): without it, a crash DURING Layout.deleteRows (staging
    // incomplete, originals all intact) is indistinguishable from a
    // mid-swap crash.
    val staged = stagedParquet(fs, staging)
    writeOriginalsList(fs, staging, staged.map(_.getName))
    staged.foreach { p =>
      val dst = new Path(table, p.getName)
      fs.delete(dst, false)
      fs.rename(p, dst)
      ()
    }
    fs.delete(staging, true)
    if (grouped) reconcileGrouped(spark)
    else {
      val m = Manifest.update(spark, tablePath,
        Manifest.read(spark, manifestPath))
      Manifest.write(m, manifestPath)
    }
    stats
  }

  /** The whole table, manifest-gated: one read of every store file with
    * the staleness refusal applied first (same contract as [[readRange]]
    * without the pruning — for consumers that genuinely need the full
    * history, e.g. rebuilding stream resume state). `staleCheck = false`
    * under the same single-writer guarantee as [[readRange]]. */
  def readAll(spark: SparkSession, staleCheck: Boolean = true): DataFrame = {
    require(exists(spark),
      s"increment store: no manifest at $manifestPath — nothing to read")
    if (staleCheck) {
      if (grouped) groupedManifest.requireFresh(spark, tablePath)
      else Manifest.requireFresh(spark, tablePath, manifest(spark))
    }
    spark.read.parquet(tablePath)
  }

  /** Mechanical mid-swap crash recovery — the executable form of the
    * refusal messages above. Every destructive mutation here follows the
    * same protocol: stage the rewritten files, persist the
    * intended-victim list ([[OriginalsList]]) into the staging dir, THEN
    * delete originals and move staged files in, and drop staging only on
    * success. That ordering makes every crash window recoverable without
    * judgment calls:
    *
    *  - staging exists WITHOUT the list → the crash predates the list
    *    write, which strictly precedes the first original delete — the
    *    table is intact and the staged files are an incomplete or
    *    unswapped copy. Recovery: drop staging. (Re-run the mutation.)
    *  - `__compact_staging` WITH the list → finish what the compaction
    *    started: delete any SURVIVING listed originals (this is the r17
    *    ADVICE hazard — moving staged files in while originals survive
    *    would duplicate their rows, and a manifest rebuild would bless
    *    it), move the staged files in, drop staging.
    *  - `__delete_staging` WITH the list → staged files overwrite their
    *    same-named originals; finish the swap (idempotent — a
    *    half-swapped file is simply re-swapped by name), drop staging.
    *
    * The manifest is brought forward afterwards ([[Manifest.update]] —
    * O(touched): gone rows dropped, new/rewritten files rescanned, clean
    * rows verbatim) and persisted, so the staleness gate is green again.
    * Idempotent: recover() after a crashed recover() resumes where it
    * died; recover() with no staging dirs is a no-op returning the
    * current manifest. Single-writer, like every mutation here. */
  def recover(spark: SparkSession): DataFrame = {
    require(exists(spark),
      s"increment store: no manifest at $manifestPath — this table is " +
        "not store-managed")
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(tablePath)
    val fs = table.getFileSystem(conf)

    val compactStaging = new Path(tablePath + "__compact_staging")
    if (fs.exists(compactStaging)) {
      readOriginalsList(fs, compactStaging) match {
        case None =>
          // list absent ⇒ no original was deleted yet (the list lands
          // strictly before the delete loop) — staged copy is redundant
          fs.delete(compactStaging, true)
        case Some(names) =>
          names.foreach { n =>
            val p = new Path(table, n)
            if (fs.exists(p)) { fs.delete(p, false); () }
          }
          stagedParquet(fs, compactStaging).foreach { p =>
            fs.rename(p, new Path(table, p.getName)); ()
          }
          fs.delete(compactStaging, true)
      }
      ()
    }

    val deleteStaging = new Path(tablePath + "__delete_staging")
    if (fs.exists(deleteStaging)) {
      readOriginalsList(fs, deleteStaging) match {
        case None =>
          // crash during Layout.deleteRows: originals all intact, the
          // staged rewrite incomplete — drop it, re-run the delete
          fs.delete(deleteStaging, true)
        case Some(_) =>
          stagedParquet(fs, deleteStaging).foreach { p =>
            val dst = new Path(table, p.getName)
            fs.delete(dst, false)
            fs.rename(p, dst)
            ()
          }
          fs.delete(deleteStaging, true)
      }
      ()
    }

    if (grouped) { reconcileGrouped(spark); manifest(spark) }
    else {
      val m = Manifest.update(spark, tablePath,
        Manifest.read(spark, manifestPath))
      Manifest.write(m, manifestPath)
      m
    }
  }

  /** The ONE grouped-metadata convergence primitive (see the class
    * scaladoc): derive the group fixups purely from (disk, metadata)
    * state — so the same call is the maintenance tail of every
    * destructive mutation AND the recovery tail after a crashed swap,
    * and re-running it after its own crash converges (idempotent by
    * construction: a group already in agreement with disk is left
    * untouched, byte-identical).
    *
    *  - a group whose files are all gone → [[GroupedManifest.dropGroup]];
    *  - a group with gone OR rewritten-in-place members →
    *    [[GroupedManifest.rewriteGroup]] over its on-disk survivors
    *    (one O(group) stats rescan);
    *  - disk files no group claims → one fresh `inc_NNNNNN` group.
    *
    * Cost: one directory listing + one batched identity-columns read
    * over the group manifests (O(files) rows — the destructive-
    * maintenance/recovery budget, never paid by reads or appends),
    * then O(touched groups) stats rescans. */
  private def reconcileGrouped(spark: SparkSession): Unit = {
    val gm = groupedManifest
    // the fresh-group name is drawn BEFORE any retirement below, so a
    // compaction's output group never reuses a just-retired input's name
    // (monotone naming — less confusing on an operator's listing)
    val freshName = nextGroupName(spark)
    val disk = Manifest.listDataFiles(spark, tablePath)
    val diskMap = disk.map { case (f, l, t) =>
      Manifest.normalize(f) -> ((f, l, t)) }.toMap
    val reg = gm.groupFiles(spark).collect()
      .map(r => (r.getString(0), Manifest.normalize(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val drops = Seq.newBuilder[String]
    val rewrites = Map.newBuilder[String, Seq[String]]
    reg.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (g, rows) =>
      val survivors = rows.filter(r => diskMap.contains(r._2))
      val drifted = rows.exists(r => diskMap.get(r._2)
        .forall(d => (d._2, d._3) != ((r._3, r._4))))
      if (survivors.isEmpty) drops += g
      else if (drifted)
        rewrites += g -> survivors.map(r => diskMap(r._2)._1).toSeq
    }
    val known = reg.map(_._2).toSet
    val unreg = disk.filterNot(f => known(Manifest.normalize(f._1))).map(_._1)
    val adds = if (unreg.nonEmpty) Map(freshName -> unreg) else Map.empty[String, Seq[String]]
    val (d, rw) = (drops.result(), rewrites.result())
    // ONE batched transition: every fixup lands under a single staged
    // index write (per-group dropGroup would pay one index rewrite per
    // retired group — quadratic in groups for a bulk compaction)
    if (d.nonEmpty || rw.nonEmpty || adds.nonEmpty) {
      gm.applyBatch(spark, d, rw, adds); ()
    }
    // r19 ADVICE (high) — convergence across a mutation's OWN crash
    // window: a crash after applyBatch/writeGroup landed its group
    // manifests but before the staged index write leaves the manifests
    // in full agreement with disk, so every disk-derived fixup above is
    // empty and only the index is stale (stale rollups for rewritten
    // groups, missing rows for added ones) — a state requireFresh then
    // refuses forever while re-running this method changes nothing.
    // Verify index <-> manifest agreement per group (the batched
    // identity read is this path's budget) and re-roll the index from
    // the manifests when they disagree — one staged write, idempotent.
    val stale = gm.indexDisagreement(spark)
    if (stale.nonEmpty) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"increment store: index rollups disagreed with the group " +
          s"manifests for group(s) [${stale.mkString(", ")}] (a prior " +
          "mutation's staged index write did not land) — rebuilding " +
          "the index from the manifests")
      gm.rebuildIndex(spark); ()
    }
  }
}
