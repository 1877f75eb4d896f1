package graft.sinks

import graft.schema.{CollectionId, EventSchema, FieldNames}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** K3 — the sink SPI. The Spark-native re-expression of the reference's
  * 3-method `DatabaseHandler` contract (DatabaseHandler.java:13-30):
  * `getColumns`/`addColumns` collapse into schema observation on the write
  * path, `insert(Page)` becomes `insert(CollectionId, DataFrame)` inside a
  * `foreachBatch` — which is itself the commit barrier (C2): the streaming
  * offset commits only after every per-table insert of the batch returned.
  */
trait EventSink extends Serializable {
  /** Authoritative schema of a collection at the sink, if it exists. */
  def getColumns(id: CollectionId): Option[StructType]

  /** One micro-batch insert for one collection. Must be atomic-or-retryable
    * (at-least-once overall).
    */
  def insert(id: CollectionId, df: DataFrame): Unit

  /** Streaming insert with the micro-batch id (-1 outside a stream):
    * sinks that can use it for idempotence override this
    * (`ColumnarSink.insertBatch`); default is the plain at-least-once
    * [[insert]].
    */
  def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit =
    insert(id, df)

  /** Whether [[insertConsolidated]] is implemented. High-cardinality
    * batches use it to land a same-schema COHORT of collections in one
    * partitioned job instead of one job per collection.
    */
  def supportsConsolidated: Boolean = false

  /** Consolidated multi-collection insert: `rows` carry the cohort's
    * shared data schema plus `_project`/`_collection` routing columns.
    * Must be idempotent under micro-batch replay like `insert(_, _, batchId)`.
    * Only called for schemas that pass [[EventSink.consolidatable]] —
    * cohort writes partition by `project`/`collection`/`batch` directory
    * columns, so a DATA column with one of those names cannot ride the
    * consolidated path (the per-collection path carries it fine).
    */
  def insertConsolidated(rows: DataFrame, batchId: Long): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} does not support consolidated inserts")
}

object EventSink {
  /** Directory-column names the consolidated write consumes. Partition
    * columns are matched case-insensitively by the file-source layer, so
    * the collision check is case-insensitive too.
    */
  val ReservedPartitionNames: Set[String] = Set("project", "collection", "batch")

  /** Whether a cohort with this DATA schema may use
    * [[EventSink.insertConsolidated]]: a user column named `project` /
    * `collection` / `batch` would be consumed (or clobbered) by the
    * partitioned write while the per-collection path preserves it — such
    * schemas must stay on the per-collection path.
    */
  def consolidatable(schema: StructType): Boolean =
    !schema.fieldNames.exists(f =>
      ReservedPartitionNames.contains(f.toLowerCase(java.util.Locale.ROOT)))

  /** The one at-rest layout: every write of every file writer (the sinks,
    * the file historical hand-off, the dead letters) lands in its own
    * `batch=<key>` directory, written with overwrite. A stream batch keys
    * it by its id, so a replay rewrites its own output (the reference's S3
    * sink keys objects by table and batch the same way,
    * S3DatabaseHandler.java:219-233). A write outside a stream
    * (`batchId < 0`) gets a fresh non-numeric key: it appends, and it can
    * never collide with a stream batch. No writer leaves a file next to
    * the `batch=` dirs, where Spark's partition discovery would drop it
    * from every read.
    */
  def batchKey(batchId: Long): String =
    if (batchId >= 0) batchId.toString
    else s"load-${java.util.UUID.randomUUID()}"

  /** `dir/batch=<key>` under [[batchKey]]'s rule. */
  def batchDir(dir: String, batchId: Long): String =
    s"$dir/batch=${batchKey(batchId)}"
}

/** K1 (modernized) — columnar table sink. The reference's Raptor/ORC path
  * (RaptorDatabaseHandler.java:311-339 + the whole in-memory ORC shard
  * machinery) exists to get stats-bearing, compressed columnar files plus a
  * transactional shard registry; Spark's parquet/ORC writers + catalog give
  * both for free (footer stats replace `computeShardStats`, the partition
  * layout replaces the MySQL shard table).
  *
  * Layout: `basePath/project=<p>/collection=<c>/batch=<key>/…` so
  * partition pruning on (project, collection) is free at query time. Every
  * write lands in its own batch directory ([[EventSink.batchKey]]). Schema
  * evolution is one directory per write + `mergeSchema=true` on read — the
  * D9 rebuild at rest.
  */
final class ColumnarSink(basePath: String, format: String = "parquet",
                         compression: String = "snappy",
                         maxRecordsPerFile: Long = 5000000,
                         statsColumns: Seq[String] = Nil,
                         statsCompactSlices: Int = 256)
    extends EventSink {

  /** Write-time stats manifest (layout/StatsIndex): with `statsColumns`
    * set, every insert appends per-file min/max rows for the just-written
    * files — the reference computes shard stats at write the same way
    * (InMemoryOrcStorageManager.java:188-207). At 100 TB this manifest is
    * the driver's scan-prune tool: [[prunedRead]] drops non-matching
    * files before any parquet footer is opened.
    *
    * The manifest is SHARDED per collection, mirroring the data layout:
    * `_graft_stats_index/project=<p>/collection=<c>/slice-*.parquet`. A
    * pruned read of one collection loads ONLY its own shard's rows, so
    * planning cost is bounded by that collection's file count — flat as
    * sibling collections grow to 100 TB file counts (the unsharded v1
    * layout collected every sibling's rows per read). Maintenance is one
    * driver listing of the new files + one small column-pruned job per
    * insert (ONE job per consolidated cohort, fanned into shards by
    * rename); replays/compaction leave stale entries that the
    * conservative sweep in `StatsIndex.prunedReadWith` skips. A v1
    * base-level index (slices directly under `_graft_stats_index/`) is
    * not read by the sharded path — rebuild by re-inserting or drop the
    * old index dir; mixing the layouts would hide the root slices from
    * partition discovery.
    */
  val statsIndexPath = s"$basePath/${graft.layout.StatsIndex.IndexDirName}"

  /** The per-collection manifest shard — same path components (and the
    * same escaping) as the collection's data directory.
    */
  def statsShardPath(id: CollectionId): String =
    s"$statsIndexPath/project=${esc(id.project)}/collection=${esc(id.collection)}"

  private def hadoopFs(p: org.apache.hadoop.fs.Path,
                       spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive data-file listing under `dir` — skips hidden/metadata
    * segments (`_graft_commits`, `_graft_stats_index`, `.crc`, `_SUCCESS`)
    * the same way Spark's own file listing does. Walks via
    * [[graft.util.FsWalk]] (per-directory listStatus): Hadoop's recursive
    * `listFiles` costs 4 ms/file on local fs — 120 s measured at 30k
    * files, paid on EVERY stats-maintaining insert.
    */
  private def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    graft.util.FsWalk.dataFiles(hadoopFs(root, spark), root)
  }

  /** Cross-instance safety is structural now (every slice lands via a
    * slice-private staging dir + rename — StatsIndex.writeSlice — so no
    * two appends, even from different JVMs over one basePath, share
    * committer staging). This lock only keeps ONE instance's writer pool
    * from racing its own per-shard self-compactions; it costs
    * microseconds of queueing on tiny driver-side jobs.
    */
  private val statsAppendLock = new Object

  private val shardRe = "(/project=[^/]+/collection=[^/]+)/".r

  private def appendStats(spark: SparkSession, files: Seq[String]): Unit =
    if (statsColumns.nonEmpty && files.nonEmpty)
      statsAppendLock.synchronized {
        // shard by the (project, collection) segments of each file's own
        // path — per-collection inserts hit exactly one shard (one small
        // job); a consolidated cohort fans into its shards from ONE job
        val byShard = files.groupBy { f =>
          shardRe.findFirstMatchIn(f) match {
            case Some(m) => m.group(1)
            case None => throw new IllegalStateException(
              s"data file outside the project=/collection= layout: $f")
          }
        }
        val touched: Seq[String] =
          if (byShard.size == 1) {
            val (rel, fs) = byShard.head
            val shard = s"$statsIndexPath$rel"
            graft.layout.StatsIndex.appendFor(spark, shard, basePath, fs,
              statsColumns)
            Seq(shard)
          } else
            graft.layout.StatsIndex.appendSharded(spark, statsIndexPath,
              basePath, files, statsColumns)
        // every append lands one slice file per shard — after 10k triggers
        // a shard would itself be 10k tiny parquets (the small-files
        // problem recreated inside the tool that exists to absorb it) and
        // prunedRead's planning would pay 10k footer opens. Merge a shard
        // past the threshold; racing readers stay correct (the merged
        // slice lands before the inputs are deleted, and a reader losing
        // the race degrades to a conservative full read, never loss).
        touched.foreach(shard => graft.layout.StatsIndex.compactIfNeeded(
          spark, shard, maxSlices = statsCompactSlices))
      }

  /** Manifest-pruned read of one collection: file-level min/max skipping on
    * `statsColumns` ranges, then the same reserved-column restore as
    * [[read]]. Returns a SUPERSET of the matching rows (apply the real
    * filter on top); parity with `read(...).filter(...)` is pinned by
    * StatsIndexSpec and the `layout_stats_prune` oracle query.
    *
    * Planning is O(#commits), not O(#files): `batch=N` dirs whose commit
    * marker is present are TRUSTED (the marker is each insert's last act,
    * after the stats slice lands — so the manifest provably enumerates
    * the dir) and never walked; only unmarked dirs (legacy data, a
    * foreign writer's output, a crashed insert awaiting replay,
    * compaction output) pay the conservative per-file sweep and ride
    * along unpruned where unindexed. Measured: the 100k-file collection
    * planned in 5.9 s under the full sweep, sub-second trusted.
    */
  def prunedRead(spark: SparkSession, id: CollectionId,
                 ranges: Seq[(String, Any, Any)]): DataFrame =
    unescapeReserved(graft.layout.StatsIndex.prunedReadWith(
      spark, path(id), statsShardPath(id), ranges,
      Map("mergeSchema" -> "true"), trustedBatchDirs(spark, id)))

  private def commitsDir(id: CollectionId) =
    s"$basePath/_graft_commits/${esc(id.project)}/${esc(id.collection)}"

  /** The commit-marked `batch=N` dirs of a collection — the set whose
    * manifest coverage is complete by construction (marker written after
    * the stats append on every insert path; deleted BEFORE a consolidated
    * replay overwrites, so a crash mid-replay leaves the dir unmarked and
    * conservatively swept). Two shallow listings: O(#batches) driver-side
    * metadata calls, independent of file count.
    */
  private def trustedBatchDirs(spark: SparkSession,
                               id: CollectionId): Set[String] = {
    if (statsColumns.isEmpty) return Set.empty
    val commits = new org.apache.hadoop.fs.Path(commitsDir(id))
    val fs = hadoopFs(commits, spark)
    if (!fs.exists(commits)) return Set.empty
    // only NON-EMPTY markers are trust-grade: a stats-appending insert
    // writes content, a stats-off insert (and every pre-trust legacy
    // marker) leaves the file empty — so a stats-off replay over a
    // stale manifest, or legacy data, is never trusted. listStatus
    // already carries the length: no extra round-trips.
    val marked = fs.listStatus(commits).filter(st => st.isFile && st.getLen > 0)
      .map(_.getPath.getName).toSet
    val coll = new org.apache.hadoop.fs.Path(path(id))
    if (!fs.exists(coll)) return Set.empty
    fs.listStatus(coll).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => marked.contains(st.getPath.getName.stripPrefix("batch=")))
      .map(st => graft.layout.StatsIndex.normalize(st.getPath.toString))
      .toSet
  }

  /** Hive-style partition-value escaping (':' → %3A etc.) — the SAME
    * escaping Spark's dynamic `partitionBy` writer applies, so the
    * per-collection and consolidated write paths land a collection whose
    * name carries a special character in ONE directory, and partition
    * pruning/inference reads the logical name back out. Plain
    * alphanumeric names are untouched.
    */
  private def esc(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  def path(id: CollectionId): String =
    s"$basePath/project=${esc(id.project)}/collection=${esc(id.collection)}"

  override def getColumns(id: CollectionId): Option[StructType] = None // resolved from files on read

  /** The batch directory key (`batch=N`) is a graft-internal layout
    * detail, but partition inference folds it into the read schema — and
    * when a DATA column shadows a partition directory column, Spark keeps
    * one column whose VALUES come from the directory, silently replacing
    * the user's data (verified behavior). So a user event property named
    * `batch` (any case) is escaped to `__data_batch` at rest and renamed
    * back on [[read]]/[[readAll]] — round-trip exact, no silent loss.
    * (`project`/`collection` data columns are safe on this path: [[read]]
    * loads below those directories so nothing shadows them; [[readAll]]
    * surfaces the ROUTING values under those names — its documented
    * partition columns.)
    */
  private def escapeReserved(df: DataFrame): DataFrame =
    df.columns.foldLeft(df) { (d, c) =>
      if (c.toLowerCase(java.util.Locale.ROOT) == "batch") {
        require(!df.columns.contains(s"__data_$c"),
          s"column __data_$c already exists; cannot escape reserved column $c")
        d.withColumnRenamed(c, s"__data_$c")
      } else d
    }

  private def unescapeReserved(df: DataFrame): DataFrame =
    df.columns.filter(_.startsWith("__data_")).foldLeft(df) { (d, c) =>
      val orig = c.stripPrefix("__data_")
      // the same-named survivor is the inferred partition column (its
      // values are the directory's, not the user's) — drop it in favor
      // of the restored data column. CASE-INSENSITIVE: the escape
      // matched any case ('Batch'), the inferred directory column is
      // lowercase 'batch', and leaving both would make every reference
      // ambiguous under default resolution.
      val clash = d.columns.filter(x => x != c && x.equalsIgnoreCase(orig))
      val dropped = clash.foldLeft(d)(_ drop _)
      dropped.withColumnRenamed(c, orig)
    }

  /** A write outside a stream: appends under a fresh `batch=<key>`
    * directory ([[EventSink.batchKey]]), through [[insertBatch]].
    */
  override def insert(id: CollectionId, df: DataFrame): Unit =
    insertBatch(id, df, -1L)

  /** Idempotent variant for streaming replays: `foreachBatch` is
    * at-least-once, so a crashed batch can re-run. A batch manifest under
    * `_graft_commits/` makes the re-run a no-op — the file-level analogue
    * of the reference's transactional shard registry in MySQL
    * (InMemoryOrcStorageManager shard commits). Data for a replayed batch
    * lands in a batch-scoped subdirectory, so a partially-written first
    * attempt is superseded in place (last write wins per batch id).
    */
  override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit =
    insertBatch(id, df, batchId)

  /** Lands `df` in the collection's `batch=<key>` directory with
    * overwrite: `batch=N` inside a stream, a fresh key for `batchId < 0`
    * (an append). Writes the data files, then their stats slice, then the
    * commit marker `_graft_commits/<p>/<c>/<key>` as the write's last act.
    */
  def insertBatch(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
    // Markers resolve through the Hadoop FileSystem of basePath — data
    // writes already do — so idempotence holds on file:/hdfs:/s3a: alike.
    // One directory level per component keeps the layout unambiguous for
    // names containing underscores.
    // escaped like the data layout: injective, and keeps characters Hadoop
    // Path/URI parsing treats specially (':', '%') out of raw components
    val key = EventSink.batchKey(batchId)
    val marker = new org.apache.hadoop.fs.Path(s"${commitsDir(id)}/$key")
    val fs = marker.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // replay: already committed
    val dir = s"${path(id)}/batch=$key"
    escapeReserved(df).write.mode(SaveMode.Overwrite)
      .format(format)
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .save(dir)
    // stats BEFORE the marker: the marker is the commit's last act. A
    // crash between the two replays the whole batch (marker absent →
    // overwrite supersedes the files, whose index entries go stale).
    appendStats(df.sparkSession, listDataFiles(df.sparkSession, dir))
    fs.mkdirs(marker.getParent)
    val out = fs.create(marker, true)
    // non-empty ⟺ the stats slice landed → prunedRead may trust the dir
    if (statsColumns.nonEmpty) out.write("stats\n".getBytes("UTF-8"))
    out.close()
  }

  /** B6-at-cardinality — consolidated cohort insert: ONE partitioned write
    * lands every (project, collection) of a same-schema cohort under the
    * standard layout `project=…/collection=…/batch=<key>/…`, byte-identical
    * to what C separate [[insertBatch]] calls would produce (cohorts share
    * one exact schema, so no foreign columns appear in any file). The key
    * is [[EventSink.batchKey]]'s: the batch id in a stream, one fresh key
    * for the whole cohort outside one. Dynamic partition overwrite scopes
    * the overwrite to exactly the (project, collection, batch) triples
    * present in `rows`, so a replayed micro-batch rewrites its own output
    * in place — the same effectively-once contract as [[insertBatch]],
    * without a marker file. At 10k live collections this turns C
    * driver-side job submissions per trigger into O(#distinct schema
    * shapes).
    */
  override def supportsConsolidated: Boolean = true

  override def insertConsolidated(rows: DataFrame, batchId: Long): Unit = {
    // defense for the [[EventSink.consolidatable]] contract: a data
    // column colliding with the project/collection routing rename must
    // fail loudly, not corrupt data (`batch` collisions escape below,
    // same as the per-collection path)
    val clash = rows.columns
      .filterNot(c => c == "_project" || c == "_collection")
      .filter(c => Set("project", "collection")
        .contains(c.toLowerCase(java.util.Locale.ROOT)))
    if (clash.nonEmpty)
      throw new UnsupportedOperationException(
        s"consolidated insert: data column(s) [${clash.mkString(", ")}] " +
          "collide with the project/collection partition layout — " +
          "route this cohort through per-collection inserts " +
          "(EventSink.consolidatable gates this)")
    val key = EventSink.batchKey(batchId)
    // a REPLAY is about to overwrite its batch dirs, staling their
    // manifest rows — un-mark those commits FIRST (before any data
    // mutation) so a crash mid-replay leaves the dirs unmarked and
    // pruned reads sweep them conservatively instead of trusting a
    // stale manifest. UNCONDITIONAL (not gated on this instance's
    // statsColumns): a stats-off restart replaying a stats-on
    // collection must still invalidate the marker, or readers through a
    // stats-on sink would trust a manifest the overwrite just staled.
    // The first attempt's dirs are discoverable by one glob (they exist
    // only on replay, and a fresh key has none); marker paths reuse the
    // glob's already-escaped path segments verbatim.
    if (batchId >= 0) {
      val pat = new org.apache.hadoop.fs.Path(s"$basePath/*/*/batch=$key")
      val fs = hadoopFs(pat, rows.sparkSession)
      // one exists() gates the glob: a layout no writer ever marked has
      // nothing to invalidate, so marker-less deployments skip the ~C
      // metadata ops of the pattern expansion every trigger
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$basePath/_graft_commits")))
        Option(fs.globStatus(pat)).map(_.toSeq).getOrElse(Nil)
        .filter(_.isDirectory).foreach { st =>
          val escC = st.getPath.getParent.getName.split("=", 2)(1)
          val escP = st.getPath.getParent.getParent.getName.split("=", 2)(1)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$basePath/_graft_commits/$escP/$escC/$key"), false)
          ()
        }
    }
    // cluster by the partition key BEFORE the write: without this every
    // task holds rows of every collection and opens one file per (task,
    // collection) pair — measured 32 tasks × 1k collections = 32k files
    // and a 100 s commit at C=1000; clustered, each collection's rows sit
    // in one task → ~C files total and the commit moves C objects. The
    // extra exchange is one shuffle of the (cached, already-parsed) batch
    // — trivial next to the file-creation fan-out it removes.
    escapeReserved(rows)
      .withColumnRenamed("_project", "project")
      .withColumnRenamed("_collection", "collection")
      .repartition(col("project"), col("collection"))
      .withColumn("batch", lit(key))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("project", "collection", "batch")
      .format(format)
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .save(basePath)
    if (statsColumns.nonEmpty) {
      val spark = rows.sparkSession
      // this key's dirs hold exactly this write's files
      val newFiles = globDataFiles(spark, s"$basePath/*/*/batch=$key/*")
      appendStats(spark, newFiles)
      // commit markers LAST (same order as insertBatch: data → stats →
      // marker) — marker presence certifies the manifest enumerates the
      // batch dir, which is what lets prunedRead trust it without a walk.
      // O(C) tiny driver-side creates per trigger, only with stats on.
      newFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getParent)
        .distinct.foreach { collDir =>
          val escC = collDir.getName.split("=", 2)(1)
          val escP = collDir.getParent.getName.split("=", 2)(1)
          val fs = hadoopFs(collDir, spark)
          val marker = new org.apache.hadoop.fs.Path(
            s"$basePath/_graft_commits/$escP/$escC/$key")
          fs.mkdirs(marker.getParent)
          val out = fs.create(marker, true)
          out.write("stats\n".getBytes("UTF-8")) // trust-grade (stats landed)
          out.close()
        }
    }
  }

  /** Driver-side glob over the partitioned layout — one namenode/object
    * round per pattern, no recursive walk of unrelated collections.
    */
  private def globDataFiles(spark: SparkSession, pattern: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = hadoopFs(p, spark)
    Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
  }

  /** Read a collection back with schema evolution across its batch
    * directories. The frame carries the inferred `batch` directory column
    * (the batch id, or the key of a write outside a stream; string-typed
    * once any key is not numeric) — drop it to compare data rows. Escaped
    * reserved columns (`__data_batch`) are restored to their user names,
    * superseding that directory column.
    */
  def read(spark: SparkSession, id: CollectionId): DataFrame =
    unescapeReserved(readRaw(spark, id))

  /** At-rest view (no reserved-column restore) — compaction rewrites the
    * escaped layout as-is.
    */
  private def readRaw(spark: SparkSession, id: CollectionId): DataFrame =
    spark.read.option("mergeSchema", "true").format(format).load(path(id))

  /** B3 at rest — small-file compaction. A 15 s trigger cadence writes many
    * small files per collection (the problem the reference's middleware
    * buffer dwell solves in memory); compaction rewrites the collection
    * into ~`targetBytes` files under a fresh `batch=compact-<ts>` dir and
    * removes the old dirs; later writes of either kind land next to it in
    * their own batch dirs. Run OUT OF BAND (same role as Delta OPTIMIZE);
    * readers racing the final delete may briefly double-read — schedule
    * around query windows or layer a manifest.
    */
  def compact(spark: SparkSession, id: CollectionId,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    // Hadoop FileSystem API (not java.io.File) so compaction works on any
    // scheme the sink can write to — file:, hdfs:, s3a:.
    val dir = new org.apache.hadoop.fs.Path(path(id))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val oldEntries = fs.listStatus(dir).toSeq // snapshot before the rewrite
    var bytes = 0L
    graft.util.FsWalk.dataFileStatuses(fs, dir).foreach(bytes += _.getLen)
    val nFiles = math.max(1, (bytes / targetBytes).toInt)
    val df = {
      // at-rest view: the inferred `batch` DIRECTORY column goes away with
      // the rewrite; an escaped user `__data_batch` column stays escaped
      // (read() keeps restoring it after compaction)
      val raw = readRaw(spark, id)
      if (raw.columns.contains("batch")) raw.drop("batch") else raw
    }
    val compactKey = s"compact-${System.currentTimeMillis()}"
    val compactDir = s"${path(id)}/batch=$compactKey"
    df.repartition(nFiles).write.mode(SaveMode.Overwrite)
      .format(format).option("compression", compression)
      .save(compactDir)
    oldEntries.foreach(st => fs.delete(st.getPath, true))
    // the deleted files' index entries go stale (the conservative sweep
    // skips them); index the compacted replacements so pruning stays
    // effective — compaction is also the natural moment stale entries
    // stop mattering for this collection
    appendStats(spark, listDataFiles(spark, compactDir))
    if (statsColumns.nonEmpty) {
      // the old batch dirs are gone, so their commit markers are orphans
      // (ignored by trustedBatchDirs, which maps over EXISTING dirs, but
      // they'd accumulate forever) — reset the marker dir to exactly the
      // compacted dir's marker, written AFTER its stats like every other
      // path, so post-compaction pruned reads trust the rewrite too
      val markers = new org.apache.hadoop.fs.Path(commitsDir(id))
      fs.delete(markers, true)
      fs.mkdirs(markers)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(markers, compactKey), true)
      out.write("stats\n".getBytes("UTF-8")) // trust-grade (stats landed)
      out.close()
      ()
    }
  }

  /** Read the whole sink (all projects/collections) with partition pruning
    * on the (project, collection) directory columns. Those two names are
    * the ROUTING values here (this view's documented partition columns);
    * escaped `__data_batch` columns restore like [[read]].
    */
  def readAll(spark: SparkSession): DataFrame =
    unescapeReserved(
      spark.read.option("mergeSchema", "true").option("basePath", basePath)
        .format(format).load(basePath))
}

/** K2 — NDJSON-gzip object sink (S3DatabaseHandler.java:141-299). The
  * reference serializes rows to newline-delimited JSON, gzips, and rolls
  * files at a 256 MB cap per project; Spark's json writer with gzip codec +
  * `maxRecordsPerFile` reproduces the format and the rolling policy, with
  * dates as BASIC_ISO_DATE and timestamps as ISO-8601 (documented deviation
  * from the reference's locale-dependent FormatStyle.SHORT — SURVEY.md
  * §7.4.5). A byte-parity consumer can opt into `localeExactTimestamps`,
  * which reproduces the reference's formatter
  * (S3DatabaseHandler.java:72,243: localized SHORT style, English, UTC) by
  * asking the JDK for the concrete localized pattern — so output tracks the
  * running JDK's CLDR data exactly, the same way the reference's does.
  */
final class NdjsonGzipSink(basePath: String, maxRecordsPerFile: Long = 1000000,
                           localeExactTimestamps: Boolean = false)
    extends EventSink {

  /** A collection's directory; its data sits in `batch=<key>` dirs below
    * it, which `spark.read.json(path(id))` reads back as one table.
    */
  def path(id: CollectionId): String = s"$basePath/${id.project}/${id.collection}"

  override def getColumns(id: CollectionId): Option[StructType] = None

  /** A write outside a stream: a fresh `batch=<key>` directory. */
  override def insert(id: CollectionId, df: DataFrame): Unit =
    insert(id, df, -1L)

  /** Batch-keyed write ([[EventSink.batchDir]]): a replayed batch
    * OVERWRITES its own directory — the same effectively-once trick as the
    * reference's S3 sink, which keys each object by (table, batch offsets)
    * so replays collide (S3DatabaseHandler.java:219-233) instead of
    * duplicating.
    */
  override def insert(id: CollectionId, df: DataFrame, batchId: Long): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .option("dateFormat", "yyyyMMdd") // BASIC_ISO_DATE, ref S3DatabaseHandler.java:241
      .option("maxRecordsPerFile", maxRecordsPerFile)
    val exact = if (localeExactTimestamps)
      w.option("timestampFormat", NdjsonGzipSink.referenceShortPattern)
        .option("timeZone", "UTC") // ref formatter is pinned to ZoneOffset.UTC
    else
      w.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    exact.json(EventSink.batchDir(path(id), batchId))
  }
}

object NdjsonGzipSink {
  /** The concrete pattern behind the reference's
    * `ofLocalizedDateTime(FormatStyle.SHORT)` English formatter
    * (S3DatabaseHandler.java:72) on the running JDK — e.g. `M/d/yy, h:mm a`.
    */
  def referenceShortPattern: String =
    java.time.format.DateTimeFormatterBuilder.getLocalizedDateTimePattern(
      java.time.format.FormatStyle.SHORT, java.time.format.FormatStyle.SHORT,
      java.time.chrono.IsoChronology.INSTANCE, java.util.Locale.ENGLISH)
}

/** In-memory sink for tests + the commit-barrier specs (the reference's
  * TestDatabaseHandler.java:18-124 equivalent).
  */
final class MemorySink extends EventSink {
  val inserted = new java.util.concurrent.ConcurrentHashMap[CollectionId, Seq[DataFrame]]()
  override def getColumns(id: CollectionId): Option[StructType] =
    Option(inserted.get(id)).flatMap(_.lastOption).map(_.schema)
  override def insert(id: CollectionId, df: DataFrame): Unit =
    inserted.merge(id, Seq(df.localCheckpoint(true)), (a, b) => a ++ b)
  def rows(id: CollectionId): Long =
    Option(inserted.get(id)).map(_.map(_.count()).sum).getOrElse(0L)
}
