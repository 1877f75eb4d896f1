package graft.schema

import org.apache.spark.sql.types._

/** Engine configuration for the reserved field names + default column types.
  * Mirrors the reference's FieldNameConfig
  * (/root/reference/src/main/java/io/rakam/presto/FieldNameConfig.java:21-107):
  * `_time` (event time), `_user` (actor, configurable type), `_shard_time`
  * (ingest checkpoint column, excluded from parsing and injected per batch).
  */
final case class FieldNames(
    timeField: String = "_time",
    userField: String = "_user",
    checkpointField: String = "_shard_time",
    userType: FieldType = FieldType.FString) {
  def excludedFromParse: Set[String] = Set(checkpointField)
}

/** Schema bookkeeping for dynamically-evolving collections.
  *
  * The reference's metastore (`getColumns`/`addColumns`,
  * DatabaseHandler.java:13-30) defines the authoritative column order:
  * existing columns keep their registered order, brand-new columns append in
  * first-seen order (tested by the reference's testComplexAlterSchema).
  */
object EventSchema {

  /** Default schema for a brand-new collection: `_time TIMESTAMP, _user <cfg>`
    * (MessageEventTransformer.generatePageBuilder, reference
    * deserialization/MessageEventTransformer.java:44-61). The checkpoint
    * column `_shard_time` is added by the sink, not the parser.
    */
  def defaultSchema(names: FieldNames = FieldNames()): StructType =
    StructType(Seq(
      StructField(names.timeField, TimestampType, nullable = true),
      StructField(names.userField, names.userType.sparkType, nullable = true)))

  /** Merge an existing (authoritative) schema with newly-observed fields:
    * existing order preserved, new fields appended in their observed order,
    * every column nullable. Type conflicts resolve with [[widen]].
    */
  def evolve(existing: StructType, observed: StructType): StructType = {
    val byName = observed.fields.map(f => f.name -> f).toMap
    val kept = existing.fields.map { f =>
      byName.get(f.name) match {
        case Some(o) => StructField(f.name, widen(f.dataType, o.dataType), nullable = true)
        case None    => f.copy(nullable = true)
      }
    }
    val existingNames = existing.fieldNames.toSet
    val appended = observed.fields.filterNot(f => existingNames(f.name))
      .map(_.copy(nullable = true))
    StructType(kept ++ appended)
  }

  /** Monotonic type widening for batch-to-batch schema drift. The reference
    * never widens in flight (mismatch ⇒ record skipped,
    * JsonMessageEventTransformer.java:50-60) — at the *schema registry* level
    * we resolve benign numeric drift and fall back to STRING otherwise so a
    * multi-batch union is always well-typed.
    */
  def widen(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y                     => x
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType)   => DoubleType
    case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
    case (ArrayType(x, _), ArrayType(y, _))   => ArrayType(widen(x, y), containsNull = true)
    case (MapType(_, x, _), MapType(_, y, _)) => MapType(StringType, widen(x, y), valueContainsNull = true)
    case _                                    => StringType
  }

  /** In-memory, thread-safe schema registry — the engine's stand-in for the
    * reference's MySQL/raptor metastore (MetadataDao.java:89-133). At rest the
    * authoritative schema is the sink's (Delta log / parquet footers); this
    * registry is the in-flight coordination point within one driver.
    */
  final class Registry(names: FieldNames = FieldNames()) extends Serializable {
    private val schemas = new java.util.concurrent.ConcurrentHashMap[CollectionId, StructType]()
    // monotonic change counters per PROJECT: let persistence skip the (FS
    // round-trip) save of a shard when nothing in its project evolved since
    // the last one (so one hot collection in one project never rewrites
    // every other project's file)
    private val projectVersions =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val savedVersions =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    // projects explicitly dropped since the last sharded save: their shard
    // files are deleted at the next saveShardedIfChanged (without this a
    // deleted project's file sits on disk forever and loadSharded
    // resurrects it)
    private val removedProjects =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // cumulative wall time spent inside sharded persistence — the
    // registry-save share of the commit barrier, surfaced by the streaming
    // throughput bench (the steady-state save is a version-check no-op, so
    // this should stay near zero once schemas stabilize)
    private val persistNanos = new java.util.concurrent.atomic.AtomicLong(0)

    /** Total milliseconds spent in [[saveShardedIfChanged]] so far. */
    def persistMillis: Long = persistNanos.get() / 1000000L

    private def bump(project: String): Unit = {
      projectVersions.merge(project, 1L, (a, b) => a + b)
    }

    def get(id: CollectionId): Option[StructType] = Option(schemas.get(id))

    /** getColumns with create-if-missing semantics (D8). */
    def getOrCreate(id: CollectionId): StructType = {
      val existing = schemas.get(id)
      if (existing != null) existing
      else {
        val created = schemas.computeIfAbsent(id, _ => defaultSchema(names))
        bump(id.project)
        created
      }
    }

    /** addColumns: merge observed fields into the authoritative order (D9).
      * Returns the post-merge schema.
      */
    def addColumns(id: CollectionId, observed: StructType): StructType = {
      var changed = false
      val out = schemas.compute(id, (_, cur) => {
        val base = if (cur == null) defaultSchema(names) else cur
        val evolved = evolve(base, observed)
        if (cur == null || evolved != cur) changed = true
        evolved
      })
      if (changed) bump(id.project)
      out
    }

    def put(id: CollectionId, schema: StructType): Unit = {
      schemas.put(id, schema)
      bump(id.project)
    }

    def all: Map[CollectionId, StructType] = {
      import scala.jdk.CollectionConverters._
      schemas.asScala.toMap
    }

    /** Drop every collection of `project` from the registry. The project's
      * shard file (sharded layout) is garbage-collected by the next
      * [[saveShardedIfChanged]] so a later [[loadSharded]] cannot
      * resurrect the deleted schemas.
      */
    def removeProject(project: String): Unit = {
      import scala.jdk.CollectionConverters._
      schemas.keySet.asScala.filter(_.project == project)
        .foreach(schemas.remove)
      projectVersions.remove(project)
      removedProjects.add(project)
    }

    /** K4 at-rest persistence: serialize the registry as JSON so a restarted
      * driver resumes with the authoritative column order (the reference
      * persists this in MySQL `tables`/`columns`; schema JSON on the
      * checkpoint volume plays that role here).
      */
    private def entriesJson(entries: Seq[(CollectionId, StructType)]): String =
      entries.sortBy(e => (e._1.project, e._1.collection))
        .map { case (id, st) =>
          s"""{"project":"${id.project}","collection":"${id.collection}",
             |"schema":${st.json}}""".stripMargin.replace("\n", "")
        }
        .mkString("[", ",", "]")

    /** Written via rename-with-OVERWRITE (FileContext) — one atomic step,
      * so a crash mid-save leaves either the old shard or the new one,
      * never neither (delete-then-rename would have a window with NO file,
      * and a restart would silently start from an empty registry).
      */
    private def writeAtomic(path: String, body: String,
                            conf: org.apache.hadoop.conf.Configuration): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val qualified = fs.makeQualified(p)
      org.apache.hadoop.fs.FileContext.getFileContext(qualified.toUri, conf)
        .rename(fs.makeQualified(tmp), qualified,
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

    /** The registry's one at-rest layout, per-project shards:
      * `dir/<project>.json`, each written with an atomic rename. A single
      * registry file would grow with the collection count — at 10k
      * collections every trigger would re-serialize all of them inside the
      * commit barrier; sharding bounds each write to the projects that
      * actually evolved this batch (the reference's metastore equivalently
      * writes only the touched `tables`/`columns` rows,
      * MetadataDao.java:89-133). Skips the filesystem when nothing
      * evolved since the last save to `dir` (the steady state). Returns
      * whether any shard was written.
      */
    def saveShardedIfChanged(dir: String,
                             conf: org.apache.hadoop.conf.Configuration): Boolean = this.synchronized {
      val persistT0 = System.nanoTime()
      try saveShardedLocked(dir, conf)
      finally persistNanos.addAndGet(System.nanoTime() - persistT0)
    }

    private def saveShardedLocked(dir: String,
                                  conf: org.apache.hadoop.conf.Configuration): Boolean = {
      // saves SERIALIZE on the registry: two streaming queries sharing this
      // registry may commit concurrently, and without the lock a save that
      // serialized OLDER entries can win the rename race against one that
      // serialized newer entries while `savedVersions` records the newer
      // version — the steady-state skip would then hide the lost columns
      // on disk until the project's next evolution. Under the lock the
      // later saver re-reads both the version and the entries, so the file
      // always ends at the newest serialization (the reference serializes
      // equivalently through its metastore DAO, MetadataDao.java:114-133).
      // addColumns stays lock-free — only persistence serializes.
      import scala.jdk.CollectionConverters._
      val projects = schemas.keySet.asScala.map(_.project).toSet
      var any = false
      projects.foreach { project =>
        // version FIRST, entries second: a concurrent addColumns between
        // the two can only make the recorded version STALE — a redundant
        // rewrite next batch — never newer than the serialized entries,
        // which would silently skip persisting the evolved schema until
        // the project's next change
        val v = projectVersions.getOrDefault(project, 0L)
        val key = s"$dir|$project"
        val saved = savedVersions.get(key)
        if (saved == null || saved.longValue() != v.longValue()) {
          val entries = all.toSeq.filter(_._1.project == project)
          writeAtomic(shardPath(dir, project), entriesJson(entries), conf)
          savedVersions.put(key, v)
          any = true
        }
      }
      // shard GC — only off the steady path (a write just happened, or a
      // project was explicitly removed), so the scan never taxes the
      // no-change trigger: any .json under `dir` whose project is no
      // longer registered is deleted, closing the resurrect-on-load hole
      if (any || !removedProjects.isEmpty) {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
          fs.listStatus(p)
            .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
            .foreach { st =>
              val project = java.net.URLDecoder.decode(
                st.getPath.getName.stripSuffix(".json"), "UTF-8")
              if (!projects.contains(project)) {
                fs.delete(st.getPath, false)
                savedVersions.remove(s"$dir|$project")
                any = true
              }
            }
        }
        removedProjects.clear()
      }
      any
    }

    private def shardPath(dir: String, project: String): String =
      dir + "/" + java.net.URLEncoder.encode(project, "UTF-8") + ".json"

    /** Load every shard under `dir`, merge-on-load per entry (the file's
      * column order leads, columns registered in memory fold in). Returns
      * whether anything was read.
      */
    def loadSharded(dir: String,
                    conf: org.apache.hadoop.conf.Configuration): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return false
      val shards = fs.listStatus(p)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      if (shards.isEmpty) return false
      val hadEntries = !schemas.isEmpty
      shards.foreach { st =>
        val in = fs.open(st.getPath)
        val body =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        fromJson(body)
      }
      // The just-loaded state IS the durable state under `dir` — but only
      // when the registry was empty before the load. If schemas were
      // pre-registered in memory (e.g. startAvro), they may be absent from
      // the files; marking the merged state durable would make
      // saveShardedIfChanged skip them until some later evolution, and a
      // crash in that window would drop them. Leave savedVersions
      // unseeded so the first save persists the merged registry.
      if (!hadEntries) {
        import scala.jdk.CollectionConverters._
        projectVersions.asScala.foreach { case (project, v) =>
          savedVersions.put(s"$dir|$project", v)
        }
      }
      true
    }

    private def fromJson(body: String): Unit = {
      val root = graft.ingest.JsonEventParser.mapperRead(body)
      root match {
        case graft.ingest.JVal.JArr(items) => items.foreach {
          case o: graft.ingest.JVal.JObj =>
            (o.toMap.get("project"), o.toMap.get("collection"), o.toMap.get("schema")) match {
              case (Some(graft.ingest.JVal.JStr(p)), Some(graft.ingest.JVal.JStr(c)), Some(sch)) =>
                val id = CollectionId(p, c)
                val fileSchema = org.apache.spark.sql.types.DataType
                  .fromJson(graft.ingest.JVal.encode(sch)).asInstanceOf[StructType]
                // Merge-on-load: the durable file is the authoritative base
                // order (reference MetadataDao.java:114-133 — registered
                // columns keep their order, new ones append). A schema
                // pre-registered in memory before the load (the startAvro
                // window) is folded in as observed columns via evolve(),
                // never clobbered by a possibly-stale file entry.
                schemas.compute(id, (_, cur) =>
                  if (cur == null) fileSchema else evolve(fileSchema, cur))
                bump(id.project)
              case _ => ()
            }
          case _ => ()
        }
        case _ => ()
      }
    }
  }
}
