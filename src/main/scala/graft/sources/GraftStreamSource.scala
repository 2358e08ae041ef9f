package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadAllAvailable, ReadLimit, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.StructType

/** Native streaming SOURCE: `spark.readStream.format("graft").load(root)`
  * (Delta `readStream` parity — the uniform format-string complement to
  * [[GraftTable.readChangeStream]], which serves the stored CDF instead).
  *
  * Semantics (Delta's streaming-source model):
  *  - **Initial snapshot**: the first micro-batch serves the table's
  *    full contents as of the latest version at stream start (DV-masked,
  *    logical column names) — then the stream tails subsequent commits.
  *    `option("startingVersion", <v>|<tag>|"latest")` skips the snapshot
  *    and tails from commit `v` on ("latest" = only commits after start).
  *  - **Tail**: each later micro-batch serves exactly the data files
  *    ADDED by the versions in `(lastOffset, latest]`, walked
  *    version-by-version so a file added then compacted away inside one
  *    batch window is still delivered once. Commits the table's
  *    commit-delta rule ([[GraftTable.rowDelta]]) calls row-free —
  *    compact / zorder / purge / column DDL, or an unchanged file set —
  *    are never re-served (Delta's dataChange=false), so a RESTORE to
  *    the previous version's file set is a no-op; a restore that
  *    changes the file set breaks append-only delivery and fails
  *    loudly even if the restored ROWS happen to be identical (e.g. a
  *    restore across a compact — the stream compares file identity,
  *    not bytes, exactly like Delta's file-based change detection).
  *  - **Changes**: a commit that rewrites or removes live rows (merge
  *    touching existing keys, DELETE/UPDATE, overwrite) breaks
  *    append-only delivery. Default: fail loudly. With
  *    `option("ignoreChanges", "true")` the rewritten files are served
  *    (their surviving rows may re-deliver — Delta's documented
  *    ignoreChanges contract); `option("ignoreDeletes", "true")` is the
  *    weaker escape that only SKIPS delete-only commits (TRUNCATE,
  *    whole-file retention deletes) and still fails on rewrites. For
  *    row-accurate deltas read the stored change feed with
  *    `option("readChangeFeed", "true")` (loud on a feed-less rewrite).
  *
  * Offsets are table VERSIONS (durable, monotone), so checkpoint
  * restart resumes exactly: the recovered offset is the last version
  * whose batch committed downstream, and `getBatch(recovered, latest)`
  * re-derives the same file set from the immutable manifests.
  *
  * The per-batch read rides the same funnel as every other reader
  * ([[GraftTable.readMasked]]: explicit schema, DV masks, column-mapping
  * aliases), wrapped via [[PlanBridge.asStreaming]] the way the built-in
  * Kafka source wraps its batch plans.
  */
class GraftStreamSource(
    spark: SparkSession, root: String, parameters: Map[String, String],
    metadataPath: String = "")
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val table = GraftTable(spark, root)

  private def opt(key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private val ignoreChanges =
    opt("ignoreChanges").exists(_.equalsIgnoreCase("true"))

  /** Delta's weaker escape hatch: skip DELETE-ONLY commits (rows
    * removed, none rewritten — TRUNCATE, retention deletes) without
    * accepting ignoreChanges' re-delivery of rewritten files. A commit
    * that both removes and adds files still fails the stream.
    */
  private val ignoreDeletes =
    opt("ignoreDeletes").exists(_.equalsIgnoreCase("true"))

  /** CDF mode (`option("readChangeFeed", "true")`, Delta parity): rows
    * carry `_change_type` + `_commit_version`. The initial snapshot
    * serves as 'insert' rows; the tail serves each version's STORED
    * change feed when one exists, and derives 'insert' rows from the
    * added files for add-only commits without one (Delta's CDC-file /
    * add-file derivation split). A row-rewriting commit with no stored
    * feed is a gap the stream cannot fill — it fails loudly naming the
    * writer options that store the feed.
    */
  private val readChangeFeed =
    opt("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  /** Row identity across the streamed hop (`option("withRowIds",
    * "true")`, tracked tables only): every served row carries `_row_id`
    * (plus `_row_commit_version` in plain mode, where it is not
    * redundant with `_commit_version`). Unlike the raw
    * [[GraftTable.readChangeStream]] file tail, this source is
    * VERSION-AWARE, so ids are complete: snapshot and derived-insert
    * rows read through the id funnel, and stored-feed rows fill
    * append-linked ids from the manifests — a silver→gold streaming hop
    * keeps identity-paired CDC end-to-end (a key-changing update's two
    * images share one `_row_id`).
    */
  private val withRowIds =
    opt("withRowIds").exists(_.equalsIgnoreCase("true"))

  private def latestRequired: Manifest = {
    val m = table.latestManifest.getOrElse(
      throw new IllegalStateException(
        s"graft streaming source requires a committed table at $root"))
    // Hive-import (pv) tables stream like any other: every batch reads
    // through [[GraftTable.readMasked]], whose per-tuple groups inject
    // the metadata-held partition values — no materializing write needed
    m
  }

  /** Stream-fixed logical TABLE schema, captured at stream start. */
  private val tableSchema: StructType = StructType.fromDDL(latestRequired.schema)

  /** Table version at stream (re)start — versions committed past it are
    * checked for schema drift by [[requireSchemaStable]].
    */
  private val startVersion: Long = latestRequired.version

  /** Manifest read with the retention horizon named: a lagging or
    * resuming stream whose pending versions were VACUUMed must fail
    * with the recovery spelled out (restart past the horizon), never a
    * raw NoSuchFileException from the store.
    */
  private def manifestOrHorizon(v: Long): Manifest =
    try table.manifest(v)
    catch {
      case e: java.nio.file.NoSuchFileException =>
        throw new IllegalStateException(
          s"graft streaming source at $root: version $v is outside the " +
            "retention window (its manifest was vacuumed) — the stream " +
            "lags retention. Restart past the horizon: drop the " +
            "checkpoint or set option(\"startingVersion\") to a retained " +
            "version, then re-bootstrap the consumer", e)
    }

  /** Delta's mid-stream schema-change contract: a version committed
    * AFTER stream start whose schema differs from the stream-fixed one
    * (added/dropped/renamed columns, widened types) fails the stream
    * LOUDLY instead of serving rows column-subset — silently dropping a
    * freshly-added column's values would diverge every exact downstream
    * (the gold mirror) until the affected rows happen to change again.
    * The failing batch is never committed, so a restart replays it under
    * the evolved schema and nothing is lost. Versions at or before the
    * start are history: reading them under the stream schema null-fills
    * columns they predate, which is exact.
    */
  private def requireSchemaStable(v: Long, m: Manifest): Unit = {
    if (v <= startVersion) return
    val vSchema = StructType.fromDDL(m.schema)
    def sig(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    if (sig(vSchema) != sig(tableSchema)) {
      val vn = vSchema.fieldNames.toSet
      val tn = tableSchema.fieldNames.toSet
      val what =
        if ((vn -- tn).nonEmpty) s"added column(s) ${(vn -- tn).mkString(", ")}"
        else if ((tn -- vn).nonEmpty)
          s"dropped/renamed column(s) ${(tn -- vn).mkString(", ")}"
        else if (sig(vSchema).sortBy(_._1) == sig(tableSchema).sortBy(_._1))
          "reordered columns" // same names, same types — position only
        else "changed column types"
      throw new IllegalStateException(
        s"graft streaming source at $root: version $v $what relative to " +
          "the schema the stream started with; restart the stream to pick " +
          "up the evolved schema (the uncommitted batch replays under it)")
    }
  }

  if (withRowIds) require(latestRequired.rowTracking,
    s"graft streaming source at $root: option withRowIds needs row " +
      "tracking — call enableRowTracking() first")

  /** The stream's output schema: the table schema, plus the CDF columns
    * in readChangeFeed mode, plus the identity columns in withRowIds
    * mode (`_row_commit_version` only in plain mode — on the CDF surface
    * `_commit_version` already says when each change landed).
    */
  override val schema: StructType = {
    val longT = org.apache.spark.sql.types.LongType
    val base =
      if (readChangeFeed) StructType(tableSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version", longT)))
      else tableSchema
    if (!withRowIds) base
    else if (readChangeFeed) StructType(base.fields :+
      org.apache.spark.sql.types.StructField(GraftTable.RowIdOut, longT))
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(GraftTable.RowIdOut, longT),
      org.apache.spark.sql.types.StructField(GraftTable.RowCommitOut, longT)))
  }

  /** The unit read every batch slice goes through: the plain masked
    * funnel, or the id-carrying one in withRowIds mode (public names,
    * `_row_commit_version` dropped on the CDF surface).
    */
  private def readUnit(files: Seq[ManifestFile], mapping: Map[String, String]): DataFrame =
    if (!withRowIds) table.readMasked(files, tableSchema, mapping)
    else {
      val withIds = table.readMaskedRowIds(files, tableSchema, mapping)
        .withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
        .withColumnRenamed(GraftTable.RowCommitCol, GraftTable.RowCommitOut)
      if (readChangeFeed) withIds.drop(GraftTable.RowCommitOut) else withIds
    }

  /** startingVersion resolved at source creation: None = initial
    * snapshot; Some(v) = tail commits >= v ("latest" and tag names
    * resolve through the table's version refs). `startingTimestamp`
    * (Delta parity) resolves to the first commit AT-OR-AFTER the cut —
    * the tail starts there; a timestamp past every commit behaves like
    * "latest" (only new commits).
    */
  private val startingVersion: Option[Long] = opt("startingVersion").map {
    case s if s.equalsIgnoreCase("latest") => latestRequired.version + 1
    case s => table.resolveVersionRef(s)
  }.orElse(opt("startingTimestamp").map { ts =>
    table.versionAtOrAfter(GraftDataSource.parseTimestampCut(ts))
  })

  /** Rows-per-batch control (`option("maxFilesPerTrigger", n)`, Delta
    * parity): caps every micro-batch — INCLUDING the initial snapshot —
    * at n data files. At table scale this is the difference between
    * bootstrapping a 100 TB table as thousands of bounded batches and
    * one impossible batch. Implemented with file-granular offsets; not
    * applied in CDF mode (there the unit is a version's change slice).
    */
  private val maxFilesPerTrigger: Option[Int] =
    opt("maxFilesPerTrigger").map { s =>
      val n = s.trim.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive (got $n)")
      n
    }

  /** Row-budget variant (`option("maxRowsPerTrigger", n)`): the
    * manifest records per-file row counts, so the offset walk can
    * budget ROWS without opening a file — steadier batch sizes than a
    * file cap when file sizes vary. At least one file always admits
    * (progress guarantee). When several budgets are set they COMPOSE:
    * each batch stops at the first budget spent (Delta's soft-max
    * semantics via Spark's CompositeReadLimit).
    */
  private val maxRowsPerTrigger: Option[Long] =
    opt("maxRowsPerTrigger").map { s =>
      val n = s.trim.toLong
      require(n > 0, s"maxRowsPerTrigger must be positive (got $n)")
      n
    }

  /** Byte-budget variant (`option("maxBytesPerTrigger", n)`, Delta
    * parity): budgets each micro-batch by manifest-recorded file SIZES —
    * the honest proxy for batch memory/work when file sizes are skewed
    * (a files cap admits 10 tiny + 1 huge file alike; a rows cap
    * misjudges wide rows). Same ≥1-file progress guarantee: a file
    * larger than the whole budget still admits alone.
    */
  private val maxBytesPerTrigger: Option[Long] =
    opt("maxBytesPerTrigger").map { s =>
      val n = s.trim.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive (got $n)")
      n
    }

  /** A file's size for the byte budget: manifest-recorded at write time;
    * legacy entries (pre-`bytes` manifests) fall back to one stat call,
    * bounded by the files actually walked.
    */
  private def bytesOf(f: ManifestFile): Long = f.bytes.getOrElse(
    try java.nio.file.Files.size(java.nio.file.Paths.get(root, f.path))
    catch { case _: java.io.IOException => 0L })

  /** Offset = position in the stream's file sequence: `i` files of
    * version `v`'s UNIT served, where the unit of the snapshot version
    * `v0` is the full snapshot file list and every later version's unit
    * is its added files (sorted by path — manifests are immutable, so
    * the order is stable across restarts). `v0 = -1` in tail-only mode.
    * Legacy plain-long offsets ("5", written before file-granular
    * offsets existed, version-complete by construction) parse as
    * (v=5, i=MAX, v0=-1).
    */
  private case class Cursor(v: Long, i: Int, v0: Long) {
    def json: String = s"""{"v":$v,"i":$i,"v0":$v0}"""
    def isBefore(o: Cursor): Boolean = v < o.v || (v == o.v && i < o.i)
    /** This bound's file cap for version `v2` (MAX when the bound sits
      * on a later version).
      */
    def i2(v2: Long, size: Int): Int = if (v == v2) i else size
  }
  private case class GraftOffset(c: Cursor) extends Offset {
    override def json: String = c.json
  }
  private val CursorRe =
    """\{"v":(-?\d+),"i":(-?\d+),"v0":(-?\d+)\}""".r
  private def cursorOfJson(j: String): Cursor = j.trim match {
    case CursorRe(v, i, v0) => Cursor(v.toLong, i.toInt, v0.toLong)
    case s => Cursor(s.toLong, Int.MaxValue, -1L) // legacy version-granular
  }
  private def parseCursor(o: Offset): Cursor = o match {
    case GraftOffset(c) => c
    case l: LongOffset => Cursor(l.offset, Int.MaxValue, -1L)
    case other => cursorOfJson(other.json)
  }

  /** The stream's initial cursor, pinned DURABLY in the source's own
    * metadata directory (the FileStreamSource pattern): Spark does not
    * replay getBatch on a fully-committed restart, so without this a
    * restarted snapshot-mode stream could not tell its snapshot version
    * apart from a tail version and would re-serve the table. Written
    * once at first start (create-if-absent; a creation race re-reads
    * the winner); restarts — even with changed reader options — keep
    * the original snapshot identity.
    */
  private lazy val initState: Cursor = {
    val fresh = startingVersion match {
      case Some(sv) => Cursor(sv - 1, Int.MaxValue, -1L)
      case None =>
        val v0 = latestRequired.version
        Cursor(v0, 0, v0)
    }
    if (metadataPath.isEmpty) fresh
    else {
      val file = new org.apache.hadoop.fs.Path(metadataPath, "graft-source-init.json")
      val fs = file.getFileSystem(spark.sessionState.newHadoopConf())
      def read(): Cursor = {
        val in = fs.open(file)
        val txt = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        cursorOfJson(txt)
      }
      if (fs.exists(file)) read()
      else try {
        fs.mkdirs(file.getParent)
        val out = fs.create(file, false)
        try out.write(fresh.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fresh
      } catch { case _: java.io.IOException => read() }
    }
  }
  private def pinnedV0: Long = initState.v0

  /** (files, mapping) of version `v`'s unit, memoized. Empty for
    * maintenance commits; the append-only check runs here (once per
    * version) for delta units. Versions before the first commit (v < 1,
    * reachable via `startingVersion=1` or a `startingTimestamp` at or
    * before the first commit — Delta serves both) are empty units, so
    * tailing from the very first version serves every commit instead of
    * crashing on a manifest that never existed.
    */
  private val unitCache =
    scala.collection.mutable.Map.empty[Long, (Seq[ManifestFile], Map[String, String])]
  private def unitOf(v: Long): (Seq[ManifestFile], Map[String, String]) =
    if (v < 1) (Nil, Map.empty)
    else unitCache.getOrElseUpdate(v, {
      val m = manifestOrHorizon(v)
      if (v == pinnedV0) (table.filesOf(m).sortBy(_.path), m.mapping)
      else table.rowDelta(if (v <= 1) None else Some(manifestOrHorizon(v - 1)), m) match {
        case None => (Nil, m.mapping)
        case Some((removed, added)) =>
          val op = m.operation.getOrElse("write")
          // ignoreDeletes: a delete-ONLY commit (removals, no additions —
          // TRUNCATE, retention DELETEs that drop whole files) is
          // skipped; anything that also adds files is a rewrite and
          // still fails without ignoreChanges (Delta's contract)
          val deleteOnly = removed.nonEmpty && added.isEmpty
          if (removed.nonEmpty && !(deleteOnly && ignoreDeletes) &&
            !ignoreChanges && !readChangeFeed) {
            val what =
              if (op == "restore")
                "is a RESTORE that changed the table's file set; even if the " +
                  "restored rows are identical (e.g. a restore across a " +
                  "compact), the stream detects changes by file identity and " +
                  "cannot prove that"
              else "rewrote or removed existing rows"
            val escape =
              if (deleteOnly) "option(\"ignoreDeletes\", \"true\") to skip " +
                "delete-only commits, or option(\"ignoreChanges\", \"true\")"
              else "option(\"ignoreChanges\", \"true\") to receive " +
                "rewritten files (surviving rows may re-deliver)"
            throw new IllegalStateException(
              s"graft streaming source at $root: version $v ($op) $what; " +
                s"the stream serves appends only. Either restart with $escape, " +
                "or consume row-accurate changes with " +
                "option(\"readChangeFeed\", \"true\")")
          }
          // stream schema is fixed at start: any mid-stream schema change
          // (DROP/RENAME, ADD, type widening) on a version the stream will
          // serve fails loudly — restart replays under the new schema.
          // HISTORICAL versions (≤ the start version, reachable via
          // startingVersion) are exempt: reading their files under the
          // stream schema null-fills/drops columns exactly like any
          // schema-evolution read, so a back-read across an ADD COLUMN
          // serves correctly instead of failing.
          if (added.nonEmpty) requireSchemaStable(v, m)
          (added.sortBy(_.path), m.mapping)
      }
    })

  /** Admission control (the KafkaSource pattern): the engine hands the
    * START offset to [[latestOffset]], so rate limiting needs no
    * restart-state reconstruction — the committed cursor IS the input.
    * [[getDefaultReadLimit]] surfaces maxFilesPerTrigger;
    * Trigger.AvailableNow pins a fence at prepare time and every
    * proposed offset clamps to it, so the drain terminates even while
    * writers keep committing.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (readChangeFeed) ReadLimit.allAvailable()
    else {
      val lims = Seq(
        maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)),
        maxRowsPerTrigger.map(n => ReadLimit.maxRows(n)),
        maxBytesPerTrigger.map(n => ReadLimit.maxBytes(n))).flatten
      lims match {
        case Nil => ReadLimit.allAvailable()
        case Seq(one) => one
        case many => ReadLimit.compositeLimit(many.toArray)
      }
    }

  @volatile private var availableNowFence: Option[Cursor] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFence = fullCursor()

  private def fullCursor(): Option[Cursor] =
    table.latestVersion.map(v => Cursor(v, unitOf(v)._1.length, pinnedV0))

  override def reportLatestOffset(): OffsetV2 =
    fullCursor().map(GraftOffset).orNull

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val latestC = fullCursor().getOrElse(return null)
    val bound = availableNowFence.filter(_.isBefore(latestC)).getOrElse(latestC)
    val base = Option(start).map(o => cursorOfJson(o.json)).getOrElse(initState)
    // (files, rows, bytes) caps from the engine-passed limit; composite
    // takes the tightest of each kind
    def capsOf(l: ReadLimit): (Option[Int], Option[Long], Option[Long]) = l match {
      case m: ReadMaxFiles => (Some(m.maxFiles), None, None)
      case m: ReadMaxRows => (None, Some(m.maxRows), None)
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        (None, None, Some(m.maxBytes))
      case _: ReadAllAvailable => (None, None, None)
      case composite: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        val parts = composite.getReadLimits.map(capsOf)
        (parts.flatMap(_._1).reduceOption(_ min _),
          parts.flatMap(_._2).reduceOption(_ min _),
          parts.flatMap(_._3).reduceOption(_ min _))
      case _ => (None, None, None)
    }
    val (fileCap, rowCap, byteCap) = capsOf(limit)
    val target =
      if (readChangeFeed ||
        (fileCap.isEmpty && rowCap.isEmpty && byteCap.isEmpty)) bound
      else {
        // advance past the start cursor until the first budget is spent;
        // rows/bytes budgets count manifest-recorded per-file totals and
        // always admit at least one file (progress guarantee)
        var c = base
        var files = fileCap.getOrElse(Int.MaxValue)
        var rows = rowCap.getOrElse(Long.MaxValue)
        var bytes = byteCap.getOrElse(Long.MaxValue)
        var admitted = 0
        var stop = false
        while (!stop && c.isBefore(bound)) {
          val unit = unitOf(c.v)._1
          val size = unit.length
          val limitI = math.min(size, bound.i2(c.v, size))
          if (c.i >= limitI) c = Cursor(c.v + 1, 0, pinnedV0)
          else {
            val fRows = unit(c.i).rows
            val fBytes = if (byteCap.isEmpty) 0L else bytesOf(unit(c.i))
            if (files <= 0 ||
              ((rows < fRows || bytes < fBytes) && admitted > 0)) stop = true
            else {
              c = c.copy(i = c.i + 1)
              files -= 1; rows -= fRows; bytes -= fBytes; admitted += 1
              if (files <= 0 || rows <= 0 || bytes <= 0) stop = true
            }
          }
        }
        // roll past empty/maintenance tails so "no new data" compares
        // equal to the bound cursor
        while (c.v < bound.v && c.i >= unitOf(c.v)._1.length)
          c = Cursor(c.v + 1, 0, pinnedV0)
        c
      }
    if (!base.isBefore(target)) null else GraftOffset(target)
  }

  /** v1 contract — superseded by [[latestOffset]] (the engine prefers
    * SupportsAdmissionControl exactly as with the built-in Kafka
    * source); never called by MicroBatchExecution.
    */
  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endC = parseCursor(end)
    val startC = start.map(parseCursor).getOrElse(initState)
    // no cursor bookkeeping needed: admission control receives the
    // start offset from the engine on every latestOffset call
    if (!startC.isBefore(endC)) return empty
    if (readChangeFeed) {
      val snap =
        if (start.isEmpty && startingVersion.isEmpty) cdfSnapshotDf(endC.v0)
        else None
      val tailFrom = if (start.isEmpty && startingVersion.isEmpty) endC.v0
        else startC.v
      val parts = (snap.toSeq ++ cdfTailDf(tailFrom, endC.v).toSeq)
        .map(df => df.select(
          schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*))
      if (parts.isEmpty) empty
      else PlanBridge.asStreaming(spark, parts.reduce(_.unionByName(_)))
    } else {
      val slices = (startC.v to endC.v).flatMap { v =>
        val (files, mapping) = unitOf(v)
        val from = if (v == startC.v) math.min(startC.i, files.length) else 0
        val until = if (v == endC.v) math.min(endC.i, files.length) else files.length
        if (from >= until) None else Some((files.slice(from, until), mapping))
      }
      if (slices.isEmpty) empty
      else {
        // one read per distinct mapping epoch (one, in the common
        // rename-free case) — columns ADDED after stream start are simply
        // not selected (explicit stream schema), Delta-style
        val dfs = slices.groupBy(_._2).map { case (mapping, group) =>
          readUnit(group.flatMap(_._1), mapping)
        }.toSeq
        PlanBridge.asStreaming(spark, dfs.reduce(_.unionByName(_)))
      }
    }
  }

  private def empty: DataFrame = PlanBridge.asStreaming(spark,
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))

  /** CDF snapshot part: the table's rows at `v` as 'insert' change rows
    * (Delta's initial-snapshot CDF contract). Batch (unwrapped) frame.
    */
  private def cdfSnapshotDf(v: Long): Option[DataFrame] = {
    val m = manifestOrHorizon(v)
    val files = table.filesOf(m)
    if (files.isEmpty) None
    else Some(readUnit(files, m.mapping)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v)))
  }

  /** CDF tail part: stored change-feed rows for versions that published
    * one; derived 'insert' rows (from the added files) for add-only
    * commits without one; a loud gap error for row-rewriting commits
    * without. Batch (unwrapped) frame.
    */
  private def cdfTailDf(fromExclusive: Long, endV: Long): Option[DataFrame] = {
    val stored = table.changeFeedVersions.toSet
    val dataVersions = ((fromExclusive + 1) to endV).flatMap { v =>
      val m = manifestOrHorizon(v)
      if (GraftTable.isRowFree(m)) None else Some((v, m))
    }
    if (dataVersions.isEmpty) return None
    // schema drift past stream start fails the batch BEFORE any rows are
    // served column-subset — the restart replays it under the new schema
    dataVersions.foreach { case (v, m) => requireSchemaStable(v, m) }
    val (haveStored, derive) = dataVersions.partition(t => stored.contains(t._1))
    val derived = derive.flatMap { case (v, m) =>
      table.rowDelta(if (v <= 1) None else Some(manifestOrHorizon(v - 1)), m).map {
        case (removed, _) if removed.nonEmpty =>
          throw new IllegalStateException(
            s"graft CDF stream at $root: version $v (${m.operation.getOrElse("write")}) " +
              "rewrote or removed rows but has no stored change feed (never " +
              "published, or already vacuumed) — the stream cannot derive its " +
              "deltas. Write with .withChangeFeed() / appendWithChangeFeed / " +
              "sink option changeFeed=true, or restart past it with " +
              "option(\"startingVersion\", ...)")
        case (_, added) => readUnit(added, m.mapping)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v))
      }
    }
    val storedDf =
      if (haveStored.isEmpty) Nil
      else Seq(table.changeFeed(haveStored.map(_._1).min, withRowIds)
        .filter(col("_commit_version") <= endV))
    val parts = (derived ++ storedDf).map(df =>
      df.select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*))
    parts.reduceOption(_.unionByName(_))
  }

  override def stop(): Unit = ()
}
