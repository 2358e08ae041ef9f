package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.MergeBuilder

/** Per-data-file entry in a manifest. min/max are stringified values of
  * the table's stats column (first primary key), used for merge-time file
  * pruning; absent when stats were not collected.
  */
case class ManifestFile(
    path: String,
    rows: Long,
    statsCol: Option[String] = None,
    min: Option[String] = None,
    max: Option[String] = None,
    // multi-column ranges (col -> (min, max)) — lets composite-pk merges
    // prune on every key column; legacy single-col fields kept for
    // manifests written before this field existed
    ranges: Option[Map[String, Seq[String]]] = None,
    // on-disk size, captured at write time so catalog reads (GraftFileIndex)
    // plan splits and join strategies without stat-ing every file.
    // contentAs: Jackson otherwise materializes small values as Integer
    // inside the erased Option and the first .get unboxes to a crash
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    bytes: Option[Long] = None,
    // deletion vector (merge-on-read row deletion, Delta DV parity):
    // rel path of a parquet dataset of (path, pos) pairs masking rows of
    // THIS file, plus the masked-row count. `rows` stays the file's
    // physical row count; liveRows is what planning/counting must use.
    // min/max stats stay valid over-approximations (a DV only removes
    // rows), so pruning soundness is untouched by masking.
    dv: Option[String] = None,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    dvRows: Option[Long] = None,
    // bloom-filter sidecar (`_graft/bloom/<uuid>.bin`) for point-lookup
    // file skipping on non-clustered keys — see [[BloomSkipping]]
    bloom: Option[String] = None,
    // Hive-import partition values (CONVERT ... PARTITIONED BY): the
    // column values this file's DIRECTORY path spells (`yyyy=2020/MM=1`),
    // which the file itself does NOT contain. Values are stored decoded;
    // a NULL partition lands as [[GraftTable.HiveDefaultPartition]].
    // Readers serve these through the scan's partitionSchema
    // ([[GraftFileIndex]]) or the whole-file funnel's per-tuple literal
    // injection; writes route through [[GraftTable.writePvDataFiles]] so
    // rewritten/appended files carry their tuple — pv is permanent
    // (Delta's model), never materialized into data columns.
    pv: Option[Map[String, String]] = None,
    // Row tracking (Delta row-ID parity): first stable row id of this
    // file's id range. A row's id is `baseRowId + its position in the
    // file`, unless the file carries a materialized `_graft_row_id`
    // column (rewritten files preserve surviving rows' original ids that
    // way — see [[GraftTable.RowIdCol]]), in which case the materialized
    // value wins and base+position only serves rows the rewrite INSERTED
    // (their materialized id is NULL). Assigned at commit time from the
    // manifest's high watermark; absent on tables that never enabled
    // tracking.
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    baseRowId: Option[Long] = None,
    // Default row commit version (Delta parity): the version this file
    // landed in. A row's `_row_commit_version` — the last commit that
    // MODIFIED it — is this default unless the file materializes a
    // `_graft_row_commit` value (rewrites preserve COPIED rows' old
    // versions that way; rows the commit updated/inserted stay NULL and
    // inherit the default). Same assignment/carry rules as baseRowId.
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    rcv: Option[Long] = None) {

  /** Rows a reader actually sees: physical rows minus DV-masked ones. */
  def liveRows: Long = rows - dvRows.getOrElse(0L)
}

/** Reference to one immutable chunk file (`_graft/chunk-<uuid>.json`)
  * listing up to ~manifestChunkFiles [[ManifestFile]] entries, carrying
  * the aggregates planning needs WITHOUT opening the chunk: file/row/byte
  * totals and per-column min-of-mins/max-of-maxes (a column appears only
  * when EVERY member file has stats for it — a partial aggregate could
  * prune a live file). Chunks are content-immutable and shared verbatim
  * across versions: a commit that doesn't touch a chunk's files carries
  * the ref unchanged, which is what makes commit cost O(touched), not
  * O(live files) — the Iceberg manifest-list shape.
  */
case class ChunkRef(
    path: String,
    files: Int,
    rows: Long, // LIVE rows (physical minus DV-masked) — what counts use
    ranges: Option[Map[String, Seq[String]]] = None,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    bytes: Option[Long] = None,
    // total DV-masked rows across member files — lets hasDv answer
    // without opening the chunk (None/0 = no member file carries a DV)
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    dvRows: Option[Long] = None,
    // member files carrying Hive-import partition values — lets hasPv
    // answer without opening the chunk (None/0 = none)
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Integer])
    pvFiles: Option[Int] = None)

/** On-disk payload of one chunk file. */
case class Chunk(files: Seq[ManifestFile])

/** A commit's file set: chunk refs carried forward untouched (verbatim,
  * never reopened) plus the fresh/changed files this commit introduces
  * or re-lists.
  */
private[graft] case class FileSet(kept: Seq[ChunkRef], fresh: Seq[ManifestFile])

/** Sidecar (`_segment.json`) of one compacted change-feed segment: the
  * exact commit versions whose change data the segment holds (a plain
  * [from,to] range cannot distinguish feed-off writers' versions from
  * lost ones, and repairChangeFeed needs that distinction).
  */
private[graft] case class ChangeSegment(
    from: Long,
    to: Long,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    versions: Seq[Long])

/** One committed table version: the live data files — inline in `files`
  * for small tables, and/or behind [[ChunkRef]]s in `chunks` once the
  * file count crosses the chunking threshold (a manifest may hold BOTH:
  * chunk refs plus a small inline delta of recently added files, swept
  * into a chunk when the inline section itself grows past the
  * threshold) — plus the (possibly evolved) schema as Spark DDL and
  * commit metadata (operation + wall-clock time) for the history view.
  */
case class Manifest(
    version: Long,
    schema: String,
    files: Seq[ManifestFile],
    operation: Option[String] = None,
    committedAt: Option[String] = None,
    // Declared partition/clustering columns (ref COPY_MSQL_TO_SILVER.py:
    // 78-81 — the silver date layout). Every write range-clusters rows on
    // these columns and records their per-file min/max, so partition
    // pruning IS stats pruning — one mechanism serves merge, catalog
    // reads and time travel, with the columns staying in the data files
    // (no Hive directory games; this is the clustered-table design, not
    // directory partitioning).
    partitionCols: Option[Seq[String]] = None,
    // Idempotent-writer marker "<appId>:<version>" (Delta txn parity):
    // a replayed at-least-once micro-batch can check lastTxn(appId) and
    // skip a batch its crash-interrupted predecessor already committed.
    txn: Option[String] = None,
    // chunked file listing (see class doc); resolve the full file set
    // with GraftTable.filesOf, and use allFiles/allRows for counts —
    // `files` alone is only the inline section
    chunks: Option[Seq[ChunkRef]] = None,
    // Column mapping (Delta column-mapping parity): logical column name →
    // PHYSICAL name as written in the parquet files. Only non-identity
    // entries are stored; a physical name never changes once assigned, so
    // RENAME COLUMN is a metadata-only commit (at 100 TB the alternative
    // is rewriting every file). `schema` above is always the LOGICAL
    // schema; every read funnel reads files under physical names and
    // aliases back, every write funnel renames logical→physical.
    columnMapping: Option[Map[String, String]] = None,
    // physical names of DROPPED columns — still present in old data
    // files, never readable again. Kept so a later ADD of the same
    // logical name gets a FRESH physical name instead of resurrecting
    // the dropped column's stored values.
    retired: Option[Seq[String]] = None,
    // reader protocol guard (Delta minReaderVersion/table-features
    // parity): names of CORRECTNESS-CRITICAL features this version uses.
    // A reader that does not understand one of them must refuse the
    // table rather than silently misread it — e.g. a pre-DV reader
    // ignoring the dv field would serve deleted rows as live. Sticky
    // once used (like Delta's). Absent on legacy manifests = no
    // features beyond the base format.
    readerFeatures: Option[Seq[String]] = None,
    // Row tracking (Delta `delta.enableRowTracking` parity): the next
    // unallocated stable row id. Present ⇔ tracking is on; every commit
    // assigns each fresh file a `baseRowId` range of `rows` ids from
    // here and advances the mark. Ids are never reused (a crashed or
    // raced writer leaks its range — gaps are fine, reuse is not).
    // NOT a reader feature: a tracking-unaware reader still serves the
    // data exactly (the materialized id column is outside the logical
    // schema and explicit-schema reads never see it) — it merely cannot
    // serve row ids.
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    rowIdHighWaterMark: Option[Long] = None) {

  /** Whether stable row ids are tracked as of this version. */
  def rowTracking: Boolean = rowIdHighWaterMark.isDefined

  /** Total live file count without opening any chunk. */
  def allFiles: Int = files.length + chunks.getOrElse(Nil).map(_.files).sum

  /** Total live row count without opening any chunk (exact: writers
    * record per-file row counts, chunk refs carry the sums; DV-masked
    * rows are excluded on both paths).
    */
  def allRows: Long =
    files.map(_.liveRows).sum + chunks.getOrElse(Nil).map(_.rows).sum

  /** Whether any live file carries a deletion vector — O(1), no chunk is
    * opened (chunk refs aggregate member dvRows).
    */
  def hasDv: Boolean = files.exists(_.dv.isDefined) ||
    chunks.getOrElse(Nil).exists(_.dvRows.exists(_ > 0L))

  /** Whether any live file carries Hive-import partition values — O(1),
    * no chunk is opened (chunk refs aggregate member pv counts). True
    * exactly while the table is in the read-optimized post-CONVERT state;
    * the first data-changing op materializes the values into real
    * columns and this turns false again.
    */
  def hasPv: Boolean = files.exists(_.pv.isDefined) ||
    chunks.getOrElse(Nil).exists(_.pvFiles.exists(_ > 0))

  /** Logical→physical column mapping (empty = identity, the common case
    * for tables that never renamed a column).
    */
  def mapping: Map[String, String] = columnMapping.getOrElse(Map.empty)

  /** Physical (as-written) name of logical column `c`. */
  def physicalOf(c: String): String = mapping.getOrElse(c, c)

  /** Physical→logical inverse (physical names are unique by
    * construction — fresh-name assignment never reuses a live or
    * retired physical).
    */
  def logicalByPhysical: Map[String, String] = mapping.map(_.swap)

  /** The schema as the parquet files spell it — [[schema]] with each
    * field renamed through the mapping. Field order and types are the
    * logical schema's.
    */
  def physicalSchema: StructType = {
    val logical = StructType.fromDDL(schema)
    if (mapping.isEmpty) logical
    else StructType(logical.fields.map(f => f.copy(name = physicalOf(f.name))))
  }
}

/** Per-appId idempotent-writer index (`_graft/txns/<appId>.json`):
  * `markers` maps this writer's recent txn markers to the manifest
  * version each committed as; `manifestVersion` is the newest version
  * the index has absorbed. Written AFTER each marker-carrying commit,
  * so a lookup trusts the index and scans only manifests NEWER than
  * `manifestVersion` (the ≤1-commit crash window) before believing a
  * miss. Single logical writer per appId — the same contract as Delta's
  * txnAppId. The index survives vacuum, so replay detection no longer
  * couples retention depth to replay depth.
  */
private[graft] case class TxnIndex(
    appId: String,
    manifestVersion: Long,
    // contentAs: like ManifestFile.bytes — Jackson otherwise materializes
    // small values as Integer inside the erased map and the first unboxing
    // read crashes
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    markers: Map[String, Long])

/** One row of the table's commit history (DESCRIBE HISTORY parity). */
case class CommitInfo(
    version: Long,
    operation: String,
    committedAt: String,
    numFiles: Int,
    rows: Long)

/** A versioned Parquet table — the engine's stand-in for the Delta
  * capabilities the reference uses (overwrite ref COPY_MSQL_TO_SILVER.py:193,
  * MERGE upsert ref :200-209, readable-while-loading ref README.md:4):
  *
  *  - **Atomic commit**: data files land first, then a manifest JSON is
  *    atomically renamed into `_graft/`. Readers only ever see fully
  *    committed versions; a crashed writer leaves orphan data files but
  *    never a torn table.
  *  - **Snapshot isolation / time travel**: each version's manifest is
  *    immutable; `snapshotAt(v)` pins any historical version.
  *  - **Optimistic concurrency**: two writers racing to commit version N
  *    — exactly one rename wins, the loser gets a conflict exception.
  *  - **File statistics**: per-file min/max on the stats column lets
  *    `merge` rewrite only the files whose key range intersects the
  *    source batch — at 100 TB this is the difference between rewriting
  *    gigabytes and rewriting the table.
  *
  * Layout: `<root>/_graft/manifest-v%020d.json` + `<root>/data/<uuid>/part-*.parquet`.
  */
class GraftTable(
    val spark: SparkSession, val root: String,
    explicitStore: CommitStore = null) {
  // resolved through the process-global provider so suites can swap the
  // whole battery onto an object-store-semantics store; an explicit
  // store argument (fault-injection specs) always wins
  private[graft] val store: CommitStore =
    if (explicitStore != null) explicitStore else CommitStore.forRoot(root)
  import GraftTable._

  private val manifestDir: Path = Paths.get(root, "_graft")
  private val dataDir: Path = Paths.get(root, "data")

  def exists: Boolean = latestVersion.isDefined

  private def manifestPath(v: Long): Path =
    manifestDir.resolve(f"manifest-v$v%020d.json")

  // advisory latest-version pointer (`_graft/_last`, Delta
  // `_last_checkpoint` shape): written AFTER each winning commit, read
  // FIRST on resolution. Purely a hint — the manifest putIfAbsent stays
  // the only commit decider, so a stale/backward/missing pointer can
  // never pick a wrong version, only cost a forward probe or a listing.
  private val lastPtrPath: Path = manifestDir.resolve("_last")

  /** Latest committed version. Hot path is O(1) in version count: read
    * the pointer, then probe FORWARD past it (covers commits whose
    * pointer update lost a race or crashed in the commit→pointer
    * window — the probe walks only that lag, typically 0). A
    * minutes-cadence NRT table reaches 100k+ versions in months; the
    * listing fallback alone would put an O(versions) directory scan in
    * front of EVERY read and commit.
    */
  def latestVersion: Option[Long] = {
    val hinted =
      try {
        val v = store.read(lastPtrPath).trim.toLong
        if (v >= 1L && store.exists(manifestPath(v))) {
          var cur = v
          while (store.exists(manifestPath(cur + 1))) cur += 1
          Some(cur)
        } else None // pointer names a missing manifest — fall back
      } catch { case _: Exception => None }
    hinted.orElse {
      val versions = store.list(manifestDir)
        .collect { case ManifestName(v) => v.toLong }
      if (versions.isEmpty) None else Some(versions.max)
    }
  }

  def manifest(version: Long): Manifest = {
    val m = mapper.readValue(
      store.read(manifestPath(version)), classOf[Manifest])
    // protocol gate: refuse (loudly) a manifest using a feature this
    // build does not understand — Jackson ignores unknown JSON fields,
    // so without this check a future writer's semantics would be
    // silently dropped (a pre-DV reader would return deleted rows)
    val unknown = m.readerFeatures.getOrElse(Nil)
      .filterNot(GraftTable.SupportedReaderFeatures)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"table $root version $version requires reader feature(s) " +
        s"${unknown.mkString(", ")} this build does not support; " +
        "upgrade the library to read this table")
    m
  }

  def latestManifest: Option[Manifest] = latestVersion.map(manifest)

  // ---- chunked manifests -----------------------------------------------
  // A single JSON listing every live file is O(live files) on the DRIVER
  // for every commit and plan — at 100 TB / ~1M files that is a several-
  // hundred-MB read per operation. Past `manifestChunkFiles` entries the
  // listing moves into immutable chunk files carried by reference:
  // commits rewrite only the (small) manifest list, their own inline
  // delta, and any chunk they actually removed files from; planning
  // prunes whole chunks against the refs' aggregate ranges before
  // opening any of them.

  /** Files-per-chunk threshold. Tables at or below it keep the plain
    * inline manifest (zero extra files, format-compatible); tests lower
    * it to exercise chunking with small data.
    */
  private[graft] var manifestChunkFiles: Int =
    spark.conf.getOption("spark.graft.manifest.chunkFiles").map(_.toInt).getOrElse(1000)

  // Chunk files are content-immutable, so the cache never invalidates —
  // only evicts. LRU (access-ordered), not the round-5 full clear: a
  // planning pass over a large table wiped entries read early in the
  // pass, so every pass re-read hot chunks that pruning touches on every
  // plan. The default cap covers ~1M files at the default chunk size.
  private[graft] var chunkCacheMax: Int =
    spark.conf.getOption("spark.graft.manifest.chunkCacheSize")
      .map(_.toInt).getOrElse(1024)
  /** Cache-miss counter (chunk files actually read), for specs. */
  private[graft] val chunkReads = new java.util.concurrent.atomic.AtomicLong()
  private val chunkCache: java.util.Map[String, Seq[ManifestFile]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[ManifestFile]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[ManifestFile]]): Boolean =
          size() > chunkCacheMax
      })

  private[graft] def readChunk(ref: ChunkRef): Seq[ManifestFile] = {
    val cached = chunkCache.get(ref.path)
    if (cached != null) return cached
    val files = mapper.readValue(
      store.read(manifestDir.resolve(ref.path)), classOf[Chunk]).files
    chunkReads.incrementAndGet()
    chunkCache.put(ref.path, files)
    files
  }

  /** The complete live file listing of a manifest (inline section plus
    * every chunk, resolved through the cache). O(live files) by nature —
    * callers that only need counts use `m.allFiles`/`m.allRows`, and
    * pruning readers ([[GraftFileIndex]]) skip chunks whose aggregate
    * ranges cannot match before resolving them.
    */
  def filesOf(m: Manifest): Seq[ManifestFile] =
    m.files ++ m.chunks.getOrElse(Nil).flatMap(readChunk)

  /** Aggregate a chunk's member stats into its ref: totals always; a
    * column's range only when EVERY member has one (a partial aggregate
    * could prune a live file). Type-aware min/max via StatsPruning so
    * numeric strings don't compare lexically.
    */
  private def chunkRefOf(path: String, files: Seq[ManifestFile], schema: StructType): ChunkRef = {
    val perFile = files.map(StatsPruning.fileRanges)
    val cols = perFile.headOption.map(_.keySet).getOrElse(Set.empty[String])
      .filter(c => perFile.forall(_.contains(c)))
    val ranges = cols.map { c =>
      val dt = schema.fields.find(_.name == c).map(_.dataType)
      val los = perFile.map(_(c)._1)
      val his = perFile.map(_(c)._2)
      c -> Seq(
        los.reduce((a, b) => if (StatsPruning.cmp(dt, a, b) <= 0) a else b),
        his.reduce((a, b) => if (StatsPruning.cmp(dt, a, b) >= 0) a else b))
    }.toMap
    val masked = files.map(_.dvRows.getOrElse(0L)).sum
    val pvCount = files.count(_.pv.isDefined)
    ChunkRef(path, files.length, files.map(_.liveRows).sum,
      if (ranges.isEmpty) None else Some(ranges),
      Some(files.map(_.bytes.getOrElse(0L)).sum),
      if (masked == 0L) None else Some(masked),
      if (pvCount == 0) None else Some(pvCount))
  }

  /** Write `files` as immutable chunk files (groups of
    * `manifestChunkFiles`), returning their refs. Written BEFORE the
    * manifest commit; a lost commit race re-chunks and the orphans age
    * out via vacuum like orphan data files.
    */
  private def writeChunks(files: Seq[ManifestFile], schema: StructType): Seq[ChunkRef] = {
    files.grouped(manifestChunkFiles).map { group =>
      val name = s"chunk-${UUID.randomUUID().toString.take(12)}.json"
      store.write(manifestDir.resolve(name), mapper.writeValueAsString(Chunk(group)))
      chunkCache.put(name, group)
      chunkRefOf(name, group, schema)
    }.toSeq
  }

  /** Current-version DataFrame. Empty tables read as an empty DataFrame
    * with the committed schema (parquet fills columns missing from older
    * files with null — this is how schema evolution stays readable).
    */
  def snapshot: DataFrame =
    latestManifest.map(snapshotOf)
      .getOrElse(throw new IllegalStateException(s"no committed version at $root"))

  /** Time travel: the table exactly as of `version`. */
  def snapshotAt(version: Long): DataFrame = snapshotOf(manifest(version))

  /** Metadata-only row count (Delta parity: `count(*)` answered from
    * commit statistics, no file scan). Exact because every writer
    * records per-file row counts in the manifest; at 100 TB this is the
    * difference between O(files-listed-in-one-JSON) and a full-table
    * scan for the most common observability query there is.
    */
  def fastCount: Long = fastCountAt(
    latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed version at $root")))

  def fastCountAt(version: Long): Long = manifest(version).allRows

  /** Pruned read: the table through the `graft` datasource, whose
    * manifest-backed [[GraftFileIndex]] (a) re-resolves the latest
    * version per query and (b) skips files whose manifest min/max
    * ranges cannot match pushed-down predicates — the same data
    * skipping merge and catalog reads get. Prefer this over
    * [[snapshot]] for filtered reads of large tables; `snapshot` pins
    * the current version and always lists every file.
    */
  def scan: DataFrame = spark.read.format("graft").load(root)

  private def snapshotOf(m: Manifest): DataFrame = {
    val schema = StructType.fromDDL(m.schema)
    val all = filesOf(m)
    if (all.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // Hive-import versions (files whose partition values live in the
    // directory PATH, not the file) read through the pinned datasource
    // scan — the only funnel that serves pv via partitionSchema
    else if (m.hasPv) spark.read.format("graft")
      .option("versionAsOf", m.version.toString).load(root)
    else readMasked(all, schema, m.mapping)
  }

  // ---- deletion vectors (merge-on-read row deletion) --------------------
  // A DV is a parquet dataset of (path: string, pos: long) pairs under
  // data/<uuid>-dv/ naming masked rows by (rel data-file path, row index
  // within the file). Masking is an ANTI-JOIN on those two columns —
  // fully distributed (the DV side broadcasts while small, shuffles when
  // genuinely huge), no driver materialization, no custom reader: the
  // scan stays Spark's vectorized parquet + whole-stage codegen, with
  // `_metadata.row_index` supplying the position. Every read funnel
  // (snapshot/time travel/merge/delete/compact and the `graft`
  // datasource via GraftDvMaskRule) applies the mask; rewriting ops
  // (merge/compact/COW delete) re-write files from their MASKED content,
  // so a rewrite naturally materializes the DV away.

  /** The scan row's rel path, rendered to match [[relPath]]:
    * `_metadata.file_path` arrives as `file:/abs` (Hadoop Path) or a
    * percent-ENCODED `file:///a%20bs` URI (SparkPath) — the driver side
    * goes through `new URI(..).getPath`, so this side must decode too or
    * a table root containing e.g. a space never prefix-matches and every
    * row-level op silently no-ops. `url_decode` differs from URI.getPath
    * on exactly one byte — it folds '+' to space — so '+' is pre-escaped
    * to its own percent form first. Decode is identity on the already-
    * plain Hadoop-Path rendering (no '%'/'+' survives engine-generated
    * data paths; the root's own literal '%' arrives as '%25').
    */
  private[graft] def relPathExpr(fp: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    // Fast path first (this expression runs per ROW under every row-id /
    // DV-masked read — a regex pipeline here was ~30% of the whole
    // id-read's cost at 150k rows): plain renderings (no percent-escapes,
    // no '+') skip url_decode entirely, and the root prefix is stripped
    // with a literal-prefix match + substring instead of two
    // quoted-pattern regexes. The original decode+regex chain remains as
    // the fallback for encoded renderings and off-root paths, so the
    // result is bit-identical on every input.
    val decoded = when(fp.contains("%") || fp.contains("+"),
      url_decode(regexp_replace(fp, "\\+", "%2B"))).otherwise(fp)
    val marker = rootAbs + "/"
    // ANCHORED fast path: the root marker must sit right after a scheme
    // rendering ("", "file:", "file:/", "file://" — every rendering the
    // engine produces, each provably equal to the regex fallback's
    // result), so each case is one literal-prefix startswith (a memcmp,
    // no search and no substring allocation on the check) + one strip at
    // a compile-time offset. The four literals are mutually exclusive as
    // prefixes, so case order is immaterial. A first-occurrence strip
    // (the previous locate-based path) would mis-relativize a
    // hypothetical off-root path containing "<root>/" mid-string; such
    // paths now fall through to the anchored-regex chain untouched.
    val fallback =
      regexp_replace(
        regexp_replace(decoded, "^file:/+", "/"),
        "^" + java.util.regex.Pattern.quote(marker), "")
    Seq("", "file:", "file:/", "file://").foldRight(fallback) { (s, acc) =>
      val p = s + marker
      when(decoded.startsWith(p),
        decoded.substr(lit(p.length + 1), lit(Int.MaxValue))).otherwise(acc)
    }
  }

  /** Read `files` with DV masks applied — THE data-file read funnel for
    * whole-file readers (snapshots, merge's touched set, row-level ops,
    * compaction). Files without DVs read exactly as before (no metadata
    * columns, no join in the plan).
    */
  private[graft] def readMasked(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String] = Map.empty): DataFrame =
    readFilesMasked(files, schema, mapping, withPos = false)

  /** Like [[readMasked]] but keeps the row's identity columns
    * (`__graft_rel`, `__graft_pos`) — what a merge-on-read DELETE/UPDATE
    * needs to emit new DV entries for the rows it matches.
    */
  private[graft] def readMaskedWithPos(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String] = Map.empty): DataFrame =
    readFilesMasked(files, schema, mapping, withPos = true)

  /** Like [[readMasked]] but carrying each row's STABLE row id as a
    * [[GraftTable.RowIdCol]] (long) column: the file's materialized id
    * when present (rewritten files preserve surviving rows that way),
    * else `baseRowId + position` (fresh appends — zero storage cost).
    * Requires row tracking: every file must carry a baseRowId.
    */
  private[graft] def readMaskedRowIds(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String] = Map.empty,
      withPos: Boolean = false): DataFrame =
    readFilesMasked(files, schema, mapping, withPos = withPos,
      withRowId = true)

  /** [[readMasked]] that carries row ids exactly when manifest `m`
    * tracks them — THE read every REWRITING op uses, so a rewrite can
    * never silently drop ids once tracking is on.
    */
  private[graft] def readForRewrite(
      m: Manifest, files: Seq[ManifestFile], schema: StructType): DataFrame =
    if (m.rowTracking) readMaskedRowIds(files, schema, m.mapping)
    else readMasked(files, schema, m.mapping)

  /** Shared body of [[readMasked]]/[[readMaskedWithPos]]. pv files
    * (Hive-import partition values in file METADATA, not the files) are
    * read in per-tuple groups — the files' data columns plus the
    * tuple's constants injected as literals, the read-side mirror of
    * [[writePvDataFiles]] — so every whole-file consumer (row-level
    * ops, merge, compaction, the streaming source) serves pv files
    * without any table rewrite. Group count is bounded by the touched
    * partition count, which for pruned ops is the slice the op touches,
    * never the table's partition count.
    */
  private def readFilesMasked(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String], withPos: Boolean,
      withRowId: Boolean = false): DataFrame = {
    // row ids need the per-row file path + position machinery regardless
    // of what the caller asked for; the helper columns are dropped again
    // below unless withPos requested them
    val effPos = withPos || withRowId
    val (pvFiles, plain) = files.partition(_.pv.isDefined)
    val tuples = pvFiles.groupBy(_.pv.get)
    // few tuples → per-tuple literal injection (constants fold, zero
    // join); MANY tuples → ONE scan of all pv files plus a broadcast
    // (path → tuple) join. A whole-partition DML can touch thousands
    // of tuples, and a union of thousands of per-tuple scans is a
    // planning-time disaster the join shape avoids: O(1) plan nodes,
    // one vectorized scan, tuple values injected row-side from a
    // LocalRelation keyed by the file path the scan already carries.
    val pvDfs: Seq[DataFrame] =
      if (pvFiles.isEmpty) Nil
      else if (tuples.size <= 4)
        tuples.toSeq.sortBy(_._1.toSeq.sorted.mkString("/"))
          .map { case (pv, fs) => readGroup(fs, schema, mapping, effPos, pv, withRowId) }
      else Seq(readPvJoined(pvFiles, schema, mapping, effPos, withRowId))
    val groups: Seq[DataFrame] =
      (if (plain.nonEmpty) Seq(readGroup(plain, schema, mapping, effPos, Map.empty, withRowId))
       else Nil) ++ pvDfs
    require(groups.nonEmpty, s"internal: empty file read at $root")
    val out = groups.reduce(_.unionByName(_))
    if (!withRowId) out
    else {
      // every file must have an allocated range — a version predating
      // enablement cannot serve ids and must fail loudly, never NULLs
      files.find(f => f.baseRowId.isEmpty || f.rcv.isEmpty).foreach(f =>
        throw new IllegalStateException(
          s"row-id read at $root: file ${f.path} has no baseRowId/rcv " +
            "(version written before row tracking was enabled?)"))
      // (rel path → base id, default commit version) broadcast join, the
      // same shape as the pv many-tuple read: O(1) plan nodes at any
      // file count, and the key (__graft_rel) is already on every row
      val metaRows: java.util.List[Row] = files.map(f =>
        Row(f.path, f.baseRowId.get, f.rcv.get)).asJava
      val meta = spark.createDataFrame(metaRows, StructType(Seq(
        StructField("__rid_rel", StringType, nullable = false),
        StructField("__rid_base", LongType, nullable = false),
        StructField("__rid_rcv", LongType, nullable = false))))
      val joined = out.join(broadcast(meta),
        out("__graft_rel") === meta("__rid_rel"))
      val withId = joined.withColumn(GraftTable.RowIdCol,
        coalesce(col(s"`${GraftTable.RowIdCol}`"),
          col("__rid_base") + col("__graft_pos")))
        .withColumn(GraftTable.RowCommitCol,
          coalesce(col(s"`${GraftTable.RowCommitCol}`"), col("__rid_rcv")))
        .drop("__rid_rel", "__rid_base", "__rid_rcv")
      if (withPos) withId else withId.drop("__graft_rel", "__graft_pos")
    }
  }

  /** The many-tuple pv read: one scan of every pv file's DATA columns,
    * tuple values served through a broadcast join against a small
    * (path → partition values) local relation built from the manifest
    * entries. Value semantics match [[readGroup]]'s literal injection:
    * the stored strings cast to the logical types, NULL slice
    * ([[GraftTable.HiveDefaultPartition]]) casts from NULL.
    */
  private def readPvJoined(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String], withPos: Boolean,
      withRowId: Boolean = false): DataFrame = {
    val pvKeys = files.head.pv.get.keys.toSeq
    def isPv(name: String) = pvKeys.exists(_.equalsIgnoreCase(name))
    val pvFields = schema.fields.filter(f => isPv(f.name)).toSeq
    val dataSchema = StructType(schema.fields.filterNot(f => isPv(f.name)))
    val base = spark.read
      .schema(GraftTable.plusRowId(physicalOf(dataSchema, mapping), withRowId))
      .parquet(files.map(f => s"$root/${f.path}"): _*)
    // identity columns are needed for the join key regardless of DVs
    val masked = dvMask(base, files)
    val metaRows: java.util.List[org.apache.spark.sql.Row] =
      files.map { f =>
        org.apache.spark.sql.Row.fromSeq(f.path +: pvFields.map { pf =>
          val v = f.pv.get.collectFirst {
            case (k, vv) if k.equalsIgnoreCase(pf.name) => vv
          }.getOrElse(throw new IllegalStateException(
            s"pv read at $root: file ${f.path} has no partition value " +
              s"for `${pf.name}`"))
          if (v == GraftTable.HiveDefaultPartition) null else v
        })
      }.asJava
    val metaSchema = StructType(
      StructField("__pv_rel", StringType, nullable = false) +:
        pvFields.map(pf => StructField(s"__pv_${pf.name}", StringType)))
    val meta = spark.createDataFrame(metaRows, metaSchema)
    val joined = masked.join(broadcast(meta),
      masked("__graft_rel") === meta("__pv_rel"))
    val cols = schema.fields.toSeq.map { f =>
      if (isPv(f.name)) col(s"`__pv_${f.name}`").cast(f.dataType).as(f.name)
      else col(s"`${mapping.getOrElse(f.name, f.name)}`").as(f.name)
    } ++ (if (withRowId) Seq(col(s"`${GraftTable.RowIdCol}`"),
        col(s"`${GraftTable.RowCommitCol}`")) else Nil) ++
      (if (withPos) Seq(col("__graft_rel"), col("__graft_pos")) else Nil)
    joined.select(cols.toIndexedSeq: _*)
  }

  private def readGroup(
      files: Seq[ManifestFile], schema: StructType,
      mapping: Map[String, String], withPos: Boolean,
      pv: Map[String, String], withRowId: Boolean = false): DataFrame = {
    def isPv(name: String) = pv.keys.exists(_.equalsIgnoreCase(name))
    val dataSchema =
      if (pv.isEmpty) schema
      else StructType(schema.fields.filterNot(f => isPv(f.name)))
    val base = spark.read
      .schema(GraftTable.plusRowId(physicalOf(dataSchema, mapping), withRowId))
      .parquet(files.map(f => s"$root/${f.path}"): _*)
    val masked =
      if (withPos || files.exists(_.dv.isDefined)) dvMask(base, files) else base
    // inject the tuple's constants, typed by the logical schema —
    // identical value semantics to the datasource scan's partition rows
    // (same castPartitionValue, same NULL encoding)
    val withPv = pv.foldLeft(masked) { case (d, (c, v)) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalStateException(
          s"pv read at $root: partition column `$c` not in table schema"))
      val lit0 = org.apache.spark.sql.graftbridge.ColumnBridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.Literal(
          if (v == GraftTable.HiveDefaultPartition) null
          else GraftTable.castPartitionValue(v, f.dataType), f.dataType))
      d.withColumn(f.name, lit0)
    }
    val needsProject = pv.nonEmpty || mapping.nonEmpty ||
      (!withPos && files.exists(_.dv.isDefined))
    if (!needsProject) withPv
    else {
      val cols = schema.fields.toSeq.map { f =>
        if (isPv(f.name)) col(s"`${f.name}`")
        else col(s"`${mapping.getOrElse(f.name, f.name)}`").as(f.name)
      } ++ (if (withRowId) Seq(col(s"`${GraftTable.RowIdCol}`"),
          col(s"`${GraftTable.RowCommitCol}`")) else Nil) ++
        (if (withPos) Seq(col("__graft_rel"), col("__graft_pos")) else Nil)
      withPv.select(cols.toIndexedSeq: _*)
    }
  }

  /** `schema` with fields renamed through the mapping (identity → the
    * same object — no copy on the common path).
    */
  private def physicalOf(schema: StructType, mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Alias a physical-named frame back to logical names. */
  private def toLogical(
      df: DataFrame, logical: StructType, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(logical.fields.map(f =>
      col(s"`${mapping.getOrElse(f.name, f.name)}`").as(f.name)).toIndexedSeq: _*)

  /** The DV-masked equivalent of a `graft`-datasource scan of manifest
    * `m` — what [[GraftDvMaskRule]] substitutes for a relation over a
    * DV-carrying version. The scan side stays a real graft relation
    * (manifest-backed file listing, stats pruning, vectorized parquet,
    * codegen): it is pinned to `m.version` for snapshot consistency with
    * the DV list, and marked `graft.dvMasked` so the rule never rewrites
    * it again.
    */
  private[graft] def maskedScanDF(m: Manifest): DataFrame = {
    val schema = StructType.fromDDL(m.schema)
    // the RAW physical relation (column-map marker set): dvMask needs
    // `_metadata` straight off the scan, and the alias back to logical
    // names happens in the select below — same order as [[readMasked]]
    val inner = spark.read.format("graft")
      .option("versionAsOf", m.version.toString)
      .option("graft.dvMasked", "true")
      .option(GraftColumnMapRule.Marker, "true")
      .load(root)
    dvMask(inner, filesOf(m).filter(_.dv.isDefined))
      .select(schema.fields.map(f =>
        col(s"`${m.physicalOf(f.name)}`").as(f.name)).toIndexedSeq: _*)
  }

  /** Attach `__graft_rel`/`__graft_pos` and anti-join away DV-masked
    * rows. DV entries of files OUTSIDE this read (a shared DV dataset
    * also masking untouched files) anti-join against nothing — harmless.
    */
  private def dvMask(base: DataFrame, files: Seq[ManifestFile]): DataFrame = {
    val withPos = base
      .withColumn("__graft_rel", relPathExpr(col("_metadata.file_path")))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    val dvDirs = files.flatMap(_.dv).distinct
    if (dvDirs.isEmpty) withPos
    else {
      val dv = spark.read.parquet(dvDirs.map(d => s"$root/$d"): _*)
      withPos.join(dv,
        withPos("__graft_rel") === dv("path") &&
          withPos("__graft_pos") === dv("pos"),
        "left_anti")
    }
  }

  /** Persist DV pairs (`path`,`pos`) as a new dataset, returning its rel
    * path. Lives under data/ so vacuum's walk covers it; the `-dv`
    * suffix only aids human inspection — liveness is manifest-driven.
    */
  private[graft] def writeDvData(pairs: DataFrame): String = {
    val rel = s"data/${UUID.randomUUID().toString.take(12)}-dv"
    pairs.select(col("path"), col("pos"))
      .write.parquet(Paths.get(root).resolve(rel).toString)
    rel
  }

  /** Rewrite ONLY the DV-carrying files from their masked content (Delta
    * `REORG TABLE ... APPLY (PURGE)` parity): materializes deletes into
    * clean files so the masks' scan-time anti-join cost drops to zero,
    * without paying a whole-table compaction. No-op (current version)
    * when nothing carries a DV.
    */
  def reorgPurge(targetFileRows: Long = 1000000L): Long = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"reorg of uncommitted table $root"))
    // purge-worthy: DV-masked files, plus files still physically
    // carrying a DROPPED column's data (Delta column-mapping PURGE
    // contract — a drop is metadata-only until maintenance sheds the
    // bytes). The footer probe is O(candidate files) driver work, the
    // same order as the stats collection that wrote them.
    val retiredSet = m.retired.getOrElse(Nil).toSet
    val dved = filesOf(m).filter(f => f.dv.isDefined ||
      (retiredSet.nonEmpty &&
        footerFields(Paths.get(root, f.path)).exists(retiredSet.contains)))
    if (dved.isEmpty) return m.version
    val schema = StructType.fromDDL(m.schema)
    // harvested stats keys are PHYSICAL (as written); the frame below is
    // logical — translate back, dropping keys of since-dropped columns
    val statsCols = {
      val multi = dved.flatMap(_.ranges.map(_.keys.toSeq).getOrElse(Nil)).distinct
      val p2l = m.logicalByPhysical
      (if (multi.nonEmpty) multi else dved.flatMap(_.statsCol).distinct)
        .map(c => p2l.getOrElse(c, c)).filter(schema.fieldNames.contains)
    }
    val live = dved.map(_.liveRows).sum
    val nFiles = math.max(1, math.ceil(live.toDouble / targetFileRows).toInt)
    val df = readForRewrite(m, dved, schema)
    val pvCols = pvPartitionCols(m)
    val newFiles =
      if (pvCols.nonEmpty)
        // pv table: purged rewrites stay tuple-pure like every write
        writePvDataFiles(df, pvCols, statsCols, m.mapping,
          maxFileRows = Some(targetFileRows),
          sortWithin = statsCols
            .filterNot(c => pvCols.exists(_.equalsIgnoreCase(c))).map(col))
      else {
        val partCols = m.partitionCols.getOrElse(Nil)
        val arranged =
          if (partCols.nonEmpty) clusterBy(df, partCols)
          else if (statsCols.nonEmpty) df.repartitionByRange(nFiles, statsCols.map(col): _*)
          else df.repartition(nFiles)
        writeDataFiles(arranged, (statsCols ++ partCols).distinct, m.mapping)
      }
    swap(dved.map(_.path).toSet, newFiles, schema, m.version,
      mayConflict = _ => false, op = "purge")
  }

  /** Commit history, newest first (DESCRIBE HISTORY parity; versions
    * dropped by vacuum no longer appear).
    */
  def history: Seq[CommitInfo] = historyNewest(Int.MaxValue)

  /** Newest `limit` version slots — at 100k+ versions the full walk
    * reads every manifest, so bounded callers should bound it here (the
    * walk covers only the newest `limit` versions; it never
    * reads-then-trims).
    */
  def historyNewest(limit: Int): Seq[CommitInfo] = {
    val latest = latestVersion.getOrElse(return Nil)
    (latest to math.max(1L, latest - limit + 1) by -1).flatMap { v =>
      try {
        val m = manifest(v)
        Some(CommitInfo(v, m.operation.getOrElse("write"),
          m.committedAt.getOrElse(""), m.allFiles, m.allRows))
      } catch { case _: java.nio.file.NoSuchFileException => None }
    }
  }

  // ---- versioned CAS registries -----------------------------------------
  // Small mutable table-level registries (CHECK constraints, COPY INTO
  // loaded files) re-expressed as immutable version chains so every
  // update rides the seam's ONLY atomic primitive: read the latest
  // `<prefix>-v%020d.json`, apply the update to THAT state, putIfAbsent
  // the next version; a lost race re-reads and retries. Two concurrent
  // updaters can therefore never lose each other's entries — the failure
  // the old read-modify-write REPLACE move allowed (a lost COPY INTO
  // entry re-loads an already-loaded file; a lost ADD CONSTRAINT drops a
  // constraint). Readers resolve the max version, falling back to the
  // legacy flat file a pre-seam build wrote (shadowed forever once the
  // first versioned object lands). Superseded versions are vacuum-swept
  // metadata, same growth rate as the manifest log.

  private def registryPath(prefix: String, v: Long): Path =
    manifestDir.resolve(f"$prefix-v$v%020d.json")

  private[graft] def registryVersions(prefix: String): Seq[Long] =
    store.list(manifestDir).flatMap { n =>
      if (n.startsWith(s"$prefix-v") && n.endsWith(".json"))
        n.stripPrefix(s"$prefix-v").stripSuffix(".json").toLongOption
      else None
    }

  /** (version, content) of the registry's latest committed state; the
    * legacy flat file reads as version 0, absent as (0, None).
    */
  private def registryLatest(
      prefix: String, legacy: Path): (Long, Option[String]) = {
    val vs = registryVersions(prefix)
    if (vs.nonEmpty) {
      val v = vs.max
      (v, Some(store.read(registryPath(prefix, v))))
    }
    else if (store.exists(legacy)) (0L, Some(store.read(legacy)))
    else (0L, None)
  }

  /** Optimistic read-modify-write: `f` maps current content to the next
    * (None = no change needed, nothing written). Retries on a lost CAS
    * race. A race lost against a writer the LISTING does not show yet
    * (object-store listing lag) still makes progress: the failed
    * putIfAbsent proves version v+1 exists, so the retry reads it
    * directly instead of trusting the listing.
    */
  private def registryUpdate(prefix: String, legacy: Path)(
      f: Option[String] => Option[String]): Unit = {
    var floor = 0L // versions proven to exist by lost CAS races
    while (true) {
      try {
        val (listed, listedCur) = registryLatest(prefix, legacy)
        val v = math.max(listed, floor)
        val cur =
          if (v == listed) listedCur
          else Some(store.read(registryPath(prefix, v)))
        f(cur) match {
          case None => return
          case Some(next) =>
            if (store.putIfAbsent(registryPath(prefix, v + 1), next)) return
            floor = v + 1
        }
      } catch {
        // a concurrent vacuum pruned the superseded version between the
        // listing and the read — the retry resolves the newer state
        case _: java.nio.file.NoSuchFileException => ()
      }
    }
  }

  // ---- CHECK constraints (`_graft/checks-v*.json`) -----------------------
  // Delta `ALTER TABLE ... ADD CONSTRAINT ... CHECK (...)` parity:
  // named boolean SQL expressions every subsequent write must satisfy.
  // Stored as table-level config beside the txn index (constraints
  // gate FUTURE writes; they are not part of any version's data, so
  // they do not ride the manifests). NULL evaluates as satisfied
  // (SQL/Delta semantics: only FALSE violates).

  private val checksPath: Path = manifestDir.resolve("checks.json") // legacy

  private def parseChecks(s: Option[String]): Map[String, String] =
    s.fold(Map.empty[String, String])(
      GraftTable.mapper.readValue(_, classOf[Map[String, String]]))

  /** Current CHECK constraints, name -> boolean SQL expression. */
  def checks: Map[String, String] =
    try parseChecks(registryLatest("checks", checksPath)._2)
    catch { case _: java.nio.file.NoSuchFileException =>
      // listing/read raced a vacuum prune — one re-resolve settles it
      parseChecks(registryLatest("checks", checksPath)._2)
    }

  private[sources] def writeChecks(m: Map[String, String]): Unit =
    registryUpdate("checks", checksPath)(_ =>
      Some(GraftTable.mapper.writeValueAsString(m)))

  /** Add a CHECK constraint. EXISTING rows are validated first (one
    * filtered count — Delta does the same full-scan validation); a
    * violated table rejects the constraint rather than grandfathering
    * bad rows in.
    */
  def addCheck(name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty && !checks.contains(name),
      s"constraint '$name' already exists at $root")
    if (exists) {
      val bad = snapshot.filter(!coalesce(expr(sqlExpr), lit(true))).count()
      require(bad == 0L,
        s"cannot add CHECK '$name' ($sqlExpr): $bad existing row(s) violate it")
    }
    // duplicate-name re-check INSIDE the CAS: two concurrent adds of the
    // same name serialize here — the loser sees the winner's entry
    registryUpdate("checks", checksPath) { cur =>
      val m = parseChecks(cur)
      require(!m.contains(name), s"constraint '$name' already exists at $root")
      Some(GraftTable.mapper.writeValueAsString(m + (name -> sqlExpr)))
    }
  }

  /** Drop a CHECK constraint (no-op if absent). */
  def dropCheck(name: String): Unit =
    registryUpdate("checks", checksPath) { cur =>
      val m = parseChecks(cur)
      if (!m.contains(name)) None
      else Some(GraftTable.mapper.writeValueAsString(m - name))
    }

  // ---- generated columns (`graft.generated.<col>` properties) -----------
  // Delta `GENERATED ALWAYS AS (expr)` parity: a column whose value is a
  // deterministic SQL expression over the row's other columns. Writes
  // that omit the column get it COMPUTED during the write scan (no extra
  // pass); writes that provide it get each row VALIDATED against the
  // expression (first mismatch fails the job, nothing lands). Rewriting
  // ops (UPDATE/merge post-images) RECOMPUTE — updating a source column
  // updates the generated one, Delta's contract. The flagship use is a
  // generated partition/clustering column (`day = CAST(ts AS DATE)`):
  // create-time auto-adds the expression's SOURCE columns to the stats
  // contract, so a range filter on the raw timestamp prunes files
  // directly from per-file min/max — no predicate-derivation machinery,
  // same pruning (finer, even: per file, not per partition).

  /** Current generated columns, name -> SQL expression (key-sorted for
    * deterministic application order).
    */
  def generatedCols: Seq[(String, String)] =
    properties.collect {
      case (k, v) if k.startsWith(GraftTable.GeneratedPrefix) =>
        k.substring(GraftTable.GeneratedPrefix.length) -> v
    }.toSeq.sortBy(_._1)

  /** Declare `colName` (an existing column) as generated by `exprSql`.
    * Validated up front: the expression must parse, resolve over the
    * table's OTHER non-generated columns, be deterministic and
    * time-independent (a `current_timestamp()` default would make
    * replayed/recomputed rows diverge), and cast to the column's
    * declared type. Existing rows are NOT back-validated — the contract
    * governs writes from now on (create-time declaration is the normal
    * path, where no rows exist yet).
    */
  def addGenerated(colName: String, exprSql: String): Unit = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"generated column on uncommitted table $root — create it first"))
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"generated column $colName does not exist in the schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    val gens = generatedCols.map(_._1.toLowerCase).toSet
    // mirror of addIdentity's generated-column check: a column can be
    // generated or identity, never both (Delta contract)
    val ids = identityCols.map(_._1.toLowerCase).toSet
    require(!ids.contains(f.name.toLowerCase),
      s"column ${f.name} is an identity column — it cannot also be generated")
    val refs = spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.head
    }
    refs.foreach { r =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(r)),
        s"generated column ${f.name}: expression ($exprSql) references " +
          s"unknown column $r")
      require(!r.equalsIgnoreCase(f.name) && !gens.contains(r.toLowerCase),
        s"generated column ${f.name}: expression ($exprSql) references " +
          s"generated column $r — generation expressions must only use " +
          "stored source columns")
      // write order computes generated columns BEFORE identity fill
      // (applyGenerated then applyIdentity), so an expression over an
      // identity column would read NULL — forbid it, like Delta does
      require(!ids.contains(r.toLowerCase),
        s"generated column ${f.name}: expression ($exprSql) references " +
          s"identity column $r — identity values are assigned after " +
          "generated columns are computed")
    }
    // resolve + type-check over an empty frame of the source columns
    val probe = spark.createDataFrame(
      new java.util.ArrayList[Row](),
      StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(f.name))))
      .select(expr(exprSql))
    val analyzed = probe.queryExecution.analyzed
    analyzed.expressions.foreach(_.foreach { e =>
      require(e.deterministic,
        s"generated column ${f.name}: expression ($exprSql) is " +
          "non-deterministic — recomputes would diverge")
      require(!e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CurrentDate] &&
        !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CurrentTimestamp] &&
        !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Now],
        s"generated column ${f.name}: expression ($exprSql) depends on " +
          "the current time — replayed or recomputed rows would diverge")
    })
    val dt = analyzed.schema.head.dataType
    require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(dt, f.dataType),
      s"generated column ${f.name}: expression type ${dt.sql} cannot " +
        s"cast to declared type ${f.dataType.sql}")
    setProperty(GraftTable.GeneratedPrefix + f.name, exprSql)
  }

  /** Apply the generated-column contract to a write batch: compute
    * missing columns; validate provided ones per-row during the write
    * scan (codegen'd guard, like [[enforceChecks]]); with `recompute`
    * (rewriting ops), overwrite provided values with the expression —
    * identity on untouched rows, the updated value on rows whose source
    * columns changed.
    */
  private[graft] def applyGenerated(
      df: DataFrame, recompute: Boolean): DataFrame = {
    val gens = generatedCols
    if (gens.isEmpty) return df
    val declared: Map[String, org.apache.spark.sql.types.DataType] =
      latestManifest.map(m => StructType.fromDDL(m.schema).fields
        .map(f => f.name.toLowerCase -> f.dataType).toMap).getOrElse(Map.empty)
    gens.foldLeft(df) { case (d, (c, e)) =>
      def gen: Column = declared.get(c.toLowerCase)
        .map(expr(e).cast).getOrElse(expr(e))
      d.columns.find(_.equalsIgnoreCase(c)) match {
        case None => d.withColumn(c, gen)
        case Some(actual) if recompute => d.withColumn(actual, gen)
        case Some(actual) =>
          d.filter(
            when(col(s"`$actual`") <=> gen, lit(true))
              .otherwise(raise_error(concat(
                lit(s"generated column '$c' ($e): provided value "),
                col(s"`$actual`").cast("string"),
                lit(" does not match the computed value "),
                gen.cast("string"), lit(" in row: "),
                to_json(struct(d.columns.map(x => col(s"`$x`")).toIndexedSeq: _*))))
                .cast("boolean")))
      }
    }
  }

  // ---- column DEFAULT values (`graft.default.<col>` properties) ---------
  // Delta/Spark column-DEFAULT parity: a ref-free SQL expression
  // materialized at INSERT time for columns the statement omits. Unlike
  // generated columns there is no read-path or rewrite semantics — the
  // value lands once, at insert (so time-dependent defaults like
  // `current_timestamp()` are fine and useful: created_at columns).
  // Applied by the SQL INSERT surface only, like Delta — DataFrame
  // appends write exactly what they are given.

  /** Current column defaults, name -> SQL expression (key-sorted). */
  def defaultCols: Seq[(String, String)] =
    properties.collect {
      case (k, v) if k.startsWith(GraftTable.DefaultPrefix) =>
        k.substring(GraftTable.DefaultPrefix.length) -> v
    }.toSeq.sortBy(_._1)

  /** Declare a DEFAULT for an existing column — future INSERTs that
    * omit the column land the expression instead of NULL. Validated:
    * parses, references NO columns (Delta contract — a row-dependent
    * default is a generated column's job), casts to the declared type.
    */
  def addDefault(colName: String, exprSql: String): Unit = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"column default on uncommitted table $root — create it first"))
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"DEFAULT column $colName does not exist in the schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    require(!generatedCols.exists(_._1.equalsIgnoreCase(f.name)) &&
      !identityCols.exists(_._1.equalsIgnoreCase(f.name)),
      s"column ${f.name} is generated/identity — it cannot also carry a DEFAULT")
    val refs = spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u
    }
    require(refs.isEmpty,
      s"DEFAULT for ${f.name} ($exprSql) references columns " +
        s"(${refs.map(_.name).mkString(", ")}) — a row-dependent value " +
        "is a GENERATED column")
    // resolve + type-check over a zero-column frame
    val dt = try spark.range(1).select(expr(exprSql)).schema.head.dataType
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"DEFAULT for ${f.name} does not resolve: ${e.getMessage}")
    }
    require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(dt, f.dataType),
      s"DEFAULT for ${f.name}: expression type ${dt.sql} cannot cast to " +
        s"declared type ${f.dataType.sql}")
    setProperty(GraftTable.DefaultPrefix + f.name, exprSql)
  }

  /** Drop a column's DEFAULT (future INSERTs land NULL again). */
  def dropDefault(colName: String): Unit =
    defaultCols.filter(_._1.equalsIgnoreCase(colName)).foreach { case (c, _) =>
      unsetProperty(GraftTable.DefaultPrefix + c) }

  // ---- identity columns (`graft.identity.<col>` + `_graft/idalloc/`) ----
  // Delta `GENERATED ALWAYS|BY DEFAULT AS IDENTITY` parity — the
  // table-level analogue of the reference's SCOPE_IDENTITY watermark-id
  // allocation (dbrconfig.sql:66 via ControlPlane.openWatermark).
  // Values are unique and monotone in allocation order; GAPS ARE
  // ALLOWED (Delta's contract), which is what buys the lock-free scale
  // story: each write CAS-reserves a disjoint value range through an
  // atomic file create under `_graft/idalloc/<col>/`, so concurrent
  // appends allocate without touching the manifest and never conflict
  // with each other. A crashed write leaks its range — a gap, never a
  // duplicate. Assignment inside a batch is one tiny per-partition
  // count aggregation + a broadcast offset map + a codegen'd
  // expression: no shuffle, no window, no driver-side row loop.

  /** Current identity columns, name -> config (key-sorted). */
  def identityCols: Seq[(String, GraftTable.IdentityConfig)] =
    properties.collect {
      case (k, v) if k.startsWith(GraftTable.IdentityPrefix) =>
        k.substring(GraftTable.IdentityPrefix.length) ->
          GraftTable.parseIdentityConfig(v)
    }.toSeq.sortBy(_._1)

  /** Declare `colName` as an identity column. The column must exist and
    * be BIGINT (the allocator speaks Long); a table with existing rows
    * gets its floor bumped past the current max so old values are never
    * reissued. Only one identity column per table (Delta contract).
    */
  def addIdentity(
      colName: String, start: Long, step: Long, byDefault: Boolean): Unit = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"identity column on uncommitted table $root — create it first"))
    require(step != 0L, s"identity column $colName: INCREMENT BY must be nonzero")
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"identity column $colName does not exist in the schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    require(f.dataType == LongType,
      s"identity column ${f.name} must be BIGINT (got ${f.dataType.sql})")
    require(identityCols.isEmpty ||
      identityCols.forall(_._1.equalsIgnoreCase(f.name)),
      s"table $root already has identity column ${identityCols.head._1} — " +
        "only one identity column per table")
    require(!generatedCols.exists(_._1.equalsIgnoreCase(f.name)),
      s"column ${f.name} is already a generated column")
    // and no EXISTING generated expression may read this column: writes
    // compute generated columns before the identity fill, so such an
    // expression would see NULL from now on
    requireUnreferencedByGenerated(f.name, "make identity of")
    setProperty(GraftTable.IdentityPrefix + f.name,
      s"start=$start;step=$step;mode=${if (byDefault) "default" else "always"}")
    // existing rows (re-applied config, CONVERT import, CTAS then ALTER):
    // the floor must clear every stored value or the allocator would
    // reissue them. One column-pruned max/min aggregation.
    if (filesOf(m).nonEmpty && m.allRows > 0) {
      val agg = if (step > 0) max(col(s"`${f.name}`")) else min(col(s"`${f.name}`"))
      val row = snapshot.agg(agg).head()
      if (!row.isNullAt(0)) reservePastObserved(f.name, row.getLong(0), step)
    }
  }

  private def idallocDir(col: String): Path =
    manifestDir.resolve("idalloc").resolve(col.toLowerCase)

  /** Last allocated value (the floor for the next reservation), read
    * from the highest-sequence range file; `start - step` when nothing
    * was ever allocated.
    */
  private def identityFloor(col: String, cfg: GraftTable.IdentityConfig): (Long, Long) = {
    val dir = idallocDir(col)
    // only the MAX-sequence file's content matters — one listing plus
    // one read, however many range files history has accumulated
    val maxSeq = store.list(dir)
      .collect { case GraftTable.IdallocName(seq) => seq.toLong }
      .maxOption
    maxSeq.flatMap { seq =>
      // content is the range END; written before the atomic claim, so
      // a visible file is always complete
      try Some(seq -> store.read(dir.resolve(s"r-$seq")).trim.toLong)
      catch { case _: Exception => None }
    }.getOrElse((0L, cfg.start - cfg.step))
  }

  /** CAS-reserve `n` fresh identity values; returns the EXCLUSIVE base
    * (first allocated value = base + step). The claim is an atomic
    * no-replace move of a content-complete temp file to the next
    * sequence number — exactly one concurrent claimant wins a sequence;
    * losers re-read the new floor and retry. Range files are NEVER
    * pruned on this path: one tiny file per write batch, the same
    * growth rate as the manifest log itself. Pruning would reintroduce
    * an ABA race — a claimant stalled between reading the floor and
    * linking, while enough concurrent allocations advance the sequence
    * for its target file to be claimed AND pruned, would re-create the
    * pruned sequence, "win", and return a stale floor, silently
    * re-issuing values another writer already allocated. The link CAS
    * is only sound while every claimed sequence file still exists.
    */
  private[graft] def reserveIdentity(
      colName: String, n: Long, cfg: GraftTable.IdentityConfig): Long = {
    require(n > 0L, "reserveIdentity needs a positive count")
    val dir = idallocDir(colName)
    store.mkdirs(dir)
    var attempts = 0
    while (true) {
      val (seq, floor) = identityFloor(colName, cfg)
      val end = floor + cfg.step * n
      // put-if-absent IS the compare-and-swap: atomic, FAILS when the
      // sequence is already claimed (see CommitStore — a POSIX rename
      // would silently REPLACE, letting two claimants win)
      if (store.putIfAbsent(dir.resolve(s"r-${seq + 1}"), end.toString))
        return floor
      attempts += 1
      if (attempts >= 1000) throw new IllegalStateException(
        s"identity allocation contention on $root.$colName")
    }
    0L // unreachable
  }

  /** Bump the floor so no future allocation collides with an observed
    * value `v` (user-provided values in BY DEFAULT mode, COPY INTO'd
    * files). No-op when the floor already clears it.
    */
  private[graft] def reservePastObserved(
      colName: String, v: Long, step: Long): Unit = {
    val cfg = identityCols.find(_._1.equalsIgnoreCase(colName)).map(_._2)
      .getOrElse(GraftTable.IdentityConfig(1L, step, byDefault = true))
    var done = false
    while (!done) {
      val (_, floor) = identityFloor(colName, cfg)
      if ((step > 0 && floor >= v) || (step < 0 && floor <= v)) done = true
      else {
        val need = math.max(1L, (v - floor) / step +
          (if ((v - floor) % step == 0) 0 else 1))
        reserveIdentity(colName, need, cfg)
        done = true // reserveIdentity CAS'd past at least v (retries folded in)
      }
    }
  }

  /** Fill identity values on a write batch. Rows with the column NULL
    * (or the column absent entirely) get fresh values; non-null rows
    * pass through in `default` mode and are REFUSED in `always` mode.
    * Assignment: one per-partition count aggregation over the (cached)
    * batch, a CAS reservation sized to the batch, then
    * `base + step * (partitionOffset + rowIndexInPartition)` as a pure
    * codegen'd expression — unique by construction, dense when every
    * row allocates, gap-leaking (allowed) when only some do.
    */
  private[graft] def applyIdentity(
      df: DataFrame, allowProvided: Boolean = false): DataFrame = {
    val ids = identityCols
    if (ids.isEmpty) return df
    ids.foldLeft(df) { case (d, (c, cfg)) =>
      val present = d.columns.find(_.equalsIgnoreCase(c))
      val actual = present.getOrElse(c)
      val base =
        if (present.isDefined) d
        else d.withColumn(actual, lit(null).cast(LongType))
      // eager localCheckpoint: the count pass and the write must see
      // identical partitioning and row order; a checkpoint PINS the
      // computed partitions (a persist could silently recompute after
      // eviction, and a nondeterministic source would then break the
      // uniqueness invariant), and its blocks are GC-cleaned — no
      // unpersist bookkeeping across the write funnels
      val cached = base.localCheckpoint(true)
      // one pass: rows per partition AND the provided-value extreme
      // (count skips nulls, so a null-backfilled column — COPY INTO's
      // casting path — counts as "nothing provided")
      val provAgg = if (cfg.step > 0) max(col(s"`$actual`"))
        else min(col(s"`$actual`"))
      val counts = cached.groupBy(spark_partition_id().as("__pid"))
        .agg(count(lit(1)).as("__n"),
          count(col(s"`$actual`")).as("__prov"), provAgg.as("__ext"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(_._1)
      val total = counts.map(_._2).sum
      if (total == 0L) return d
      val provided = counts.map(_._3).sum
      if (provided > 0 && !cfg.byDefault && !allowProvided)
        throw new IllegalArgumentException(
          s"column $c is GENERATED ALWAYS AS IDENTITY — values cannot be " +
            "provided (omit the column, or declare it BY DEFAULT)")
      // provided-value accounting (default mode): floor past their extreme
      if (provided > 0 && cfg.byDefault) {
        val exts = counts.flatMap(_._4)
        val ext = if (cfg.step > 0) exts.max else exts.min
        reservePastObserved(c, ext, cfg.step)
      }
      val floor = reserveIdentity(c, total, cfg)
      // cumulative offsets in pid order — the broadcastable assignment map
      val offsetByPid: Map[Int, Long] =
        counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2)).toMap
      val pairs = offsetByPid.toSeq.flatMap { case (p, o) =>
        Seq(lit(p), lit(o)) }
      val offExpr = element_at(map(pairs: _*), spark_partition_id())
      val localIdx = monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1))
      val fresh = lit(floor) + lit(cfg.step) *
        (offExpr.cast(LongType) + localIdx + lit(1L))
      cached.withColumn(actual,
        when(col(s"`$actual`").isNull, fresh)
          .otherwise(col(s"`$actual`")).cast(LongType))
    }
  }

  /** Refuse a rename/drop of a column a generation expression reads —
    * the stored expression would keep naming the old column and every
    * later write would fail resolution (or silently compute wrong).
    */
  private def requireUnreferencedByGenerated(colName: String, what: String): Unit =
    generatedCols.foreach { case (c, e) =>
      val refs = spark.sessionState.sqlParser.parseExpression(e).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.head
      }
      require(!refs.exists(_.equalsIgnoreCase(colName)),
        s"cannot $what column $colName: generated column $c ($e) is " +
          "computed from it — drop the generated column first")
    }

  // ---- column mapping (RENAME/DROP COLUMN without rewriting data) -------

  /** `ALTER TABLE ... RENAME COLUMN from TO to` (Delta column-mapping
    * parity): a METADATA-ONLY commit — every data file, chunk ref, DV
    * and stored change-feed file rides verbatim; only the manifest's
    * logical schema and mapping change. At 100 TB this is the whole
    * point: the alternative is rewriting the table. The column keeps its
    * PHYSICAL name forever; reads alias it, writes rename onto it, and
    * file stats / bloom sidecars (keyed physically) stay live — pruning
    * on the renamed column keeps working with no maintenance op.
    *
    * Rejected when a CHECK constraint references the column (Delta
    * contract: drop the constraint first) — the stored constraint SQL
    * would silently stop matching rows otherwise. The bloom-property
    * column list and the partition declaration follow the rename.
    */
  def renameColumn(from: String, to: String): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"rename column on uncommitted table $root"))
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(
        s"rename column: no column $from in ${schema.fieldNames.mkString(", ")}"))
    // pv partition values are keyed BY NAME in every file's metadata (and
    // in the Hive directory paths CONVERT imported) — renaming the column
    // would leave every existing entry keyed under the old name, so reads
    // would resolve NULLs. Refused, like DROP of a partition column.
    require(!pvPartitionCols(m).exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column ${f.name} of Hive-import table " +
        s"$root: partition values are keyed by name in file metadata " +
        "(re-create the table to change the layout)")
    require(to.trim.nonEmpty && !to.contains("`"), s"invalid column name '$to'")
    require(!schema.fields.exists(x => x.name.equalsIgnoreCase(to) && (x ne f)),
      s"rename column: $to already exists")
    GraftTable.requireNoReservedCdfCols(Seq(to))
    requireUnreferencedByChecks(f.name, "rename")
    requireUnreferencedByGenerated(f.name, "rename")
    // identity allocator pre-flight BEFORE any mutation: a stale
    // directory at the destination name must fail the whole statement,
    // not strand a half-renamed table. Checked even when the SOURCE has
    // never allocated — otherwise a never-used identity column would
    // silently ADOPT a leftover allocator at the new name and inherit
    // its arbitrary floor.
    if (identityCols.exists(_._1.equalsIgnoreCase(f.name)))
      require(store.list(idallocDir(to)).isEmpty,
        s"rename identity column ${f.name} -> $to: allocator state " +
          s"already exists at ${idallocDir(to)} — remove the stale " +
          "claims first")
    val newSchema = StructType(schema.fields.map(x =>
      if (x eq f) x.copy(name = to) else x))
    val phys = m.physicalOf(f.name)
    val newMapping = (m.mapping - f.name) ++
      (if (phys == to) Map.empty else Map(to -> phys))
    val newParts = m.partitionCols.map(_.map(c =>
      if (c.equalsIgnoreCase(f.name)) to else c))
    val v = commitSet(newSchema,
      FileSet(m.chunks.getOrElse(Nil), m.files), Some(m.version),
      op = "rename column", partitionCols = newParts,
      mappingOverride = Some((newMapping, m.retired.getOrElse(Nil))))
    rewriteBloomProperty(f.name, Some(to))
    // a renamed generated column keeps its expression under the new key
    generatedCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, e) =>
      unsetProperty(GraftTable.GeneratedPrefix + c)
      setProperty(GraftTable.GeneratedPrefix + to, e)
    }
    // a renamed DEFAULT-carrying column keeps its default under the new key
    defaultCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, e) =>
      unsetProperty(GraftTable.DefaultPrefix + c)
      setProperty(GraftTable.DefaultPrefix + to, e)
    }
    // a renamed identity column keeps its config AND its allocation state
    identityCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, cfg) =>
      unsetProperty(GraftTable.IdentityPrefix + c)
      setProperty(GraftTable.IdentityPrefix + to,
        s"start=${cfg.start};step=${cfg.step};mode=${if (cfg.byDefault) "default" else "always"}")
      val from = idallocDir(c)
      val dest = idallocDir(to)
      // relocation rides the SEAM (copy chain + delete — object stores
      // have no directory rename, so a raw filesystem move would
      // silently skip everywhere but the local store). EVERY claimed
      // sequence file is copied, not just the max: reserveIdentity's
      // link-CAS ABA guard is only sound while every claimed sequence
      // still exists at the name the allocator lists. Copy-all, then
      // delete-all: a crash in between leaves identical-content
      // duplicates a replayed rename treats as benign (the CAS-lost
      // read-back check), never a lost floor. A DIFFERENT-content
      // destination claim is a stale allocator and fails loudly.
      def relocate(): Unit = {
        val claims = store.list(from)
        claims.foreach { n =>
          val content =
            try Some(store.read(from.resolve(n)))
            catch { case _: java.nio.file.NoSuchFileException => None }
          content.foreach { body =>
            if (!store.putIfAbsent(dest.resolve(n), body) &&
                store.read(dest.resolve(n)) != body)
              throw new IllegalStateException(
                s"rename identity column $c -> $to: conflicting allocator " +
                  s"state at ${dest.resolve(n)} — remove the stale claims first")
          }
        }
        claims.foreach(n =>
          try store.delete(from.resolve(n)) catch { case _: Exception => })
        try store.delete(from) catch { case _: Exception => }
      }
      relocate()
      // BEST-EFFORT straggler fold (concurrent DDL + write): a writer
      // racing the rename can recreate the OLD claim space via
      // reserveIdentity and allocate from the default floor. Re-check in
      // a short loop — each pass folds the straggler's maximum into the
      // renamed allocator (a floor bump: gaps allowed, reissue never)
      // and retires the stale claims. A claim landing after the LAST
      // pass is still discarded; full safety needs commit-time conflict
      // detection against schema changes, so concurrent identity-RENAME
      // + append is documented as unsupported (the loop only shrinks
      // the window).
      var pass = 0
      while (store.list(from).nonEmpty && pass < 3) {
        pass += 1
        val (_, staleFloor) = identityFloor(c, cfg)
        if (staleFloor != cfg.start - cfg.step)
          reservePastObserved(to, staleFloor, cfg.step)
        store.list(from).foreach(n =>
          try store.delete(from.resolve(n)) catch { case _: Exception => })
        try store.delete(from) catch { case _: Exception => }
      }
    }
    v
  }

  /** `ALTER TABLE ... DROP COLUMN` — metadata-only, like rename: the
    * column vanishes from the logical schema; its physical data stays in
    * the files until rewriting maintenance (compact / REORG PURGE /
    * merge) naturally sheds it. The physical name is RETIRED so a later
    * ADD of the same logical name maps to a fresh physical and can never
    * resurrect the dropped values. Partition columns and check-referenced
    * columns refuse to drop (layout/constraint contract), matching Delta.
    */
  def dropColumn(name: String): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"drop column on uncommitted table $root"))
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"drop column: no column $name in ${schema.fieldNames.mkString(", ")}"))
    require(schema.fields.length > 1, "cannot drop a table's only column")
    require(!m.partitionCols.getOrElse(Nil).exists(_.equalsIgnoreCase(f.name)),
      s"cannot drop partition column ${f.name} (re-declare the layout first)")
    requireUnreferencedByChecks(f.name, "drop")
    requireUnreferencedByGenerated(f.name, "drop")
    val newSchema = StructType(schema.fields.filterNot(_ eq f))
    val v = commitSet(newSchema,
      FileSet(m.chunks.getOrElse(Nil), m.files), Some(m.version),
      op = "drop column", partitionCols = m.partitionCols,
      mappingOverride = Some((m.mapping - f.name,
        (m.retired.getOrElse(Nil) :+ m.physicalOf(f.name)).distinct)))
    rewriteBloomProperty(f.name, None)
    // dropping a generated column retires its expression with it
    generatedCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, _) =>
      unsetProperty(GraftTable.GeneratedPrefix + c) }
    // dropping a DEFAULT-carrying column retires its default with it
    defaultCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, _) =>
      unsetProperty(GraftTable.DefaultPrefix + c) }
    // dropping an identity column retires its config and allocator state
    identityCols.filter(_._1.equalsIgnoreCase(f.name)).foreach { case (c, _) =>
      unsetProperty(GraftTable.IdentityPrefix + c)
      val dir = idallocDir(c)
      if (Files.isDirectory(dir)) {
        val st = Files.list(dir)
        try st.iterator().asScala.foreach(pp =>
          try Files.deleteIfExists(pp) catch { case _: Exception => })
        finally st.close()
        try Files.deleteIfExists(dir) catch { case _: Exception => }
      }
    }
    v
  }

  /** `ALTER TABLE ... ADD COLUMN name type` — explicit schema evolution
    * as a metadata-only commit (the implicit path — appends/merges with
    * new columns — already evolves via `unionSchema`; this is the
    * declare-first form). The new column is nullable and null-backfilled
    * on existing rows. If the name collides with a RETIRED physical
    * column (dropped earlier), the mapping assigns a fresh physical name
    * so old stored values cannot leak into the new column.
    */
  def addColumn(name: String, typeDdl: String): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"add column on uncommitted table $root"))
    val schema = StructType.fromDDL(m.schema)
    require(name.trim.nonEmpty && !name.contains("`"), s"invalid column name '$name'")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"add column: $name already exists")
    GraftTable.requireNoReservedCdfCols(Seq(name))
    val dt = spark.sessionState.sqlParser.parseDataType(typeDdl)
    // pv tables keep their partition columns LAST (the scan serves
    // dataSchema ++ partitionSchema in that order — Spark discovery
    // parity); new columns slot in before the partition block
    val pvCols = pvPartitionCols(m)
    val newField = StructField(name, dt, nullable = true)
    val newSchema =
      if (pvCols.isEmpty) StructType(schema.fields :+ newField)
      else {
        val (data, pv) = schema.fields.partition(f =>
          !pvCols.exists(_.equalsIgnoreCase(f.name)))
        StructType((data :+ newField) ++ pv)
      }
    commitSet(newSchema, FileSet(m.chunks.getOrElse(Nil), m.files),
      Some(m.version), op = "add column", partitionCols = m.partitionCols,
      mappingOverride = Some((
        GraftTable.derivedMapping(newSchema.fieldNames.toSeq, Some(m)),
        m.retired.getOrElse(Nil))))
  }

  /** `ALTER TABLE ... ALTER COLUMN name TYPE newType` — TYPE WIDENING
    * as a metadata-only commit (Delta type-widening parity): only the
    * promotions the parquet reader serves natively from the old
    * physical encoding are accepted ([[GraftTable.isWideningSafe]] —
    * integral chain, float→double, integral→double, date→timestamp_ntz,
    * decimal growth that loses no digit, integral→decimal with room for
    * every value). Anything else would need every file rewritten and is
    * refused loudly. Old files keep their narrow encoding — Spark 4's
    * vectorized reader up-casts at scan time; new writes land wide.
    * Per-file min/max stats are stored as strings and re-parse under
    * the widened type, so range pruning survives the boundary.
    *
    * Bloom sidecars do NOT survive it: the probe hashes a literal of
    * the CURRENT column type, and XxHash64(int 5) ≠ XxHash64(long 5) —
    * an old sidecar would unsoundly skip files. Any live file whose
    * sidecar indexes this column sheds its bloom ref in the same commit
    * (pruning-perf-only; sidecars for OTHER columns on other files stay,
    * and future writes rebuild under the new type).
    */
  def widenColumn(name: String, typeDdl: String): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"alter column type on uncommitted table $root"))
    val schema = StructType.fromDDL(m.schema)
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"alter column: no column $name in ${schema.fieldNames.mkString(", ")}"))
    val to = spark.sessionState.sqlParser.parseDataType(typeDdl)
    require(to != f.dataType,
      s"alter column ${f.name}: already of type ${f.dataType.sql}")
    require(GraftTable.isWideningSafe(f.dataType, to),
      s"alter column ${f.name}: ${f.dataType.sql} -> ${to.sql} is not a " +
        "lossless widening the parquet reader can serve without " +
        "rewriting files (allowed: TINYINT<SMALLINT<INT<BIGINT, " +
        "FLOAT->DOUBLE, integral->DOUBLE, DATE->TIMESTAMP_NTZ, " +
        "DECIMAL growth keeping all digits, integral->DECIMAL with room)")
    val newSchema = StructType(schema.fields.map(x =>
      if (x eq f) x.copy(dataType = to) else x))
    // strip stale bloom refs: O(live files with sidecars) tiny reads,
    // only on the rare ALTER — sound to over-strip, never to keep
    val phys = m.physicalOf(f.name)
    val live = filesOf(m)
    val needsStrip = live.exists(x => x.bloom.exists(rel =>
      BloomSkipping.load(root, rel).keySet
        .exists(k => k.equalsIgnoreCase(f.name) || k.equalsIgnoreCase(phys))))
    val fs =
      if (!needsStrip) FileSet(m.chunks.getOrElse(Nil), m.files)
      else FileSet(Nil, live.map { x =>
        if (x.bloom.exists(rel => BloomSkipping.load(root, rel).keySet
            .exists(k => k.equalsIgnoreCase(f.name) || k.equalsIgnoreCase(phys))))
          x.copy(bloom = None)
        else x
      })
    commitSet(newSchema, fs, Some(m.version), op = "widen column",
      partitionCols = m.partitionCols,
      mappingOverride = Some((m.mapping, m.retired.getOrElse(Nil))))
  }

  /** Refuse a rename/drop while a CHECK constraint references the
    * column — its stored SQL text would keep naming the old column and
    * silently stop (or fail to start) gating writes.
    */
  private def requireUnreferencedByChecks(colName: String, what: String): Unit =
    checks.foreach { case (n, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.head
      }
      require(!refs.exists(_.equalsIgnoreCase(colName)),
        s"cannot $what column $colName: CHECK constraint $n references it " +
          s"($sql) — drop the constraint first")
    }

  /** Keep the bloom-property column list tracking a rename (`to` =
    * Some(newName)) or a drop (`to` = None).
    */
  private def rewriteBloomProperty(from: String, to: Option[String]): Unit =
    properties.get(GraftTable.BloomProperty).foreach { v =>
      val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val out = cols.flatMap(c => if (c.equalsIgnoreCase(from)) to else Some(c))
      if (out != cols) {
        if (out.isEmpty) unsetProperty(GraftTable.BloomProperty)
        else setProperty(GraftTable.BloomProperty, out.mkString(","))
      }
    }

  /** Wrap a frame so every row is validated against the current CHECK
    * constraints DURING the write scan (a codegen'd per-row guard — no
    * extra pass): the first violating row fails the job, and the
    * failed write lands no manifest, so the table is untouched.
    * Constraints referencing columns the frame lacks (schema evolution
    * mid-flight) fail the write loudly rather than silently passing.
    */
  // ---- table properties (`_graft/props.json`) ---------------------------
  // Delta `TBLPROPERTIES` parity: string config gating future behavior
  // (e.g. `graft.deletionVectors` routes DELETE/UPDATE to merge-on-read).
  // Stored beside checks.json — properties are table config, not part of
  // any version's data, so they don't ride the manifests.

  private val propsPath: Path = manifestDir.resolve("props.json")

  /** Current table properties, name -> value. */
  def properties: Map[String, String] =
    try GraftTable.mapper.readValue(
      store.read(propsPath), classOf[Map[String, String]])
    catch { case _: java.nio.file.NoSuchFileException => Map.empty }

  def setProperty(name: String, value: String): Unit =
    writeProps(properties + (name -> value))

  def unsetProperty(name: String): Unit = writeProps(properties - name)

  // ---- version tags (`_graft/refs.json`) --------------------------------
  // Iceberg-style named refs: a tag pins a table VERSION under a stable
  // name — the training-data reproducibility primitive ("the exact
  // corpus model X trained on"). Tags protect their version from vacuum
  // (files AND manifest), so a tagged snapshot stays readable for as
  // long as the tag lives, independent of the retention window.

  private val refsPath: Path = manifestDir.resolve("refs.json")

  /** Current tags, name -> pinned version. */
  def tags: Map[String, Long] =
    try {
      val node = GraftTable.mapper.readTree(store.read(refsPath))
      node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    } catch { case _: java.nio.file.NoSuchFileException => Map.empty }

  /** Tag `version` (default: the latest) as `name`. Fails on an existing
    * name (delete first — a tag is a pin, silently moving it would
    * un-pin someone's snapshot) or a version that is not readable.
    */
  def createTag(name: String, version: Option[Long] = None): Long = {
    require(name.trim.nonEmpty && !name.forall(_.isDigit),
      s"invalid tag name '$name' (empty or all-digits would shadow versions)")
    val v = version.orElse(latestVersion).getOrElse(
      throw new IllegalStateException(s"tag on uncommitted table $root"))
    manifest(v) // must resolve — a vacuumed/absent version cannot be tagged
    require(!tags.contains(name), s"tag '$name' already exists (drop it first)")
    writeRefs(tags + (name -> v))
    v
  }

  def deleteTag(name: String): Unit = {
    require(tags.contains(name), s"no tag '$name' on $root")
    writeRefs(tags - name)
  }

  /** Resolve a version ref: a numeric string is a version, anything
    * else a tag name.
    */
  def resolveVersionRef(ref: String): Long = {
    val t = ref.trim
    try t.toLong
    catch {
      case _: NumberFormatException => tags.getOrElse(t,
        throw new IllegalArgumentException(s"unknown version or tag '$t' on $root"))
    }
  }

  /** Last version committed at or before `cut` (timestampAsOf / CDF end
    * bound semantics); loud when the cut precedes every commit.
    */
  def versionAtOrBefore(cut: java.time.Instant): Long =
    history.reverseIterator // oldest → newest
      .takeWhile(h => h.committedAt.nonEmpty &&
        !java.time.Instant.parse(h.committedAt).isAfter(cut))
      .map(_.version).reduceOption((_, b) => b)
      .getOrElse(throw new IllegalArgumentException(
        s"timestamp $cut precedes every commit of $root"))

  /** First version committed at or after `cut` (startingTimestamp / CDF
    * start bound semantics); latest+1 when the cut is past every commit
    * — an empty tail, exactly like starting a stream at "latest".
    */
  def versionAtOrAfter(cut: java.time.Instant): Long =
    history.reverseIterator // oldest → newest
      .find(h => h.committedAt.nonEmpty &&
        !java.time.Instant.parse(h.committedAt).isBefore(cut))
      .map(_.version)
      .getOrElse(latestVersion.getOrElse(0L) + 1L)

  /** Snapshot of the version a tag pins. */
  def snapshotAt(tag: String): DataFrame = snapshotAt(resolveVersionRef(tag))

  /** Restore to the version a tag pins. */
  def restore(tag: String): Long = restore(resolveVersionRef(tag))

  /** Shallow-clone the version a tag pins. */
  def cloneAt(tag: String, destRoot: String): GraftTable =
    cloneAt(resolveVersionRef(tag), destRoot)

  private def writeRefs(m: Map[String, Long]): Unit =
    store.replace(refsPath, GraftTable.mapper.writeValueAsString(m))

  /** Whether DELETE/UPDATE default to merge-on-read deletion vectors. */
  def dvEnabled: Boolean =
    properties.get(GraftTable.DvProperty).exists(_.equalsIgnoreCase("true"))

  private def writeProps(m: Map[String, String]): Unit =
    store.replace(propsPath, GraftTable.mapper.writeValueAsString(m))

  private def enforceChecks(df: DataFrame): DataFrame =
    checks.foldLeft(df) { case (d, (name, sql)) =>
      d.filter(
        when(coalesce(expr(sql), lit(true)), lit(true))
          .otherwise(raise_error(concat(
            lit(s"CHECK constraint '$name' ($sql) violated by row: "),
            to_json(struct(d.columns.map(col).toIndexedSeq: _*))))
            .cast("boolean")))
    }

  // ---- txn-marker index (`_graft/txns/`) --------------------------------
  // Replay lookups run on EVERY load (SilverLoader checks its marker per
  // entity per cycle), so a newest-first scan of all manifests — O(commit
  // history) JSON reads — was the one hot-path cost that grew with table
  // age. The index bounds it: marker-carrying commits upsert their
  // appId's index file post-commit, and lookups read ONE small JSON, then
  // scan only the crash window (manifests newer than the index's high-
  // water mark — normally zero or one).

  private val txnsDir: Path = manifestDir.resolve("txns")

  private def txnIndexPath(appId: String): Path =
    txnsDir.resolve(java.net.URLEncoder.encode(appId, "UTF-8") + ".json")

  private def readTxnIndex(appId: String): Option[TxnIndex] =
    try Some(mapper.readValue(store.read(txnIndexPath(appId)), classOf[TxnIndex]))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Upsert `appId`'s index after a marker-carrying commit. Single
    * logical writer per appId makes the read-modify-write race-free; the
    * atomic replace keeps concurrent READERS tear-free. Markers are
    * capped at the newest 256 by version — replay depth is a handful of
    * batches, and anything deeper than the cap degrades to the crash-
    * window scan, never to silent re-execution of an INDEXED batch.
    */
  private def writeTxnIndex(appId: String, marker: String, version: Long): Unit = {
    val prev = readTxnIndex(appId)
    val markers = (prev.map(_.markers).getOrElse(Map.empty) + (marker -> version))
      .toSeq.sortBy(-_._2).take(256).toMap
    store.replace(txnIndexPath(appId), mapper.writeValueAsString(
      TxnIndex(appId, math.max(version, prev.map(_.manifestVersion).getOrElse(0L)), markers)))
  }

  /** Newest-first manifest scan for a txn marker, bounded below by
    * `aboveVersion` (exclusive) — the index-miss crash window, or the
    * whole history when no index exists (legacy tables, fresh appIds).
    */
  private def scanTxn(aboveVersion: Long)(p: String => Boolean): Option[Long] = {
    val latest = latestVersion.getOrElse(return None)
    if (latest <= aboveVersion) return None
    (latest to math.max(aboveVersion + 1, 1L) by -1).iterator.flatMap { v =>
      val m = try Some(manifest(v))
      catch { case _: java.nio.file.NoSuchFileException => None }
      m.filter(_.txn.exists(p)).map(_.version)
    }.nextOption()
  }

  private def batchIdOf(appId: String, marker: String): Option[Long] =
    Option(marker).filter(s => s.lastIndexOf(':') > 0 &&
        s.take(s.lastIndexOf(':')) == appId)
      .flatMap(s =>
        // markers from OTHER writers may contain ':' anywhere (e.g.
        // watermark-range markers with timestamps) — never throw on them
        scala.util.Try(s.substring(s.lastIndexOf(':') + 1).toLong).toOption)

  /** Latest idempotent-writer BATCH ID committed under `appId` (Delta
    * `txnVersion` parity, markers "<appId>:<batchId>"). A replayed
    * at-least-once batch checks `lastTxn(appId).exists(_ >= batchId)`
    * and skips work an interrupted predecessor already committed —
    * including its change-feed publication. Index-backed: one JSON read
    * plus the crash-window scan.
    */
  def lastTxn(appId: String): Option[Long] = {
    val idx = readTxnIndex(appId)
    val floor = idx.map(_.manifestVersion).getOrElse(0L)
    val fromIdx = idx.toSeq.flatMap(_.markers.keys)
      .flatMap(batchIdOf(appId, _)).maxOption
    // the crash window may hold a NEWER batch than the index absorbed
    val fromScan = {
      val latest = latestVersion.getOrElse(return fromIdx)
      (latest until floor by -1).iterator.flatMap { v =>
        val t = try manifest(v).txn
        catch { case _: java.nio.file.NoSuchFileException => None }
        t.flatMap(batchIdOf(appId, _))
      }.nextOption()
    }
    (fromIdx.toSeq ++ fromScan.toSeq).maxOption
  }

  /** The version whose commit carries EXACTLY this txn marker, if any —
    * the equality form of [[lastTxn]] for writers whose batch identity
    * is a value (e.g. a watermark range), not a monotonic counter.
    * Index-backed when the writer committed with an appId (see
    * MergeBuilder.withTxnMarker / overwriteStats): one JSON read plus
    * the crash-window scan, with a found-by-scan marker healed back
    * into the index. Markers REMAIN detectable after vacuum drops their
    * manifests (the index outlives retention).
    */
  def txnVersion(appId: String, marker: String): Option[Long] = {
    val idx = readTxnIndex(appId)
    idx.flatMap(_.markers.get(marker)).orElse {
      val found = scanTxn(idx.map(_.manifestVersion).getOrElse(0L))(_ == marker)
      found.foreach(v => writeTxnIndex(appId, marker, v)) // heal the index
      found
    }
  }

  /** Legacy full-history form (no appId → no index): O(versions) scan,
    * and vacuum dropping the marker's manifest forgets the txn. Prefer
    * [[txnVersion(appId:String,marker:String)*]].
    */
  def txnVersion(marker: String): Option[Long] = scanTxn(0L)(_ == marker)

  // ---- exactly-once upsert ----------------------------------------------

  /** Step 1 of the exactly-once upsert, shared by every replayable upsert
    * writer (`SilverLoader`, the foreachBatch loaders, the `pk` sink):
    * has the retry unit committed under `marker` already?
    *
    * Each unit (a watermark range, a micro-batch id) commits under its
    * marker ([[upsertOnce]]). A crash after that commit but before the
    * caller records progress (closeWatermark, the stream checkpoint)
    * reruns the unit. Re-merging it is idempotent for the table, but the
    * rows carry a fresh audit stamp, so every row diffs as changed and
    * the change feed would publish the batch twice. A hit returns the
    * landed version and the caller skips its write. The commit and its
    * feed publication are two renames, so the crash may also have lost
    * the publication: with `changeFeed` on, a hit backfills the feed from
    * the landed version on ([[repairChangeFeed]] is first-wins, so an
    * intact feed is a no-op).
    *
    * Driver-only metadata: call it before anything evaluates the batch
    * (`isEmpty`, sketching), so a replay never pays for a batch it skips.
    * Keyed by `appId` it reads the txn index — one small JSON plus a
    * crash-window scan of 0–1 manifests, never the whole history — and
    * markers stay detectable past the vacuum horizon. An absent table is
    * a miss.
    */
  def upsertLanded(
      appId: String, marker: String, pkCols: Seq[String],
      changeFeed: Boolean): Option[Long] = {
    val landed = txnVersion(appId, marker)
    if (changeFeed) landed.foreach(v => repairChangeFeed(pkCols, sinceVersion = v))
    landed
  }

  /** Step 2 of the exactly-once upsert (the protocol is on
    * [[upsertLanded]], which must have missed): upsert `batch` on `pkCols`
    * under `marker`. Rows where `deleteWhen` (SQL over the batch) holds
    * delete their matched key; a NULL verdict keeps the row.
    *
    * An absent table takes the merge-into-empty rule: the rows
    * `deleteWhen` does not mark become the first version, with stats on
    * `statsCols` (empty = `pkCols`), and with `changeFeed` on that
    * version is published as the initial snapshot, so a hop bootstrapped
    * from the change feed (the native `format("graft")` CDF source) sees
    * the first, usually largest, batch. Otherwise one star-clause merge,
    * whose change feed is the next hop's input. Both go through the
    * overridable [[merge]] and [[overwriteStats]]. Returns the committed
    * version.
    */
  def upsertOnce(
      batch: DataFrame, pkCols: Seq[String], appId: String, marker: String,
      deleteWhen: Option[String] = None, changeFeed: Boolean = false,
      statsCols: Seq[String] = Nil): Long =
    if (!exists) {
      val kept = deleteWhen.fold(batch)(c => batch.filter(!coalesce(expr(c), lit(false))))
      val v = overwriteStats(kept, if (statsCols.nonEmpty) statsCols else pkCols,
        txn = Some(marker), txnApp = Some(appId))
      if (changeFeed) publishInitialSnapshot()
      v
    } else {
      val m = merge(batch, pkCols).whenMatchedUpdateAll().whenNotMatchedInsertAll()
      val m2 = deleteWhen.fold(m)(m.whenMatchedDelete)
      (if (changeFeed) m2.withChangeFeed() else m2).withTxnMarker(appId, marker).execute()
    }

  /** Replace the table contents (ref :193 — first-load overwrite path). */
  def overwrite(df: DataFrame, statsCol: Option[String] = None): Long =
    overwriteStats(df, statsCol.toSeq)

  /** Overwrite collecting per-file stats for several columns (pass the
    * full primary key so composite merges can prune on every column).
    *
    * A partition declaration SURVIVES a plain overwrite (the data is
    * replaced, the layout contract is not): the new contents are
    * re-clustered and partition stats re-collected. Declaring different
    * partition columns goes through `overwritePartitioned`; an overwrite
    * whose data lacks the partition columns drops the declaration (it is
    * no longer satisfiable) rather than erroring.
    */
  def overwriteStats(
      dfIn: DataFrame, statsCols: Seq[String], txn: Option[String] = None,
      txnApp: Option[String] = None): Long =
    overwriteStatsPrepared(
      applyIdentity(applyGenerated(dfIn, recompute = false)),
      statsCols, txn, txnApp)

  /** [[overwriteStats]] body for a batch the generated/identity
    * contracts have ALREADY been applied to (overwritePartitioned
    * prepares once and must not re-apply — re-validation is wasted
    * work and a second identity pass would double-allocate).
    */
  private def overwriteStatsPrepared(
      df: DataFrame, statsCols: Seq[String], txn: Option[String] = None,
      txnApp: Option[String] = None): Long = {
    // ONE base resolution for declaration + expected version: reading
    // them separately would let a commit landing during the data write
    // erase a concurrent partition declaration without a conflict
    val base = latestManifest
    val pvColsAll = base.map(pvPartitionCols).getOrElse(Nil)
    // a pv table keeps its Hive-metadata layout through an overwrite —
    // partitionSchema must never flip mid-table (auto-advancing
    // relations were planned against it). A batch missing SOME of the
    // partition columns null-fills them (NULL slice — same verdict as
    // append); only data lacking them ALL degrades to a clustered
    // overwrite like the declaration-drop below.
    if (pvColsAll.exists(c => df.columns.exists(_.equalsIgnoreCase(c)))) {
      val tableSchema = base.map(m => StructType.fromDDL(m.schema))
      val dfP =
        if (pvColsAll.forall(c => df.columns.exists(_.equalsIgnoreCase(c)))) df
        else df.select(df.columns.map(c => col(s"`$c`")).toIndexedSeq ++
          pvColsAll.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
            .map(c => lit(null).cast(
              tableSchema.get.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
            ).as(c)): _*)
      val files = writePvDataFiles(dfP, pvColsAll, statsCols)
      // partition columns last (scan contract) regardless of batch order
      return commit(GraftTable.pvOrdered(dfP.schema, pvColsAll), files,
        expectedBase = base.map(_.version),
        op = "overwrite", partitionCols = Some(pvColsAll), txn = txn,
        txnApp = txnApp)
    }
    val pCols = base.flatMap(_.partitionCols).getOrElse(Nil)
      .filter(df.columns.contains)
    val files = writeDataFiles(
      if (pCols.nonEmpty) clusterBy(df, pCols) else df,
      (statsCols ++ pCols).distinct)
    commit(df.schema, files, expectedBase = base.map(_.version), op = "overwrite",
      partitionCols = if (pCols.nonEmpty) Some(pCols) else None, txn = txn,
      txnApp = txnApp)
  }

  /** Overwrite declaring partition/clustering columns: rows are
    * range-clustered on `partCols` so each data file covers a tight
    * slice of the partition space, and every later write (append, merge,
    * compact) maintains the clustering. A one-day incremental batch then
    * overlaps only that day's files — include the partition columns in
    * the merge primary key and pruning composes multiplicatively.
    */
  def overwritePartitioned(
      dfIn: DataFrame, partCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    // compute-if-missing BEFORE the presence check: declaring a
    // generated column as the layout is the feature's flagship use
    val df = applyIdentity(applyGenerated(dfIn, recompute = false))
    require(partCols.nonEmpty && partCols.forall(df.columns.contains),
      s"partition columns $partCols must exist in the data")
    // a pv table's layout is Hive-metadata partitioning, permanently:
    // re-declaring the same columns routes through the pv funnel; a
    // DIFFERENT declaration would flip partitionSchema under live
    // relations — refused (re-create the table to re-layout)
    latestManifest.map(pvPartitionCols).filter(_.nonEmpty).foreach { pvCols =>
      require(pvCols.map(_.toLowerCase).toSet == partCols.map(_.toLowerCase).toSet,
        s"cannot re-declare partition columns of Hive-import table $root " +
          s"from (${pvCols.mkString(", ")}) to (${partCols.mkString(", ")}); " +
          "re-create the table to change the layout")
      return overwriteStatsPrepared(df, statsCols)
    }
    val files = writeDataFiles(clusterBy(df, partCols), (partCols ++ statsCols).distinct)
    commit(df.schema, files, expectedBase = latestVersion, op = "overwrite",
      partitionCols = Some(partCols))
  }

  /** Predicate-scoped overwrite (Delta `replaceWhere` parity): one
    * atomic commit replacing exactly the rows matching `condSql` with
    * `df` — the engine behind `INSERT OVERWRITE ... PARTITION (k=v)`
    * and any "reload this slice" pipeline. O(touched slice + new data)
    * via the DELETE pruning machinery; incoming rows must satisfy the
    * predicate (enforced per-row, loudly). See
    * [[graft.operators.RowLevel.replaceWhere]] for the execution shape.
    */
  def overwriteWhere(
      df: DataFrame, condSql: String, changeFeed: Boolean = false,
      txn: Option[String] = None, txnApp: Option[String] = None): Long =
    graft.operators.RowLevel.replaceWhere(this,
      graft.operators.RowLevel.parse(this, condSql), df, changeFeed, txn, txnApp)

  /** Range-cluster rows on the partition columns before writing (each
    * output file then spans a minimal value range — what keeps per-file
    * partition stats tight and pruning sharp). The explicit partition
    * count pins the file count: without it AQE coalesces a small shuffle
    * to one partition and the whole table lands in one unprunable file.
    */
  private[graft] def clusterBy(df: DataFrame, partCols: Seq[String]): DataFrame =
    df.repartitionByRange(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      partCols.map(col): _*)

  /** The table's declared partition columns (empty when unpartitioned). */
  def partitionCols: Seq[String] =
    latestManifest.flatMap(_.partitionCols).getOrElse(Nil)

  /** A Hive-import table (CONVERT ... PARTITIONED BY) keeps its
    * partition values in file METADATA forever — Delta's model, where
    * partition values are never materialized into data columns. Every
    * write funnel routes pv tables through [[writePvDataFiles]] (new
    * files carry their tuple as pv metadata) and every whole-file read
    * goes through the pv-aware [[readMasked]] funnel, so a converted
    * 100 TB lake pays O(batch) per append and O(touched files) per
    * row-level op — never a table rewrite. The earlier design bridged
    * converts into clustered tables with ONE whole-table materializing
    * overwrite before the first DML; that rewrite was the one O(table)
    * cost in the convert path and is gone.
    */
  private[graft] def pvPartitionCols(m: Manifest): Seq[String] =
    if (m.hasPv) m.partitionCols.getOrElse(Nil) else Nil

  /** Append a batch without touching existing files. The committed schema
    * becomes the union of old and new (new columns nullable-backfilled).
    *
    * Appends never semantically conflict with other writers (they only
    * add files), so on a lost commit race the data files are kept and
    * the manifest commit is rebased onto the winner's version and
    * retried — multi-writer append is lock-free. (A merge/overwrite
    * CANNOT blindly rebase: its output depends on the base snapshot, so
    * those surface the conflict to the caller for re-execution.)
    */
  def append(df: DataFrame, statsCol: Option[String] = None): Long =
    appendStats(df, statsCol.toSeq)

  /** Append collecting multi-column per-file stats (see overwriteStats).
    * On a partitioned table the batch is clustered on the partition
    * columns and their stats are recorded, preserving the layout.
    */
  def appendStats(
      df: DataFrame, statsCols: Seq[String], txn: Option[String] = None,
      txnApp: Option[String] = None): Long =
    appendImpl(df, statsCols, changeFeedOn = false, txn, txnApp)

  /** Append that ALSO publishes the batch into the stored change feed —
    * as hard links to the batch's own data files (zero data copy, no
    * diff job: an append's rows are inserts by construction). With
    * writers using this (and merges using `.withChangeFeed()`), the
    * change feed is a complete NRT tail of the table:
    * [[readChangeStream]] streams ingest as it lands.
    */
  def appendWithChangeFeed(
      df: DataFrame, statsCols: Seq[String], txn: Option[String] = None,
      txnApp: Option[String] = None): Long = {
    // stats are not optional here: the NRT ingest pattern this feeds —
    // frequent small appends, periodic merges — depends on per-file
    // min/max so the merges can prune; a stats-less file is re-read and
    // rewritten by EVERY subsequent merge ("no stats → assume touched")
    require(statsCols.nonEmpty,
      "appendWithChangeFeed needs stats columns (the pk) — stats-less " +
        "files defeat merge pruning exactly where frequent appends need it")
    appendImpl(df, statsCols, changeFeedOn = true, txn, txnApp)
  }

  private def requireNoReservedCdfCols(cols: Seq[String]): Unit =
    GraftTable.requireNoReservedCdfCols(cols)

  private def appendImpl(
      dfIn: DataFrame, statsColsIn: Seq[String], changeFeedOn: Boolean,
      txn: Option[String] = None, txnApp: Option[String] = None): Long = {
    // generated-column contract first: a missing generated column is
    // computed here, so everything downstream (pv split, clustering,
    // stats, schema union) sees it like any stored column
    val df = applyIdentity(applyGenerated(dfIn, recompute = false))
    // a stats-less API append on a table with a DECLARED stats contract
    // (CREATE ... STATS / a generated partition column's auto-added
    // sources) inherits the declaration — the pruning contract should
    // not depend on which write surface the batch came through
    val statsCols =
      if (statsColsIn.nonEmpty) statsColsIn
      else declaredStatsCols.filter(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
    if (changeFeedOn) requireNoReservedCdfCols(df.columns.toSeq)
    val wbase = latestManifest
    val pvCols = wbase.map(pvPartitionCols).getOrElse(Nil)
    // a pv-table batch missing a partition column lands in the NULL
    // slice (Hive default partition) — the same verdict a null value
    // in the column gets
    val dfP =
      if (pvCols.forall(c => df.columns.exists(_.equalsIgnoreCase(c)))) df
      else {
        val tableSchema = StructType.fromDDL(wbase.get.schema)
        df.select(df.columns.map(c => col(s"`$c`")).toIndexedSeq ++
          pvCols.filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
            .map(c => lit(null).cast(
              tableSchema.fields.find(_.name.equalsIgnoreCase(c)).get.dataType
            ).as(c)): _*)
      }
    val pCols = wbase.flatMap(_.partitionCols).getOrElse(Nil)
      .filter(c => dfP.columns.exists(_.equalsIgnoreCase(c)))
    // physical naming from the base at WRITE time; the retry loop below
    // may rebase the commit, and before committing onto a MOVED base it
    // re-checks that the rebased mapping still assigns these exact
    // physical names (a concurrent RENAME/DROP COLUMN invalidates them)
    val writtenMapping = GraftTable.derivedMapping(dfP.columns.toSeq, wbase)
    // existing columns keep the TABLE's declared type — an appended
    // batch with a drifted type is cast, not landed verbatim
    val conformTo = wbase.map(b =>
      GraftTable.unionSchema(StructType.fromDDL(b.schema), dfP.schema))
    val files =
      if (pvCols.nonEmpty)
        // pv table: the batch splits by partition tuple and the new
        // files carry their tuple as metadata — O(batch), no bridge,
        // untouched files never rewritten
        writePvDataFiles(dfP, pvCols, statsCols, writtenMapping, conformTo)
      else writeDataFiles(
        if (pCols.nonEmpty) clusterBy(dfP, pCols) else dfP,
        (statsCols ++ pCols).distinct, // pk-first: one ordering contract with merge/overwrite
        writtenMapping, conformTo)
    // staged pre-commit like the merge path: a failed commit leaves only
    // an aged-out temp dir, never a published feed for an unlanded batch.
    // A row-less batch publishes nothing (Spark still writes an empty
    // part file, so the check is on row counts): absence already means
    // "no stored changes".
    // pv appends stage a COPY of the batch rather than hard links: the
    // data files lack the partition columns (they live in pv metadata),
    // so a linked feed would serve nulls for them.
    val staged =
      if (!changeFeedOn || !files.exists(_.rows > 0)) None
      else if (pvCols.nonEmpty) Some(stageChangeFeed(
        dfP.withColumn("_change_type", lit("insert")), wbase))
      else Some(stageChangeFeedLinks(files))
    var attempts = 0
    while (true) {
      val base = latestManifest
      val mergedSchema = GraftTable.pvOrdered(
        base.map(m => unionSchema(StructType.fromDDL(m.schema), dfP.schema))
          .getOrElse(dfP.schema),
        base.map(pvPartitionCols).getOrElse(Nil))
      // rebase guard: committing onto a base that moved since write time
      // is only sound if the re-derived column mapping still reads the
      // batch's files under the physical names they were WRITTEN with. A
      // concurrent RENAME re-points a logical name at a different
      // physical, and a concurrent DROP retires one — either way the
      // re-unioned logical column would get a fresh physical name while
      // the batch's files carry the old one, so its appended values
      // would silently read as NULL. Detect that and fail with a
      // retryable conflict (the caller re-runs the append against the
      // new schema) instead of committing a mapping that mismatches the
      // files on disk.
      if (base.map(_.version) != wbase.map(_.version)) {
        val rebased = GraftTable.derivedMapping(
          mergedSchema.fieldNames.toSeq, base)
        val broken = dfP.columns.toSeq.filter { c =>
          rebased.getOrElse(c, c) != writtenMapping.getOrElse(c, c) }
        if (broken.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"append conflict at $root: a concurrent schema change " +
              s"(rename/drop) re-mapped column(s) ${broken.mkString(", ")} " +
              "after this batch's files were written; re-run the append " +
              "against the current schema")
      }
      try {
        // chunk-local: the base's chunks ride by reference; only the
        // inline delta (base inline + this batch) is re-listed
        val v = commitSet(mergedSchema,
          FileSet(base.flatMap(_.chunks).getOrElse(Nil),
            base.map(_.files).getOrElse(Nil) ++ files),
          base.map(_.version), op = "append",
          partitionCols = base.flatMap(_.partitionCols), txn = txn,
          txnApp = txnApp)
        // publish under the version that actually LANDED (a lost race
        // rebases the commit to a later version)
        staged.foreach(publishChangeFeed(v, _))
        maybeAutoCompact()
        return v
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 50) throw e // pathological contention — give up
      }
    }
    -1L // unreachable
  }

  /** COPY INTO (Delta parity): append an existing parquet DIRECTORY's
    * files into this table — the incremental onboarding complement to
    * [[GraftTable.convertParquet]] (which claims a whole directory as a
    * new table).
    *
    *  - **Fast path** (file schema == table schema, by name+type): the
    *    source files HARD-LINK into an `imports-*` area under the table
    *    root and footer-derived entries land in ONE append commit — zero
    *    data rows read, O(files), exactly the convert machinery.
    *    Cross-filesystem sources fall back to a byte copy per file.
    *  - **General path** (compatible but different schema): one Spark
    *    pass casts by name, NULL-backfills table columns the source
    *    lacks, and appends through the normal funnel; source columns the
    *    table does not have error loudly (Delta's strict default).
    *  - **Idempotent per source file** (Delta's COPY INTO contract):
    *    already-copied source paths — tracked in `_graft/copy_into.json`,
    *    updated post-commit like the txn index — are skipped, so
    *    re-running after a crash or on a grown directory copies only the
    *    new files and never duplicates rows. A crash BETWEEN commit and
    *    tracker write re-links on retry; the orphaned links sit outside
    *    the manifest and cost only directory entries.
    *
    * Returns the committed version (unchanged when nothing new to copy).
    */
  def copyInto(srcDir: String, statsCols: Seq[String] = Nil): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"COPY INTO an uncommitted table $root — create it first " +
        "(CTAS, overwrite, or CONVERT)"))
    val srcPath = Paths.get(srcDir)
    require(Files.isDirectory(srcPath), s"COPY INTO: $srcDir is not a directory")
    val walk = Files.walk(srcPath)
    val all = try walk.iterator().asScala
      .filter { p =>
        Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !srcPath.relativize(p).iterator().asScala
            .exists(seg => seg.toString.startsWith("_") ||
              seg.toString.startsWith("."))
      }.toSeq.sortBy(_.toString)
    finally walk.close()
    // same stance as CONVERT: Hive-style partition dirs would silently
    // lose the partition column
    val hiveSegs = all.iterator
      .flatMap(p => srcPath.relativize(p).iterator().asScala.map(_.toString))
      .filter(seg => seg.contains("=") && !seg.endsWith(".parquet")).toSet
    require(hiveSegs.isEmpty,
      s"COPY INTO: $srcDir contains Hive-style partition directories " +
        s"(e.g. ${hiveSegs.headOption.getOrElse("")}); materialize the " +
        "partition values as real columns first")
    require(all.nonEmpty, s"COPY INTO: no parquet files under $srcDir")
    val copied = copiedPaths()
    val fresh = all.filterNot(p => copied.contains(p.toAbsolutePath.toString))
    if (fresh.isEmpty) return m.version

    val tableSchema = StructType.fromDDL(m.schema)
    val srcSchema = spark.read.parquet(fresh.map(_.toString): _*).schema
    val extra = srcSchema.fieldNames.filterNot(c =>
      tableSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"COPY INTO: source columns ${extra.mkString(", ")} do not exist on " +
        s"the table (${tableSchema.fieldNames.mkString(", ")})")
    val pCols = m.partitionCols.getOrElse(Nil)
    val wantedStats = (
      (if (statsCols.nonEmpty) statsCols else defaultStatsCols(m)) ++ pCols
    ).distinct.filter(c => srcSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    // pv tables NEVER take the link path: a linked file would carry its
    // partition values in the DATA (no pv tuple), and one relation
    // cannot serve plain and pv files under a single partitionSchema —
    // the casting funnel below routes through writePvDataFiles instead,
    // so copied rows land tuple-pure like every other write (Delta
    // parity: COPY INTO a partitioned table is a real write)
    // identity tables never take the link path either: linked files
    // bypass the allocator, so provided values would neither be gated
    // (ALWAYS) nor floor-bumped (BY DEFAULT) — the casting funnel's
    // applyIdentity handles both
    val exactMatch = pvPartitionCols(m).isEmpty && m.mapping.isEmpty &&
      identityCols.isEmpty &&
      srcSchema.length == tableSchema.length &&
      tableSchema.forall(f => srcSchema.find(_.name == f.name)
        .exists(_.dataType == f.dataType))

    val v =
      if (exactMatch) {
        // CHECK constraints gate EVERY write path (the general branch
        // inherits them from the write funnel's enforceChecks). Linked
        // files never pass through that funnel, so validate them first
        // with ONE column-pruned aggregation over only the fresh files —
        // Catalyst prunes the scan to the columns the check expressions
        // reference, so this stays O(fresh × checked-cols), not a full
        // read. NULL verdicts satisfy (SQL/Delta semantics).
        val tableChecks = checks
        val gens = generatedCols
        if (tableChecks.nonEmpty || gens.nonEmpty) {
          val df = spark.read.parquet(fresh.map(_.toString): _*)
          // exactMatch means every generated column is physically present
          // in the source files — validate values in the SAME pruned
          // aggregation pass as the CHECK constraints
          val ordered: Seq[(String, String, org.apache.spark.sql.Column)] =
            tableChecks.toSeq.map { case (name, sql) =>
              (s"CHECK constraint '$name'", sql,
                !coalesce(expr(sql), lit(true)))
            } ++ gens.map { case (c, e) =>
              val dt = tableSchema.fields
                .find(_.name.equalsIgnoreCase(c)).get.dataType
              (s"generated column '$c'", e,
                !(col(s"`$c`") <=> expr(e).cast(dt)))
            }
          val aggs = ordered.zipWithIndex.map { case ((_, _, badPred), i) =>
            sum(when(badPred, 1L).otherwise(0L)).as(s"__ck_$i")
          }
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          ordered.zipWithIndex.foreach { case ((what, sql, _), i) =>
            val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
            require(bad == 0L,
              s"COPY INTO: $what ($sql) is violated " +
                s"by $bad row(s) in $srcDir; fix the source data or run " +
                "the files through a casting write")
          }
        }
        // footers-only: link in, stat from footers, one append commit
        val importDir = s"imports-${UUID.randomUUID().toString.take(12)}"
        Files.createDirectories(Paths.get(root, importDir))
        val linked = fresh.zipWithIndex.map { case (p, i) =>
          val tgt = Paths.get(root, importDir, f"$i%05d-${p.getFileName}")
          try Files.createLink(tgt, p)
          catch { case _: java.io.IOException => Files.copy(p, tgt) }
          tgt
        }
        // bloom-indexed tables keep their point-lookup contract on the
        // fast path too: one more pruned pass sidecars the linked files
        // (exactMatch implies identity mapping, so logical == physical)
        val entries = attachBlooms(Paths.get(root, importDir),
          manifestEntries(linked, wantedStats), srcSchema.fieldNames.toSeq)
        var attempts = 0
        var landed = -1L
        while (landed < 0) {
          val base = latestManifest.get
          // rebase guard (mirrors appendImpl): the linked files carry the
          // schema's LOGICAL names physically, which is only readable
          // while the mapping stays identity and the schema still matches
          // by name+type. A concurrent RENAME/DROP/REPLACE between the
          // exactMatch probe and this commit invalidates that — fail as a
          // conflict (outside the retry catch: re-running COPY INTO is
          // the fix, and per-file idempotence makes that safe) rather
          // than landing files whose columns would read as NULL.
          if (base.version != m.version &&
              (base.mapping.nonEmpty || !StructType.fromDDL(base.schema)
                .forall(f => srcSchema.find(_.name == f.name)
                  .exists(_.dataType == f.dataType))))
            throw new java.util.ConcurrentModificationException(
              s"COPY INTO conflict at $root: a concurrent schema change " +
                "landed after the source files were matched; re-run COPY " +
                "INTO against the current schema")
          try landed = commitSet(StructType.fromDDL(base.schema),
            FileSet(base.chunks.getOrElse(Nil), base.files ++ entries),
            Some(base.version), op = "append",
            partitionCols = base.partitionCols,
            mappingOverride = Some((base.mapping, base.retired.getOrElse(Nil))))
          catch {
            case e: java.util.ConcurrentModificationException =>
              attempts += 1; if (attempts >= 50) throw e
          }
        }
        landed
      } else {
        // one casting pass through the append funnel (store-assignment
        // semantics, NULL backfill — the table schema stays authoritative).
        // A generated column ABSENT from the source is left out, not
        // null-backfilled, so the append funnel computes it.
        val gens = generatedCols.map(_._1.toLowerCase).toSet
        val df = spark.read.parquet(fresh.map(_.toString): _*)
        val out = df.select(tableSchema.fields.toSeq.flatMap { f =>
          srcSchema.fieldNames.find(_.equalsIgnoreCase(f.name)) match {
            case Some(s) => Some(col(s"`$s`").cast(f.dataType).as(f.name))
            case None if gens.contains(f.name.toLowerCase) => None
            case None => Some(lit(null).cast(f.dataType).as(f.name))
          }
        }: _*)
        appendStats(out, wantedStats.filter(c =>
          tableSchema.fieldNames.contains(c)))
      }
    recordCopiedPaths(fresh.map(_.toAbsolutePath.toString).toSet)
    maybeAutoCompact()
    v
  }

  /** The table's current stats-column contract, read off an existing
    * file's entry (primary first — the ordering merge pruning relies
    * on); empty on a stats-less table.
    */
  private def defaultStatsCols(m: Manifest): Seq[String] = {
    val p2l = m.logicalByPhysical
    filesOf(m).headOption.map { f =>
      val primary = f.statsCol.map(c => p2l.getOrElse(c, c)).toSeq
      val rest = StatsPruning.fileRanges(f).keys.map(c => p2l.getOrElse(c, c))
        .filterNot(primary.contains).toSeq.sorted
      primary ++ rest
    }.filter(_.nonEmpty).getOrElse(declaredStatsCols)
  }

  /** The DECLARED stats-column contract (`graft.statsColumns` property),
    * recorded by schema-first `CREATE TABLE (cols) ... STATS (...)`. The
    * file-derived contract (what the files actually carry) wins whenever
    * files exist; this declaration covers the gap between a zero-file
    * create and the first write, so a schema-first table's very first
    * INSERT already lands min/max stats and every later merge prunes.
    */
  def declaredStatsCols: Seq[String] =
    properties.getOrElse(GraftTable.StatsProperty, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private val copyIntoPath: Path = manifestDir.resolve("copy_into.json") // legacy

  private def parseCopied(s: Option[String]): Set[String] =
    s.fold(Set.empty[String])(
      GraftTable.mapper.readValue(_, classOf[Seq[String]]).toSet)

  private def copiedPaths(): Set[String] =
    try parseCopied(registryLatest("copyinto", copyIntoPath)._2)
    catch { case _: java.nio.file.NoSuchFileException =>
      parseCopied(registryLatest("copyinto", copyIntoPath)._2)
    }

  /** UNION `fresh` into the loaded-files registry via the CAS chain —
    * merged against the registry's CURRENT state, never a stale
    * snapshot, so a concurrent COPY INTO's entries survive (losing them
    * would re-load already-loaded files — the idempotence the operator
    * exists to provide). The read-then-commit window remains: two
    * COPY INTOs racing over the SAME source file can each load it once
    * (both saw it unregistered) — the registry guarantees monotonic
    * growth, not cross-process mutual exclusion of the data commit.
    */
  private def recordCopiedPaths(fresh: Set[String]): Unit =
    registryUpdate("copyinto", copyIntoPath) { cur =>
      val m = parseCopied(cur)
      val merged = m ++ fresh
      if (merged == m) None
      else Some(GraftTable.mapper.writeValueAsString(merged.toSeq.sorted))
    }

  /** MERGE INTO builder (ref :200-209). */
  def merge(source: DataFrame, pkCols: Seq[String]): MergeBuilder =
    new MergeBuilder(this, source, pkCols)

  /** DELETE FROM — copy-on-write row deletion (Delta parity; see
    * [[graft.operators.RowLevel]] for the pruned execution shape). Rows
    * where `condSql` is true are removed; a NULL verdict keeps the row.
    * Returns the committed version (unchanged when nothing matched —
    * no empty commit). `changeFeed = true` publishes the deleted rows
    * as 'delete' change data under the landed version.
    */
  def delete(
      condSql: String = "true", changeFeed: Boolean = false,
      txn: Option[String] = None, txnApp: Option[String] = None,
      deletionVectors: Option[Boolean] = None): Long =
    graft.operators.RowLevel.delete(this, condSql, changeFeed, txn, txnApp,
      deletionVectors.getOrElse(dvEnabled))

  /** UPDATE … SET — copy-on-write assignment (Delta parity). `set` maps
    * column name → SQL expression (may reference any row columns);
    * applied where `condSql` is true, NULL verdicts leave the row
    * unchanged. `changeFeed = true` publishes 'update_postimage' rows
    * for rows the assignments actually changed.
    */
  def update(
      set: Map[String, String], condSql: String = "true",
      changeFeed: Boolean = false, txn: Option[String] = None,
      txnApp: Option[String] = None,
      deletionVectors: Option[Boolean] = None): Long =
    graft.operators.RowLevel.update(this, set, condSql, changeFeed, txn,
      txnApp, deletionVectors.getOrElse(dvEnabled))

  /** Compaction (OPTIMIZE): rewrite the table's files into ~targetFileRows
    * chunks, sorted by the stats column when present so per-file min/max
    * ranges stay tight (which is what keeps merge pruning effective).
    * Incremental loads inevitably accrete small files; compaction is the
    * maintenance operation that keeps scan/task counts sane at scale.
    */
  def compact(targetFileRows: Long = 1000000L): Long = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"compact of uncommitted table $root"))
    val all = filesOf(m) // compaction is a whole-table op by definition
    // file stats keys are PHYSICAL; the snapshot frame is logical
    val statsCols = {
      val multi = all.flatMap(_.ranges.map(_.keys.toSeq).getOrElse(Nil)).distinct
      val p2l = m.logicalByPhysical
      (if (multi.nonEmpty) multi else all.flatMap(_.statsCol).distinct)
        .map(c => p2l.getOrElse(c, c))
        .filter(StructType.fromDDL(m.schema).fieldNames.contains)
    }
    val totalRows = math.max(m.allRows, 1L)
    val nFiles = math.max(1, math.ceil(totalRows.toDouble / targetFileRows).toInt)
    // row-id-carrying read when tracking: compaction hands every
    // surviving row its id and the rewrite materializes them — ids are
    // stable across OPTIMIZE by construction
    val df = readForRewrite(m, all, StructType.fromDDL(m.schema))
    // pv tables re-pack WITHIN partition tuples (the layout is the
    // partitioning); the sort keeps stats-column ranges tight per file
    val pvCols = pvPartitionCols(m)
    if (pvCols.nonEmpty) {
      val files = writePvDataFiles(df, pvCols, statsCols, m.mapping,
        maxFileRows = Some(targetFileRows),
        sortWithin = statsCols
          .filterNot(c => pvCols.exists(_.equalsIgnoreCase(c))).map(col))
      return commit(StructType.fromDDL(m.schema), files, Some(m.version),
        op = "compact", partitionCols = m.partitionCols)
    }
    // partitioned tables keep the partition columns as the PRIMARY range
    // key so compaction never smears a file across partition values
    val rangeCols = (m.partitionCols.getOrElse(Nil) ++ statsCols).distinct
    val arranged = rangeCols.headOption match {
      case Some(_) => df.repartitionByRange(nFiles, rangeCols.map(col): _*)
      case None => df.repartition(nFiles)
    }
    val files = writeDataFiles(arranged, rangeCols, m.mapping)
    commit(StructType.fromDDL(m.schema), files, Some(m.version), op = "compact",
      partitionCols = m.partitionCols)
  }

  /** Predicate-scoped compaction (`OPTIMIZE ... WHERE` parity): bin-pack
    * only the files whose stats range can match `condSql`, leaving the
    * rest of the table untouched. At scale this is the ONLY compaction
    * anyone runs — the hot partition's small incremental files get
    * packed while the cold 99% of a 100 TB table is never read. Whole
    * overlapping files are rewritten (content is preserved, so a file
    * straddling the predicate boundary is safe), and files already at
    * target size with no deletion vector are skipped — re-running the
    * command converges to a no-op instead of churning full files.
    */
  def compactWhere(condSql: String, targetFileRows: Long = 1000000L): Long = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"compact of uncommitted table $root"))
    val schema = StructType.fromDDL(m.schema)
    val condExpr = graft.operators.RowLevel.parse(this, condSql)
    val predicates = graft.operators.RowLevel.pruningPredicates(condExpr, schema)
    val bounds = StatsPruning.queryBounds(predicates, schema)
    val p2l = m.logicalByPhysical
    val candidates = filesOf(m).filter(f =>
      StatsPruning.fileMayMatch(schema,
        StatsPruning.fileRanges(f).map { case (c, r) => p2l.getOrElse(c, c) -> r },
        bounds))
    // only files that need work: under-sized, or carrying a DV mask (the
    // rewrite materializes it away). A single small clean file has no
    // sibling to merge with — converged, no-op.
    val work = candidates.filter(f =>
      f.liveRows < targetFileRows || f.dv.isDefined)
    if (work.isEmpty || (work.length == 1 && work.head.dv.isEmpty))
      return m.version
    val statsCols = {
      val multi = work.flatMap(_.ranges.map(_.keys.toSeq).getOrElse(Nil)).distinct
      (if (multi.nonEmpty) multi else work.flatMap(_.statsCol).distinct)
        .map(c => p2l.getOrElse(c, c)).filter(schema.fieldNames.contains)
    }
    val live = math.max(1L, work.map(_.liveRows).sum)
    val nFiles = math.max(1, math.ceil(live.toDouble / targetFileRows).toInt)
    val df = readForRewrite(m, work, schema)
    val pvCols = pvPartitionCols(m)
    val files =
      if (pvCols.nonEmpty)
        // pv tables re-pack WITHIN partition tuples (the tuple IS the
        // layout; a file never spans tuples by construction) — the cold
        // rest of the table stays untouched exactly like the clustered
        // path
        writePvDataFiles(df, pvCols, statsCols, m.mapping,
          maxFileRows = Some(targetFileRows),
          sortWithin = statsCols
            .filterNot(c => pvCols.exists(_.equalsIgnoreCase(c))).map(col))
      else {
        val partCols = m.partitionCols.getOrElse(Nil)
        val rangeCols = (partCols ++ statsCols).distinct
        val arranged = rangeCols.headOption match {
          case Some(_) => df.repartitionByRange(nFiles, rangeCols.map(col): _*)
          case None => df.repartition(nFiles)
        }
        writeDataFiles(arranged, rangeCols, m.mapping)
      }
    // content-preserving rewrite: concurrent appends never conflict
    // (mayConflict=false); a concurrent rewrite of the same file still
    // trips the removed-meanwhile check in swap
    swap(work.map(_.path).toSet, files, schema, m.version,
      mayConflict = _ => false, op = "compact")
  }

  /** Opt-in auto-compaction (Delta autoCompact parity), run post-commit
    * by the append-shaped funnels (append, COPY INTO, streaming sink
    * batches, merge): when `graft.autoCompact` = 'true' and at least
    * `graft.autoCompact.minFiles` (default 16) live files are
    * under-sized vs `graft.autoCompact.targetFileRows` (default 1M),
    * bin-pack JUST those files via the scoped compaction. This is the
    * operational answer to the NRT small-file problem at scale: frequent
    * small appends stay cheap, and the table self-heals on a cadence
    * proportional to its own write rate — no external scheduler. The
    * maintenance commit is dataChange=false to streams, so tailing
    * consumers never re-serve compacted rows.
    *
    * The check is manifest-metadata only (O(inline files) driver work);
    * a lost commit race is silently skipped — the next write retries.
    * Failures here never fail the WRITE that triggered them: the data
    * landed; compaction is advisory.
    */
  private[graft] def maybeAutoCompact(): Unit = {
    // the WHOLE body is advisory — including property parsing: a
    // malformed targetFileRows (e.g. '1M') must degrade to a skipped
    // compaction, never fail the append/merge/COPY INTO that triggered
    // the hook ("failures here never fail the write")
    try {
      val props = properties
      if (!props.get(GraftTable.AutoCompactProperty)
        .exists(_.equalsIgnoreCase("true"))) return
      val target = props.get(GraftTable.AutoCompactTargetProperty)
        .map(_.trim.toLong).getOrElse(1000000L)
      val minFiles = props.get(GraftTable.AutoCompactMinFilesProperty)
        .map(_.trim.toInt).getOrElse(16)
      val m = latestManifest.getOrElse(return)
      val small = filesOf(m).count(f => f.liveRows < target)
      if (small >= minFiles) compactWhere("true", target)
    } catch {
      case _: java.util.ConcurrentModificationException => () // next write retries
      case e: Exception =>
        System.err.println(s"[graft] autoCompact at $root skipped: $e")
    }
  }

  /** Z-order clustered compaction: rewrite the table ordered by the
    * Morton (bit-interleaved) rank of two columns, so BOTH columns' per-
    * file min/max ranges stay tight — point/range merges on either key
    * (or both) prune effectively after maintenance, where a single-column
    * sort leaves the second column's ranges spanning the whole table.
    *
    * Each column is rank-bucketed to 8 bits against SAMPLED boundary
    * values (the same sketch a RangePartitioner uses — handles any
    * orderable type and skew without a global single-task window), then
    * the buckets interleave into a 16-bit Morton code that drives a
    * range repartition + in-file sort. 256x256 Morton cells is ample
    * file-level granularity: clustering quality is bounded by file
    * count, not code width.
    */
  def compactZOrder(c1: String, c2: String, targetFileRows: Long = 1000000L): Long =
    compactZOrderN(Seq(c1, c2), targetFileRows)

  /** N-column Z-order: same sampled-boundary bucketing, with per-column
    * bit width 16/N (two cols → 8 bits each as before; four cols → 4
    * bits each). More columns trade per-column resolution for breadth —
    * with 256 files even 4 bits (16 buckets) per column keeps every
    * file's range a fraction of the span on every key.
    */
  def compactZOrderN(cols: Seq[String], targetFileRows: Long = 1000000L): Long = {
    require(cols.size >= 2 && cols.size <= 8,
      s"z-order wants 2-8 columns, got ${cols.size} (one column → plain compact)")
    require(cols.distinct.size == cols.size, s"duplicate z-order columns: $cols")
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"compact of uncommitted table $root"))
    // pv tables: z-ordering ON a partition column is meaningless (the
    // value is constant within every tuple) — refuse loudly rather than
    // silently burning a Morton axis on a constant
    pvPartitionCols(m).filter(p => cols.exists(_.equalsIgnoreCase(p))) match {
      case Nil => ()
      case hit => throw new IllegalArgumentException(
        s"z-order on partition column(s) ${hit.mkString(", ")} of " +
          s"Hive-import table $root is a no-op (the value is constant " +
          "within each partition); z-order on data columns instead")
    }
    val totalRows = math.max(m.allRows, 1L)
    val nFiles = math.max(1, math.ceil(totalRows.toDouble / targetFileRows).toInt)
    // row-id-carrying read when tracking (ids survive z-order like any
    // other content-preserving rewrite)
    val df = readForRewrite(m, filesOf(m), StructType.fromDDL(m.schema))
    val bits = 16 / cols.size
    val nBuckets = 1 << bits
    // Quantile cut points per column -> bucket = #boundaries <= value,
    // computed with a single array HOF (codegen'd, no shuffle, no window).
    // Numeric/temporal columns get their cuts from ONE distributed
    // approxQuantile pass over ALL of them together (GK sketch — no raw
    // values ever collect to the driver, no driver-side sort); only
    // non-castable types (strings) fall back to a bounded ~100k-value
    // sample, whose driver sort is micro-scale next to the rewrite the
    // z-order itself performs.
    def numericExpr(c: String): Option[org.apache.spark.sql.Column] =
      df.schema(c).dataType match {
        case _: NumericType => Some(col(c).cast("double"))
        case _: TimestampType | _: TimestampNTZType | _: DateType =>
          Some(col(c).cast("long").cast("double"))
        case _ => None
      }
    val numCols = cols.filter(c => numericExpr(c).isDefined)
    // probability 0.0 rides along to recover each column's global min —
    // cuts AT the minimum are dropped so buckets are 0-based (a 1-based
    // range straddles a power-of-two boundary and scrambles the Morton
    // quadrant structure)
    val probs = 0.0 +: (1 until nBuckets).map(_.toDouble / nBuckets)
    val quantiles: Map[String, Array[Double]] =
      if (numCols.isEmpty) Map.empty
      else numCols.zip(
        df.select(numCols.map(c => numericExpr(c).get.as(s"__zq_$c")): _*)
          .stat.approxQuantile(
            numCols.map(c => s"__zq_$c").toArray, probs.toArray, 0.001)).toMap
    def bucketed(c: String): org.apache.spark.sql.Column =
      quantiles.get(c) match {
        case Some(qs) if qs.nonEmpty =>
          val cuts = qs.tail.distinct.filterNot(_ == qs.head).map(lit)
          if (cuts.isEmpty) lit(0L)
          else coalesce(
            size(filter(array(cuts.toIndexedSeq: _*), b => numericExpr(c).get >= b))
              .cast("long"), lit(0L))
        case Some(_) => lit(0L) // all-null column
        case None =>
          val frac = math.min(1.0, 100000.0 / totalRows)
          val sampled = df.select(col(c)).where(col(c).isNotNull)
            .sample(withReplacement = false, frac, seed = 42L)
            .orderBy(col(c)).collect().map(_.get(0))
          if (sampled.isEmpty) lit(0L)
          else {
            val cuts = (1 until nBuckets)
              .map(i => sampled(i * sampled.length / nBuckets))
              .distinct.filterNot(_ == sampled.head).map(lit)
            if (cuts.isEmpty) lit(0L)
            else coalesce(
              size(filter(array(cuts.toIndexedSeq: _*), b => col(c) >= b))
                .cast("long"), lit(0L))
          }
      }
    val buckets = cols.map(bucketed)
    // Morton interleave: bit i of column j lands at position i*ncols + j
    val z = (for {
      i <- 0 until bits
      (b, j) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * cols.size + j))
      .reduce((a, b) => a.bitwiseOR(b))
    val pvCols = pvPartitionCols(m)
    val files =
      if (pvCols.nonEmpty)
        // pv tables z-order WITHIN each partition tuple: the pv funnel
        // hash-routes every tuple to one task, and the Morton rank rides
        // as the within-tuple sort expression — per-file z ranges stay
        // tight inside the layout the tuple structure already provides
        writePvDataFiles(df, pvCols, cols, m.mapping,
          maxFileRows = Some(targetFileRows), sortWithin = Seq(z))
      else {
        val arranged = df.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
        writeDataFiles(arranged, cols, m.mapping)
      }
    commit(StructType.fromDDL(m.schema), files, Some(m.version), op = "zorder",
      partitionCols = m.partitionCols)
  }

  /** RESTORE (Delta parity): make `version`'s contents the newest
    * version again. Metadata-only — the new manifest references the old
    * version's files; nothing is rewritten, and the intermediate history
    * stays intact (so a bad restore can itself be restored away).
    *
    * Like Delta, restore CANNOT resurrect a vacuumed version, and a
    * vacuum running CONCURRENTLY with a restore may delete the files the
    * restore is about to re-reference (the vacuum computed its live set
    * before the restore committed). The post-commit existence check
    * below turns that race — and a pre-vacuumed source version — into a
    * loud failure instead of a latest-version that silently references
    * missing files.
    */
  def restore(version: Long): Long = {
    val latest = latestVersion.getOrElse(
      throw new IllegalStateException(s"restore of uncommitted table $root"))
    val m =
      try manifest(version)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"restore: version $version of $root does not exist " +
              "(never committed, or dropped by vacuum)")
      }
    // metadata-only even when chunked: the old version's chunk refs are
    // re-referenced verbatim, nothing is re-listed or rewritten — UNLESS
    // the table now tracks rows and the restored version predates
    // enablement. Chunk refs carried verbatim would then reference files
    // with no baseRowId/rcv, wedging every later rewrite and id read;
    // expanding them through the fresh list makes commitSet allocate
    // ranges (the enableRowTracking shape — one chunk rewrite, still
    // zero data-file IO). Inline files already ride the fresh list.
    val restoredFiles = filesOf(m)
    val fsToCommit =
      if (manifest(latest).rowTracking && restoredFiles.exists(_.baseRowId.isEmpty))
        FileSet(Nil, restoredFiles)
      else FileSet(m.chunks.getOrElse(Nil), m.files)
    val v = commitSet(StructType.fromDDL(m.schema),
      fsToCommit, Some(latest), op = "restore",
      partitionCols = m.partitionCols,
      // the restored version's files are read under ITS column mapping —
      // deriving from the latest manifest would mis-name every column
      // renamed since
      mappingOverride = Some((m.mapping, m.retired.getOrElse(Nil))))
    val missing = restoredFiles.filterNot(f =>
      Files.exists(Paths.get(root, f.path)) &&
        f.dv.forall(d => Files.isDirectory(Paths.get(root, d))))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"restore($version) committed v$v but ${missing.length} data file(s) " +
          s"were vacuumed concurrently (e.g. ${missing.head.path}); restore a " +
          "newer version or re-load the data")
    v
  }

  /** TRUNCATE: remove every row as ONE metadata-only commit — an empty
    * file set lands as version N+1. No data file is read, rewritten or
    * deleted; old versions stay time-travelable and restorable, and
    * vacuum ages the data out on its normal schedule. The schema,
    * partition declaration, column mapping, tags, checks and properties
    * all survive — only the contents go. O(1) in table size, where the
    * row-level DELETE path would stream every live row just to drop it.
    *
    * Change feed: the default publishes nothing — a metadata truncate
    * cannot know its per-row deletes without reading the table, so CDF
    * consumers hit the standard loud derivation gap at this version.
    * When row-accurate deltas matter, `truncate(changeFeed = true)` pays
    * one snapshot read to stage every live row as a 'delete' change
    * (still no rewrite), or `repairChangeFeed` backfills later.
    *
    * Truncating an already-empty table is a no-op returning the current
    * version (same contract as a DELETE that matched nothing).
    */
  def truncate(changeFeed: Boolean = false): Long = {
    val m = latestManifest.getOrElse(throw new IllegalStateException(
      s"TRUNCATE of uncommitted table $root"))
    val live = filesOf(m)
    if (live.isEmpty) return m.version
    val schema = StructType.fromDDL(m.schema)
    val staged =
      if (!changeFeed) None
      else {
        // tracked tables' delete rows carry their identity into the feed
        // (the rows retire, but a downstream identity-keyed mirror needs
        // the id to delete by)
        val liveDf =
          if (m.rowTracking) readMaskedRowIds(live, schema, m.mapping)
            .withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
            .drop(GraftTable.RowCommitCol)
          else readMasked(live, schema, m.mapping)
        Some(stageChangeFeed(liveDf.withColumn("_change_type", lit("delete"))))
      }
    val v = commitSet(schema, FileSet(Nil, Nil), Some(m.version),
      op = "truncate", partitionCols = m.partitionCols,
      // metadata-only: the mapping epoch survives (a post-truncate
      // append keeps writing the current physical names)
      mappingOverride = Some((m.mapping, m.retired.getOrElse(Nil))))
    staged.foreach(publishChangeFeed(v, _))
    v
  }

  /** Schema-first table creation (Delta's `CREATE TABLE t (cols) USING
    * DELTA` — reference `COPY_MSQL_TO_SILVER.py:195-196`): commit the
    * declared schema with ZERO data files, so the very first version is
    * a readable empty table with a schema contract. Later appends /
    * merges / COPY INTOs write against that schema instead of inferring
    * one from the first batch. O(1) — one manifest write, no job.
    *
    * Over an existing table this is a REPLACE: the declared schema lands
    * as version N+1 via the overwrite funnel's semantics (mapping resets
    * to identity — nothing physical-named survives an empty file set),
    * old versions stay time-travelable. With no explicit `partCols`, an
    * existing partition declaration survives if its columns still exist
    * in the new schema (layout hint, not schema contract — same rule as
    * [[overwriteStats]]).
    */
  def createEmpty(schema: StructType, partCols: Seq[String] = Nil): Long = {
    require(partCols.forall(schema.fieldNames.contains),
      s"partition columns $partCols must exist in the declared schema")
    val base = latestManifest
    val pCols =
      if (partCols.nonEmpty) partCols
      else base.flatMap(_.partitionCols).getOrElse(Nil)
        .filter(schema.fieldNames.contains)
    commitSet(schema, FileSet(Nil, Nil), base.map(_.version),
      op = if (base.isEmpty) "create" else "overwrite",
      partitionCols = if (pCols.nonEmpty) Some(pCols) else None,
      // explicit identity mapping: an empty file set has no physical
      // names to preserve, and a REPLACE resets the mapping epoch
      mappingOverride = Some((Map.empty, Nil)))
  }

  /** Change-data-feed-style diff of two versions (Delta's
    * `table_changes` read surface): one row per inserted / updated /
    * deleted primary key, with the post-image for insert/update_postimage
    * and the pre-image for delete. Computed as one pk full-outer join of
    * the two pinned snapshots — O(changed + table) without stored
    * row-level change logs, which is the honest cost of CDF-after-the-
    * fact; pipelines that need cheap CDF should read the change feed
    * source directly (Extractor.ctExtract).
    *
    * Contract: both snapshots must be UNIQUE on `pkCols` (the invariant
    * merge maintains; raw `append` can break it — a duplicated key would
    * cross-product into spurious update rows). Columns whose type Spark
    * cannot compare with `<=>` inside a struct (maps) are unsupported.
    */
  def changesBetween(fromVersion: Long, toVersion: Long, pkCols: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion, got $fromVersion >= $toVersion " +
        "(a reversed range would silently swap insert/delete labels)")
    diffFrames(snapshotAt(fromVersion), snapshotAt(toVersion), pkCols)
  }

  // ---- row tracking (Delta row-ID parity) -------------------------------
  // Stable per-row ids that survive every rewrite: fresh rows get
  // `file.baseRowId + position` (allocated at commit from the manifest
  // high watermark, zero storage cost); rewriting ops (merge, COW
  // UPDATE/DELETE, replaceWhere, compact/z-order, purge) read surviving
  // rows WITH their ids and write them back as a materialized
  // [[GraftTable.RowIdCol]] column outside the logical schema. MOR ops
  // preserve ids for free (the file and its positions never move). The
  // payoff is EXACT change pairing: [[changesBetweenByRow]] pairs
  // update_preimage/postimage by identity, so a key-changing UPDATE is
  // an update (not delete+insert) and an OPTIMIZE between two versions
  // is invisible — neither of which key-based pairing can promise.

  /** Turn on row tracking: one METADATA-ONLY commit re-listing every
    * live file with an allocated id range (ids are `base + position`, so
    * existing files need no rewrite — Delta's backfill shape). Idempotent;
    * retries through concurrent commits like any other writer.
    */
  def enableRowTracking(): Long = {
    var attempts = 0
    while (true) {
      val m = latestManifest.getOrElse(throw new IllegalStateException(
        s"enableRowTracking on uncommitted table $root"))
      if (m.rowTracking) return m.version
      try {
        return commitSet(StructType.fromDDL(m.schema),
          FileSet(Nil, filesOf(m)), Some(m.version),
          op = "enableRowTracking", partitionCols = m.partitionCols,
          mappingOverride = Some((m.mapping, m.retired.getOrElse(Nil))),
          rowTrackingSeed = Some(0L))
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 50) throw e
        // re-list from the winner (its commit may have added files)
      }
    }
    -1L // unreachable
  }

  /** Whether stable row ids are tracked on the latest version. */
  def rowTrackingEnabled: Boolean =
    latestManifest.exists(_.rowTracking)

  /** The latest snapshot plus each row's STABLE id as a `_row_id`
    * column ([[GraftTable.RowIdOut]]) and its last-modified commit as
    * `_row_commit_version` ([[GraftTable.RowCommitOut]]). Ids survive
    * merge, UPDATE/DELETE (both modes), replaceWhere, compaction,
    * z-order and purge — content-preserving rewrites also preserve each
    * row's commit version, so `WHERE _row_commit_version > v` reads
    * "rows modified since v" straight off a snapshot. An
    * overwrite/truncate replaces the rows, so their ids retire with
    * them (never reused).
    */
  def snapshotWithRowIds(): DataFrame =
    snapshotWithRowIdsAt(latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed version at $root")))

  /** [[snapshotWithRowIds]] as of `version` (time travel). */
  def snapshotWithRowIdsAt(version: Long): DataFrame = {
    val m = manifest(version)
    require(m.rowTracking,
      s"row tracking is not enabled as of version $version at $root — " +
        "call enableRowTracking() first")
    val schema = StructType.fromDDL(m.schema)
    val all = filesOf(m)
    if (all.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields :+
          StructField(GraftTable.RowIdOut, LongType) :+
          StructField(GraftTable.RowCommitOut, LongType)))
    else readMaskedRowIds(all, schema, m.mapping)
      .withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
      .withColumnRenamed(GraftTable.RowCommitCol, GraftTable.RowCommitOut)
  }

  /** Rows modified AFTER version `sinceVersion`, read off ONE snapshot
    * with manifest-level file skipping: a file's maximum possible
    * per-row commit version is its own landing commit
    * ([[ManifestFile.rcv]] — materialized values are always OLDER
    * copies), so every file that landed at or before the cut is skipped
    * without being opened. The incremental-consumer read — "what
    * changed since my last sync" — thus costs O(files written since
    * `sinceVersion`), never O(table): on a 100 TB table where a day's
    * loads touch 0.1% of files, this reads 0.1%. Output is the table
    * columns + `_row_id` + `_row_commit_version` (> `sinceVersion` on
    * every row). Note rows DELETED since the cut do not appear (this is
    * a snapshot read; pair with [[changesBetweenByRow]] or the stored
    * change feed when deletions matter).
    *
    * `toVersion` pins the read to a SPECIFIC committed version instead
    * of latest — the watermark protocol's probe-then-extract shape
    * (open the watermark with the probed bound, extract rows ≤ it):
    * manifests are immutable, so a pinned read is deterministic under
    * concurrent writers with no retry loop.
    */
  def changedSince(
      sinceVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val m = toVersion.map(manifest).orElse(latestManifest).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(m.rowTracking,
      s"row tracking is not enabled at $root — call enableRowTracking() first")
    val schema = StructType.fromDDL(m.schema)
    val live = filesChangedSince(m, sinceVersion)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(schema.fields :+
        StructField(GraftTable.RowIdOut, LongType) :+
        StructField(GraftTable.RowCommitOut, LongType)))
    if (live.isEmpty) empty
    else readMaskedRowIds(live, schema, m.mapping)
      .withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
      .withColumnRenamed(GraftTable.RowCommitCol, GraftTable.RowCommitOut)
      .filter(col(GraftTable.RowCommitOut) > sinceVersion)
  }

  /** Rows DELETED since version `sinceVersion` — the deletion complement
    * of [[changedSince]], so an incremental mirror-sync is complete:
    * apply `changedSince(v)` upserts, apply `deletedSince(v)` deletes
    * (one `_row_id` column — the identity the mirror keys on), move the
    * cursor. Derived ENTIRELY from the manifest delta, never a
    * two-snapshot diff:
    *
    *  - files of version `sinceVersion` REMOVED from the latest manifest
    *    contribute their then-live rows' ids (one column-pruned read of
    *    the removed files under the then-schema, masked by their
    *    then-DVs);
    *  - kept files whose deletion vector GREW contribute
    *    `base + position` for each newly-masked position (DV dataset
    *    reads only — no data file opened);
    *  - both candidate sets then anti-join against the ids present in
    *    files LANDED after the cut, because a rewrite (compaction,
    *    z-order, COW/MOR update) moves rows without deleting them — a
    *    pure compaction thus reports ZERO deletions.
    *
    * Cost: O(files touched since the cut) — removed + landed + grown-DV
    * files — never O(table). Rows born AND deleted inside the window do
    * not appear (a mirror synced at `sinceVersion` never had them; their
    * ids also never reach [[changedSince]]'s output). Requires tracking
    * as of BOTH versions (ids are the join key).
    */
  def deletedSince(
      sinceVersion: Long, toVersion: Option[Long] = None): DataFrame = {
    val mNow = toVersion.map(manifest).orElse(latestManifest).getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(mNow.rowTracking,
      s"row tracking is not enabled at $root — call enableRowTracking() first")
    val mThen = manifest(sinceVersion)
    require(mThen.rowTracking,
      s"deletedSince($sinceVersion) at $root: row tracking was not " +
        s"enabled as of version $sinceVersion — ids cannot anchor the diff")
    import spark.implicits._
    val idOut = col(GraftTable.RowIdCol).as(GraftTable.RowIdOut)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField(GraftTable.RowIdOut, LongType))))
    val thenFiles = filesOf(mThen)
    val nowByPath = filesOf(mNow).map(f => f.path -> f).toMap
    // candidate ids from files REMOVED since the cut (masked by their
    // THEN DVs — already-dead rows were not deleted by this window)
    val removed = thenFiles.filterNot(f => nowByPath.contains(f.path))
    // kept files whose DV grew are read AS OF THEN too (file + then-DV)
    val grownPairs = thenFiles.flatMap(f =>
      nowByPath.get(f.path).filter(n => n.dv != f.dv && n.dv.isDefined)
        .map(n => (f, n)))
    // VACUUM pre-flight (restore's missing-file check, carried here):
    // the diff reads removed files and then-DV datasets as of the cut;
    // if retention has retired any of them, fail with a NAMED retention
    // error before launching the scan, never a raw FileNotFoundException
    // mid-job. Current-version files/DVs cannot be vacuumed. Residual
    // TOCTOU: a vacuum racing BETWEEN this driver-side check and the
    // executor scan still surfaces as a raw FileNotFoundException —
    // accepted, because the plan is lazy (no seam to translate executor
    // errors without de-optimizing the scan) and retention windows are
    // hours while the gap is milliseconds; the pre-flight covers the
    // real case (a cut already outside retention when the sync starts).
    val vacuumed = (removed ++ grownPairs.map(_._1)).filterNot(f =>
      Files.exists(Paths.get(root, f.path)) &&
        f.dv.forall(d => Files.isDirectory(Paths.get(root, d))))
    if (vacuumed.nonEmpty)
      throw new IllegalStateException(
        s"deletedSince($sinceVersion) at $root: ${vacuumed.length} data " +
          s"file(s)/DV dataset(s) needed as of the cut were vacuumed " +
          s"(e.g. ${vacuumed.head.path}) — the cut version is outside the " +
          "retention window; sync from a newer cut or rebuild the mirror " +
          "from a full snapshot")
    val fromRemoved =
      if (removed.isEmpty) empty
      else readMaskedRowIds(removed, StructType.fromDDL(mThen.schema),
        mThen.mapping).select(idOut)
    // candidate ids from kept files whose DV grew: positions masked now
    // but not then. Entries count only under the file's CURRENT dv
    // dataset (stale datasets may hold copies for other files).
    val grown = grownPairs
    def dvPos(sel: Seq[(String, String)]): DataFrame =
      sel.groupBy(_._2).toSeq.map { case (dir, pf) =>
        spark.read.parquet(s"$root/$dir")
          .join(broadcast(pf.map(_._1).toDF("path")), Seq("path"), "left_semi")
          .select(col("path"), col("pos"))
      }.reduceOption(_.unionByName(_)).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
          StructField("path", StringType), StructField("pos", LongType)))))
    val fromDvGrowth =
      if (grown.isEmpty) empty
      else {
        val nowPos = dvPos(grown.map(g => (g._1.path, g._2.dv.get)))
        val thenPos = dvPos(grown.collect {
          case (f, _) if f.dv.isDefined => (f.path, f.dv.get) })
        val newlyMasked = nowPos.join(thenPos, Seq("path", "pos"), "left_anti")
          .withColumnRenamed("path", "__graft_rel")
          .withColumnRenamed("pos", "__graft_pos")
        // ids come from the row-id READ, never `base + pos` arithmetic:
        // a REWRITTEN file materializes carried ids that override its
        // own allocated range. Read the grown files as of THEN (their
        // then-DVs — already-dead rows were not deleted by this window)
        // and keep exactly the newly-masked positions.
        readMaskedRowIds(grown.map(_._1), StructType.fromDDL(mThen.schema),
            mThen.mapping, withPos = true)
          .join(newlyMasked, Seq("__graft_rel", "__graft_pos"), "left_semi")
          .select(idOut)
      }
    // a rewrite MOVES rows: any candidate id still present in a file
    // landed after the cut survived (compaction/z-order/COW/MOR update)
    val landed = filesChangedSince(mNow, sinceVersion)
      .filterNot(f => f.rows == 0)
    val survivors =
      if (landed.isEmpty) empty
      else readMaskedRowIds(landed, StructType.fromDDL(mNow.schema),
        mNow.mapping).select(idOut)
    fromRemoved.unionByName(fromDvGrowth)
      .join(survivors, Seq(GraftTable.RowIdOut), "left_anti")
  }

  /** The file-skip driving [[changedSince]]: only files that LANDED
    * after the cut can hold rows modified after it. A file missing its
    * rcv (impossible on tables enabled by this engine — tracking and
    * rcv ship together) is conservatively KEPT so the row-id read's
    * loud missing-rcv check fires instead of rows being silently
    * skipped.
    */
  private[graft] def filesChangedSince(
      m: Manifest, sinceVersion: Long): Seq[ManifestFile] =
    filesOf(m).filter(f => f.rcv.forall(_ > sinceVersion))

  /** The COMPLETE incremental mirror sync in ONE call: upserts
    * ([[changedSince]] — full rows + `_row_id` + `_row_commit_version`)
    * and deletes ([[deletedSince]] — `_row_id` only, NULL payload)
    * since `sinceVersion`, both derived off ONE pinned latest version,
    * so a concurrent commit can never split the pair across two table
    * states (the two-call recipe's footgun). A `_sync_action` column
    * ('upsert' | 'delete') tags each row. Apply keyed on `_row_id`:
    * matched+delete → delete, matched+upsert → update in place,
    * unmatched+upsert → insert — or call [[syncMirror]], which runs
    * exactly that merge. Cost is the two halves' documented
    * O(files touched since the cut), never O(table).
    */
  def syncSince(
      sinceVersion: Long, toVersion: Option[Long] = None): DataFrame =
    toVersion match {
      case Some(to) => syncHalves(sinceVersion, to)
      case None => syncSincePinned(sinceVersion)._2
    }

  /** Both halves read AS OF the (immutable) manifest of `to` —
    * deterministic under concurrent writers, no retry needed.
    */
  private def syncHalves(sinceVersion: Long, to: Long): DataFrame = {
    val ups = changedSince(sinceVersion, Some(to))
      .withColumn("_sync_action", lit("upsert"))
    val dels = deletedSince(sinceVersion, Some(to))
      .withColumn("_sync_action", lit("delete"))
    ups.unionByName(dels, allowMissingColumns = true)
  }

  private def syncSincePinned(sinceVersion: Long): (Long, DataFrame) = {
    val now = latestVersion.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    (now, syncHalves(sinceVersion, now))
  }

  /** Apply [[syncSince]] to a downstream mirror as one atomic
    * identity-keyed merge and return the version the mirror is now
    * synced TO (the caller's next cursor). A missing mirror bootstraps
    * from the FULL pinned snapshot (ignoring `sinceVersion`) — the same
    * first-call contract as the streaming gold mirror. Schema evolution
    * since the last sync widens the mirror (nullable backfill), and the
    * merge batches a key-rewriting update as the in-place upsert only
    * an identity key can express.
    */
  def syncMirror(
      mirror: GraftTable, sinceVersion: Long,
      toVersion: Option[Long] = None): Long = {
    if (!mirror.exists) {
      val now = toVersion.orElse(latestVersion).getOrElse(
        throw new IllegalStateException(s"no committed version at $root"))
      // stats on the identity key: future sync merges prune on it
      mirror.overwriteStats(
        snapshotWithRowIdsAt(now).drop(GraftTable.RowCommitOut),
        Seq(GraftTable.RowIdOut))
      return now
    }
    val (now, changes) = toVersion match {
      case Some(to) => (to, syncHalves(sinceVersion, to))
      case None => syncSincePinned(sinceVersion)
    }
    val payload = StructType.fromDDL(manifest(now).schema).fieldNames.toSeq
    mirror.merge(changes.drop(GraftTable.RowCommitOut), Seq(GraftTable.RowIdOut))
      .whenMatchedDeleteClause(Some("s._sync_action = 'delete'"))
      .whenMatchedUpdate(payload.map(c => c -> s"s.`$c`"))
      .whenNotMatchedInsert(
        payload.map(c => c -> s"s.`$c`") :+
          (GraftTable.RowIdOut -> s"s.`${GraftTable.RowIdOut}`"),
        Some("s._sync_action = 'upsert'"))
      .execute()
    now
  }

  /** [[changesBetween]] paired by ROW IDENTITY instead of key columns:
    * exact under copy-on-write and compaction. An UPDATE that changes
    * the "key" still pairs update_preimage/update_postimage (key
    * pairing calls it delete+insert); a compaction or z-order between
    * the two versions contributes NOTHING (same rows, same ids). Output
    * is the table columns + `_row_id` + `_change_type`. Change
    * classification is VALUE-based (the row-commit metadata column is
    * excluded before diffing, so a version bump alone is not a change —
    * same contract as the key-paired diff).
    */
  def changesBetweenByRow(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetweenByRow needs fromVersion < toVersion, got " +
        s"$fromVersion >= $toVersion")
    diffFrames(
      snapshotWithRowIdsAt(fromVersion).drop(GraftTable.RowCommitOut),
      snapshotWithRowIdsAt(toVersion).drop(GraftTable.RowCommitOut),
      Seq(GraftTable.RowIdOut))
  }

  /** The CDF diff algebra, shared by [[changesBetween]] (full snapshots)
    * and the merge-time stored change feed (touched files only): one pk
    * full-outer join, rows classified insert / delete /
    * update_postimage, unchanged rows dropped. Output schema is
    * `after`'s columns + `_change_type`; columns `before` lacks read as
    * null in the pre-image (schema evolution).
    */
  private[graft] def diffFrames(
      beforeRaw: DataFrame, after: DataFrame, pkCols: Seq[String]): DataFrame = {
    val cols = after.columns
    val before = beforeRaw.select(cols.map(c =>
      if (beforeRaw.columns.contains(c)) col(c)
      else lit(null).cast(after.schema(c).dataType).as(c)).toIndexedSeq: _*)
    val b = before.select(
      pkCols.map(col) :+ struct(cols.map(col).toIndexedSeq: _*).as("__b"): _*)
    val a = after.select(
      pkCols.map(col) :+ struct(cols.map(col).toIndexedSeq: _*).as("__a"): _*)
    val j = b.join(a, pkCols, "full_outer")
    // updates fan out to BOTH images (Delta CDF parity: an update emits
    // update_preimage + update_postimage) — the pair is what lets a
    // downstream incremental aggregate subtract the old contribution
    // and add the new one. The fan-out is a per-row explode, no second
    // join pass.
    val imaged = explode(
      when(col("__b").isNull,
        array(struct(col("__a").as("img"), lit("insert").as("ct"))))
        .when(col("__a").isNull,
          array(struct(col("__b").as("img"), lit("delete").as("ct"))))
        .otherwise(array(
          struct(col("__b").as("img"), lit("update_preimage").as("ct")),
          struct(col("__a").as("img"), lit("update_postimage").as("ct")))))
    j.filter(col("__b").isNull || col("__a").isNull || !(col("__b") <=> col("__a")))
      .select(imaged.as("__c"))
      .select(cols.map(c => col("__c.img").getField(c).as(c)).toIndexedSeq :+
        col("__c.ct").as("_change_type"): _*)
  }

  // ---------------------------------------------------------------------
  // Stored change feed (Delta's `_change_data` + `readStream` parity):
  // a merge run with `.withChangeFeed()` lands its row-level changes in
  // an append-only `_changes/v<version>/` parquet directory, computed
  // from the merge's OWN touched/new files — O(batch), not O(table).
  // Downstream NRT consumers tail the directory as a standard file-source
  // stream; batch readers slice it by commit version.
  // ---------------------------------------------------------------------

  private val changesDir: Path = Paths.get(root, "_changes")

  private def changesVersionDir(v: Long): Path = changesDir.resolve(f"v$v%020d")

  /** Stage this merge's change rows BEFORE its commit (so the expensive
    * diff job can never fail a merge that already landed, and the
    * pre-image files are still manifest-referenced — immune to vacuum).
    * Returns the temp directory; [[publishChangeFeed]] renames it into
    * place after the commit.
    *
    * Staged OUTSIDE the `_changes` directory: the change stream's glob
    * over it expands dot-dirs at the root level (only children are
    * hidden-filtered), so an in-flight stage there would be visible to
    * the stream pre-publish and its rows double-delivered after the
    * rename moved them to a new path. `_graft` is never globbed and
    * the same-filesystem rename is all ATOMIC_MOVE needs.
    */
  private[graft] def stageChangeFeed(
      changes: DataFrame, namedAs: Option[Manifest] = None): Path = {
    Files.createDirectories(manifestDir)
    val tmp = manifestDir.resolve(s".cdf-tmp-${UUID.randomUUID().toString.take(12)}")
    // the stored feed is uniformly PHYSICAL-named (append batches are
    // hard links to physical-named data files; diffed batches rename
    // here) — physical names never change, so feed files written before
    // a RENAME COLUMN stay readable under one schema forever. `namedAs`
    // is the manifest whose LOGICAL naming the frame speaks (a repair
    // backfilling an old version diffs snapshots in that version's
    // names); live writers default to the latest.
    // `_change_type` and `_row_id` are feed-surface names, never
    // physical-mapped — readers address them literally on every epoch
    val mapping = GraftTable.derivedMapping(
      changes.columns.toSeq.filterNot(c =>
        c == "_change_type" || c == GraftTable.RowIdOut),
      namedAs.orElse(latestManifest))
    GraftTable.toPhysical(changes, mapping).write.parquet(tmp.toString)
    tmp
  }

  /** Stage an append batch's files as change data by HARD LINK — no
    * data copy, no diff job. The linked files carry no `_change_type`
    * column; change-feed readers coalesce the resulting nulls to
    * 'insert', which is sound because every DIFFED file stores the type
    * explicitly for every row — a null can only come from a raw-linked
    * append batch, and append rows are inserts by construction.
    */
  private[graft] def stageChangeFeedLinks(files: Seq[ManifestFile]): Path = {
    Files.createDirectories(manifestDir)
    val tmp = manifestDir.resolve(s".cdf-tmp-${UUID.randomUUID().toString.take(12)}")
    Files.createDirectories(tmp)
    files.foreach { f =>
      val src = Paths.get(root, f.path)
      Files.createLink(tmp.resolve(src.getFileName), src)
    }
    tmp
  }

  /** Atomically publish staged change rows as `version`'s change data
    * (one directory rename — readers see a version's feed all-or-
    * nothing). The commit version rides the directory NAME rather than
    * a column: it is unknown while staging (a lost commit race rebases
    * to a later version) and constant per directory anyway; readers
    * recover it from the path.
    */
  private[graft] def publishChangeFeed(version: Long, staged: Path): Unit = {
    Files.createDirectories(changesDir)
    try Files.move(staged, changesVersionDir(version),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // a version's change content is a pure function of the commit, so
      // "already published" is benign: repairChangeFeed racing the live
      // writer (or a replayed publisher) must not fail a merge whose
      // commit already landed — drop our copy and keep the winner's
      case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.DirectoryNotEmptyException
          if Files.isDirectory(changesVersionDir(version)) =>
        dropDir(staged)
    }
  }

  private def dropDir(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
    finally walk.close()
  }

  /** Publish the CURRENT version's files as 'insert' change data — the
    * initial-snapshot feed entry a first load needs (Delta emits change
    * data for the first write of a CDF-enabled table; without this a
    * downstream hop bootstrapped from [[readChangeStream]] would
    * permanently miss the initial — usually largest — batch). Zero-copy
    * hard links; restricted to tables whose history is that single
    * write, because for any later version plain links would mislabel
    * carried-over rows as fresh inserts.
    */
  def publishInitialSnapshot(): Unit = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    require(m.version == 1L,
      s"publishInitialSnapshot on version ${m.version}: only the first " +
        "commit's files are all-inserts; later versions need a diff " +
        "(merge .withChangeFeed / appendWithChangeFeed / repairChangeFeed)")
    requireNoReservedCdfCols(StructType.fromDDL(m.schema).fieldNames.toSeq)
    // rows, not files: Spark writes an empty part file for a row-less
    // frame, and an all-empty v1 feed dir would contradict "absence
    // means no stored changes"
    if (m.allRows > 0) publishChangeFeed(1L, stageChangeFeedLinks(filesOf(m)))
  }

  /** Backfill stored change data for committed versions missing from the
    * feed. The commit and its feed publication are two separate renames;
    * a crash between them leaves a version in history but not in
    * `_changes/` — undetectable downstream, because absent versions are
    * also how feed-off writers look. When every writer publishes, run
    * this after crashes (or on orchestrator start): each gap is
    * recomputed relationally from the adjacent snapshots
    * ([[changesBetween]] — same classifier the merge-time diff uses) and
    * published under its version. Maintenance rewrites (compact/zorder)
    * are skipped (no row changes); gaps whose pre-image was vacuumed are
    * skipped and returned in `_2` (unrepairable).
    *
    * ORDERING caveat for LIVE streams: a backfilled version arrives at
    * running [[readChangeStream]] consumers AFTER later versions they
    * already processed. An arrival-order applier would regress keys to
    * the stale post-images — consumers must either apply by
    * `_commit_version` (ignore rows older than their high-water mark
    * per key) or be stopped while repairing. Racing a live writer on
    * the SAME version is safe: publication is first-wins and the
    * content per version is identical by construction.
    *
    * Assumes (like [[changesBetween]]) every snapshot is UNIQUE on
    * `pkCols` — a raw `append` that duplicated a key would cross-product
    * into spurious update rows in the recomputed diff. Versions whose
    * recomputed diff is EMPTY (a feed-off writer's no-op, a duplicate
    * overwrite) publish nothing, matching the write paths' rows>0 guard.
    *
    * A contiguous run of N gaps costs N+1 manifest/snapshot reads, not
    * 2N: each gap's after-image is held as the next gap's pre-image.
    */
  def repairChangeFeed(
      pkCols: Seq[String], sinceVersion: Long = 1L): (Seq[Long], Seq[Long]) = {
    val have = changeFeedVersions.toSet
    val latest = latestVersion.getOrElse(return (Nil, Nil))
    val repaired = scala.collection.mutable.ArrayBuffer[Long]()
    val unrepairable = scala.collection.mutable.ArrayBuffer[Long]()
    // tracked versions repair with ID-CARRYING snapshots: the recomputed
    // diff then pairs by identity (exact under key-changing updates,
    // matching what a live tracked writer would have stored) and the
    // backfilled feed rows carry `_row_id` like live-written ones
    def fetch(v: Long): Option[(Manifest, DataFrame)] =
      try {
        val m = manifest(v)
        val snap =
          if (m.rowTracking)
            snapshotWithRowIdsAt(v).drop(GraftTable.RowCommitOut)
          else snapshotOf(m)
        Some((m, snap))
      }
      catch { case _: java.nio.file.NoSuchFileException => None }
    // the previous iteration's (version, manifest, snapshot): inside a
    // contiguous gap run, gap v's after-image IS gap v+1's pre-image
    var held: Option[(Long, Manifest, DataFrame)] = None
    for (v <- math.max(sinceVersion, 1L) to latest if !have.contains(v)) {
      fetch(v) match {
        case None => unrepairable += v; held = None // vacuumed version
        case Some((man, after)) =>
          if (!man.operation.exists(Set("compact", "zorder", "purge"))) { // maint = no row changes
            val prev =
              if (v == 1L) None
              else held.collect { case (hv, m, s) if hv == v - 1 => (m, s) }
                .orElse(fetch(v - 1))
            // a row-less append intentionally published nothing (see
            // appendImpl) — not a gap, and not worth a snapshot diff
            val emptyAppend = man.operation.contains("append") && prev.exists { p =>
              val prevPaths = filesOf(p._1).map(_.path).toSet
              filesOf(man).filterNot(f => prevPaths.contains(f.path)).forall(_.rows == 0)
            }
            if (v > 1L && prev.isEmpty) unrepairable += v // pre-image vacuumed
            else if (!emptyAppend) {
              val changes =
                if (v == 1L) after.withColumn("_change_type", lit("insert"))
                else if (man.rowTracking && prev.get._1.rowTracking)
                  diffFrames(prev.get._2, after, Seq(GraftTable.RowIdOut))
                else
                  // enablement inside the gap run: the untracked side
                  // would null-fill `_row_id` and make EVERY row look
                  // changed — fall back to the key diff without ids
                  diffFrames(prev.get._2.drop(GraftTable.RowIdOut),
                    after.drop(GraftTable.RowIdOut), pkCols)
              val staged = stageChangeFeed(changes, namedAs = Some(man))
              // rows>0 guard (parity with the write paths): an empty
              // recomputed diff publishes nothing — absence already
              // means "no stored changes"
              if (spark.read.parquet(staged.toString).isEmpty) dropDir(staged)
              else { publishChangeFeed(v, staged); repaired += v }
            }
          }
          held = Some((v, man, after))
      }
    }
    (repaired.toSeq, unrepairable.toSeq)
  }

  /** Versions with stored change data, ascending — live `_changes/v*`
    * directories plus versions held in compacted segments (in-flight
    * `.tmp-` stages are invisible until their atomic publish rename).
    */
  def changeFeedVersions: Seq[Long] =
    (rawChangeDirVersions ++ changeSegments.flatMap(_._2.versions)).distinct.sorted

  /** Only the live `_changes/v*` directories (path-addressable ones) —
    * what vacuum and compaction operate on.
    */
  private def rawChangeDirVersions: Seq[Long] = {
    if (!Files.isDirectory(changesDir)) return Nil
    val stream = Files.list(changesDir)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case ChangesName(v) => v.toLong }
      .toSeq.sorted
    finally stream.close()
  }

  // ---- change-feed compaction ------------------------------------------
  // `_changes/` grows one directory per publishing commit; a month of
  // NRT cadence is ~10⁴ directories, and every batch read and stream
  // listing pays for them. compactChangeFeed folds old version dirs
  // into ONE segment directory under `_graft/` — OUTSIDE the stream's
  // glob, so the rewritten files are invisible to running
  // readChangeStream consumers (their original files were already
  // consumed; deleting consumed files does not disturb a file-source).
  // Segment files store `_commit_version` as a real column (it can no
  // longer ride the directory name), and a `_segment.json` sidecar
  // (hidden from Spark's listing by the underscore) records exactly
  // which versions the segment holds, so changeFeedVersions — and
  // therefore repairChangeFeed — treat compacted history as present.

  private val SegmentPrefix = "changes-compacted-"

  private[graft] def changeSegments: Seq[(Path, ChangeSegment)] = {
    if (!Files.isDirectory(manifestDir)) return Nil
    val stream = Files.list(manifestDir)
    val dirs = try stream.iterator().asScala.filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith(SegmentPrefix)).toSeq
    finally stream.close()
    dirs.flatMap { d =>
      try Some(d -> mapper.readValue(
        Files.readString(d.resolve("_segment.json")), classOf[ChangeSegment]))
      catch { case _: java.nio.file.NoSuchFileException => None } // torn — invisible
    }
  }

  /** Fold every live `_changes/v*` directory with version ≤ `upToVersion`
    * — plus any existing segments fully below it — into one consolidated
    * segment, then delete the sources. Returns the number of versions
    * the new segment holds (0 = nothing worth compacting).
    *
    * Crash-safe: the segment publishes by one atomic rename BEFORE the
    * sources are deleted; a crash in between leaves version dirs whose
    * versions a segment already covers, which batch readers ignore
    * (segment wins) and the next compaction cleans up.
    *
    * Retention contract (same as vacuum's): only compact versions every
    * LIVE stream consumer has already processed — compacted versions
    * leave the streaming window and remain batch-readable only. Newly
    * started streams see only the uncompacted tail. Segments survive
    * vacuum; they are removed only by being folded into a later segment.
    */
  def compactChangeFeed(upToVersion: Long): Int = {
    val oldSegments = changeSegments.filter(_._2.to <= upToVersion)
    val coveredByOld = oldSegments.flatMap(_._2.versions).toSet
    val dirVersions = rawChangeDirVersions.filter(_ <= upToVersion)
    val freshDirs = dirVersions.filterNot(coveredByOld)
    val allVersions = (coveredByOld ++ freshDirs).toSeq.distinct.sorted
    // nothing to fold: no versions at all, or no new dirs and at most
    // one existing segment (re-segmenting it alone would be a no-op —
    // though crash-leftover covered dirs still get cleaned below)
    if (allVersions.isEmpty || (freshDirs.isEmpty && oldSegments.size <= 1)) {
      dirVersions.filter(coveredByOld.contains)
        .foreach(v => dropDir(changesVersionDir(v)))
      return 0
    }
    // segments store PHYSICAL names, exactly like the version dirs they
    // fold — no logical roundtrip, so compaction commutes with renames.
    // On tracked tables the fold MATERIALIZES `_row_id` into the segment
    // (linked dirs' ids derive from file name + row index, and the
    // source dirs are deleted below — compacting without the column
    // would null every append id forever).
    val withIds = latestManifest.exists(_.rowTracking)
    val order = physicalChangeFeedSchema(withIds).fieldNames.map(col).toIndexedSeq
    val parts =
      (if (freshDirs.nonEmpty)
        Seq(readVersionDirs(freshDirs, withIds).select(order: _*)) else Nil) ++
        (if (oldSegments.nonEmpty)
          Seq(readSegments(oldSegments, withIds).select(order: _*)) else Nil)
    val df = parts.reduce(_.unionByName(_))
      // range-cluster + sort on the commit version: per-file min/max then
      // prune `changeFeed(since)` slices inside the segment
      .repartitionByRange(math.max(1, math.min(8, allVersions.size)), col("_commit_version"))
      .sortWithinPartitions("_commit_version")
    val name = s"$SegmentPrefix${UUID.randomUUID().toString.take(12)}"
    val tmp = manifestDir.resolve(s".cfc-tmp-$name")
    df.write.parquet(tmp.toString)
    Files.writeString(tmp.resolve("_segment.json"),
      mapper.writeValueAsString(
        ChangeSegment(allVersions.head, allVersions.last, allVersions)))
    Files.move(tmp, manifestDir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // sources last: a crash above leaves duplicates that readers ignore
    freshDirs.foreach(v => dropDir(changesVersionDir(v)))
    oldSegments.foreach { case (p, _) => dropDir(p) }
    allVersions.size
  }

  /** [[changeFeedSchema]] with data fields under their PHYSICAL names —
    * what the stored feed's parquet files actually spell. Readers read
    * under this and alias back to logical at the public funnels. With
    * `withRowIds` the `_row_id` column rides along (tracked tables'
    * diffed feed files store it; older files null-fill).
    */
  private def physicalChangeFeedSchema(withRowIds: Boolean = false): StructType = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    StructType(m.physicalSchema.fields ++ Seq(
      StructField("_change_type", org.apache.spark.sql.types.StringType),
      StructField("_commit_version", org.apache.spark.sql.types.LongType)) ++
      (if (withRowIds)
        Seq(StructField(GraftTable.RowIdOut, org.apache.spark.sql.types.LongType))
      else Nil))
  }

  /** Alias a physical-named feed frame to the logical [[changeFeedSchema]]
    * (on a `withRowIds` read the tracking `_row_id` passes through).
    * The passthrough is gated on the READ being a withRowIds read, not
    * on `df.columns` — an untracked table may legitimately carry a USER
    * column named `_row_id` (the reserved-name gate only guards tracked
    * tables), and that field is already emitted by the mapped select;
    * appending a second name-based projection would make every
    * downstream by-name select ambiguous.
    */
  private def feedToLogical(df: DataFrame, withRowIds: Boolean): DataFrame = {
    val m = latestManifest.get
    if (m.mapping.isEmpty) df
    else df.select(changeFeedSchema.fields.map { f =>
      val phys =
        if (f.name == "_change_type" || f.name == "_commit_version") f.name
        else m.physicalOf(f.name)
      col(s"`$phys`").as(f.name)
    }.toIndexedSeq ++
      (if (withRowIds && df.columns.contains(GraftTable.RowIdOut))
        Seq(col(GraftTable.RowIdOut)) else Nil): _*)
  }

  private def readVersionDirs(
      versions: Seq[Long], withRowIds: Boolean = false): DataFrame = {
    val dataSchema = StructType(
      physicalChangeFeedSchema(withRowIds).filterNot(_.name == "_commit_version"))
    val raw = spark.read.schema(dataSchema)
      .parquet(versions.map(v => changesVersionDir(v).toString): _*)
      // hard-linked append batches carry no _change_type: null ⇒ 'insert'
      .withColumn("_change_type", coalesce(col("_change_type"), lit("insert")))
      .withColumn("_commit_version",
        regexp_extract(col("_metadata.file_path"), "_changes/v(\\d+)/", 1)
          .cast("long"))
    if (!withRowIds) raw
    else {
      // ONE manifest read per version, shared by both fill passes (a
      // long uncompacted feed range would otherwise pay 2x O(versions)
      // driver-side manifest reads per plan)
      val withMs = versions.map(v => (v, manifest(v)))
      fillMergeInsertIds(fillLinkedFeedIds(raw, withMs), withMs)
    }
  }

  /** Fill append-LINKED feed rows' missing `_row_id`: a linked feed
    * file IS the data file, so its ids are `baseRowId + row_index`,
    * with the base looked up by file NAME (names are uuid-unique) from
    * the manifests of the feed versions being read — the same broadcast
    * path→base shape the main id read uses, O(1) plan nodes. Diffed
    * feed files are freshly-named parquet never present in a manifest,
    * so they can't match the map and keep their STORED ids (merge /
    * pv-append inserts' nulls are filled afterwards by
    * [[fillMergeInsertIds]]; pre-tracking history stays null).
    */
  private def fillLinkedFeedIds(
      raw: DataFrame, versions: Seq[(Long, Manifest)]): DataFrame = {
    val metaRows: Seq[Row] = versions.flatMap { case (v, m) =>
      if (!m.rowTracking) Nil
      else filesOf(m).filter(_.rcv.contains(v)).flatMap(f =>
        f.baseRowId.map(b =>
          Row(f.path.substring(f.path.lastIndexOf('/') + 1), b)))
    }
    if (metaRows.isEmpty) raw
    else {
      val meta = spark.createDataFrame(metaRows.asJava, StructType(Seq(
        StructField("__feed_name", StringType, nullable = false),
        StructField("__feed_base", LongType, nullable = false))))
      raw.withColumn("__feed_name",
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn("__feed_idx", col("_metadata.row_index"))
        .join(broadcast(meta), Seq("__feed_name"), "left")
        .withColumn(GraftTable.RowIdOut,
          coalesce(col(GraftTable.RowIdOut), col("__feed_base") + col("__feed_idx")))
        .drop("__feed_name", "__feed_idx", "__feed_base")
    }
  }

  /** Fill MERGE versions' insert-row ids. A merge stages its diff BEFORE
    * the commit (so a diff failure can't fail a landed merge), which is
    * also before insert ids are born — the stored feed's insert rows
    * carry null. Post-commit the ids are fully determined, so the read
    * derives them: a tracked merge version's inserted rows are EXACTLY
    * the rows of its fresh files whose id is at or above the file's
    * allocated base (carried/updated rows materialize ids from OLDER
    * ranges, always below it). The stored insert rows are replaced
    * wholesale by the derived read — same payloads (the diff's after
    * side read the same files), now with ids — keeping every insert on
    * the identity-keyed surface exact end-to-end.
    *
    * Cost: one fresh-file read per tracked merge version in the range —
    * the same order as that version's diff itself; plan nodes stay O(1)
    * per version (one scan + one broadcast base join). If retention has
    * already retired a version's fresh files, the ids are UNSERVABLE —
    * those rows' `_row_id` becomes a row-level raise_error NAMING
    * retention and the recovery (restart past the horizon), so an
    * identity-keyed consumer (the gold mirror) fails with the cause
    * instead of misdiagnosing null ids as "feed predates tracking".
    * Rows the error never covers — pre-tracking history — stay null as
    * before, and a consumer that filters the vacuumed versions out
    * never evaluates the error (it is per-row, not per-plan).
    */
  private def fillMergeInsertIds(
      raw: DataFrame, versions: Seq[(Long, Manifest)]): DataFrame = {
    // pv-table appends are derivable the same way: they stage a COPY of
    // the batch (the feed files are not the data files, so the
    // name-keyed linked fill cannot reach them) — their inserts are ALL
    // the version's fresh-file rows. Ordinary appends hard-link and are
    // filled by name already; deriving for them too would only build a
    // scan the anti-join throws away, so they are excluded.
    val mergeVs = versions.flatMap { case (v, m) =>
      def pvAppend = m.operation.contains("append") &&
        filesOf(m).exists(f => f.rcv.contains(v) && f.pv.isDefined)
      if (m.rowTracking && (m.operation.contains("merge") || pvAppend))
        Some((v, m))
      else None
    }
    // versions whose fresh files retention already retired: ids are
    // unservable — their null-id insert rows raise the named error below
    val vacuumedVs = mergeVs.collect {
      case (v, m) if filesOf(m).exists(f =>
        f.rcv.contains(v) && f.rows > 0 && f.baseRowId.isDefined &&
          !Files.exists(Paths.get(root, f.path))) => v
    }
    val derived = mergeVs.flatMap { case (v, m) =>
      val fresh = filesOf(m).filter(f =>
        f.rcv.contains(v) && f.rows > 0 && f.baseRowId.isDefined)
      if (fresh.isEmpty ||
        !fresh.forall(f => Files.exists(Paths.get(root, f.path)))) None
      else {
        val schemaV = StructType.fromDDL(m.schema)
        val rows = readMaskedRowIds(fresh, schemaV, m.mapping, withPos = true)
        val baseMeta = spark.createDataFrame(
          fresh.map(f => Row(f.path, f.baseRowId.get)).asJava,
          StructType(Seq(
            StructField("__mi_rel", StringType, nullable = false),
            StructField("__mi_base", LongType, nullable = false))))
        val inserts = rows
          .join(broadcast(baseMeta), col("__graft_rel") === col("__mi_rel"))
          .filter(col(s"`${GraftTable.RowIdCol}`") >= col("__mi_base"))
        // conform to the feed's PHYSICAL schema: physical names never
        // change, so a v-era logical name maps through v's mapping;
        // columns added after v null-fill
        val out = physicalChangeFeedSchema(withRowIds = true).fields.map { f =>
          if (f.name == "_change_type") lit("insert").as(f.name)
          else if (f.name == "_commit_version") lit(v).as(f.name)
          else if (f.name == GraftTable.RowIdOut)
            col(s"`${GraftTable.RowIdCol}`").as(f.name)
          else {
            val logicalAtV = m.mapping.collectFirst {
              case (l, p) if p == f.name => l }.getOrElse(f.name)
            if (schemaV.fieldNames.contains(logicalAtV))
              col(s"`$logicalAtV`").as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }
        }
        Some(v -> inserts.select(out.toIndexedSeq: _*))
      }
    }
    val filled = if (derived.isEmpty) raw
    else {
      // Replace ONLY the null-id insert rows: a key-changing matched
      // update's insert half carries its CARRIED id (below the file
      // base, so the derived set excludes it) and must survive as
      // stored. Derived rows anti-join against inserts already carrying
      // ids, so a repaired (post-commit, fully-id'd) feed is never
      // double-served — for an ordinary merge feed the anti-join is a
      // no-op on an empty/disjoint build side.
      val replacedVs = derived.map(_._1)
      val kept = raw.filter(!(col("_change_type") === "insert" &&
        col(GraftTable.RowIdOut).isNull &&
        col("_commit_version").isin(replacedVs: _*)))
      val existing = raw.filter(col("_change_type") === "insert" &&
        col(GraftTable.RowIdOut).isNotNull &&
        col("_commit_version").isin(replacedVs: _*))
        .select(col(GraftTable.RowIdOut).as("__mi_id"),
          col("_commit_version").as("__mi_v"))
      val fresh = derived.map(_._2).reduce(_.unionByName(_))
        .join(existing,
          col(GraftTable.RowIdOut) === col("__mi_id") &&
            col("_commit_version") === col("__mi_v"), "left_anti")
      kept.unionByName(fresh)
    }
    if (vacuumedVs.isEmpty) filled
    else filled.withColumn(GraftTable.RowIdOut,
      when(col(GraftTable.RowIdOut).isNull &&
        col("_change_type") === "insert" &&
        col("_commit_version").isin(vacuumedVs: _*),
        raise_error(concat(lit(
          s"graft change feed at $root: insert ids of merge version "),
          col("_commit_version"), lit(
            " cannot be derived — its fresh data files were vacuumed " +
              "before the feed was compacted (the version is outside " +
              "the retention window). Restart the consumer past the " +
              "horizon: option(\"startingVersion\") beyond it, or " +
              "rebuild from a full snapshot"))))
        .otherwise(col(GraftTable.RowIdOut)))
  }

  private def readSegments(
      segs: Seq[(Path, ChangeSegment)], withRowIds: Boolean = false): DataFrame =
    // explicit CURRENT schema: segments written before a schema evolution
    // null-fill the new columns, same as version-dir reads. Segments
    // materialize derived link ids at compaction time (the source dirs
    // are gone afterwards), so no fill pass here.
    spark.read.schema(physicalChangeFeedSchema(withRowIds))
      .parquet(segs.map(_._1.toString): _*)

  /** Batch read of the stored change feed for versions >= `sinceVersion`
    * (rows carry `_change_type` and `_commit_version`). Merges run with
    * `.withChangeFeed()` and [[appendWithChangeFeed]] batches store
    * change data — absent versions are simply not in the feed (like
    * Delta before CDF was enabled).
    *
    * Cursor callers beware: with CONCURRENT merges a later version's
    * feed can become visible milliseconds before an earlier one's
    * (publish order follows commit order but is not fenced); a batch
    * cursor should lag by a grace period, or use [[readChangeStream]],
    * whose per-file tracking is immune to ordering.
    *
    * `withRowIds` (tracked tables): rows carry `_row_id`, so an
    * identity-keyed consumer pairs an update's two images exactly even
    * when the update changed the key. delete / update_preimage /
    * update_postimage rows ALWAYS carry their id; append-linked insert
    * rows derive theirs from the manifest (`baseRowId + row_index`);
    * merge and pv-append inserts — whose ids were not knowable when the
    * writer pre-staged the diff/copy — are filled post-commit from the
    * version's fresh files ([[fillMergeInsertIds]]), so ids are
    * COMPLETE on every served row except pre-tracking history (and
    * versions whose fresh files retention already retired, which keep
    * the stored nulls rather than failing the read).
    */
  def changeFeed(sinceVersion: Long = 1L, withRowIds: Boolean = false): DataFrame = {
    if (withRowIds) require(rowTrackingEnabled,
      s"changeFeed(withRowIds) at $root needs row tracking — " +
        "call enableRowTracking() first")
    // compacted segments serve the old history; live version dirs serve
    // the tail. A version dir whose version a segment covers is a crash
    // leftover (compaction deletes sources AFTER publishing) — the
    // segment wins and the dir is ignored, so no double-counting.
    val segs = changeSegments.filter(_._2.versions.exists(_ >= sinceVersion))
    val covered = changeSegments.flatMap(_._2.versions).toSet
    val dirs = rawChangeDirVersions
      .filterNot(covered).filter(_ >= sinceVersion)
    if (segs.isEmpty && dirs.isEmpty)
      throw new IllegalStateException(
        s"no stored change data at or after version $sinceVersion in $root " +
          "(run merges with .withChangeFeed(), or use changesBetween)")
    // ONE multi-path scan per store with the EXPLICIT current schema
    // (latest table schema + CDF cols): spans schema evolution (older
    // files' missing columns null-fill), survives file-less version dirs
    // (no inference), and costs no footer-merging pass. Version-dir rows
    // recover the commit version from the directory name exactly as the
    // streaming path does; segment rows store it as a column (pruned by
    // the segment's per-file min/max when sliced).
    val order = physicalChangeFeedSchema(withRowIds).fieldNames.map(col).toIndexedSeq
    val parts =
      (if (dirs.nonEmpty)
        Seq(readVersionDirs(dirs, withRowIds).select(order: _*)) else Nil) ++
        (if (segs.nonEmpty)
          Seq(readSegments(segs, withRowIds)
            .filter(col("_commit_version") >= sinceVersion)
            .select(order: _*))
        else Nil)
    feedToLogical(parts.reduce(_.unionByName(_)), withRowIds)
  }

  /** Output schema of change-feed reads (current table schema + CDF
    * cols). On disk the files store only `_change_type`;
    * `_commit_version` is derived from the version directory name.
    */
  def changeFeedSchema: StructType = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    StructType(StructType.fromDDL(m.schema).fields ++ Seq(
      StructField("_change_type", org.apache.spark.sql.types.StringType),
      StructField("_commit_version", org.apache.spark.sql.types.LongType)))
  }

  /** Structured-streaming read of the change feed: a file-source stream
    * over the append-only `_changes` directory — new merges' change
    * files are picked up as they land (publish is one atomic directory
    * rename, so a version's files appear all-or-nothing), giving
    * downstream consumers the NRT tail of the table (Delta's
    * `readStream` on a CDF-enabled table). Plain files + append-only
    * layout means the standard source's exactly-once file tracking
    * applies unchanged; `_commit_version` is recovered from the file
    * path.
    */
  def readChangeStream(): DataFrame = readChangeStream(withRowIds = false)

  /** [[readChangeStream]] with row identity on tracked tables: rows
    * carry `_row_id` as STORED by the writer — update_preimage /
    * update_postimage / delete rows of UPDATE/DELETE/merge always carry
    * their id (a key-changing update thus pairs by identity downstream).
    * Two null-id cases are inherent to this raw file-tail surface:
    * hard-linked append batches (their ids are `baseRowId + row_index`,
    * but a file-source stream fixes its plan at start and cannot join a
    * growing manifest map) and merge INSERTS (the id is born at the
    * commit the pre-staged diff precedes). The version-aware native
    * source — `readStream.format("graft").option("readChangeFeed",
    * "true").option("withRowIds", "true")` — serves COMPLETE ids and is
    * the recommended identity-preserving hop.
    */
  def readChangeStream(withRowIds: Boolean): DataFrame = {
    if (withRowIds) require(rowTrackingEnabled,
      s"readChangeStream(withRowIds) at $root needs row tracking — " +
        "call enableRowTracking() first")
    val dataSchema = StructType(
      physicalChangeFeedSchema(withRowIds).filterNot(_.name == "_commit_version"))
    feedToLogical(spark.readStream.schema(dataSchema)
      .parquet(s"$root/_changes/*")
      // hard-linked append batches carry no _change_type: null ⇒ 'insert'
      .withColumn("_change_type", coalesce(col("_change_type"), lit("insert")))
      .withColumn("_commit_version",
        regexp_extract(col("_metadata.file_path"), "_changes/v(\\d+)/", 1)
          .cast("long")), withRowIds)
  }

  /** Silver→bronze snapshot export (ref README.md:4 — "snapshotted over
    * to bronze overnight"): write `version`'s EXACT contents into the S14
    * date-partitioned bronze layout (yyyy=/MM=/dd= from `tsCol`). The
    * source version is pinned, so a load landing mid-export never bleeds
    * into the snapshot; re-running the export is idempotent (overwrite).
    */
  def exportSnapshot(version: Long, bronzeRoot: String, tsCol: String): Unit =
    GraftCatalog.writeDatePartitioned(snapshotAt(version), tsCol, bronzeRoot)

  /** DESCRIBE DETAIL parity: one metadata-only row summarizing the
    * table's current state — answered entirely from the latest manifest
    * plus table-level config (no data scan, O(1) in file count on
    * chunked tables because counts and sizes aggregate from chunk refs).
    */
  def detail: DataFrame = {
    val m = latestManifest.getOrElse(
      throw new IllegalStateException(s"no committed version at $root"))
    import spark.implicits._
    val sizeBytes = m.files.flatMap(_.bytes).sum +
      m.chunks.getOrElse(Nil).flatMap(_.bytes).sum
    Seq((
      "graft", root, m.version, m.allFiles.toLong, m.allRows,
      sizeBytes, m.partitionCols.getOrElse(Nil).mkString(","),
      m.operation.getOrElse("write"), m.committedAt.getOrElse(""),
      checks.size.toLong, changeFeedVersions.size.toLong,
      m.rowTracking, m.rowIdHighWaterMark.getOrElse(-1L)
    )).toDF("format", "location", "version", "num_files", "num_rows",
      "size_bytes", "partition_columns", "last_operation", "committed_at",
      "num_checks", "num_change_feed_versions",
      "row_tracking", "row_id_high_water_mark")
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src VERSION AS
    * OF v` parity): a NEW independent table at `destRoot` whose first
    * version references this table's data at `version` — zero data
    * copied or rewritten; stats, sizes and partition metadata carry
    * verbatim, so the clone plans (prunes, sizes joins) exactly like the
    * source at that version. The clone is the cheap branch for
    * experiments: its own version line, its own vacuum horizon.
    *
    * Data files are HARD-LINKED (the same primitive the commit protocol
    * builds on): on a local/POSIX store each side owns a directory
    * entry to a shared inode, so vacuuming the SOURCE never breaks the
    * clone — deletes only unlink names, and bytes live until the last
    * reference drops. On an object store the link step maps to a
    * server-side copy (or a path-reference manifest, Delta's choice);
    * the commit shape is unchanged.
    */
  def cloneAt(version: Long, destRoot: String): GraftTable =
    cloneImpl(version, destRoot, deep = false)

  /** DEEP CLONE (Delta parity): like [[cloneAt]] but the data files,
    * deletion vectors and bloom sidecars are BYTE COPIES, not hard
    * links — the clone owns independent storage, so nothing that
    * happens to the source's bytes (corruption, a store-level purge, a
    * migration that rewrites the source volume) can ever reach it.
    * Inherently O(data) where shallow is O(files) — that is the point:
    * deep clone IS the full-fidelity backup/migration primitive. On a
    * real cluster the per-file copy loop becomes a distributed copy job
    * over the same manifest file list; the commit shape is unchanged.
    */
  def cloneDeepAt(version: Long, destRoot: String): GraftTable =
    cloneImpl(version, destRoot, deep = true)

  private def cloneImpl(
      version: Long, destRoot: String, deep: Boolean): GraftTable = {
    val m = manifest(version)
    val dest = GraftTable(spark, destRoot)
    require(!dest.exists,
      s"clone destination $destRoot already holds a table")
    val destPath = Paths.get(destRoot)
    Files.createDirectories(destPath)
    def place(src: Path, tgt: Path): Unit = {
      if (tgt.getParent != null) Files.createDirectories(tgt.getParent)
      if (deep) Files.copy(src, tgt) else Files.createLink(tgt, src)
    }
    val files = filesOf(m) // chunked manifests resolve to the full list
    files.foreach { f =>
      place(Paths.get(root).resolve(f.path), destPath.resolve(f.path))
    }
    // DV datasets travel with their files (same rel paths, same
    // primitive) so a clone of a masked version stays masked
    files.flatMap(_.dv).distinct.foreach { d =>
      val srcDir = Paths.get(root).resolve(d)
      val walk = Files.walk(srcDir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        place(p, destPath.resolve(Paths.get(root).relativize(p).toString))
      } finally walk.close()
    }
    // bloom sidecars travel too — the clone plans point lookups like
    // the source
    files.flatMap(_.bloom).distinct.foreach { b =>
      place(Paths.get(root).resolve(b), destPath.resolve(b))
    }
    dest.commitSet(StructType.fromDDL(m.schema), FileSet(Nil, files),
      expectedBase = None,
      op = "clone", partitionCols = m.partitionCols,
      // cloned files keep their physical column names — the clone
      // inherits the source version's mapping wholesale
      mappingOverride = Some((m.mapping, m.retired.getOrElse(Nil))),
      // row tracking travels: the cloned rows HOLD the source's ids
      // (baseRowId entries + materialized columns), so the clone must
      // keep allocating ABOVE the source's watermark — a fresh namespace
      // would reissue ids the cloned files already carry
      rowTrackingSeed = m.rowIdHighWaterMark)
    // table properties travel with the clone (Delta parity): CHECK
    // constraints gate the clone's future writes too. The txn index
    // deliberately does NOT travel — the clone is a new writer lineage,
    // and inherited markers would make its first loads replay-skip.
    if (checks.nonEmpty) dest.writeChecks(checks)
    if (properties.nonEmpty) dest.writeProps(properties)
    // identity allocator state travels too: the clone's rows HOLD the
    // source's allocated values, so a fresh allocator would reissue
    // them on the clone's first append. Seed the clone's floor at the
    // source's CURRENT floor (not the cloned version's — the current
    // one is ≥ every value any version holds, and gaps are allowed).
    identityCols.foreach { case (c, cfg) =>
      val (_, floor) = identityFloor(c, cfg)
      if (floor != cfg.start - cfg.step)
        dest.reservePastObserved(c, floor, cfg.step)
    }
    dest
  }

  /** Vacuum: delete data files referenced by no manifest >= `keepVersions`
    * back from the latest (older manifests are dropped too, bounding
    * time-travel). Crashed writers leave orphan files — vacuum is the GC
    * that reclaims them along with superseded versions.
    *
    * `minAgeMs` is the retention window protecting IN-FLIGHT writers: a
    * concurrent append has landed data files but not yet committed its
    * manifest, and is indistinguishable from a crash. Files younger than
    * the window are never deleted (default 1h; pass 0 only when no other
    * writer can be active).
    *
    * Txn markers of writers that committed WITH an appId survive vacuum
    * (the `_graft/txns` index outlives the manifests) — replay detection
    * is decoupled from retention for them. Legacy appId-less markers
    * live only in their manifests: for those, keep `keepVersions`
    * larger than the writer's possible replay depth, or a replayed
    * batch will re-merge and re-publish change data.
    * Returns the number of deleted data files.
    */
  /** The kept-manifest set a vacuum with this window works from:
    * tagged versions are pinned OUTSIDE the retention window (their
    * files and manifests survive until the tag is dropped); manifests
    * below keepFrom may already be vacuumed — gaps skip.
    */
  private def vacuumKept(
      keepFrom: Long, latest: Long): (Set[Long], Seq[Manifest]) = {
    val tagged = tags.values.toSet
    val kept = ((keepFrom to latest) ++ tagged.filter(_ < keepFrom))
      .distinct.sorted
      .flatMap { v =>
        try Some(manifest(v))
        catch { case _: java.nio.file.NoSuchFileException => None }
      }
    (tagged, kept)
  }

  /** Files a vacuum against `keptManifests` with age cutoff `cutoff`
    * would delete — (absolute path, is-a-data-file); checksum sidecars
    * ride their data file's verdict, files inside a live DV dataset dir
    * are live, young files are protected (in-flight writers). Walks
    * `data/` (engine-written files) AND the COPY INTO `imports-*` dirs
    * (engine-created LINKS — superseded ones are safe to unlink; the
    * user's original source files live elsewhere and are never
    * touched). CONVERT's in-place imported files sit at their original
    * arbitrary paths and are deliberately NOT walked — they remain the
    * user's files. Shared by [[vacuum]] and [[vacuumDryRun]] so the dry
    * run can never drift from what the real vacuum does.
    */
  private def staleDataFiles(
      keptManifests: Seq[Manifest], cutoff: Long): Seq[(Path, Boolean)] = {
    val live: Set[String] =
      keptManifests.flatMap(m => filesOf(m).map(_.path)).toSet
    // every file under a referenced DV dataset dir is live (parquet
    // parts, _SUCCESS, checksums) — a DV dataset is referenced as a DIR
    val liveDvDirs: Seq[String] =
      keptManifests.flatMap(m => filesOf(m).flatMap(_.dv)).distinct.map(_ + "/")
    // a hard link shares its SOURCE inode's (possibly ancient) mtime, so
    // the per-file age guard cannot protect a just-linked COPY INTO batch
    // whose commit has not landed yet — the DIRECTORY's own mtime is
    // fresh at creation, so young import dirs are skipped wholesale
    val importDirs =
      if (!Files.isDirectory(Paths.get(root))) Nil
      else {
        val stream = Files.list(Paths.get(root))
        try stream.iterator().asScala.filter { p =>
          Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("imports-") && {
              try Files.getLastModifiedTime(p).toMillis <= cutoff
              catch { case _: java.io.IOException => false }
            }
        }.toSeq
        finally stream.close()
      }
    val tops = ((dataDir, true) +: importDirs.map((_, false)))
      .filter(t => Files.isDirectory(t._1))
    tops.flatMap { case (top, perFileAge) =>
      val walk = Files.walk(top)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .flatMap { p =>
          val rel = Paths.get(root).toAbsolutePath.relativize(p.toAbsolutePath).toString
          // a checksum sidecar (.name.crc) is live iff its data file is
          val dataRel =
            if (p.getFileName.toString.startsWith(".") && rel.endsWith(".crc"))
              Paths.get(rel).getParent.resolve(
                p.getFileName.toString.stripPrefix(".").stripSuffix(".crc")).toString
            else rel
          // hard-linked imports share the SOURCE inode's mtime, so the
          // per-file age check is meaningless there — the import DIR's
          // age (checked above) is their in-flight guard
          val youngEnough = perFileAge && {
            try Files.getLastModifiedTime(p).toMillis > cutoff
            catch { case _: java.io.IOException => true }
          }
          val inLiveDv = liveDvDirs.exists(dataRel.startsWith)
          if (!live.contains(dataRel) && !inLiveDv && !youngEnough)
            Some((p, dataRel == rel))
          else None
        }.toSeq
      finally walk.close()
    }
  }

  /** VACUUM DRY RUN (Delta parity): the table-relative DATA file paths
    * a `vacuum(keepVersions, minAgeMs)` would delete right now, without
    * deleting anything. Computed by the same liveness walk the real
    * vacuum uses. Metadata GC (superseded manifests, stale chunks,
    * bloom sidecars, aged change-feed dirs) is not listed — the
    * user-facing risk a dry run exists to preview is data bytes.
    */
  def vacuumDryRun(
      keepVersions: Int = 1, minAgeMs: Long = 3600000L): Seq[String] = {
    val latest = latestVersion.getOrElse(return Nil)
    val keepFrom = math.max(1L, latest - keepVersions + 1)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val (_, keptManifests) = vacuumKept(keepFrom, latest)
    staleDataFiles(keptManifests, cutoff).collect { case (p, true) =>
      Paths.get(root).toAbsolutePath.relativize(p.toAbsolutePath).toString
    }.sorted
  }

  def vacuum(keepVersions: Int = 1, minAgeMs: Long = 3600000L): Int = {
    val latest = latestVersion.getOrElse(return 0)
    val keepFrom = math.max(1L, latest - keepVersions + 1)
    val cutoff = System.currentTimeMillis() - minAgeMs
    val (tagged, keptManifests) = vacuumKept(keepFrom, latest)
    val liveChunks: Set[String] =
      keptManifests.flatMap(_.chunks.getOrElse(Nil).map(_.path)).toSet
    var deleted = 0
    staleDataFiles(keptManifests, cutoff).foreach { case (p, isData) =>
      Files.deleteIfExists(p)
      if (isData) deleted += 1
    }
    // drop superseded manifests so readers can't pin vacuumed versions
    // (tagged manifests stay — the tag IS the pin)
    (1L until keepFrom).filterNot(tagged.contains).foreach { v =>
      store.delete(manifestPath(v))
    }
    // chunk files referenced by no kept manifest are the metadata
    // analogue of orphan data files (superseded listings, or a lost
    // commit race's pre-written chunks) — same age guard protects a
    // concurrent writer that has written chunks but not yet committed
    if (Files.isDirectory(manifestDir)) {
      val stream = Files.list(manifestDir)
      val staleChunks = try stream.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("chunk-") && n.endsWith(".json") && !liveChunks.contains(n)
      }.toSeq finally stream.close()
      staleChunks.foreach { p =>
        val oldEnough = try Files.getLastModifiedTime(p).toMillis <= cutoff
          catch { case _: java.io.IOException => false }
        if (oldEnough) Files.deleteIfExists(p)
      }
    }
    // superseded CAS-registry versions (checks / COPY INTO chains) are
    // metadata garbage once a newer version exists — keep only the
    // latest; a reader that already resolved a superseded version sees
    // NoSuchFile and retries through the chain. The legacy flat file is
    // shadowed forever once any versioned object exists.
    Seq("checks" -> checksPath, "copyinto" -> copyIntoPath).foreach {
      case (prefix, legacy) =>
        val vs = registryVersions(prefix)
        if (vs.nonEmpty) {
          val keep = vs.max
          vs.filter(_ < keep).foreach(v =>
            store.delete(manifestDir.resolve(f"$prefix-v$v%020d.json")))
          if (store.exists(legacy)) store.delete(legacy)
        }
    }
    // bloom sidecars referenced by no kept manifest age out like chunks
    // (same guard protects a writer that has written sidecars but not
    // yet committed)
    val liveBlooms: Set[String] =
      keptManifests.flatMap(m => filesOf(m).flatMap(_.bloom)).toSet
    val bloomDir = manifestDir.resolve("bloom")
    if (Files.isDirectory(bloomDir)) {
      val stream = Files.list(bloomDir)
      val stale = try stream.iterator().asScala.filter { p =>
        !liveBlooms.contains(s"_graft/bloom/${p.getFileName}") && {
          try Files.getLastModifiedTime(p).toMillis <= cutoff
          catch { case _: java.io.IOException => false }
        }
      }.toSeq finally stream.close()
      stale.foreach(Files.deleteIfExists(_))
    }
    // change-feed data ages out with its version (streams consume files
    // once; the retention window protects in-flight batch readers), and
    // crashed stagings (.cdf-tmp- dirs whose merge never committed) are
    // the CDF analogue of orphan data files. Age checks INCLUDE each
    // directory's own mtime: a directory being actively written to (a
    // live stage whose diff job just finished) has a fresh mtime even
    // when individual part files carry older timestamps, so the
    // retention window genuinely protects the stage→publish gap.
    def dropDirIfOld(dir: Path): Unit = {
      val walk = Files.walk(dir)
      val entries = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      val allOld = entries.forall { p =>
        try Files.getLastModifiedTime(p).toMillis <= cutoff
        catch { case _: java.io.IOException => false }
      }
      if (allOld) entries.foreach(p => Files.deleteIfExists(p))
    }
    // only live version DIRS age out — compacted segments are the long-
    // retention archive and outlive vacuum (removed only by being folded
    // into a later segment)
    rawChangeDirVersions.filter(_ < keepFrom).foreach(v => dropDirIfOld(changesVersionDir(v)))
    if (Files.isDirectory(manifestDir)) {
      val stream = Files.list(manifestDir)
      val stale = try stream.iterator().asScala
        .filter(p => Files.isDirectory(p) && {
          val n = p.getFileName.toString
          n.startsWith(".cdf-tmp-") || n.startsWith(".cfc-tmp-")
        }).toSeq
      finally stream.close()
      stale.foreach(dropDirIfOld)
    }
    deleted
  }

  /** Replace `replaced` files with `added` files atomically — the merge
    * commit primitive. Files in neither set are carried forward untouched.
    *
    * Concurrency is FILE-level, not table-level: on a commit race the
    * loser diffs its base manifest against the winner's and rebases iff
    * the intervening commits are semantically disjoint from this merge —
    *  - no file this merge read/replaced was removed (both merges
    *    rewrote the same rows), and
    *  - no file added meanwhile satisfies `mayConflict` (its key range
    *    may hold rows this merge should have seen — the caller passes
    *    its file-pruning predicate, so the check is exactly as sharp as
    *    the merge's own pruning).
    * Two merges on disjoint key ranges then both commit; overlapping
    * ones still fail loudly (silently rebasing those would duplicate or
    * resurrect rows). At 100×-scale ingest with many entities per table
    * this is the difference between serialized and parallel loads.
    */
  private[graft] def swap(
      replaced: Set[String], added: Seq[ManifestFile], schema: StructType,
      baseVersion: Long,
      mayConflict: ManifestFile => Boolean = _ => true,
      txn: Option[String] = None,
      txnApp: Option[String] = None,
      op: String = "merge"): Long = {
    var base = manifest(baseVersion)
    var attempts = 0
    while (true) {
      // chunk-local rewrite: a chunk none of whose files were replaced
      // rides by reference (zero read-back into the manifest, zero
      // write); only touched chunks are re-listed minus their replaced
      // files. An incremental merge touching 0.1% of the key space then
      // rewrites ~0.1% of the chunk metadata, mirroring what it does to
      // the data files. (Chunk CONTENT reads hit the cache the merge's
      // own pruning pass already warmed.)
      val (touchedRefs, untouchedRefs) = base.chunks.getOrElse(Nil)
        .partition(ref => readChunk(ref).exists(f => replaced.contains(f.path)))
      val kept = (base.files ++ touchedRefs.flatMap(readChunk))
        .filterNot(f => replaced.contains(f.path))
      // after a rebase, `base` may carry columns the caller's schema
      // (computed against the ORIGINAL base) does not — committing the
      // stale schema would silently drop the concurrent commit's columns
      // from every future read, so union with the rebased-on schema
      val outSchema = GraftTable.unionSchema(StructType.fromDDL(base.schema), schema)
      try {
        return commitSet(outSchema, FileSet(untouchedRefs, kept ++ added),
          Some(base.version), op = op,
          partitionCols = base.partitionCols, txn = txn, txnApp = txnApp)
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 50) throw e // pathological contention
          val latest = manifest(latestVersion.getOrElse(throw e))
          // identity is (path, dv pointer): a concurrent merge-on-read
          // DELETE leaves the path in place but moves its DV — for
          // conflict purposes that file was removed AND re-added (two DV
          // deletes of one file must not silently clobber each other's
          // masks, exactly as two rewrites of one file must not)
          val baseFiles = filesOf(base)
          val baseDv = baseFiles.map(f => f.path -> f.dv).toMap
          val latestFiles = filesOf(latest)
          val latestDv = latestFiles.map(f => f.path -> f.dv).toMap
          val removedMeanwhile = baseFiles
            .filter(f => !latestDv.get(f.path).contains(f.dv)).map(_.path).toSet
          val addedMeanwhile = latestFiles
            .filterNot(f => baseDv.get(f.path).contains(f.dv))
          if (removedMeanwhile.exists(replaced.contains))
            throw new java.util.ConcurrentModificationException(
              s"merge conflict at $root: a concurrent commit rewrote file(s) " +
                s"this merge also rewrote (e.g. ${removedMeanwhile.find(replaced.contains).get})")
          addedMeanwhile.find(mayConflict).foreach { f =>
            throw new java.util.ConcurrentModificationException(
              s"merge conflict at $root: concurrent commit added ${f.path} " +
                "whose key range overlaps this merge's source batch")
          }
          base = latest // disjoint — rebase and retry
      }
    }
    -1L // unreachable
  }

  /** Write df as parquet under data/<uuid>/ and return manifest entries
    * with per-file rowcount + min/max stats on `statsCol`.
    *
    * Stats come from the parquet FOOTERS (driver-side, O(files)) — the
    * writer already computed them, so no second scan of the data. Footer
    * min/max is used for integral, floating and string columns (the
    * common pk shapes); other logical types (e.g. timestamps, whose
    * footer values are raw micros) fall back to a column-pruned Spark
    * pass so the stringified stats stay comparable with the merge's
    * source-bounds rendering.
    */
  /** Store-assignment cast (Delta parity): a batch whose column TYPE
    * differs from the schema being committed (a decimal of different
    * precision, an int for a long column) must not land verbatim — the
    * mismatched parquet type would fail EVERY later read of the file.
    * Casting here keeps the files physically uniform with the declared
    * schema; incompatible casts fail the write loudly.
    */
  private def conformed(
      dfRaw: DataFrame, conformTo: Option[StructType]): DataFrame =
    conformTo match {
      case Some(ts) =>
        val types = ts.fields.map(f => f.name -> f.dataType).toMap
        if (dfRaw.schema.fields.forall(f => types.get(f.name).forall(_ == f.dataType)))
          dfRaw
        else dfRaw.select(dfRaw.schema.fields.map { f =>
          types.get(f.name) match {
            case Some(dt) if dt != f.dataType => col(s"`${f.name}`").cast(dt).as(f.name)
            case _ => col(s"`${f.name}`")
          }
        }.toIndexedSeq: _*)
      case None => dfRaw
    }

  private[graft] def writeDataFiles(
      dfRaw: DataFrame, statsColsLogical: Seq[String],
      mapping: Map[String, String] = Map.empty,
      conformTo: Option[StructType] = None): Seq[ManifestFile] = {
    // the ONE write funnel for clustered tables (overwrite/append/merge/
    // compact/zorder all land here; pv tables land in the sibling
    // [[writePvDataFiles]], which shares this prologue) — enforcing
    // CHECK constraints at this choke point means no writer can bypass
    // them (and bloom sidecar maintenance below inherits the same
    // no-bypass guarantee). Callers speak LOGICAL column names
    // throughout; the rename to physical names happens here (after the
    // checks, which are logical SQL) so no writer can bypass the column
    // mapping either.
    val df = GraftTable.toPhysical(enforceChecks(conformed(dfRaw, conformTo)), mapping)
    val statsCols = statsColsLogical.map(c => mapping.getOrElse(c, c))
    val batch = UUID.randomUUID().toString.take(12)
    val outDir = dataDir.resolve(batch)
    df.write.parquet(outDir.toString)
    val stream = Files.list(outDir)
    val parts =
      try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally stream.close()
    val wanted = statsCols.filter(df.columns.contains).distinct
    val entries = manifestEntries(parts, wanted)
    attachBlooms(outDir, entries, df.columns.toSeq, mapping)
  }

  /** Driver-side write of a TINY, already-local batch (control-plane
    * rows: watermark opens/closes are ONE row each) — one parquet file
    * via [[org.apache.spark.sql.graftbridge.LocalWriteBridge]] (the
    * exact `ParquetWriteSupport` Spark's sink uses), zero Spark jobs.
    * Every write command costs ~100-150 ms of job+commit fixed overhead
    * regardless of size, and the load protocol pays two control writes
    * per cycle — at NRT cadence that overhead IS the control plane's
    * cost. Falls back to the full funnel when the table carries any
    * funnel-enforced feature (CHECKs, column mapping, generated or
    * identity columns): those guarantees live in [[writeDataFiles]] and
    * must not be bypassable.
    */
  private[graft] def writeLocalRows(
      schema: StructType, rows: Seq[org.apache.spark.sql.Row],
      statsColsLogical: Seq[String]): Seq[ManifestFile] = {
    if (checks.nonEmpty || generatedCols.nonEmpty || identityCols.nonEmpty ||
      latestManifest.exists(_.mapping.nonEmpty))
      return writeDataFiles(
        spark.createDataFrame(rows.asJava, schema).coalesce(1),
        statsColsLogical)
    val batch = UUID.randomUUID().toString.take(12)
    val outDir = dataDir.resolve(batch)
    Files.createDirectories(outDir)
    val file = outDir.resolve(
      s"part-00000-${UUID.randomUUID().toString}-c000.snappy.parquet")
    org.apache.spark.sql.graftbridge.LocalWriteBridge.writeRows(
      spark, file, schema, rows)
    val wanted = statsColsLogical.filter(c => schema.fieldNames.contains(c)).distinct
    attachBlooms(outDir, manifestEntries(Seq(file), wanted),
      schema.fieldNames.toSeq)
  }

  /** The write-back funnel for REWRITING ops (merge, UPDATE/DELETE
    * copy-on-write, MOR post-images, replaceWhere): pv tables route
    * through [[writePvDataFiles]] so every rewritten file carries its
    * partition tuple as metadata — the invariant that keeps a converted
    * table's DML O(touched files) forever; clustered tables range-
    * cluster on their partition columns and land in [[writeDataFiles]].
    * All callers speak logical column names.
    */
  private[graft] def writeRewriteFiles(
      m: Manifest, dfIn: DataFrame, statsColsLogical: Seq[String],
      mapping: Map[String, String],
      conformTo: Option[StructType] = None): Seq[ManifestFile] = {
    // rewriting ops RECOMPUTE generated columns: identity on untouched
    // rows, the fresh value on rows whose source columns were updated
    // (Delta's UPDATE contract) — no per-row validation cost beyond the
    // expression itself
    val df = applyGenerated(dfIn, recompute = true)
    val pvCols = pvPartitionCols(m)
    if (pvCols.nonEmpty)
      writePvDataFiles(df, pvCols, statsColsLogical, mapping, conformTo)
    else {
      val pCols = m.partitionCols.getOrElse(Nil)
        .filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
      writeDataFiles(
        if (pCols.nonEmpty) clusterBy(df, pCols) else df,
        statsColsLogical, mapping, conformTo)
    }
  }

  /** The pv-table write funnel: the Hive-metadata analogue of
    * [[writeDataFiles]] for tables whose partition values live in file
    * METADATA, not the files (CONVERT ... PARTITIONED BY imports —
    * Delta's partitioned-table model, where partition values never get
    * materialized into data columns). One distributed dynamic-partition
    * write splits `df` by partition tuple (`partitionBy` strips the
    * partition columns from the files, exactly the shape CONVERT
    * imported); every resulting file is tuple-pure, carries its tuple
    * as [[ManifestFile.pv]] plus min=max stats ranges, and the scan
    * serves the values through its partitionSchema like any other pv
    * file. Untouched files are never read or rewritten — an append is
    * O(batch), a row-level op O(touched files), never O(table).
    *
    * The pre-write shuffle hashes on the partition columns so each
    * tuple lands in ONE task (no tasks×tuples small-file explosion);
    * `maxFileRows` (maxRecordsPerFile) re-splits oversized tuples at
    * write time without another shuffle. `sortWithin` orders rows
    * INSIDE each tuple (compaction/z-order locality); the sort is
    * prefixed with the partition columns so Spark's dynamic-partition
    * writer keeps it instead of re-sorting.
    *
    * pv partition columns are identity-mapped by construction (CONVERT
    * creates them on a fresh table; renaming one is refused), so the
    * directory names double as both logical and physical names.
    */
  private[graft] def writePvDataFiles(
      dfRaw: DataFrame, partCols: Seq[String],
      statsColsLogical: Seq[String],
      mapping: Map[String, String] = Map.empty,
      conformTo: Option[StructType] = None,
      maxFileRows: Option[Long] = None,
      sortWithin: Seq[org.apache.spark.sql.Column] = Nil): Seq[ManifestFile] = {
    require(partCols.nonEmpty, "writePvDataFiles needs partition columns")
    // arrange under LOGICAL names (callers' sortWithin expressions speak
    // logical, like every other funnel input), THEN rename to physical —
    // the rename is a projection, which preserves both the hash
    // partitioning and the within-partition order
    val df0 = enforceChecks(conformed(dfRaw, conformTo))
    // callers resolve presence case-insensitively; honor the batch's
    // actual spelling for the shuffle/sort/partitionBy expressions
    val partActual = partCols.map(c =>
      df0.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"pv write: partition column $c must be present " +
            s"(batch has ${df0.columns.mkString(", ")})")))
    val statsCols = statsColsLogical.map(c => mapping.getOrElse(c, c))
      .filterNot(c => partCols.exists(_.equalsIgnoreCase(c)))
      .distinct
    val batch = UUID.randomUUID().toString.take(12)
    val outDir = dataDir.resolve(batch)
    val n = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val arranged = df0
      .repartition(n, partActual.map(c => col(s"`$c`")): _*)
      .sortWithinPartitions(
        (partActual.map(c => col(s"`$c`")) ++ sortWithin): _*)
    val df = GraftTable.toPhysical(arranged, mapping)
    val writer = df.write
    maxFileRows.foreach(t => writer.option("maxRecordsPerFile", t))
    writer.partitionBy(partActual: _*).parquet(outDir.toString)
    val walk = Files.walk(outDir)
    val parts = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally walk.close()
    val wanted = statsCols.filter(df.columns.contains)
    val entries = manifestEntries(parts, wanted).map { e =>
      // the tuple each file's directory path spells — decoded with the
      // same unescape CONVERT uses (Spark's writer escaped it)
      val segMap = e.path.split('/').iterator
        .filter(_.contains("=")).map { s =>
          s.takeWhile(_ != '=') ->
            GraftTable.unescapeHivePath(s.dropWhile(_ != '=').drop(1))
        }.toMap
      val pv = partCols.map { c =>
        c -> segMap.collectFirst {
          case (k, v) if k.equalsIgnoreCase(c) => v
        }.getOrElse(throw new IllegalStateException(
          s"pv write at $root: file ${e.path} has no `$c=` path segment"))
      }.toMap
      val pvRanges = pv.collect {
        case (c, v) if v != GraftTable.HiveDefaultPartition => c -> Seq(v, v)
      }
      e.copy(pv = Some(pv),
        ranges = Some(e.ranges.getOrElse(Map.empty) ++ pvRanges))
    }
    attachBlooms(outDir, entries,
      df.columns.toSeq.filterNot(c => partCols.exists(_.equalsIgnoreCase(c))),
      mapping)
  }

  /** Per-file manifest entries (row count, byte size, min/max ranges on
    * `wanted`) for EXISTING parquet files — footer-driven, O(files)
    * driver work, no data scan. Shared by the write funnel (fresh batch
    * dirs) and [[GraftTable.convertParquet]] (in-place import).
    */
  private[graft] def manifestEntries(
      parts: Seq[Path], wanted: Seq[String]): Seq[ManifestFile] = {
    // footer reads are independent metadata I/O — walk them with a
    // bounded thread pool, order preserved. A 100k-file CONVERT/COPY
    // INTO is then wall-clocked by (files / threads) footer reads, not
    // a sequential driver loop; on an object store (ms-latency opens)
    // this is the difference between minutes and hours for what is
    // supposed to be a metadata-only import.
    val distributedThreshold = spark.conf
      .get("spark.graft.convert.distributedFooterThreshold", "10000").toInt
    val footerBased =
      if (parts.size <= 4) parts.map(p => footerStats(p, wanted))
      else if (parts.size < distributedThreshold) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(32, parts.size))
        try {
          val futures = parts.map(p => pool.submit(
            new java.util.concurrent.Callable[(Long, Map[String, (String, String)])] {
              override def call(): (Long, Map[String, (String, String)]) =
                footerStats(p, wanted)
            }))
          futures.map(_.get())
        } finally pool.shutdown()
      } else {
        // past ~10k files the driver pool's wall (files/32 × footer-open
        // latency) dominates a CONVERT/COPY INTO — hand the walk to the
        // CLUSTER: one RDD of file URIs, footers opened executor-side,
        // only (rows, stats-string) tuples collected back. O(files) tiny
        // tuples over the wire, zero data rows read, and the wall scales
        // with total cores instead of one driver's 32 threads.
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        val statsWanted = wanted
        val uris = parts.map(_.toUri.toString)
        val slices = math.min(10000,
          math.max(spark.sparkContext.defaultParallelism, uris.size / 256))
        val byUri = spark.sparkContext.parallelize(uris, slices)
          .map(u => u -> GraftTable.footerStatsOfUri(
            new java.net.URI(u), statsWanted, conf.value))
          .collect().toMap
        parts.map(p => byUri(p.toUri.toString))
      }
    val primary = wanted.headOption
    if (wanted.nonEmpty &&
        footerBased.exists(f => f._1 > 0 && !wanted.forall(f._2.contains))) {
      // some wanted column is unsupported by footer stats (e.g. a
      // date/timestamp partition column) → ONE column-pruned Spark pass
      // computing min/max for EVERY wanted column. This must not degrade
      // to single-column stats: a merge on a partitioned table whose
      // files lack pk ranges would stop pruning entirely.
      val aggs = Seq(count(lit(1)).as("__n")) ++ wanted.zipWithIndex.flatMap {
        case (c, i) => Seq(min(col(c)).cast("string").as(s"__min$i"),
          max(col(c)).cast("string").as(s"__max$i"))
      }
      spark.read.parquet(parts.map(_.toString): _*)
        .groupBy(col("_metadata.file_path").as("__fp"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val rel = relPath(r.getString(0))
          val ranges = wanted.zipWithIndex.flatMap { case (c, i) =>
            (Option(r.getAs[String](s"__min$i")), Option(r.getAs[String](s"__max$i"))) match {
              case (Some(lo), Some(hi)) => Some(c -> Seq(lo, hi))
              case _ => None
            }
          }.toMap
          val first = primary.flatMap(c => ranges.get(c).map(s => (s(0), s(1))))
          ManifestFile(rel, r.getAs[Long]("__n"),
            primary.filter(_ => first.isDefined), first.map(_._1), first.map(_._2),
            if (ranges.isEmpty) None else Some(ranges),
            bytes = try Some(Files.size(Paths.get(root, rel)))
              catch { case _: java.io.IOException => None })
        }
        .toSeq
    } else {
      // zero-row part files (empty shuffle partitions) are never listed:
      // they carry no stats, so every stats-based check — merge pruning,
      // chunk pruning, cross-writer conflict detection — would have to
      // assume they match everything. A disjoint-range merge racing
      // another writer would then conflict on an EMPTY file. The orphan
      // files on disk age out via vacuum. (The Spark-pass branch above
      // excludes them structurally: no rows → no group.)
      parts.zip(footerBased).filter(_._2._1 > 0).map { case (p, (rows, ranges)) =>
        val first = primary.flatMap(ranges.get)
        ManifestFile(relPath(p.toUri.toString), rows,
          primary.filter(_ => first.isDefined), first.map(_._1), first.map(_._2),
          if (ranges.isEmpty) None
          else Some(ranges.map { case (c, (lo, hi)) => c -> Seq(lo, hi) }),
          bytes = try Some(Files.size(p)) catch { case _: java.io.IOException => None })
      }
    }
  }

  /** Bloom-index sidecars for freshly written files, driven by the
    * `graft.bloomFilterColumns` table property (see [[BloomSkipping]]).
    * One extra column-pruned Spark pass over the just-written files
    * computes every indexed column's per-file bloom together —
    * [[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate]]
    * over XxHash64, the exact sketch+hash pair Spark's runtime bloom
    * join filters use, so probe-side hashing can never diverge. Sized
    * for the LARGEST file of the batch (~10 bits/row ≈ 1% fpp), capped
    * at 1 MiB per column per file.
    */
  private def attachBlooms(
      outDir: Path, entries: Seq[ManifestFile],
      writtenCols: Seq[String],
      mapping: Map[String, String] = Map.empty): Seq[ManifestFile] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // the property names LOGICAL columns; sidecars key by the PHYSICAL
    // name actually written (probe sides translate the same way)
    val bloomCols = properties.getOrElse(GraftTable.BloomProperty, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(c => mapping.getOrElse(c, c))
      .filter(writtenCols.contains)
    if (bloomCols.isEmpty || entries.isEmpty) return entries
    val est = math.max(1000L, entries.map(_.rows).max)
    // 1 MiB/column/file ceiling — the figure BloomSkipping's LRU memory
    // bound is reasoned from. 10 bits/row holds ~1% fpp up to ~840k
    // rows/file; past that the fpp degrades gracefully rather than the
    // sidecar (and the driver-side cache) growing without bound.
    val bits = math.min(1L * 1024 * 1024 * 8, est * 10L)
    val aggs = bloomCols.map { c =>
      ColumnBridge.toColumn(new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.toExpr(col(c)))),
        Literal(est), Literal(bits)).toAggregateExpression()).as(s"__b_$c")
    }
    // sidecars are written EXECUTOR-side: only (file, sidecar-name)
    // string pairs return to the driver — O(files × bytes-per-path),
    // never O(files × 1 MiB bitmaps). A 10k-file CONVERT/overwrite with
    // blooms would otherwise move ~10 GB through the driver. Safe
    // because the bitmap is an OR-fold (byte-deterministic regardless of
    // partition merge order) and the write is tmp+atomic-move under the
    // table root (shared storage — the same contract data files already
    // require); a retried task leaves only an unreferenced uuid sidecar,
    // which vacuum ages out like any other.
    val rootStr = root
    val cols = bloomCols
    import org.apache.spark.sql.Encoders
    val pairs = spark.read.parquet(outDir.toString)
      .groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .map { r =>
        val payload = BloomSkipping.encode(cols.zipWithIndex.map {
          case (c, i) => c -> r.getAs[Array[Byte]](i + 1)
        })
        val sidecar = BloomSkipping.sidecarRel()
        BloomSkipping.write(rootStr, sidecar, payload)
        (r.getString(0), sidecar)
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect()
    val perFile = pairs.map { case (fp, sc) => relPath(fp) -> sc }.toMap
    entries.map(f => perFile.get(f.path).map(s => f.copy(bloom = Some(s)))
      .getOrElse(f))
  }

  /** (rows, col -> (min, max)) from one file's footer; columns whose
    * physical/logical type is unsupported are absent from the map.
    */
  /** Top-level field names a parquet file physically stores (footer
    * read, no data I/O) — how REORG PURGE finds files still carrying a
    * dropped column.
    */
  private def footerFields(path: Path): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path.toUri), conf))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
      .map(_.getName).toSeq
    finally reader.close()
  }

  private def footerStats(
      path: Path, statsCols: Seq[String]): (Long, Map[String, (String, String)]) =
    GraftTable.footerStatsOfUri(
      path.toUri, statsCols, spark.sessionState.newHadoopConf())

  private[graft] def relPath(absUri: String): String = {
    // handles both "file:/abs" (Spark) and "file:///abs" (java.nio) forms
    val p = if (absUri.startsWith("file:")) new java.net.URI(absUri).getPath
      else absUri
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    p.stripPrefix(rootAbs).stripPrefix("/")
  }

  /** Atomic commit of a flat file list. Small lists stay inline in the
    * manifest (the plain, format-compatible shape); a list past the
    * chunk threshold is swept into chunk files first. Callers that hold
    * chunk refs from the base version use [[commitSet]] so untouched
    * chunks are carried by reference instead of re-listed.
    */
  private[graft] def commit(
      schema: StructType, files: Seq[ManifestFile], expectedBase: Option[Long],
      op: String = "write", partitionCols: Option[Seq[String]] = None,
      txn: Option[String] = None, txnApp: Option[String] = None,
      mappingOverride: Option[(Map[String, String], Seq[String])] = None): Long =
    commitSet(schema, FileSet(Nil, files), expectedBase, op, partitionCols, txn,
      txnApp, mappingOverride)

  /** Atomic commit: manifest to a temp file, then an atomic put-if-absent
    * into place; fails if another writer committed the same version first
    * (optimistic concurrency — caller may re-read and retry).
    *
    * `fs.kept` chunk refs are carried VERBATIM — zero read, zero write —
    * so commit cost is O(this commit's delta + manifest list), never
    * O(live files). The fresh delta stays inline while small and is
    * swept into new chunk files past the threshold.
    */
  private[graft] def commitSet(
      schema: StructType, fs: FileSet, expectedBase: Option[Long],
      op: String = "write", partitionCols: Option[Seq[String]] = None,
      txn: Option[String] = None, txnApp: Option[String] = None,
      mappingOverride: Option[(Map[String, String], Seq[String])] = None,
      rowTrackingSeed: Option[Long] = None): Long = {
    Files.createDirectories(manifestDir)
    // one base read shared by mapping derivation AND the feature
    // stickiness below (lazy: a mapping-overridden overwrite of a fresh
    // table never reads it at all)
    lazy val baseM = expectedBase.map(manifest)
    // column mapping rides every commit: carried forward from the base
    // (an overwrite replaces every file, so it resets to identity —
    // nothing physical-named survives), or set explicitly by the
    // metadata-only ops (rename/drop column, restore, clone). The
    // derivation is the same function the write funnel used, so the
    // manifest's mapping always matches what landed on disk.
    val (mapping, retiredCols) = mappingOverride.getOrElse {
      if (op == "overwrite") (Map.empty[String, String], Nil)
      else
        (GraftTable.derivedMapping(schema.fieldNames.toSeq, baseM),
          baseM.flatMap(_.retired).getOrElse(Nil))
    }
    // row-id allocation (tracking on ⇔ the base carries a high watermark,
    // or this commit seeds one — [[enableRowTracking]]): each fresh entry
    // WITHOUT a baseRowId gets the next `rows`-sized range; entries that
    // already carry one (untouched files re-listed by swap/restore) keep
    // it untouched. A lost commit race re-enters here with the winner as
    // base, so ranges can never collide across writers — the manifest
    // put-if-absent that decides the commit also decides the allocation.
    val baseHwm: Option[Long] =
      baseM.flatMap(_.rowIdHighWaterMark).orElse(rowTrackingSeed)
    // the row-id namespace is the engine's: the physical `_graft_*`
    // names are refused on EVERY commit (a stray materialized-id column
    // written pre-enablement would be read as a REAL id after enablement
    // — silent duplicate ids); the user-facing `_row_*` names only once
    // this table tracks rows. One choke point: every funnel's committed
    // schema passes through here.
    GraftTable.requireNoReservedRowIdCols(schema.fieldNames.toSeq, root,
      tracking = baseHwm.isDefined)
    val next = expectedBase.getOrElse(0L) + 1L
    val (freshAssigned, newHwm) = baseHwm match {
      case None => (fs.fresh, None)
      case Some(h0) =>
        var h = h0
        val assigned = fs.fresh.map { f =>
          val withId =
            if (f.baseRowId.isDefined) f
            else { val b = h; h += f.rows; f.copy(baseRowId = Some(b)) }
          // default row commit version: a fresh file's rows were last
          // modified by THIS commit (rewrites materialize copied rows'
          // older versions row-side); re-listed entries keep theirs
          if (withId.rcv.isDefined) withId else withId.copy(rcv = Some(next))
        }
        // pre-assigned ranges are ≤ the base hwm by invariant; max-guard
        // anyway so a restored old manifest can never LOWER the mark
        val preMax = fs.fresh.iterator
          .flatMap(f => f.baseRowId.map(_ + f.rows)).maxOption.getOrElse(0L)
        (assigned, Some(math.max(h, preMax)))
    }
    val (inline, newChunks) =
      if (freshAssigned.length <= manifestChunkFiles) (freshAssigned, Nil)
      else (Nil, writeChunks(freshAssigned, physicalOf(schema, mapping)))
    val chunkRefs = fs.kept ++ newChunks
    // reader features: sticky from the base, plus whatever THIS commit
    // introduces. Only correctness-critical aspects list here (bloom
    // sidecars are skippable hints, not features — ignoring them is
    // still correct, just slower).
    //
    // A LEGACY base (manifest written before readerFeatures existed, so
    // the field is absent) has nothing to be sticky FROM — but its kept
    // files may already carry DVs or a column mapping that this commit
    // merely rides along. Seed the set from the base itself in that
    // case (one O(files) scan, paid once on the commit that migrates
    // the table), or the first post-upgrade commit would write a
    // feature-less manifest and a DV-unaware reader would serve deleted
    // rows.
    val legacySeed: Seq[String] = baseM match {
      case Some(b) if b.readerFeatures.isEmpty =>
        (if (b.hasDv) Seq("deletionVectors") else Nil) ++
          (if (b.mapping.nonEmpty || b.retired.exists(_.nonEmpty))
            Seq("columnMapping") else Nil)
      case _ => Nil
    }
    val features = (
      baseM.flatMap(_.readerFeatures).getOrElse(Nil) ++ legacySeed ++
        (if (fs.fresh.exists(_.dv.isDefined)) Seq("deletionVectors") else Nil) ++
        (if (mapping.nonEmpty || retiredCols.nonEmpty) Seq("columnMapping") else Nil) ++
        (if (chunkRefs.nonEmpty) Seq("chunkedManifest") else Nil) ++
        (if (fs.fresh.exists(_.pv.isDefined)) Seq("hivePartitions") else Nil)
      ).distinct.sorted
    val target = manifestDir.resolve(f"manifest-v$next%020d.json")
    val json = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      Manifest(next, schema.toDDL, inline, Some(op),
        Some(java.time.Instant.now().toString), partitionCols, txn,
        chunks = if (chunkRefs.isEmpty) None else Some(chunkRefs),
        columnMapping = if (mapping.isEmpty) None else Some(mapping),
        retired = if (retiredCols.isEmpty) None else Some(retiredCols),
        readerFeatures = if (features.isEmpty) None else Some(features),
        rowIdHighWaterMark = newHwm))
    // the ONE atomic primitive the protocol needs: put-if-absent of the
    // next version's manifest. A lost race fails LOUDLY here (never a
    // silent replace) and the caller re-reads + retries/rebases. See
    // [[CommitStore.putIfAbsent]] for the local/object-store mapping.
    if (!store.putIfAbsent(target, json))
      throw new java.util.ConcurrentModificationException(
        s"version $next already committed at $root")
    // advisory pointer AFTER the decisive put: a crash in between
    // leaves it ≤1 version stale, which resolution's forward probe
    // covers; two finishers racing the replace can order it backward,
    // which the same probe heals
    store.replace(lastPtrPath, next.toString)
    // index the marker AFTER the commit rename: a crash in between
    // leaves the index ≤1 commit stale, which lookups cover with the
    // crash-window scan (see txnVersion/lastTxn)
    for (a <- txnApp; mk <- txn) writeTxnIndex(a, mk, next)
    // catalog CBO stats follow DML drift (manifest-ANALYZEd tables only;
    // O(files), zero data IO, failure-isolated — stats are hints)
    ManifestStats.maybeRefresh(spark, this, next)
    next
  }
}

object GraftTable {
  /** Type promotions the parquet reader serves natively from the OLD
    * physical encoding (verified against Spark 4.1's vectorized reader)
    * — the exact set [[GraftTable.widenColumn]] accepts. Everything here
    * is lossless: every old value is exactly representable in the new
    * type, and every new-typed literal either down-converts exactly for
    * stats comparison or provably exceeds the old range.
    */
  private[graft] def isWideningSafe(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    // integer digits a decimal needs to hold the full integral range
    def intDigits(d: DecimalType): Int = d.precision - d.scale
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && intDigits(t) >= intDigits(f) &&
          (t.precision > f.precision || t.scale > f.scale)
      case (ByteType, d: DecimalType) => intDigits(d) >= 3
      case (ShortType, d: DecimalType) => intDigits(d) >= 5
      case (IntegerType, d: DecimalType) => intDigits(d) >= 10
      case (LongType, d: DecimalType) => intDigits(d) >= 20
      case _ => false
    }
  }

  /** Footer-derived (rows, per-column min/max) for one parquet file.
    * STATIC and closure-safe: the distributed footer walk maps it over
    * an RDD of file URIs, so it must not capture the table or session.
    */
  private[graft] def footerStatsOfUri(
      uri: java.net.URI, statsCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)
      : (Long, Map[String, (String, String)]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(uri), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      def colRange(c: String): Option[(String, String)] = {
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == c)
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val anns = chunks.headOption.map(_.getPrimitiveType)
        val supported = anns.exists { pt =>
          val ann = pt.getLogicalTypeAnnotation
          val okPhysical = Set(INT32, INT64, FLOAT, DOUBLE, BINARY)
            .contains(pt.getPrimitiveTypeName)
          val okLogical =
            ann == null || ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
              ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
          okPhysical && okLogical
        }
        val stats = chunks.map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
        if (!supported || stats.isEmpty || stats.size != chunks.size) None
        else {
          def render(v: Any): String = v match {
            case b: Binary => b.toStringUsingUTF8
            case x => x.toString
          }
          val mins = stats.map(s => render(s.genericGetMin())).toSeq
          val maxs = stats.map(s => render(s.genericGetMax())).toSeq
          // numeric chunk stats render as numbers; strings compare as strings —
          // both match the merge's source-bound rendering for those types
          val isNumeric = stats.head.genericGetMin() match {
            case _: Binary => false
            case _ => true
          }
          def pick(vals: Seq[String], takeMin: Boolean): String =
            if (isNumeric) {
              val ds = vals.map(BigDecimal(_))
              (if (takeMin) ds.min else ds.max).bigDecimal.toPlainString
            } else {
              // aggregate row-group chunk bounds under the SAME unsigned
              // UTF-8 byte order the chunks themselves (and later pruning
              // comparisons) use — Java String ordering is UTF-16 and
              // understates maxima past the surrogate range, which would
              // make pruning unsound for e.g. emoji keys
              val byBytes = (a: String, b: String) => StatsPruning.cmp(None, a, b) <= 0
              if (takeMin) vals.reduce((a, b) => if (byBytes(a, b)) a else b)
              else vals.reduce((a, b) => if (byBytes(a, b)) b else a)
            }
          Some((pick(mins, takeMin = true), pick(maxs, takeMin = false)))
        }
      }
      (rows, statsCols.flatMap(c => colRange(c).map(c -> _)).toMap)
    } finally reader.close()
  }


  private val ManifestName = "manifest-v(\\d+)\\.json".r
  private val ChangesName = "v(\\d+)".r

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA` parity): turn an
    * existing plain-parquet directory into a graft table IN PLACE — no
    * row is read, copied or rewritten. Version 1's manifest is built
    * from the parquet FOOTERS: schema from Spark's footer reader,
    * per-file row counts + min/max ranges for `statsCols` from footer
    * metadata (one column-pruned Spark pass only when a stats column's
    * footer stats are unusable, e.g. timestamps). At 100 TB this is the
    * onboarding path: O(files) driver work versus an O(table) rewrite
    * through overwrite. Afterwards the directory is a full graft table —
    * time travel, DML, MERGE, maintenance, streaming — and the imported
    * files prune exactly like engine-written ones. Imported files live
    * outside `data/`, which vacuum never walks: superseded originals
    * are never deleted by the engine (they remain the user's files);
    * engine-written rewrites age out normally.
    */
  def convertParquet(
      spark: SparkSession, root: String,
      statsCols: Seq[String] = Nil,
      partitionedBy: Seq[(String, String)] = Nil): GraftTable = {
    val t = GraftTable(spark, root)
    require(!t.exists, s"CONVERT TO GRAFT: $root is already a graft table")
    val rootPath = Paths.get(root)
    require(Files.isDirectory(rootPath),
      s"CONVERT TO GRAFT: $root is not a directory")
    val walk = Files.walk(rootPath)
    val parts = try walk.iterator().asScala
      .filter { p =>
        Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          // skip metadata trees (_changes-style sidecars, hidden dirs)
          !rootPath.relativize(p).iterator().asScala
            .exists(seg => seg.toString.startsWith("_") ||
              seg.toString.startsWith("."))
      }
      .toSeq.sortBy(_.toString)
    finally walk.close()
    require(parts.nonEmpty, s"CONVERT TO GRAFT: no parquet files under $root")
    // Hive-style `name=value` directories carry the partition column in
    // the PATH, not the files; reading the leaf files directly would
    // silently drop that column from the converted schema. With an
    // explicit `PARTITIONED BY (name TYPE, ...)` — Delta's CONVERT
    // contract for exactly this layout — the values are derived from the
    // directory names into per-file [[ManifestFile.pv]] metadata and
    // min=max stats ranges (so partition predicates prune files), and
    // the scan serves them through its partitionSchema: an in-place,
    // metadata-only import, no data rewrite. Without the clause the
    // refusal stays loud.
    val hivePartSegs = parts.iterator
      .flatMap(p => rootPath.relativize(p).iterator().asScala.map(_.toString))
      .filter(seg => seg.contains("=") && !seg.endsWith(".parquet"))
      .toSet
    if (partitionedBy.isEmpty) {
      require(hivePartSegs.isEmpty,
        s"CONVERT TO GRAFT: $root contains Hive-style partition " +
          s"director${if (hivePartSegs.size == 1) "y" else "ies"} " +
          s"(e.g. ${hivePartSegs.head}); converting in place would drop " +
          "the partition column(s) from the schema. Declare them: " +
          "CONVERT TO GRAFT parquet.`" + root +
          "` PARTITIONED BY (name TYPE, ...)")
      val schema = spark.read.parquet(parts.map(_.toString): _*).schema
      statsCols.find(c => !schema.fieldNames.contains(c)).foreach(c =>
        throw new IllegalArgumentException(
          s"CONVERT TO GRAFT: stats column `$c` not in " +
            s"(${schema.fieldNames.mkString(", ")})"))
      val entries = t.manifestEntries(parts, statsCols)
      t.commit(schema, entries, expectedBase = None, op = "convert")
      return t
    }

    val declared = partitionedBy.map { case (n, ddl) =>
      n -> org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(ddl)
    }
    // every declared column must appear as a `name=value` directory on
    // every file's path; any UNDECLARED hive segment is a refusal (it
    // would silently drop a column exactly like the no-clause case)
    val segNames = hivePartSegs.map(_.takeWhile(_ != '=').toLowerCase)
    val undeclared = segNames.filterNot(n =>
      declared.exists(_._1.equalsIgnoreCase(n)))
    require(undeclared.isEmpty,
      s"CONVERT TO GRAFT: path partition column(s) " +
        s"${undeclared.mkString(", ")} under $root are not in the " +
        s"PARTITIONED BY clause (${declared.map(_._1).mkString(", ")})")
    val leafSchema = spark.read.parquet(parts.map(_.toString): _*).schema
    declared.find(d => leafSchema.fieldNames.exists(_.equalsIgnoreCase(d._1)))
      .foreach(d => throw new IllegalArgumentException(
        s"CONVERT TO GRAFT: PARTITIONED BY column `${d._1}` also exists " +
          "inside the parquet files — a directory-derived column must " +
          "not shadow a real one"))
    val pvByFile: Map[Path, Map[String, String]] = parts.map { p =>
      val segs = rootPath.relativize(p).iterator().asScala.map(_.toString)
        .filter(_.contains("=")).toSeq
        .map(s => s.takeWhile(_ != '=').toLowerCase ->
          unescapeHivePath(s.dropWhile(_ != '=').drop(1)))
        .toMap
      val pv = declared.map { case (n, dt) =>
        val v = segs.getOrElse(n.toLowerCase, throw new IllegalArgumentException(
          s"CONVERT TO GRAFT: file $p has no `$n=` path segment (every " +
            "file must live under the declared partition directories)"))
        if (v != HiveDefaultPartition && castPartitionValue(v, dt) == null)
          throw new IllegalArgumentException(
            s"CONVERT TO GRAFT: partition value `$v` of file $p does not " +
              s"parse as ${dt.sql} (column `$n`)")
        n -> v
      }.toMap
      p -> pv
    }.toMap
    statsCols.find(c => !leafSchema.fieldNames.contains(c)).foreach(c =>
      throw new IllegalArgumentException(
        s"CONVERT TO GRAFT: stats column `$c` not in " +
          s"(${leafSchema.fieldNames.mkString(", ")})"))
    // partition columns land LAST in the logical schema — the same order
    // Spark's own partition discovery produces, and what lets the scan's
    // dataSchema ++ partitionSchema equal the declared schema verbatim
    val schema = StructType(leafSchema.fields ++ declared.map { case (n, dt) =>
      org.apache.spark.sql.types.StructField(n, dt, nullable = true)
    })
    val entries = t.manifestEntries(parts, statsCols).map { e =>
      val pv = pvByFile(rootPath.resolve(e.path))
      // min=max ranges for non-null partition values: partition-predicate
      // pruning IS stats pruning, one mechanism — the NULL slice carries
      // no range (no range test can prove null absence)
      val pvRanges = pv.collect {
        case (c, v) if v != HiveDefaultPartition => c -> Seq(v, v)
      }
      e.copy(pv = Some(pv),
        ranges = Some(e.ranges.getOrElse(Map.empty) ++ pvRanges))
    }
    t.commit(schema, entries, expectedBase = None, op = "convert",
      partitionCols = Some(declared.map(_._1)))
    t
  }

  /** Reverse of Hive/Spark's `escapePathName`: `%XX` byte escapes back
    * to characters (partition directory names escape `/`, `:`, `%`, …).
    */
  private[graft] def unescapeHivePath(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Cast a stringified partition value to `dt` (non-ANSI: unparseable →
    * null, which convert-time validation turns into a loud error).
    */
  private[graft] def castPartitionValue(
      v: String, dt: org.apache.spark.sql.types.DataType): Any =
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType),
      dt, Some("UTC"), org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
      .eval(null)

  /** Reader features this build understands — the acceptance set for
    * [[Manifest.readerFeatures]]. Grow-only: removing an entry would
    * strand every table that ever used the feature.
    */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "chunkedManifest",
      "hivePartitions")

  /** Hive's directory name for a NULL partition value — the encoding
    * [[ManifestFile.pv]] stores for the NULL slice.
    */
  val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Table property declaring the stats-column contract before any file
    * exists (schema-first CREATE ... STATS (...)); file-derived stats
    * win once files carry them. See [[GraftTable.declaredStatsCols]].
    */
  val StatsProperty = "graft.statsColumns"

  /** Property-key prefix for generated columns: `graft.generated.<col>`
    * holds the column's SQL generation expression (Delta's
    * `delta.generationExpression` analogue; property-keyed so SHOW
    * CREATE TABLE round-trips it through TBLPROPERTIES verbatim).
    */
  val GeneratedPrefix = "graft.generated."

  /** Property-key prefix for identity columns: `graft.identity.<col>`
    * holds `start=<n>;step=<n>;mode=always|default`.
    */
  val IdentityPrefix = "graft.identity."

  /** Property-key prefix for column DEFAULTs: `graft.default.<col>`
    * holds a ref-free SQL expression materialized by INSERTs that omit
    * the column.
    */
  val DefaultPrefix = "graft.default."

  /** SQL-surface switch for row tracking (Delta `delta.enableRowTracking`
    * analogue): `SET TBLPROPERTIES ('graft.rowTracking' = 'true')` runs
    * [[GraftTable.enableRowTracking]]. Not a stored property — the state
    * lives in the manifest's high watermark.
    */
  val RowTrackingProperty = "graft.rowTracking"

  private[graft] val IdallocName = """r-(\d+)""".r

  /** Identity config: `byDefault = false` is ALWAYS mode (providing
    * values refused); `true` lets provided non-null values through and
    * bumps the allocation floor past their extreme.
    */
  case class IdentityConfig(start: Long, step: Long, byDefault: Boolean)

  private[graft] def parseIdentityConfig(v: String): IdentityConfig = {
    val kv = v.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { s =>
      val i = s.indexOf('=')
      require(i > 0, s"malformed identity config entry '$s' in '$v'")
      s.take(i).trim.toLowerCase -> s.drop(i + 1).trim
    }.toMap
    IdentityConfig(
      start = kv.get("start").map(_.toLong).getOrElse(1L),
      step = kv.get("step").map(_.toLong).getOrElse(1L),
      byDefault = kv.get("mode").exists(_.equalsIgnoreCase("default")))
  }

  /** Table property routing DELETE/UPDATE to merge-on-read DVs. */
  val DvProperty = "graft.deletionVectors"

  /** Table properties for post-write auto-compaction (opt-in). */
  val AutoCompactProperty = "graft.autoCompact"
  val AutoCompactTargetProperty = "graft.autoCompact.targetFileRows"
  val AutoCompactMinFilesProperty = "graft.autoCompact.minFiles"

  /** Table property: comma-separated columns to bloom-index at write
    * time (every write funnel maintains sidecars automatically).
    */
  val BloomProperty = "graft.bloomFilterColumns"

  private[graft] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def apply(spark: SparkSession, root: String): GraftTable = new GraftTable(spark, root)

  /** Construct against a custom [[CommitStore]] (fault-injection specs,
    * future object-store backends).
    */
  def apply(spark: SparkSession, root: String, store: CommitStore): GraftTable =
    new GraftTable(spark, root, store)

  /** Reject writes that would poison change-feed reads: a batch column
    * named `_change_type` would be trusted as CDF metadata (the
    * null⇒insert coalesce keeps non-null values), mislabeling rows for
    * every downstream consumer — or collide outright with the merge
    * diff's own classifier column.
    */
  private[graft] def requireNoReservedCdfCols(cols: Seq[String]): Unit = {
    val reserved = cols.filter(c => c == "_change_type" || c == "_commit_version")
    require(reserved.isEmpty,
      s"columns ${reserved.mkString(", ")} are reserved for change-feed " +
        "reads; drop them before publishing this batch to the feed")
  }

  /** Column mapping a commit over `fields` must carry, derived from the
    * base manifest (non-identity entries only). Existing entries carry
    * forward for fields still present; a NEW field whose name collides
    * with a physical name already used by the base — a live physical of
    * another column, or a RETIRED (dropped) physical still present in
    * old files — gets a fresh deterministic physical name, so the new
    * column can never read the old column's stored values. Deterministic
    * in (base, field name): the write funnel and the commit derive the
    * same assignment independently.
    */
  def derivedMapping(
      fields: Seq[String], base: Option[Manifest]): Map[String, String] = {
    val b = base match {
      case Some(m) if m.mapping.nonEmpty || m.retired.exists(_.nonEmpty) => m
      case _ => return Map.empty // identity table: zero-cost common case
    }
    val prev = b.mapping
    val baseLogical = StructType.fromDDL(b.schema).fieldNames.toSet
    // every physical name the base's files may contain a column under
    val basePhysicals: Set[String] =
      baseLogical.map(b.physicalOf) ++ b.retired.getOrElse(Nil)
    // fresh names must also dodge sibling new columns in this commit,
    // and each other
    var taken = basePhysicals ++ fields
    fields.flatMap { f =>
      prev.get(f) match {
        case Some(p) => Some(f -> p)
        case None if !baseLogical.contains(f) && basePhysicals.contains(f) =>
          // new logical column colliding with a used physical name
          val fresh = Iterator.from(2).map(i => s"${f}_$i")
            .find(c => !taken.contains(c)).get
          taken += fresh
          Some(f -> fresh)
        case None => None // identity
      }
    }.toMap
  }

  /** Physical name of the materialized row-id column REWRITTEN files
    * carry (Delta's `_metadata.row_id` materialization parity). Outside
    * every logical schema: explicit-schema readers never see it; the
    * row-id read funnel coalesces it over `baseRowId + position`. Never
    * column-mapped (it is already a physical name).
    */
  private[graft] val RowIdCol = "_graft_row_id"

  /** User-facing name [[GraftTable.snapshotWithRowIds]] serves ids under. */
  val RowIdOut = "_row_id"

  /** Physical name of the materialized row-commit-version column —
    * rewrites preserve COPIED rows' last-modified versions under it;
    * NULL (updated/inserted rows) inherits the file's default
    * ([[ManifestFile.rcv]]).
    */
  private[graft] val RowCommitCol = "_graft_row_commit"

  /** User-facing name for each row's last-modified commit version. */
  val RowCommitOut = "_row_commit_version"

  /** `schema` + the materialized row-tracking fields (nullable longs —
    * files written by plain appends don't carry them and read NULL).
    */
  private[graft] def plusRowId(schema: StructType, on: Boolean): StructType =
    if (!on) schema
    else StructType(schema.fields :+ StructField(RowIdCol, LongType) :+
      StructField(RowCommitCol, LongType))

  /** Refuse user schemas claiming the row-tracking namespace. Two
    * tiers: the PHYSICAL `_graft_*` names are reserved always — a stray
    * materialized-id column written before enablement would be served as
    * a REAL id after enablement (silent duplicates). The user-facing
    * `_row_id`/`_row_commit_version` names only collide with the id READ
    * surface, so they are refused only once the table tracks rows
    * (`tracking` — which also makes enableRowTracking refuse on a schema
    * already carrying them): an existing/converted table with a benign
    * `_row_id` column keeps committing until someone turns tracking on.
    */
  private[graft] def requireNoReservedRowIdCols(
      cols: Seq[String], root: String, tracking: Boolean): Unit = {
    cols.find(c => c.equalsIgnoreCase(RowIdCol) || c.equalsIgnoreCase(RowCommitCol))
      .foreach(c => throw new IllegalArgumentException(
        s"column name `$c` is reserved for row tracking at $root — " +
          s"rename it first (ALTER TABLE ... RENAME COLUMN `$c` TO ...)"))
    if (tracking)
      cols.find(c => c.equalsIgnoreCase(RowIdOut) || c.equalsIgnoreCase(RowCommitOut))
        .foreach(c => throw new IllegalArgumentException(
          s"column name `$c` collides with the row-tracking read surface " +
            s"at $root (ids are served via snapshotWithRowIds) — rename it " +
            s"first (ALTER TABLE ... RENAME COLUMN `$c` TO ...), or leave " +
            "row tracking off for this table"))
  }

  /** Rename a logical-named frame to physical names (identity mapping →
    * the frame itself, no Project in the plan).
    */
  private[graft] def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c =>
      col(s"`$c`").as(mapping.getOrElse(c, c))).toIndexedSeq: _*)

  /** Keep a pv table's partition columns LAST after schema evolution —
    * the scan contract is `dataSchema ++ partitionSchema == logical
    * schema`, and the column-map rule, readers and SELECT * all assume
    * the logical order matches what the relation serves. No-op for
    * non-pv tables (empty `pvCols`).
    */
  private[graft] def pvOrdered(schema: StructType, pvCols: Seq[String]): StructType =
    if (pvCols.isEmpty) schema
    else {
      val (data, pv) = schema.fields.partition(f =>
        !pvCols.exists(_.equalsIgnoreCase(f.name)))
      StructType(data ++ pv)
    }

  /** Union of two schemas by name (SURVEY §1.3 — explicit schema
    * evolution: target ∪ source, new columns nullable).
    */
  def unionSchema(a: StructType, b: StructType): StructType = {
    val existing = a.fieldNames.toSet
    StructType(a.fields.map(_.copy(nullable = true)) ++
      b.fields.filterNot(f => existing.contains(f.name)).map(_.copy(nullable = true)))
  }
}
