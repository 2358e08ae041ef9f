package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{
  BaseRelation, CreatableRelationProvider, DataSourceRegister,
  RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.types._

/** Typed comparisons over the manifest's STRINGIFIED file stats, shared
  * by merge-time file pruning and catalog-read pruning so both sides
  * re-type the strings identically.
  */
object StatsPruning {

  /** Compare two stringified stat values under the column's type: numeric
    * types as numbers, everything else as UNSIGNED UTF-8 BYTES — the
    * order parquet footer min/max and Spark's UTF8String min/max both
    * use. (Java String.compareTo orders by UTF-16 code units, which
    * disagrees with UTF-8 bytes for supplementary characters vs
    * [U+E000, U+FFFF] — a file whose max is an emoji would be wrongly
    * pruned for a query above U+E000.) ISO timestamp/date renderings
    * order chronologically under byte order too. An unparseable numeric
    * returns 0 ("indistinguishable"), which makes every <=/>= test
    * pass — pruning degrades to keeping the file, never to dropping a
    * live one.
    */
  def cmp(dt: Option[DataType], a: String, b: String): Int = dt match {
    case Some(_: ByteType | _: ShortType | _: IntegerType | _: LongType) =>
      try java.lang.Long.compare(a.toLong, b.toLong)
      catch { case _: NumberFormatException => 0 }
    case Some(_: FloatType | _: DoubleType | _: DecimalType) =>
      try java.lang.Double.compare(a.toDouble, b.toDouble)
      catch { case _: NumberFormatException => 0 }
    case _ =>
      val (ab, bb) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var i = 0
      val n = math.min(ab.length, bb.length)
      while (i < n) {
        val d = (ab(i) & 0xFF) - (bb(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      ab.length - bb.length
  }

  /** Range-overlap test used by merge pruning: file [fLo,fHi] vs source
    * batch [sLo,sHi].
    */
  def rangesOverlap(
      dt: Option[DataType], fLo: String, fHi: String, sLo: String, sHi: String): Boolean =
    cmp(dt, fLo, sHi) <= 0 && cmp(dt, sLo, fHi) <= 0

  /** Per-file stats ranges, preferring the multi-column field and falling
    * back to the legacy single-column fields.
    */
  def fileRanges(f: ManifestFile): Map[String, (String, String)] = {
    val multi = f.ranges.getOrElse(Map.empty).collect {
      case (c, Seq(lo, hi)) => c -> (lo, hi)
    }
    if (multi.nonEmpty) multi
    else (f.statsCol, f.min, f.max) match {
      case (Some(c), Some(lo), Some(hi)) => Map(c -> (lo, hi))
      case _ => Map.empty
    }
  }

  /** Chunk-level aggregate ranges (min-of-mins / max-of-maxes across the
    * chunk's member files) — lets planning drop a whole chunk without
    * opening it, via the same [[fileMayMatch]] test files use.
    */
  def chunkRanges(ref: ChunkRef): Map[String, (String, String)] =
    ref.ranges.getOrElse(Map.empty).collect {
      case (c, Seq(lo, hi)) => c -> (lo, hi)
    }

  /** One column's conjunctive query bounds (absent side = unbounded). */
  case class Bounds(lo: Option[String] = None, hi: Option[String] = None)

  /** Extract per-column bounds from pushed-down data filters. Only
    * predicate shapes whose literal rendering matches the manifest's
    * stringified stats participate (integral / floating / decimal /
    * string literals on a bare column); anything else contributes no
    * bound — at worst unpruned, never unsound. The filter Seq is already
    * conjunctive, so bounds tighten across predicates.
    */
  def queryBounds(
      filters: Seq[Expression], schema: StructType): Map[String, Bounds] = {
    def dtOf(c: String) = schema.fields.find(_.name == c).map(_.dataType)
    // A literal participates only when its type FAMILY agrees with the
    // column's. A cross-family comparison (string column vs numeric
    // literal, timestamp column vs string literal) is coerced by Spark at
    // runtime on the COLUMN side, so a bound rendered under the column's
    // stats order would wrongly prune files whose rows match — e.g. a
    // string column with stats max "9" byte-compares below the literal
    // "10" even though cast('9' as int) < 10 matches. Post-analysis
    // filters always agree (coercion inserts Casts, which block `attr`);
    // this gate keeps the unanalyzed DELETE/UPDATE path sound too.
    def render(colDt: Option[DataType], l: Literal): Option[String] =
      (colDt, l.dataType) match {
        case (Some(_: NumericType), _: NumericType) =>
          Option(l.value).map(_.toString)
        case (Some(_: StringType), _: StringType) =>
          Option(l.value).map(_.toString)
        case _ => None
      }
    def attr(e: Expression): Option[String] = e match {
      case a: AttributeReference if schema.fieldNames.contains(a.name) => Some(a.name)
      case _ => None
    }
    val acc = scala.collection.mutable.Map[String, Bounds]()
    def lower(c: String, v: String): Unit = {
      val b = acc.getOrElse(c, Bounds())
      acc(c) = b.copy(lo = Some(b.lo.filter(cur => cmp(dtOf(c), cur, v) >= 0).getOrElse(v)))
    }
    def upper(c: String, v: String): Unit = {
      val b = acc.getOrElse(c, Bounds())
      acc(c) = b.copy(hi = Some(b.hi.filter(cur => cmp(dtOf(c), cur, v) <= 0).getOrElse(v)))
    }
    filters.foreach {
      case EqualTo(e, l: Literal) =>
        for (c <- attr(e); v <- render(dtOf(c), l)) { lower(c, v); upper(c, v) }
      case EqualTo(l: Literal, e) =>
        for (c <- attr(e); v <- render(dtOf(c), l)) { lower(c, v); upper(c, v) }
      case GreaterThan(e, l: Literal) => for (c <- attr(e); v <- render(dtOf(c), l)) lower(c, v)
      case GreaterThanOrEqual(e, l: Literal) => for (c <- attr(e); v <- render(dtOf(c), l)) lower(c, v)
      case LessThan(e, l: Literal) => for (c <- attr(e); v <- render(dtOf(c), l)) upper(c, v)
      case LessThanOrEqual(e, l: Literal) => for (c <- attr(e); v <- render(dtOf(c), l)) upper(c, v)
      case GreaterThan(l: Literal, e) => for (c <- attr(e); v <- render(dtOf(c), l)) upper(c, v)
      case GreaterThanOrEqual(l: Literal, e) => for (c <- attr(e); v <- render(dtOf(c), l)) upper(c, v)
      case LessThan(l: Literal, e) => for (c <- attr(e); v <- render(dtOf(c), l)) lower(c, v)
      case LessThanOrEqual(l: Literal, e) => for (c <- attr(e); v <- render(dtOf(c), l)) lower(c, v)
      // null-safe equality against a NON-null literal bounds exactly
      // like `=` (the shape INSERT OVERWRITE PARTITION slice predicates
      // use); a NULL literal contributes no bound — nulls sit outside
      // min/max ranges, so no range test can prove their absence
      case EqualNullSafe(e, l: Literal) if l.value != null =>
        for (c <- attr(e); v <- render(dtOf(c), l)) { lower(c, v); upper(c, v) }
      case EqualNullSafe(l: Literal, e) if l.value != null =>
        for (c <- attr(e); v <- render(dtOf(c), l)) { lower(c, v); upper(c, v) }
      case In(e, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        for (c <- attr(e)) {
          val rendered = vs.map(v => render(dtOf(c), v.asInstanceOf[Literal]))
          if (rendered.forall(_.isDefined)) {
            val vals = rendered.flatten
            lower(c, vals.reduce((a, b) => if (cmp(dtOf(c), a, b) <= 0) a else b))
            upper(c, vals.reduce((a, b) => if (cmp(dtOf(c), a, b) >= 0) a else b))
          }
        }
      case _ => () // non-prunable shape — still evaluated at scan time
    }
    acc.toMap
  }

  /** A file survives iff every bounded column's query range overlaps the
    * file's stats range (files without stats for a column always survive).
    */
  def fileMayMatch(
      schema: StructType, fRanges: Map[String, (String, String)],
      bounds: Map[String, Bounds]): Boolean =
    bounds.forall { case (c, b) =>
      fRanges.get(c).forall { case (fLo, fHi) =>
        val dt = schema.fields.find(_.name == c).map(_.dataType)
        b.lo.forall(q => cmp(dt, q, fHi) <= 0) &&
          b.hi.forall(q => cmp(dt, q, fLo) >= 0)
      }
    }
}

/** Manifest-backed [[FileIndex]]: the catalog-read analogue of merge's
  * file pruning, and the piece that makes a registered table
  * auto-advancing — `listFiles` re-resolves the LATEST committed version
  * on every query execution, so a table registered once keeps serving new
  * loads forever (reference parity: Delta's `CREATE TABLE … USING DELTA
  * LOCATION`, /root/reference/COPY_MSQL_TO_SILVER.py:195-196, where
  * downstream SQL always sees the current version without re-DDL).
  *
  * No directory listing ever happens: the manifest IS the file listing
  * (with per-file size and row count captured at write time), so planning
  * cost is O(one manifest read) regardless of file count, and pushed-down
  * query predicates prune files against manifest min/max stats before the
  * scan starts.
  */
class GraftFileIndex(
    spark: SparkSession, val tableRoot: String,
    val pinnedVersion: Option[Long] = None) extends FileIndex {
  private val table = new GraftTable(spark, tableRoot)
  @volatile private var cache: Option[(Long, Manifest)] = None

  /** The manifest this index currently serves (pinned, or latest) —
    * what [[GraftDvMaskRule]] inspects for deletion vectors.
    */
  private[graft] def currentManifest: Manifest = current()

  private def current(): Manifest = {
    // a pinned index (versionAsOf/timestampAsOf time travel) never
    // follows new commits; the manifest is immutable, so the cache is
    // permanent for it
    val v = pinnedVersion.orElse(table.latestVersion).getOrElse(
      throw new IllegalStateException(
        s"graft table at $tableRoot has no committed version"))
    cache match {
      case Some((cv, m)) if cv == v => m
      case _ =>
        val m = table.manifest(v)
        cache = Some((v, m)); m
    }
  }

  /** The relation's data schema: the manifest's PHYSICAL schema — the
    * names the parquet files spell, which is what the vectorized reader
    * must request. When the table carries a column mapping,
    * [[GraftColumnMapRule]] aliases the relation back to logical names
    * for every consumer; identity tables (no renames ever) see the
    * logical schema directly and plan exactly as before.
    *
    * A Hive-import manifest (CONVERT ... PARTITIONED BY) excludes the
    * path-derived partition columns here — they are not IN the files;
    * [[partitionSchema]] serves them and Spark's reader appends their
    * per-directory constants, so dataSchema ++ partitionSchema equals
    * the declared logical schema (partition columns last).
    */
  def currentSchema: StructType = {
    val m = current()
    val ps = partitionSchema
    if (ps.isEmpty) m.physicalSchema
    else StructType(m.physicalSchema.fields.filterNot(f =>
      ps.fieldNames.exists(_.equalsIgnoreCase(f.name))))
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(tableRoot))

  override def partitionSchema: StructType = {
    val m = current()
    if (!m.hasPv) new StructType()
    else {
      val logical = StructType.fromDDL(m.schema)
      StructType(m.partitionCols.getOrElse(Nil).flatMap(c =>
        logical.fields.find(_.name.equalsIgnoreCase(c))))
    }
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val m = current()
    // pushed-down filters reference the relation's output = PHYSICAL
    // names (the column-map rule's Project rewrote user predicates on
    // the way down), and file/chunk stats are keyed physically — one
    // consistent namespace, no translation at plan time
    val schema = m.physicalSchema
    // partition-column predicates (pv tables) land in partitionFilters;
    // their manifest ranges are min=max per file, so feeding BOTH filter
    // sets to the range pruner gives exact per-value chunk+file pruning
    // through the one existing mechanism
    val bounds = StatsPruning.queryBounds(dataFilters ++ partitionFilters, schema)
    // two-level pruning on chunked tables: a chunk whose AGGREGATE range
    // cannot match is dropped without ever being opened — planning reads
    // O(matching chunks), not O(live files), exactly like merge pruning
    // reads O(touched files)
    val chunkFiles = m.chunks.getOrElse(Nil).iterator
      .filter(ref =>
        StatsPruning.fileMayMatch(schema, StatsPruning.chunkRanges(ref), bounds))
      .flatMap(table.readChunk)
    // bloom refinement AFTER range pruning: point-lookup hashes probe
    // only range-surviving files' sidecars — O(candidates), and on a
    // scattered-key table this is where a `k = ?` query drops from
    // "every file overlaps" to the handful that might hold k
    val hashes = BloomSkipping.equalityHashes(dataFilters, schema)
    val live = (m.files.iterator ++ chunkFiles)
      .filter(f =>
        StatsPruning.fileMayMatch(schema, StatsPruning.fileRanges(f), bounds) &&
          BloomSkipping.fileMayMatch(tableRoot, f, hashes)).toSeq
    val ps = partitionSchema
    if (ps.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, live.map(toStatus).toArray))
    else listPvDirectories(ps, partitionFilters, live)
  }

  /** Hive-import listing: group files by their path-derived partition
    * tuple, evaluate the pushed partition filters EXACTLY against each
    * tuple (range pruning above already dropped most), and serve one
    * [[PartitionDirectory]] per surviving tuple — Spark's reader then
    * appends the constants to every row, zero per-row cost, native
    * vectorized scan untouched.
    */
  private def listPvDirectories(
      ps: StructType, partitionFilters: Seq[Expression],
      live: Seq[ManifestFile]): Seq[PartitionDirectory] = {
    val groups = live.groupBy(f =>
      ps.fields.map(p => f.pv.flatMap(_.collectFirst {
        case (k, v) if k.equalsIgnoreCase(p.name) => v
      }).getOrElse(throw new IllegalStateException(
        s"graft table $tableRoot: file ${f.path} has no partition value " +
          s"for `${p.name}` — every write funnel stamps pv tuples on a " +
          "Hive-import table, so this manifest was hand-edited or " +
          "written by an older engine; restore a consistent version"))).toSeq)
    val rows = groups.map { case (tuple, files) =>
      val values = ps.fields.zip(tuple).map { case (p, v) =>
        if (v == GraftTable.HiveDefaultPartition) null
        else GraftTable.castPartitionValue(v, p.dataType)
      }
      (InternalRow.fromSeq(values.toIndexedSeq), files)
    }.toSeq
    val kept =
      if (partitionFilters.isEmpty) rows
      else {
        val bound = org.apache.spark.sql.catalyst.expressions.Predicate
          .create(partitionFilters.reduce(
            org.apache.spark.sql.catalyst.expressions.And(_, _))
            .transform {
              case a: AttributeReference =>
                val i = ps.fieldIndex(a.name)
                org.apache.spark.sql.catalyst.expressions.BoundReference(
                  i, ps.fields(i).dataType, nullable = true)
            })
        rows.filter { case (row, _) => bound.eval(row) }
      }
    kept.map { case (row, files) =>
      PartitionDirectory(row, files.map(toStatus).toArray)
    }
  }

  private def toStatus(f: ManifestFile): FileStatus = {
    val abs = Paths.get(tableRoot, f.path)
    // size recorded in the manifest at write time; legacy manifests
    // (written before the field existed) fall back to one stat call
    val len = f.bytes.getOrElse(
      try Files.size(abs) catch { case _: java.io.IOException => 0L })
    new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new HPath(abs.toUri))
  }

  override def inputFiles: Array[String] =
    table.filesOf(current())
      .map(f => Paths.get(tableRoot, f.path).toUri.toString).toArray

  override def refresh(): Unit = { cache = None }

  override def sizeInBytes: Long = {
    val m = current()
    // chunk refs carry byte totals — no chunk is opened for sizing
    m.files.map(f => f.bytes.getOrElse(
      try Files.size(Paths.get(tableRoot, f.path))
      catch { case _: java.io.IOException => 0L })).sum +
      m.chunks.getOrElse(Nil).flatMap(_.bytes).sum
  }
}

/** `USING graft` datasource: resolves a [[GraftTable]] root to a
  * [[HadoopFsRelation]] over a [[GraftFileIndex]], riding Spark's native
  * vectorized parquet reader, filter pushdown and whole-stage codegen —
  * only the file LISTING is replaced by the manifest. Registered tables
  * (`GraftCatalog.register`) resolve through this class, as does
  * `spark.read.format("graft").load(root)`.
  */
class GraftDataSource
    extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  /** Streaming write path: `df.writeStream.format("graft")` — see
    * [[GraftSink]] for the mode options and the exactly-once contract.
    */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new GraftSink(
      sqlContext.sparkSession, rootFrom(parameters), parameters, outputMode)

  /** Streaming read path: `spark.readStream.format("graft").load(root)`
    * — initial snapshot + per-commit tail; see [[GraftStreamSource]].
    */
  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft", schema.getOrElse {
      val root = rootFrom(parameters)
      val base = StructType.fromDDL(GraftTable(sqlContext.sparkSession, root)
        .latestManifest.getOrElse(throw new IllegalStateException(
          s"graft streaming source requires a committed table at $root")).schema)
      def boolOpt(name: String): Boolean = parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase(name) => v
      }.exists(_.equalsIgnoreCase("true"))
      val cdf = boolOpt("readChangeFeed")
      val rid = boolOpt("withRowIds")
      val withCdf =
        if (cdf) StructType(base.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_commit_version", LongType)))
        else base
      // must mirror GraftStreamSource.schema exactly — the engine
      // asserts every batch against THIS declaration
      if (!rid) withCdf
      else if (cdf) StructType(withCdf.fields :+
        StructField(GraftTable.RowIdOut, LongType))
      else StructType(withCdf.fields ++ Seq(
        StructField(GraftTable.RowIdOut, LongType),
        StructField(GraftTable.RowCommitOut, LongType)))
    })

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(
      sqlContext.sparkSession, rootFrom(parameters), parameters, metadataPath)

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation =
    build(sqlContext.sparkSession, parameters, None)

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String],
      schema: StructType): BaseRelation =
    build(sqlContext.sparkSession, parameters, Some(schema))

  /** Write path: `df.write.format("graft").save(root)` and SQL
    * `CREATE TABLE ... USING graft LOCATION '<root>' AS SELECT ...`
    * (CTAS). SaveModes map onto the table's committed operations —
    * Overwrite/first-write → versioned overwrite, Append → versioned
    * append — so a DataFrameWriter user gets the same manifest commits,
    * stats and time travel as the Scala API. `option("stats",
    * "c1,c2")` selects the per-file min/max stats columns; without it
    * the write takes the table's [[GraftTable.statsContract]].
    */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootFrom(parameters)
    val t = GraftTable(spark, root)
    val stats = parameters.get("stats")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    def write(): Unit = t.overwriteStats(data, stats)
    mode match {
      case SaveMode.Overwrite => write()
      case SaveMode.Append =>
        if (!t.exists) write()
        else t.appendStats(data, stats)
      case SaveMode.ErrorIfExists =>
        if (t.exists) throw new IllegalStateException(
          s"graft table at $root already exists (SaveMode.ErrorIfExists)")
        else write()
      case SaveMode.Ignore => if (!t.exists) write()
    }
    build(spark, parameters, None)
  }

  private def parseTimestampCut(ts: String): java.time.Instant =
    GraftDataSource.parseTimestampCut(ts)

  private def rootFrom(parameters: Map[String, String]): String = {
    val raw = parameters.get("path").orElse(parameters.get("location"))
      .getOrElse(throw new IllegalArgumentException(
        "graft datasource requires a path (LOCATION '<table root>')"))
    // catalog-stored locations arrive as file: URIs; manifests use plain paths
    if (raw.startsWith("file:")) new java.net.URI(raw).getPath else raw
  }

  private def build(
      spark: SparkSession, parameters: Map[String, String],
      schema: Option[StructType]): BaseRelation = {
    val root = rootFrom(parameters)
    // time travel through the reader API (Delta parity:
    // spark.read.format("graft").option("versionAsOf", 3) /
    // .option("timestampAsOf", "2026-08-13 12:00:00")): pin the index to
    // that version's manifest instead of following the latest commit
    // versionAsOf accepts a numeric version OR a tag name (Iceberg-style
    // named ref): SELECT ... VERSION AS OF 'train-v1'
    val pinned = parameters.get("versionAsOf")
      .map(v => new GraftTable(spark, root).resolveVersionRef(v))
      .orElse(parameters.get("timestampAsOf").map { ts =>
        new GraftTable(spark, root).versionAtOrBefore(parseTimestampCut(ts))
      })
    val index = new GraftFileIndex(spark, root, pinned)
    // dataSchema ALWAYS comes from the current manifest — the manifest is
    // the single source of truth for schema exactly as it is for data.
    // The catalog's stored schema (passed in when re-resolving a
    // registered table) is deliberately ignored: honoring it would pin
    // registration-time columns, and a schema-evolving merge landing
    // after registration would serve stale columns to every spark.sql
    // reader until a re-DDL. Re-resolution (a fresh session, or
    // spark.catalog.refreshTable in this one) now picks evolved columns
    // up with no DDL at all — Delta-location parity. (Spark trusts the
    // SchemaRelationProvider branch to apply the schema it was handed,
    // so returning the evolved one is legal.)
    // reader options ride into the relation so plan rules can see them —
    // GraftDvMaskRule's recursion marker (`graft.dvMasked`) in particular
    HadoopFsRelation(
      index, index.partitionSchema, index.currentSchema, None,
      new ParquetFileFormat, parameters)(spark)
  }
}

object GraftDataSource {
  /** timestampAsOf / startingTimestamp cut → Instant. Accepts
    * date-only, space or 'T' separator, optional seconds/fraction,
    * optional trailing Z; read as UTC (committedAt is ISO-8601 UTC).
    * Parsed — never prefix-compared — so a commit later WITHIN the
    * cut's trailing unit (12:00:00.500 vs cut 12:00:00) is correctly
    * excluded from a pinned version.
    */
  private[sources] def parseTimestampCut(ts: String): java.time.Instant = {
    val s = ts.trim.replace(" ", "T").stripSuffix("Z")
    val ldt =
      if (s.contains("T")) java.time.LocalDateTime.parse(s)
      else java.time.LocalDate.parse(s).atStartOfDay()
    ldt.toInstant(java.time.ZoneOffset.UTC)
  }
}
