package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, Literal, Not}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.sources.{GraftTable, Manifest, ManifestFile, StatsPruning}

/** Ordered MERGE clause list (standard SQL / Delta semantics): per row
  * class (matched / not-matched / not-matched-by-source) the FIRST
  * clause whose condition holds applies; no applying clause means the
  * row is kept unchanged (matched, by-source) or dropped (not-matched).
  *
  * Conditions and assignment values are UNRESOLVED Catalyst trees —
  * they resolve at execute time against the merge's own full-outer
  * join, where `targetQuals`-qualified refs read the target PRE-image
  * and `sourceQuals`-qualified refs read the source row. Unqualified
  * refs resolve by schema membership and error loudly when ambiguous.
  */
case class MergeClauses(
    matched: Seq[MergeClauses.Clause] = Nil,
    notMatched: Seq[MergeClauses.Clause] = Nil,
    notMatchedBySource: Seq[MergeClauses.Clause] = Nil,
    targetQuals: Set[String] = Set("t", "target"),
    sourceQuals: Set[String] = Set("s", "source"),
    // ON-condition conjuncts BEYOND the same-named key equalities
    // (`ON t.k = s.k AND t.region = 'US'`): the join still runs on the
    // keys (pruning, broadcast sizing and file conflicts stay key-
    // driven); the residual then reclassifies key-joined pairs that
    // fail it as unmatched on BOTH sides — standard SQL MERGE ON
    // semantics (a NULL residual verdict is "not matched", like WHERE)
    onResidual: Option[Expression] = None) {
  def nonEmpty: Boolean =
    matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty ||
      onResidual.nonEmpty
}

object MergeClauses {
  sealed trait Action
  /** UPDATE SET * — every source column overwrites; a target-only
    * column keeps its pre-image (SQL/Delta semantics, and the invariant
    * identity columns depend on).
    */
  case object UpdateAll extends Action
  case class UpdateSet(assigns: Seq[(String, Expression)]) extends Action
  case object Delete extends Action
  case object InsertAll extends Action
  /** INSERT (cols) VALUES (exprs) — unassigned columns land NULL. */
  case class InsertValues(assigns: Seq[(String, Expression)]) extends Action

  case class Clause(cond: Option[Expression], action: Action)
}

/** MERGE INTO for [[GraftTable]] — the engine's flagship operator,
  * reproducing the reference's upsert
  * (/root/reference/COPY_MSQL_TO_SILVER.py:200-209:
  * `merge(source, pkCond).whenMatchedUpdateAll().whenNotMatchedInsertAll()`)
  * plus the op-aware delete mode the reference lacks (SURVEY §2.9: CT
  * deletes arrive as 'D' rows and the reference upserts them as nulls;
  * `whenMatchedDelete` is the corrected semantics).
  *
  * Execution shape (designed for 100 TB):
  *  1. **File pruning** — only target files whose stats-column [min,max]
  *     intersects the source batch's key range are read and rewritten;
  *     everything else is carried into the new version untouched. An
  *     incremental batch touching 0.1% of the key space rewrites ~0.1%
  *     of the files, not the table.
  *  2. **One executor, at most one shuffle** — the builder flags and
  *     SQL both lower to one ordered [[MergeClauses]] list. Both sides
  *     are struct-packed and full-outer joined on the primary key once;
  *     matched/unmatched routing is pure column logic on top
  *     (codegen-friendly, AQE/skew-join eligible). A small batch of the
  *     upsert shape (`UPDATE SET *` + `INSERT *`, optionally with the
  *     CDC delete) instead broadcasts its keys and anti-joins the
  *     target, which shuffles no target rows at all.
  *  3. **Schema evolution** — output schema is target ∪ source
  *     (SURVEY §1.3); columns missing on either side are null-backfilled.
  *  4. **Atomic swap** — new files + surviving files become version N+1
  *     via the manifest commit; readers of version N are never disturbed.
  */
object MergeBuilder {
  /** Source batches up to this many rows take the broadcast-anti fast
    * path (only the distinct keys are broadcast — ~8-50 B/row). The row
    * bound alone is blind to KEY WIDTH: 4M single-bigint keys broadcast
    * ~100 MB, but 4M five-column string composites would push past
    * 400 MB — so [[BroadcastSourceBytes]] caps the ESTIMATED broadcast
    * size too (per-row key width from the schema's type sizes + row
    * overhead), and wide-key batches fall back to the single-shuffle
    * executor instead of flooding the driver.
    */
  val BroadcastSourceRows: Long = 4000000L
  val BroadcastSourceBytes: Long = 128L * 1024 * 1024

  /** Estimated broadcast bytes/row for the key columns: fixed type
    * sizes from the schema (strings/binary count their default
    * estimate) plus ~16 B of row + hash-relation overhead.
    */
  def keyWidthBytes(
      schema: org.apache.spark.sql.types.StructType,
      pkCols: Seq[String]): Long =
    pkCols.map(c => schema(c).dataType.defaultSize.toLong).sum + 16L

  /** The fast-path guard: both bounds must hold. */
  def broadcastable(srcRows: Long, widthBytes: Long): Boolean =
    srcRows <= BroadcastSourceRows &&
      srcRows * widthBytes <= BroadcastSourceBytes

  /** Bloom-refinement caps: batches with more distinct keys than
    * `BloomProbeKeys`, or whose keys × bloom-carrying candidate files
    * exceed `BloomProbeBudget` driver probes, skip the refinement and
    * keep the (sound) range verdict.
    */
  val BloomProbeKeys: Long = 10000L
  val BloomProbeBudget: Long = 50000000L

  /** Delta-parity multiple-match error (raised mid-scan via raise_error,
    * so neither path needs an extra pre-pass over the source).
    */
  val MultiMatchError: String =
    "MERGE multiple-match: a target row matched more than one source row " +
      "on the primary key; de-duplicate the source batch (e.g. latest-per-key)"
}

class MergeBuilder(
    table: GraftTable,
    sourceIn: DataFrame,
    pkCols: Seq[String]) {

  /** The merge evaluates its source subtree SEVERAL times (the pk-range
    * bounds probe, the bloom key collect, the key-count broadcast and
    * the join itself — up to four actions on the fast path). For a
    * plain scan/filter/project source that re-read is cheap and
    * pushdown-friendly, but pipeline callers hand in derived frames —
    * `syncSince`'s two-half union, the gold mirror's windowed CDF
    * batch, extract joins — whose every re-evaluation repeats shuffles.
    * Materialize exactly those once (MEMORY_AND_DISK; released in
    * execute()'s finally): the source is the INCREMENTAL side, bounded
    * by the batch, never O(table). A source the caller already
    * persisted (e.g. SilverLoader's cached batch) is used as-is —
    * persisting again would let our unpersist drop the caller's cache.
    */
  private val (source: DataFrame, ownedCache: Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def multiPass(p: LogicalPlan): Boolean = p.exists {
      case _: Join | _: Aggregate | _: Window | _: Union | _: Intersect |
          _: Except | _: Generate | _: Sort => true
      case _ => false
    }
    val alreadyCached =
      sourceIn.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!alreadyCached && multiPass(sourceIn.queryExecution.analyzed))
      (sourceIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        true)
    else (sourceIn, false)
  }

  private var updateAll = false
  private var insertAll = false
  private var deleteCond: Option[Expression] = None
  private var changeFeed = false
  private var txnId: Option[String] = None
  private var txnApp: Option[String] = None

  /** Idempotent-writer marker (Delta txn parity): records
    * "appId:version" in the commit so an at-least-once replay can check
    * `table.lastTxn(appId)` and skip a batch that already landed —
    * including its change-feed publication, which would otherwise
    * double-deliver to downstream consumers. The appId also keys the
    * table's txn index, making the replay lookup O(1) instead of a
    * manifest-history scan.
    */
  def withTxn(appId: String, version: Long): MergeBuilder = {
    txnId = Some(s"$appId:$version"); txnApp = Some(appId); this
  }

  /** Marker + writer identity for writers whose batch identity is a
    * value (a watermark range) rather than a counter — checked back
    * with `GraftTable.txnVersion(appId, marker)` through the indexed
    * fast path.
    */
  def withTxnMarker(appId: String, marker: String): MergeBuilder = {
    txnId = Some(marker); txnApp = Some(appId); this
  }

  /** SQL `WITH SCHEMA EVOLUTION` switch. `false` (the SQL statement
    * default, Delta parity) refuses source-only columns LOUDLY instead
    * of silently widening the target schema; `true` evolves by
    * schema-union (source-only columns land nullable-backfilled). The
    * programmatic API keeps evolution on by default, so existing
    * pipelines are unchanged.
    */
  def withSchemaEvolution(allow: Boolean): MergeBuilder = {
    schemaEvolution = allow; this
  }
  private var schemaEvolution = true

  /** The no-evolution guard: `evolved` (the schema this merge's output
    * files would commit) must not add columns over the live target.
    */
  private def requireNoWidening(
      targetSchema: StructType, evolved: StructType): Unit = {
    if (schemaEvolution) return
    val extra = evolved.fieldNames.filterNot(c =>
      targetSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (extra.nonEmpty) throw new IllegalArgumentException(
      s"MERGE would add column(s) ${extra.mkString(", ")} to the target " +
        s"(${targetSchema.fieldNames.mkString(", ")}); add WITH SCHEMA " +
        "EVOLUTION to widen the target schema, or drop the columns from " +
        "the source")
  }

  /** Store this merge's row-level changes under `_changes/v<version>/`
    * (Delta CDF parity). The diff runs over the merge's OWN touched/new
    * files — O(batch), never O(table) — and feeds
    * [[GraftTable.changeFeed]] / [[GraftTable.readChangeStream]].
    */
  def withChangeFeed(): MergeBuilder = { changeFeed = true; this }

  /** ref :208 — `WHEN MATCHED THEN UPDATE SET *`: overwrite all source
    * columns of matched rows.
    */
  def whenMatchedUpdateAll(): MergeBuilder = { updateAll = true; this }

  /** ref :209 — `WHEN NOT MATCHED THEN INSERT *`: insert source rows
    * with no target match.
    */
  def whenNotMatchedInsertAll(): MergeBuilder = { insertAll = true; this }

  /** Corrected CDC mode: matched source rows satisfying `condSql` are
    * deleted from the target, and such rows are never inserted either.
    * execute() lowers the flags to this ordered clause list (each star
    * clause only when its flag is set):
    *
    *   WHEN MATCHED AND cond THEN DELETE
    *   WHEN MATCHED THEN UPDATE SET *
    *   WHEN NOT MATCHED AND NOT coalesce(cond, false) THEN INSERT *
    *
    * Every name in `condSql` binds to the SOURCE row (e.g.
    * "SyncOperation = 'D'"), even where the target has a column of the
    * same name. A NULL verdict means "not deleted": the row updates or
    * inserts like any other.
    */
  def whenMatchedDelete(condSql: String): MergeBuilder = {
    deleteCond = Some(parse(condSql)); this
  }

  // ---- clause-level API (standard SQL / Delta semantics) ----
  // Each row class evaluates its ordered clause list independently; the
  // first clause whose condition holds applies. The flags above lower
  // onto the same list, so mixing the two APIs in one merge is
  // ambiguous and errors loudly at execute().

  private var clauseState = MergeClauses()

  /** SQL MERGE INTO arrives here with its full parsed clause list. */
  private[graft] def withClauses(mc: MergeClauses): MergeBuilder = {
    clauseState = mc; this
  }

  private def parse(sql: String): Expression =
    table.spark.sessionState.sqlParser.parseExpression(sql)
  private def parseSet(set: Seq[(String, String)]): Seq[(String, Expression)] = {
    // generated columns are never explicit assignment targets — the
    // rewrite funnel recomputes them from their expression, so an
    // explicit value would be silently replaced; refuse loudly instead
    set.foreach { case (k, _) => require(
      !table.generatedCols.exists(_._1.equalsIgnoreCase(k)),
      s"MERGE assigns generated column $k — assign its source columns " +
        s"instead (the engine recomputes $k from its expression)") }
    set.foreach { case (k, _) => require(
      !table.identityCols.exists(_._1.equalsIgnoreCase(k)),
      s"MERGE assigns identity column $k — identity values are " +
        "allocated by the engine and never updated") }
    set.map { case (k, v) => k -> parse(v) }
  }

  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ...` —
    * expressions may reference `t.<col>` (target pre-image) and
    * `s.<col>` (source); unqualified names resolve by membership.
    */
  def whenMatchedUpdate(set: Seq[(String, String)],
      cond: Option[String] = None): MergeBuilder = {
    clauseState = clauseState.copy(matched = clauseState.matched :+
      MergeClauses.Clause(cond.map(parse), MergeClauses.UpdateSet(parseSet(set))))
    this
  }

  /** `WHEN MATCHED [AND cond] THEN DELETE`, clause form — standard SQL
    * semantics: the condition may read both sides, and an unmatched
    * delete-marked source row can still INSERT (the lowering of
    * [[whenMatchedDelete]] guards the insert as well).
    */
  def whenMatchedDeleteClause(cond: Option[String] = None): MergeBuilder = {
    clauseState = clauseState.copy(matched = clauseState.matched :+
      MergeClauses.Clause(cond.map(parse), MergeClauses.Delete))
    this
  }

  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)` —
    * expressions reference source columns; unassigned columns land NULL.
    */
  def whenNotMatchedInsert(values: Seq[(String, String)],
      cond: Option[String] = None): MergeBuilder = {
    clauseState = clauseState.copy(notMatched = clauseState.notMatched :+
      MergeClauses.Clause(cond.map(parse), MergeClauses.InsertValues(parseSet(values))))
    this
  }

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...` —
    * target rows with no source match; expressions reference target
    * columns only. Disables merge file pruning (every file may hold
    * unmatched rows).
    */
  def whenNotMatchedBySourceUpdate(set: Seq[(String, String)],
      cond: Option[String] = None): MergeBuilder = {
    clauseState = clauseState.copy(notMatchedBySource =
      clauseState.notMatchedBySource :+
        MergeClauses.Clause(cond.map(parse), MergeClauses.UpdateSet(parseSet(set))))
    this
  }

  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`. */
  def whenNotMatchedBySourceDelete(cond: Option[String] = None): MergeBuilder = {
    clauseState = clauseState.copy(notMatchedBySource =
      clauseState.notMatchedBySource :+
        MergeClauses.Clause(cond.map(parse), MergeClauses.Delete))
    this
  }

  /** Everything the executor and its broadcast fast path share: the
    * clause list, schema unification, stats/bloom file pruning, the
    * DV-masked read of the touched files.
    */
  private case class Prep(
      mc: MergeClauses,
      m: Manifest, targetSchema: StructType, sourceSchema: StructType,
      unified: StructType, statsCols: Seq[String],
      writeMapping: Map[String, String], touched: Seq[ManifestFile],
      target: DataFrame, srcRows: Long,
      overlapsF: ManifestFile => Boolean,
      arranged: DataFrame => DataFrame)

  /** Write + stage CDF + atomic swap — the shared commit tail. pv
    * tables route through the pv write funnel (merge output files must
    * carry their partition tuple — [[GraftTable.writeRewriteFiles]]),
    * clustered tables through `p.arranged` + the plain funnel.
    */
  private def commitResult(p: Prep, resultIn: DataFrame): Long = {
    // rewrite semantics for generated columns: RECOMPUTE (identity on
    // untouched rows; the fresh value on updated/inserted rows — the
    // pv path's writeRewriteFiles does this itself, the clustered path
    // below calls writeDataFiles directly so it must recompute here)
    // identity null-fill: merge post-images carry their stored values
    // (non-null); inserted rows arrive with the column null-backfilled
    // and get fresh values allocated here
    val result = table.applyIdentity(
      table.applyGenerated(resultIn, recompute = true), allowProvided = true)
    val pvCols = table.pvPartitionCols(p.m)
    val newFiles =
      if (pvCols.nonEmpty)
        table.writeRewriteFiles(p.m, result, p.statsCols, p.writeMapping,
          conformTo = Some(p.unified))
      else table.writeDataFiles(p.arranged(result), p.statsCols,
        p.writeMapping, conformTo = Some(p.unified))
    val staged = stageChanges(p, newFiles)
    val v = table.swap(p.touched.map(_.path).toSet, newFiles, p.unified,
      p.m.version, p.overlapsF, txnId, txnApp)
    staged.foreach(table.publishChangeFeed(v, _))
    table.maybeAutoCompact()
    v
  }

  /** Run the merge; returns the newly committed version. */
  def execute(): Long =
    try executeImpl(lowered)
    finally if (ownedCache) source.unpersist(false)

  /** The clause list execute() runs: the flag API lowered as documented
    * on [[whenMatchedDelete]], or the clause API as built.
    */
  private def lowered: MergeClauses = {
    import MergeClauses._
    if (!updateAll && !insertAll && deleteCond.isEmpty) return clauseState
    if (clauseState.nonEmpty)
      throw new IllegalArgumentException(
        "cannot mix the clause-level MERGE API (whenMatchedUpdate/" +
          "whenNotMatchedInsert/whenNotMatchedBySource*) with " +
          "updateAll/insertAll/whenMatchedDelete in one merge")
    // the flag condition reads the source row only: qualify every name
    // with `source`, one of MergeClauses' default source qualifiers
    val del = deleteCond.map(_.transformUp {
      case a: UnresolvedAttribute => UnresolvedAttribute("source" +: a.nameParts)
    })
    MergeClauses(
      matched = del.map(c => Clause(Some(c), Delete)).toSeq ++
        (if (updateAll) Seq(Clause(None, UpdateAll)) else Nil),
      notMatched =
        if (insertAll) Seq(Clause(del.map(notDeleted), InsertAll)) else Nil)
  }

  /** The insert guard paired with a `WHEN MATCHED AND c THEN DELETE`. */
  private def notDeleted(c: Expression): Expression =
    Not(Coalesce(Seq(c, Literal.FalseLiteral)))

  /** Some(delete verdict over the bare source frame) when `mc` is the
    * upsert shape the broadcast-anti fast path computes exactly:
    *
    *   [WHEN MATCHED AND c THEN DELETE] WHEN MATCHED THEN UPDATE SET *
    *   WHEN NOT MATCHED [AND NOT coalesce(c, false)] THEN INSERT *
    *
    * with no residual ON, no BY SOURCE clause, and a `c` that reads
    * source columns only. `lit(false)` without a delete clause.
    */
  private def upsertDelete(mc: MergeClauses,
      tNames: Seq[String], sNames: Seq[String]): Option[Column] = {
    import MergeClauses._
    val del: Option[Option[Expression]] = mc.matched match {
      case Seq(Clause(None, UpdateAll)) => Some(None)
      case Seq(Clause(Some(c), Delete), Clause(None, UpdateAll)) => Some(Some(c))
      case _ => None
    }
    def has(names: Seq[String], n: String) = names.exists(_.equalsIgnoreCase(n))
    def qual(p: Seq[String]) = if (p.length > 1) p.head.toLowerCase else ""
    // the executor's resolution order: target qualifier, source
    // qualifier, then membership (a name both sides have is its
    // ambiguity error, so it never takes the fast path)
    def readsSource(p: Seq[String]) =
      !mc.targetQuals.contains(qual(p)) && (mc.sourceQuals.contains(qual(p)) ||
        has(sNames, p.head) && !has(tNames, p.head))
    def onSource(c: Expression): Option[Expression] =
      if (!c.collect { case a: UnresolvedAttribute => a.nameParts }.forall(readsSource))
        None
      else Some(c.transformUp {
        case a: UnresolvedAttribute if mc.sourceQuals.contains(qual(a.nameParts)) =>
          UnresolvedAttribute(a.nameParts.tail)
      })
    del.filter(c => mc.onResidual.isEmpty && mc.notMatchedBySource.isEmpty &&
        mc.notMatched == Seq(Clause(c.map(notDeleted), InsertAll)))
      .flatMap {
        case None => Some(lit(false))
        // NULL must read as "not deleted", as in the executor: without
        // the coalesce the fast path's filter(!del) drops the row (NULL
        // is not true) while still anti-joining away its target match
        case Some(c) => onSource(c).map(e =>
          coalesce(ColumnBridge.toColumn(e), lit(false)))
      }
  }

  private def executeImpl(mc: MergeClauses): Long = {
    import MergeClauses._
    val spark = table.spark
    val m = table.latestManifest.getOrElse(
      throw new IllegalStateException(s"merge into uncommitted table ${table.root}"))
    val targetSchema = StructType.fromDDL(m.schema)
    val sourceSchema = source.schema
    mc.notMatchedBySource.foreach {
      case Clause(_, UpdateAll) | Clause(_, InsertAll) | Clause(_, InsertValues(_)) =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE supports UPDATE SET col = expr and " +
            "DELETE only (there is no source row to read)")
      case _ => ()
    }
    // partition columns stay LAST on pv tables through evolution — the
    // scan serves dataSchema ++ partitionSchema in that order
    val union = GraftTable.pvOrdered(
      GraftTable.unionSchema(targetSchema, sourceSchema),
      table.pvPartitionCols(m))
    // every assignment target must be a target-or-source column — a
    // typo'd SET/INSERT column would otherwise silently no-op
    val assignKeys =
      (mc.matched ++ mc.notMatched ++ mc.notMatchedBySource).flatMap(_.action match {
        case UpdateSet(a) => a.map(_._1)
        case InsertValues(a) => a.map(_._1)
        case _ => Nil
      })
    assignKeys.find(k => !union.fieldNames.exists(_.equalsIgnoreCase(k))).foreach(k =>
      throw new IllegalArgumentException(
        s"MERGE assignment to unknown column `$k` " +
          s"(table ∪ source columns: ${union.fieldNames.mkString(", ")})"))
    // Schema evolution (Delta parity): `SET *` / `INSERT *` pulls in
    // every source column, but explicit assignments evolve the schema
    // ONLY with the columns they actually assign — an unreferenced
    // source column (a join helper, a CDC op code) must not become a
    // permanent all-NULL table column.
    val star = (mc.matched ++ mc.notMatched).exists(_.action match {
      case UpdateAll | InsertAll => true
      case _ => false
    })
    val unified =
      if (star) union
      else GraftTable.pvOrdered(
        StructType(targetSchema.fields ++ sourceSchema.fields.filter(f =>
          !targetSchema.fieldNames.exists(_.equalsIgnoreCase(f.name)) &&
            assignKeys.exists(_.equalsIgnoreCase(f.name)))),
        table.pvPartitionCols(m))
    // WITHOUT schema evolution the target schema is a hard ceiling: a
    // merge whose OUTPUT would widen it errors loudly. Merely REFERENCING
    // a source-only column in a clause expression is fine — it never
    // lands, so the check runs on the evolved schema above.
    requireNoWidening(targetSchema, unified)
    val statsCol = pkCols.head
    // partitioned tables: merge output keeps the partition clustering,
    // and the rewritten files keep the table's stats contract (partition
    // columns included), so the layout survives incremental loads.
    // (Partition columns prune the merge itself only when part of the pk
    // — a pk that can move across partitions makes pruning on them
    // unsound, so it is never done implicitly.)
    val partCols = m.partitionCols.getOrElse(Nil)
    // pk first: the head is the "primary" legacy stats column and should
    // stay a footer-friendly type (partition cols are often dates)
    val statsCols = (pkCols ++ table.statsContract(m)).distinct
    def arranged(result: DataFrame): DataFrame =
      if (partCols.nonEmpty) table.clusterBy(result, partCols) else result
    // physical naming for this merge's output files (identity unless the
    // table has renamed/dropped columns) — shared by the write funnel
    // calls and the change-feed diff's read-back
    val writeMapping = GraftTable.derivedMapping(unified.fieldNames.toSeq, Some(m))

    // ---- 1. file pruning on the pk ranges of the source batch ----
    // one probe pass computes min/max for EVERY pk column plus the batch
    // size (for join-strategy selection); a file survives pruning only if
    // its range overlaps the batch on every key column with stats —
    // composite keys prune multiplicatively.
    val aggs = pkCols.flatMap(c =>
      Seq(min(col(c)).cast("string"), max(col(c)).cast("string"))) :+ count(lit(1))
    val bounds = source.agg(aggs.head, aggs.tail: _*).head()
    val srcRanges: Map[String, (Option[String], Option[String])] =
      pkCols.zipWithIndex.map { case (c, i) =>
        c -> (Option(bounds.getString(2 * i)), Option(bounds.getString(2 * i + 1)))
      }.toMap
    val srcRows = bounds.getLong(2 * pkCols.length)
    val (srcLo, srcHi) = srcRanges(statsCol)
    def colType(c: String) = targetSchema.fields.find(_.name == c).map(_.dataType)
    // file stats are keyed by PHYSICAL column names; pk columns are
    // logical — translate before comparing (identity map on tables that
    // never renamed)
    val p2l = m.logicalByPhysical
    def overlaps(f: ManifestFile): Boolean = {
      val fr = StatsPruning.fileRanges(f)
        .map { case (c, r) => p2l.getOrElse(c, c) -> r }
        .view.filterKeys(pkCols.contains).toMap
      if (fr.isEmpty) true // no stats → must assume the file matches
      else fr.forall { case (c, (fLo, fHi)) =>
        srcRanges(c) match {
          case (Some(lo), Some(hi)) =>
            StatsPruning.rangesOverlap(colType(c), fLo, fHi, lo, hi)
          case _ => false // empty source batch touches nothing
        }
      }
    }
    // full file resolution (chunked manifests included) — this read also
    // warms the table's chunk cache, so the commit-time swap re-checks
    // chunk membership without re-reading any chunk JSON
    // WHEN NOT MATCHED BY SOURCE disables pruning: target rows the source
    // does NOT mention may be rewritten, and those live in exactly the
    // files the key-range prune would skip. Every concurrently added file
    // then conflicts too (overlapsF = always).
    val pruneDisabled = mc.notMatchedBySource.nonEmpty
    val allFiles = table.filesOf(m)
    val (rangeTouched, _) =
      if (pruneDisabled) (allFiles, Nil) else allFiles.partition(overlaps)
    val overlapsF: ManifestFile => Boolean =
      if (pruneDisabled) _ => true else overlaps
    // Bloom refinement for point batches on NON-clustered keys: when the
    // table's key layout is scattered (uuid-ish CDC keys, interleaved
    // appends), every file's range overlaps every batch and `overlaps`
    // prunes nothing — per-file blooms then drop the files that cannot
    // hold ANY batch key. Bounded on both sides: the distinct-key
    // collect caps at BloomProbeKeys, and the driver probe work caps at
    // BloomProbeBudget; past either cap the range verdict stands
    // (sound — blooms only ever sharpen). False positives only KEEP a
    // file, so correctness never depends on the bloom.
    val touched = if (pruneDisabled) rangeTouched else {
      val withBlooms = rangeTouched.count(_.bloom.isDefined)
      if (withBlooms == 0 || srcRows <= 0 ||
          srcRows > MergeBuilder.BloomProbeKeys ||
          srcRows * withBlooms > MergeBuilder.BloomProbeBudget) rangeTouched
      else {
        val keyRows = source.select(pkCols.map(col).toIndexedSeq: _*)
          .distinct().limit(MergeBuilder.BloomProbeKeys.toInt + 1).collect()
        if (keyRows.length > MergeBuilder.BloomProbeKeys) rangeTouched
        else {
          // bloom sidecars key by PHYSICAL name too
          val hashesByCol: Map[String, Seq[Long]] = pkCols.zipWithIndex.map {
            case (c, i) =>
              val dt = targetSchema(c).dataType
              m.physicalOf(c) -> keyRows.toSeq.map(_.get(i)).filter(_ != null)
                .map(v => graft.sources.BloomSkipping.hashOf(v, dt)).distinct
          }.toMap
          rangeTouched.filter(f =>
            graft.sources.BloomSkipping.fileMayMatch(table.root, f, hashesByCol))
        }
      }
    }

    // ---- 2. struct-packed single full-outer join over touched files ----
    // DV-masked read: a touched file's deletion vector must hide its
    // masked rows from the join, or a merge would resurrect them; the
    // rewrite below then lands the file WITHOUT a DV — merge naturally
    // materializes masks away, exactly like compaction
    // row-id carry when tracking: matched/kept target rows keep their
    // stable ids through the rewrite; source-only inserts arrive id-less
    // and draw from the new files' allocated ranges at read time
    val tracking = m.rowTracking
    val target =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          GraftTable.plusRowId(targetSchema, tracking))
      else table.readForRewrite(m, touched, targetSchema)

    val prep = Prep(mc, m, targetSchema, sourceSchema, unified, statsCols,
      writeMapping, touched, target, srcRows, overlapsF, arranged)

    // ---- fast path: the reference's upsert shape (UPDATE SET * +
    // INSERT *, optionally with the CDC delete) reduces to
    // `target ANTI source.keys ∪ source\deletes` — and an anti join CAN
    // broadcast a small incremental batch, where the executor's
    // full-outer join always shuffles both sides. A 1k-row CDC batch
    // against a 100 TB table then touches only the pruned files, with no
    // shuffle of the target at all.
    val upsert = upsertDelete(mc, targetSchema.fieldNames, sourceSchema.fieldNames)
    if (upsert.isEmpty ||
      !targetSchema.fieldNames.forall(n =>
        sourceSchema.fieldNames.exists(_.equalsIgnoreCase(n))) ||
      !MergeBuilder.broadcastable(
        srcRows, MergeBuilder.keyWidthBytes(targetSchema, pkCols)))
      executeClauses(prep)
    else {
      val delCol = upsert.get
      // Per-key source counts ride the same broadcast that drives the
      // anti-join semantics: a matched key seen >1 times in the source
      // raises Delta's multiple-match error mid-scan, while unmatched
      // duplicates insert (also Delta parity). NULL keys never match, so
      // they can never trip the guard.
      val keyCounts = broadcast(
        source.groupBy(pkCols.map(col).toIndexedSeq: _*)
          .agg(count(lit(1)).as("__srcn")))
      val kept = target.join(keyCounts, pkCols, "left")
        .filter(
          when(col("__srcn") > 1,
            raise_error(lit(MergeBuilder.MultiMatchError)).cast("boolean"))
            .otherwise(col("__srcn").isNull))
        .drop("__srcn")
      val landed0 = source.filter(!delCol)
      // id carry on the anti-join shape: a landed source row that MATCHED
      // a target row is that row's update and must keep its id. One extra
      // column-pruned pass over the touched files (pk + row id only),
      // semi-joined against the already-broadcast source keys — bounded
      // by the batch size, rides the same broadcast the fast path needs
      // anyway. Unmatched landed rows stay NULL → fresh ids at read time.
      val landed =
        if (!tracking) landed0
        else {
          // one id row PER PK: duplicate target pks (reachable via raw
          // append) collapse into one output row on this anti-join shape
          // regardless of tracking — without the groupBy they would fan
          // the landed row back out, making merge output depend on
          // whether tracking is on. The surviving row keeps the smallest
          // matched id (deterministic); the other ids retire.
          val matchedIds = broadcast(target
            .join(broadcast(source.select(pkCols.map(col).toIndexedSeq: _*).distinct()),
              pkCols, "left_semi")
            .groupBy(pkCols.map(col).toIndexedSeq: _*)
            .agg(min(col(s"`${GraftTable.RowIdCol}`")).as(GraftTable.RowIdCol)))
          landed0.join(matchedIds, pkCols, "left")
        }
      // kept target rows carry id + last-modified version (copied);
      // landed rows (updated matches + inserts) null-backfill the
      // version via allowMissingColumns — they inherit the new commit
      val result = kept.unionByName(landed, allowMissingColumns = true)
        .select(unified.fieldNames.map(col).toIndexedSeq ++
          (if (tracking) Seq(col(s"`${GraftTable.RowIdCol}`"),
            col(s"`${GraftTable.RowCommitCol}`")) else Nil): _*)
      commitResult(prep, result)
    }
  }

  /** The MERGE executor (standard SQL semantics): both sides are
    * struct-packed and full-outer joined on the key once. Each row class
    * evaluates its ordered clause list; the first clause whose condition
    * holds decides keep/drop and the output values, all as pure column
    * logic (codegen-friendly, one shuffle).
    */
  private def executeClauses(p: Prep): Long = {
    import MergeClauses._
    val mc = p.mc
    val unified = p.unified

    // ---- expression resolution against the joined frame ----
    // target refs → __t.<field> (pre-image), source refs → __s.<field>;
    // scope limits which side a clause class may read.
    val tNames = p.targetSchema.fieldNames
    val sNames = p.sourceSchema.fieldNames
    def fieldRef(side: String, parts: Seq[String]): Expression =
      ColumnBridge.toExpr(parts.foldLeft(col(side))(_.getField(_)))
    def resolve(e: Expression, tOk: Boolean, sOk: Boolean, where: String): Column = {
      val out = e.transformUp {
        case a: UnresolvedAttribute =>
          val parts = a.nameParts
          val head = parts.head.toLowerCase
          def inT = tNames.exists(_.equalsIgnoreCase(parts.head))
          def inS = sNames.exists(_.equalsIgnoreCase(parts.head))
          if (parts.length > 1 && mc.targetQuals.contains(head)) {
            if (!tOk) throw new IllegalArgumentException(
              s"$where cannot reference the TARGET row (${a.sql})")
            fieldRef("__t", parts.tail)
          } else if (parts.length > 1 && mc.sourceQuals.contains(head)) {
            if (!sOk) throw new IllegalArgumentException(
              s"$where cannot reference the SOURCE row (${a.sql})")
            fieldRef("__s", parts.tail)
          } else if (tOk && inT && sOk && inS) {
            throw new IllegalArgumentException(
              s"ambiguous MERGE reference ${a.sql} in $where — column exists " +
                "on both sides; qualify with the target or source alias")
          } else if (tOk && inT) fieldRef("__t", parts)
          else if (sOk && inS) fieldRef("__s", parts)
          else throw new IllegalArgumentException(
            s"cannot resolve ${a.sql} in $where against " +
              (if (tOk && sOk) "either merge side"
               else if (tOk) "the target schema" else "the source schema"))
      }
      ColumnBridge.toColumn(out)
    }

    // 1-based index of the first clause whose condition holds; 0 = none.
    def firstIdx(cl: Seq[Clause], tOk: Boolean, sOk: Boolean, where: String): Column =
      cl.zipWithIndex.foldRight(lit(0)) { case ((c, i), acc) =>
        val cond = c.cond
          .map(e => coalesce(resolve(e, tOk, sOk, where).cast("boolean"), lit(false)))
          .getOrElse(lit(true))
        when(cond, lit(i + 1)).otherwise(acc)
      }

    def fromSide(side: String, schema: StructType, f: StructField): Column =
      if (schema.fieldNames.contains(f.name)) col(side).getField(f.name)
      else lit(null).cast(f.dataType)
    def assigned(assigns: Seq[(String, Expression)], f: StructField,
        tOk: Boolean, sOk: Boolean, where: String): Option[Column] =
      assigns.find(_._1.equalsIgnoreCase(f.name))
        .map(a => resolve(a._2, tOk, sOk, where).cast(f.dataType))

    // per-field value of the first applying clause, falling through to
    // `default` (target pre-image for matched/by-source; filtered-out
    // rows never read the not-matched default)
    def valueChain(cl: Seq[Clause], idx: Column, f: StructField,
        default: Column, tOk: Boolean, sOk: Boolean, where: String): Column =
      cl.zipWithIndex.foldRight(default) { case ((c, i), acc) =>
        val v: Option[Column] = c.action match {
          case UpdateAll if !p.sourceSchema.fieldNames.contains(f.name) =>
            None // UPDATE SET * of a target-only column keeps the pre-image
          case UpdateAll | InsertAll => Some(fromSide("__s", p.sourceSchema, f))
          case UpdateSet(a) => assigned(a, f, tOk, sOk, where)
          case InsertValues(a) => Some(
            assigned(a, f, tOk, sOk, where).getOrElse(lit(null).cast(f.dataType)))
          case Delete => None // dropped rows never render
        }
        v.map(when(idx === i + 1, _).otherwise(acc)).getOrElse(acc)
      }

    val needsResidual = mc.onResidual.isDefined
    val srcW = org.apache.spark.sql.expressions.Window
      .partitionBy(pkCols.map(col).toIndexedSeq: _*)
    // a residual ON needs per-TARGET-row identity too (__tn, mirroring
    // the source's __srn): match counts and emit-once ranks key on it
    val tracking = p.m.rowTracking
    val tBase =
      if (!needsResidual) p.target
      else p.target.withColumn("__tn", row_number().over(srcW.orderBy(lit(1))))
    val t = tBase.select(
      pkCols.map(col) :+
        struct((p.targetSchema.fieldNames.toSeq ++
          (if (tracking) Seq(GraftTable.RowIdCol, GraftTable.RowCommitCol)
           else Nil) ++
          (if (needsResidual) Seq("__tn") else Nil))
          .map(c => col(s"`$c`")).toIndexedSeq: _*).as("__t"): _*)
    val s = source
      .withColumn("__srcn", count(lit(1)).over(srcW))
      .withColumn("__srn", row_number().over(srcW.orderBy(lit(1))))
      .select(pkCols.map(col) :+
        struct((p.sourceSchema.fieldNames.map(col) :+ col("__srcn") :+
          col("__srn")).toIndexedSeq: _*).as("__s"): _*)
    val j0 = t.join(s, pkCols, "full_outer")
    // ---- residual ON reclassification (standard SQL MERGE ON) ----
    // The join ran on the key equalities; pairs failing the residual
    // are unmatched on BOTH sides: the target row is by-source iff NO
    // pair of its passed (emitted once), the source row is an insert
    // candidate iff it matched NO target (emitted once). Passing pairs
    // carry POST-residual match counts in __srcn/__srn so the
    // multiple-match guard counts actual matches, not key collisions.
    // All window partitions refine the join's pk hash partitioning, so
    // this adds sorts, never a shuffle.
    val j = mc.onResidual match {
      case None => j0
      case Some(r) =>
        val both = col("__t").isNotNull && col("__s").isNotNull
        val okc = both && coalesce(
          resolve(r, tOk = true, sOk = true, "MERGE ON condition")
            .cast("boolean"), lit(false))
        val wT = org.apache.spark.sql.expressions.Window
          .partitionBy((pkCols.map(col) :+ col("__t.__tn")).toIndexedSeq: _*)
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy((pkCols.map(col) :+ col("__s.__srn")).toIndexedSeq: _*)
        val staged = j0
          .withColumn("__ok", okc)
          .withColumn("__tok",
            sum(when(col("__ok"), 1L).otherwise(0L)).over(wT))
          .withColumn("__sok",
            sum(when(col("__ok"), 1L).otherwise(0L)).over(wS))
          .withColumn("__okrn", row_number().over(wT.orderBy(
            when(col("__ok"), 0).otherwise(1),
            coalesce(col("__s.__srn"), lit(0)))))
          .withColumn("__trn", row_number().over(wS.orderBy(
            coalesce(col("__t.__tn"), lit(0)))))
        // one fully-NULLABLE struct type for every variant: forked rows
        // carry NULL on one side, and rebuilt structs (getField) are
        // nullable — a positional struct cast refuses nullable → not-null
        def asNullable(dt: org.apache.spark.sql.types.DataType)
            : org.apache.spark.sql.types.DataType = dt match {
          case st: StructType => StructType(st.fields.map(f =>
            f.copy(dataType = asNullable(f.dataType), nullable = true)))
          case other => other
        }
        val tType = asNullable(j0.schema("__t").dataType)
        val sType = asNullable(j0.schema("__s").dataType)
        val sRebuilt = struct(
          (p.sourceSchema.fieldNames.toSeq.map(n =>
            col("__s").getField(n).as(n)) :+
            col("__tok").as("__srcn") :+ col("__okrn").as("__srn")): _*)
        def emit(cond: Column, v: Column): Column =
          filter(array(v), _ => cond)
        def pair(tv: Column, sv: Column): Column =
          struct(tv.cast(tType).as("__t"), sv.cast(sType).as("__s"))
        val variants = concat(
          emit(!both, pair(col("__t"), col("__s"))),
          emit(col("__ok"), pair(col("__t"), sRebuilt)),
          emit(both && !col("__ok") && col("__tok") === 0L &&
            col("__okrn") === 1,
            pair(col("__t"), lit(null).cast(sType))),
          emit(both && !col("__ok") && col("__sok") === 0L &&
            col("__trn") === 1,
            pair(lit(null).cast(tType), col("__s"))))
        staged.select(explode(variants).as("__p"))
          .select(col("__p.__t").as("__t"), col("__p.__s").as("__s"))
    }
    val isMatched = col("__t").isNotNull && col("__s").isNotNull
    val tOnly = col("__s").isNull
    val sOnly = col("__t").isNull

    val mIdx = firstIdx(mc.matched, tOk = true, sOk = true, "WHEN MATCHED condition")
    val iIdx = firstIdx(mc.notMatched, tOk = false, sOk = true,
      "WHEN NOT MATCHED condition")
    val nIdx = firstIdx(mc.notMatchedBySource, tOk = true, sOk = false,
      "WHEN NOT MATCHED BY SOURCE condition")
    def deleteIdxs(cl: Seq[Clause]): Seq[Int] =
      cl.zipWithIndex.collect { case (Clause(_, Delete), i) => i + 1 }
    def surviveIdx(cl: Seq[Clause], idx: Column): Column = deleteIdxs(cl) match {
      case Nil => lit(true)
      case ds => !idx.isin(ds.map(Int.box): _*)
    }

    // matched rows: with matched clauses, >1 source row per target key is
    // ambiguous → Delta's multiple-match error, raised mid-scan. Without
    // matched clauses the target row passes through exactly once (first
    // joined duplicate carries it).
    val keepMatched =
      if (mc.matched.nonEmpty)
        when(col("__s").getField("__srcn") > 1,
          raise_error(lit(MergeBuilder.MultiMatchError)).cast("boolean"))
          .otherwise(surviveIdx(mc.matched, mIdx))
      else col("__s").getField("__srn") === 1
    val keep = when(isMatched, keepMatched)
      .when(tOnly, surviveIdx(mc.notMatchedBySource, nIdx))
      .otherwise(iIdx > 0)

    val outCols = unified.fields.map { f =>
      val tVal = fromSide("__t", p.targetSchema, f)
      val matchedVal = valueChain(mc.matched, mIdx, f, tVal,
        tOk = true, sOk = true, "WHEN MATCHED UPDATE value")
      val tOnlyVal = valueChain(mc.notMatchedBySource, nIdx, f, tVal,
        tOk = true, sOk = false, "WHEN NOT MATCHED BY SOURCE UPDATE value")
      val sOnlyVal = valueChain(mc.notMatched, iIdx, f,
        lit(null).cast(f.dataType), tOk = false, sOk = true,
        "WHEN NOT MATCHED INSERT value")
      when(tOnly, tOnlyVal).when(isMatched, matchedVal).otherwise(sOnlyVal)
        .cast(f.dataType).as(f.name)
    }
    // row-id carry: any row that HAS a target side (kept, by-source
    // updated, or matched-updated) keeps its id; inserts render NULL.
    // The last-modified version survives only on rows NO clause applied
    // to (idx 0 = fell through to the pre-image); a rendered row with an
    // applying non-delete clause was updated → NULL → new default.
    val rowIdOut =
      if (!tracking) Nil
      else Seq(
        when(!sOnly, col("__t").getField(GraftTable.RowIdCol))
          .otherwise(lit(null).cast("long")).as(GraftTable.RowIdCol),
        when(isMatched && mIdx === 0 || tOnly && nIdx === 0,
          col("__t").getField(GraftTable.RowCommitCol))
          .otherwise(lit(null).cast("long")).as(GraftTable.RowCommitCol))
    val result = j.filter(keep)
      .select((outCols.toSeq ++ rowIdOut).toIndexedSeq: _*)
    commitResult(p, result)
  }

  /** Diff the touched-file pre-image against the merge's new files and
    * STAGE it as change data (published post-commit by an atomic
    * rename). The inputs are the ones this merge already isolated, so
    * CDF costs one extra pass over the batch's files only (untouched
    * files cannot contain changed rows); staging runs BEFORE the commit,
    * so a diff failure fails the merge cleanly and the pre-image files
    * are still manifest-referenced — no vacuum race, no committed-but-
    * threw ambiguity.
    */
  private def stageChanges(
      p: Prep, newFiles: Seq[ManifestFile]): Option[java.nio.file.Path] = {
    if (!changeFeed) return None
    // same reserved-name guard the append path applies: a source column
    // named _change_type would collide with the diff's own classifier
    // (duplicate-column write failure at best, mislabeled CDF at worst)
    val unified = p.unified
    GraftTable.requireNoReservedCdfCols(unified.fieldNames.toSeq)
    val spark = table.spark
    // identity rides the diff on tracked tables: the before side carries
    // the read funnel's id column, the after side reads back the
    // materialized ids the rewrite just wrote. Pairing stays by pk
    // (merge cannot change a matched row's key, so pk-pairing IS
    // identity-pairing here) and ids are equal across an update's two
    // images — no spurious diffs; INSERT rows carry null (their id is
    // born at the commit this pre-staged diff precedes; read it from
    // changedSince/snapshotWithRowIds).
    val tracking = p.target.columns.contains(GraftTable.RowIdCol)
    val readSchema =
      if (!tracking) unified
      else StructType(unified.fields :+ StructField(GraftTable.RowIdCol, LongType))
    // read the new files back through the whole-file funnel: it aliases
    // physical names to the unified logical names AND serves pv tables'
    // metadata-held partition values — a raw parquet read of pv files
    // would diff NULLs into every post-image's partition columns
    val after =
      if (newFiles.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
      else table.readMasked(newFiles, readSchema, p.writeMapping)
    // Key-restrict the diff to the SOURCE batch's pks (guide §2.3 —
    // shuffle fewer bytes; §3.2 — reduce the big side before joining):
    // when every output row's pk provably comes from the source batch
    // (or is an unchanged carried row), only pks present in the batch
    // can differ between the touched pre-image and the rewrite (kept
    // rows are carried verbatim; generated columns recompute to
    // identical values) — so a broadcast semi-join on the batch keys
    // shrinks the diff's full-outer join from O(touched rows) to
    // O(batch) on both sides with an unchanged result. pk stability
    // requires: no NOT MATCHED BY SOURCE clause (rows outside the batch
    // could change) and no explicit-assignment clause (UPDATE SET /
    // INSERT VALUES may rewrite or derive the pk itself — a key-change
    // lands post-images OUTSIDE the batch's key set). Star and DELETE
    // clauses keep the join key, so the test is the clause shape alone.
    // The same broadcast-size guard as the fast path bounds the key
    // relation; oversized batches keep the full diff.
    val pkStable = p.mc.notMatchedBySource.isEmpty &&
      p.mc.matched.forall(_.action match {
        case MergeClauses.UpdateAll | MergeClauses.Delete => true
        case _ => false
      }) &&
      p.mc.notMatched.forall(_.action match {
        case MergeClauses.InsertAll => true
        case _ => false
      })
    val keyRestrict = pkStable && p.srcRows > 0 &&
      MergeBuilder.broadcastable(
        p.srcRows, MergeBuilder.keyWidthBytes(p.targetSchema, pkCols))
    def restricted(df: DataFrame): DataFrame =
      if (!keyRestrict) df
      else df.join(
        broadcast(source.select(pkCols.map(col).toIndexedSeq: _*).distinct()),
        pkCols, "left_semi")
    val bIn = restricted(p.target)
    val aIn = restricted(after)
    if (!tracking)
      Some(table.stageChangeFeed(table.diffFrames(bIn, aIn, pkCols)))
    else {
      val b = bIn.drop(GraftTable.RowCommitCol)
        .withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
      val a = aIn.withColumnRenamed(GraftTable.RowIdCol, GraftTable.RowIdOut)
      Some(table.stageChangeFeed(table.diffFrames(b, a, pkCols)))
    }
  }
}
