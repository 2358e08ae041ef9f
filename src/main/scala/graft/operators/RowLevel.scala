package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftTable, Manifest, ManifestFile, StatsPruning}

/** Row-level DELETE / UPDATE for [[GraftTable]] — the Delta-parity
  * statements the reference's tables get for free from Delta
  * (`DELETE FROM` / `UPDATE` on the silver tables behind
  * /root/reference/COPY_MSQL_TO_SILVER.py:195-196; the notebook itself
  * reaches row deletion only through MERGE's nulled-upsert quirk, so
  * these are the *general* statements a user of that stack also has).
  *
  * Two execution modes, selected per-call or by the
  * `graft.deletionVectors` table property:
  *
  * **Copy-on-write** (default): touched files are rewritten without the
  * deleted rows / with assignments applied. Best when ops touch a large
  * row fraction of the files they hit.
  *
  * **Merge-on-read** (`mor = true`, Delta deletion-vector parity): no
  * data file is rewritten — matched rows are masked by per-file
  * deletion vectors ((path, pos) parquet sidecars) that every read
  * funnel anti-joins away; an UPDATE masks its pre-images and appends
  * post-image files. At 100 TB this is the difference between a
  * sub-second metadata-plus-sidecar commit and rewriting terabytes for
  * a 0.1% delete. Masks stack across ops and are materialized away by
  * the next rewrite of the file (merge / compact / COW op /
  * [[GraftTable.reorgPurge]]).
  *
  * Shared execution shape (designed for 100 TB):
  *  1. **Stats pruning** — the condition's conjunctive bounds are tested
  *     against per-file manifest min/max (same [[StatsPruning]] algebra
  *     the scan and MERGE use), so only candidate files are read at all.
  *  2. **Exact touched-file resolution** — one column-pruned MASKED pass
  *     over the candidates finds the files that actually HOLD live
  *     matching rows; a candidate whose rows all miss the condition (or
  *     are already masked) is carried into the new version untouched.
  *  3. **Rewrite or mask** — COW rewrites touched files from their
  *     masked content (materializing any existing DVs); MOR writes one
  *     new DV dataset holding the file's prior entries plus the new
  *     ones. Untouched files ride by reference through the chunk-local
  *     [[GraftTable.swap]]; concurrent disjoint writers rebase exactly
  *     like MERGE (DV pointer moves count as file replacement, so two
  *     masks of one file cannot silently clobber each other).
  *  4. **Change feed** — with `changeFeed = true` the op stages its row
  *     changes pre-commit (delete rows / update post-images) and
  *     publishes them under the landed version — O(touched), never
  *     O(table). Identical rows on both modes.
  *
  * SQL semantics: a NULL condition never matches (rows with a NULL
  * verdict are kept by DELETE and left unchanged by UPDATE); an op whose
  * condition matches no rows is a no-op returning the current version —
  * no empty commit.
  *
  * Both entry forms land in the same rewrite: the string API (Scala
  * users) parses its SQL fragments once up front; the Expression API
  * (the `DELETE FROM` / `UPDATE` statement path in
  * [[graft.sources.GraftDmlRule]]) passes the parser's trees through.
  */
object RowLevel {

  private[graft] def delete(
      table: GraftTable, condSql: String, changeFeed: Boolean,
      txn: Option[String], txnApp: Option[String],
      mor: Boolean = false): Long =
    deleteExpr(table, parse(table, condSql), changeFeed, txn, txnApp, mor)

  private[graft] def update(
      table: GraftTable, set: Map[String, String], condSql: String,
      changeFeed: Boolean, txn: Option[String], txnApp: Option[String],
      mor: Boolean = false): Long =
    updateExpr(table, set.toSeq.map { case (c, e) => c -> parse(table, e) },
      parse(table, condSql), changeFeed, txn, txnApp, mor)

  private[graft] def deleteExpr(
      table: GraftTable, cond: Expression, changeFeed: Boolean,
      txn: Option[String], txnApp: Option[String],
      mor: Boolean = false): Long =
    rewrite(table, cond, "delete", Nil, changeFeed, txn, txnApp, mor)

  private[graft] def updateExpr(
      table: GraftTable, set: Seq[(String, Expression)], cond: Expression,
      changeFeed: Boolean, txn: Option[String], txnApp: Option[String],
      mor: Boolean = false): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    rewrite(table, cond, "update", set, changeFeed, txn, txnApp, mor)
  }

  private[graft] def parse(table: GraftTable, sql: String): Expression =
    table.spark.sessionState.sqlParser.parseExpression(sql)

  private def rewrite(
      table: GraftTable, condExpr: Expression, op: String,
      assign: Seq[(String, Expression)], changeFeed: Boolean,
      txn: Option[String], txnApp: Option[String], mor: Boolean): Long = {
    val spark = table.spark
    val m = table.latestManifest.getOrElse(throw new IllegalStateException(
      s"$op on uncommitted table ${table.root}"))
    val schema = StructType.fromDDL(m.schema)
    if (changeFeed) GraftTable.requireNoReservedCdfCols(schema.fieldNames.toSeq)
    assign.foreach { case (c, _) => require(
      schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"UPDATE SET references unknown column $c") }
    assign.foreach { case (c, _) => require(
      !table.generatedCols.exists(_._1.equalsIgnoreCase(c)),
      s"UPDATE SET targets generated column $c — update its source " +
        s"columns instead (the engine recomputes $c from its expression)") }
    assign.foreach { case (c, _) => require(
      !table.identityCols.exists(_._1.equalsIgnoreCase(c)),
      s"UPDATE SET targets identity column $c — identity values are " +
        "allocated by the engine and never updated") }
    val cond = coalesce(ColumnBridge.toColumn(condExpr), lit(false))

    // ---- 1. stats pruning on the condition's conjunctive bounds ----
    val predicates = pruningPredicates(condExpr, schema)
    val bounds = StatsPruning.queryBounds(predicates, schema)
    // file stats and bloom sidecars key by PHYSICAL names; the parsed
    // condition speaks logical — translate at the boundary (identity on
    // tables that never renamed)
    val p2l = m.logicalByPhysical
    def mayMatch(f: ManifestFile): Boolean =
      StatsPruning.fileMayMatch(schema,
        StatsPruning.fileRanges(f).map { case (c, r) => p2l.getOrElse(c, c) -> r },
        bounds)
    // bloom refinement for equality conditions (same literal/column
    // type-agreement gate as the bounds; parser literals match string
    // columns — the scattered-uuid-key case blooms exist for). Range
    // pruning stays the swap's conflict predicate: conservative beats
    // sharp for detecting concurrent writers.
    val bloomHashes = graft.sources.BloomSkipping.equalityHashes(predicates, schema)
      .map { case (c, hs) => m.physicalOf(c) -> hs }
    val candidates = table.filesOf(m).filter(f => mayMatch(f) &&
      graft.sources.BloomSkipping.fileMayMatch(table.root, f, bloomHashes))
    if (candidates.isEmpty) return m.version

    // ---- 2. exact touched files: which candidates hold LIVE matching
    // rows (already-masked rows must neither re-touch a file nor appear
    // in change rows). The masked read carries __graft_rel/__graft_pos —
    // the row identities a MOR op needs anyway.
    // driver list bounded by the candidate file count — the same order
    // as the manifest listing itself, never the row count
    val withPos = table.readMaskedWithPos(candidates, schema, m.mapping)
    val matchedPaths = withPos.filter(cond)
      .select(col("__graft_rel")).distinct().collect()
      .map(_.getString(0)).toSet
    if (matchedPaths.isEmpty) return m.version
    val touched = candidates.filter(f => matchedPaths.contains(f.path))

    def applied(src: DataFrame, gate: Option[Column]): Seq[Column] =
      schema.fields.toSeq.map { f =>
        assign.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, e)) =>
            val v = ColumnBridge.toColumn(e).cast(f.dataType)
            gate.map(g => when(g, v).otherwise(src(f.name)))
              .getOrElse(v).as(f.name)
          case None => src(f.name).as(f.name)
        }
      }

    if (mor) return morCommit(
      table, m, schema, op, cond, applied, touched, mayMatch,
      changeFeed, txn, txnApp)

    // ---- 3. copy-on-write rewrite of the touched files (masked read:
    // an existing DV's rows stay deleted and the rewrite drops the DV;
    // row-id-carrying when tracking — surviving/updated rows keep their
    // stable ids through the rewrite; copied rows also keep their
    // last-modified version, updated rows reset to NULL and inherit the
    // new file's default commit version)
    val rowIdCols =
      if (!m.rowTracking) Nil
      else Seq(col(s"`${GraftTable.RowIdCol}`"),
        when(cond, lit(null).cast("long"))
          .otherwise(col(s"`${GraftTable.RowCommitCol}`"))
          .as(GraftTable.RowCommitCol))
    val before = table.readForRewrite(m, touched, schema)
    val after = op match {
      case "delete" => before.filter(!cond)
      case _ => before.select(applied(before, Some(cond)) ++ rowIdCols: _*)
    }
    // pv-aware write-back: rewritten files on a converted table carry
    // their partition tuple (O(touched), no bridge)
    val newFiles = table.writeRewriteFiles(m, after, table.statsContract(m), m.mapping)

    // ---- 4. stage change rows pre-commit, publish post-commit ----
    // tracked tables' change rows carry `_row_id` into the stored feed
    // (both images of an update share one id — an identity-keyed
    // downstream hop pairs them exactly, even when the update changed
    // the key). The rewrite's RAW carry columns still must not leak.
    val feedIdCols =
      if (!m.rowTracking) Nil
      else Seq(col(s"`${GraftTable.RowIdCol}`").as(GraftTable.RowIdOut))
    val staged = if (!changeFeed) None else Some(table.stageChangeFeed(op match {
      case "delete" =>
        // schema-field select: the feed's shape is the TABLE's columns —
        // the rewrite's row-id carry must not leak into it
        before.filter(cond).select(
            schema.fieldNames.map(col).toIndexedSeq ++ feedIdCols: _*)
          .withColumn("_change_type", lit("delete"))
      case _ =>
        // BOTH images of rows the assignments actually CHANGED (Delta
        // CDF parity: update_preimage + update_postimage) — a row
        // matching the condition whose values are already the assigned
        // ones is not a change and must not double-deliver downstream
        val preImage = struct(schema.fieldNames.map(col).toIndexedSeq: _*)
        val changed = before
          .withColumn("__post", struct(applied(before, Some(cond)).toIndexedSeq: _*))
          .filter(cond && !(preImage <=> col("__post")))
        changed.select(schema.fieldNames.map(col).toIndexedSeq ++ feedIdCols :+
            lit("update_preimage").as("_change_type"): _*)
          .unionByName(changed.select(schema.fieldNames.map(n =>
            col("__post").getField(n).as(n)).toIndexedSeq ++ feedIdCols :+
            lit("update_postimage").as("_change_type"): _*))
    }))

    val v = table.swap(touched.map(_.path).toSet, newFiles, schema, m.version,
      mayConflict = mayMatch, txn = txn, txnApp = txnApp, op = op)
    staged.foreach(table.publishChangeFeed(v, _))
    v
  }

  /** Merge-on-read commit: mask matched rows behind a new DV dataset
    * (stacking any prior masks of the touched files); UPDATE appends
    * post-image files for the masked rows. A file whose every physical
    * row ends up masked is dropped from the manifest outright — no
    * reader should scan a fully-dead file just to anti-join all of it
    * away.
    */
  private def morCommit(
      table: GraftTable, m: Manifest, schema: StructType, op: String,
      cond: Column, applied: (DataFrame, Option[Column]) => Seq[Column],
      touched: Seq[ManifestFile], mayConflict: ManifestFile => Boolean,
      changeFeed: Boolean,
      txn: Option[String], txnApp: Option[String]): Long = {
    val spark = table.spark
    import spark.implicits._
    // row-id carry when tracking: an UPDATE's post-image files must
    // materialize the masked pre-images' ids (the row moved files; its
    // identity must not). Every post-image row WAS updated, so the
    // commit version stays NULL — it inherits the new file's default
    val rowIdCols =
      if (!m.rowTracking) Nil
      else Seq(col(s"`${GraftTable.RowIdCol}`"),
        lit(null).cast("long").as(GraftTable.RowCommitCol))
    val matched =
      (if (m.rowTracking)
        table.readMaskedRowIds(touched, schema, m.mapping, withPos = true)
      else table.readMaskedWithPos(touched, schema, m.mapping)).filter(cond)

    // new mask entries ∪ the touched files' existing entries (their DV
    // pointers move to the new dataset; untouched files keep pointing at
    // their old datasets, so only TOUCHED entries migrate)
    val newPairs = matched
      .select(col("__graft_rel").as("path"), col("__graft_pos").as("pos"))
    val oldDirs = touched.flatMap(_.dv).distinct
    val touchedRels = touched.map(_.path)
    // the same (path, pos) can appear in SEVERAL old datasets: an
    // earlier migration copies a file's entries into its new dataset
    // while files still pointing at the old one keep it alive, so a
    // later op touching both files reads the entry twice. The DV is a
    // SET of masked positions — dedup before it lands, or dvRows
    // inflates and liveRows can hit 0 for a file with live rows (which
    // the fully-masked filter below would then silently drop).
    val allPairs =
      (if (oldDirs.isEmpty) newPairs
       else newPairs.unionByName(
         spark.read.parquet(oldDirs.map(d => s"${table.root}/$d"): _*)
           .join(broadcast(touchedRels.toDF("path")), "path")
           .select(col("path"), col("pos"))))
        .dropDuplicates("path", "pos")
    // group per file: few, well-packed DV part files instead of one per
    // upstream scan partition
    val dvRel = table.writeDvData(
      allPairs.repartition(math.min(32, touched.size), col("path")))

    // per-file masked counts from what actually LANDED (O(touched files)
    // driver rows — the same bound as the matched-path resolution)
    val counts = spark.read.parquet(s"${table.root}/$dvRel")
      .groupBy("path").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val updated = touched.map(f =>
      f.copy(dv = Some(dvRel), dvRows = Some(counts.getOrElse(f.path, 0L))))
    // fully-masked files are dropped from the manifest outright (their
    // bytes age out via vacuum); only partially-masked entries re-land
    val partial = updated.filter(_.liveRows > 0L)

    // UPDATE: post-images of ALL matched rows land as fresh files (their
    // pre-images are now masked); assignments apply unconditionally —
    // `matched` is already the condition's row set
    val newFiles =
      if (op == "delete") Nil
      else {
        val post = matched.select(applied(matched, None) ++ rowIdCols: _*)
        table.writeRewriteFiles(m, post, table.statsContract(m), m.mapping)
      }

    // same identity-into-the-feed contract as the COW path
    val feedIdCols =
      if (!m.rowTracking) Nil
      else Seq(col(s"`${GraftTable.RowIdCol}`").as(GraftTable.RowIdOut))
    val staged = if (!changeFeed) None else Some(table.stageChangeFeed(op match {
      case "delete" =>
        matched.select(
            schema.fieldNames.map(col).toIndexedSeq ++ feedIdCols: _*)
          .withColumn("_change_type", lit("delete"))
      case _ =>
        // same changed-rows-only, both-images contract as the COW path
        val preImage = struct(schema.fieldNames.map(col).toIndexedSeq: _*)
        val changed = matched
          .withColumn("__post", struct(applied(matched, None).toIndexedSeq: _*))
          .filter(!(preImage <=> col("__post")))
        changed.select(schema.fieldNames.map(col).toIndexedSeq ++ feedIdCols :+
            lit("update_preimage").as("_change_type"): _*)
          .unionByName(changed.select(schema.fieldNames.map(n =>
            col("__post").getField(n).as(n)).toIndexedSeq ++ feedIdCols :+
            lit("update_postimage").as("_change_type"): _*))
    }))

    val v = table.swap(touched.map(_.path).toSet, partial ++ newFiles, schema,
      m.version, mayConflict = mayConflict, txn = txn, txnApp = txnApp,
      op = op)
    staged.foreach(table.publishChangeFeed(v, _))
    v
  }

  /** Predicate-scoped overwrite (Delta `replaceWhere` parity): rows
    * matching `cond` are replaced by `data` in ONE atomic commit — the
    * partition-overwrite shape (`INSERT OVERWRITE t PARTITION (day='x')`)
    * and the general "reload this slice" operation. Readers never see a
    * state with the slice deleted but not yet reloaded.
    *
    * Execution reuses DELETE's two-step pruning (stats bounds + bloom,
    * then one masked pass resolving files that actually HOLD matching
    * live rows), so cost is O(touched slice + new data), never O(table):
    * on a day-partitioned table a one-day reload reads and rewrites only
    * that day's files. Incoming rows must each satisfy `cond` (Delta's
    * replaceWhere constraint) — enforced with the same zero-extra-pass
    * raise_error gate CHECK constraints use, because a row that leaks
    * into an untouched partition would silently corrupt slices the
    * statement claimed not to touch.
    *
    * `changeFeed = true` publishes the replaced rows as 'delete' and the
    * incoming batch as 'insert' under the landed version.
    */
  private[graft] def replaceWhere(
      table: GraftTable, condExpr: Expression, data: DataFrame,
      changeFeed: Boolean = false,
      txn: Option[String] = None, txnApp: Option[String] = None): Long = {
    val m = table.latestManifest.getOrElse(throw new IllegalStateException(
      s"replaceWhere on uncommitted table ${table.root}"))
    val schema = StructType.fromDDL(m.schema)
    if (changeFeed) GraftTable.requireNoReservedCdfCols(schema.fieldNames.toSeq)
    val cond = coalesce(ColumnBridge.toColumn(condExpr), lit(false))

    val extra = data.columns.filterNot(c =>
      schema.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"replaceWhere data columns ${extra.mkString(", ")} do not exist on " +
        s"the table (${schema.fieldNames.mkString(", ")})")
    // generated-column contract BEFORE the gate: a missing generated
    // column is computed (the replace predicate often targets it —
    // INSERT OVERWRITE PARTITION on a generated day column), and a
    // PROVIDED one is validated per-row. Validation here is load-bearing:
    // a provided value that disagrees with the expression (a static
    // PARTITION spec naming the wrong day for the batch's rows) would
    // pass the predicate gate on the provided value and then be
    // recomputed by the rewrite funnel into a slice the statement
    // claimed not to touch.
    val withGen = table.applyIdentity(
      table.applyGenerated(data, recompute = false))
    val aligned = withGen.select(schema.fields.toSeq.map { f =>
      withGen.columns.find(_.equalsIgnoreCase(f.name)) match {
        case Some(c) => col(s"`$c`").cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
    val gated = aligned.filter(
      when(cond, lit(true)).otherwise(raise_error(concat(
        lit("replaceWhere: incoming row does not satisfy the replace " +
          "predicate: "),
        to_json(struct(aligned.columns.map(col).toIndexedSeq: _*))))
        .cast("boolean")))

    // same pruning + exact-touched resolution as DELETE
    val predicates = pruningPredicates(condExpr, schema)
    val bounds = StatsPruning.queryBounds(predicates, schema)
    val p2l = m.logicalByPhysical
    def mayMatch(f: ManifestFile): Boolean =
      StatsPruning.fileMayMatch(schema,
        StatsPruning.fileRanges(f).map { case (c, r) => p2l.getOrElse(c, c) -> r },
        bounds)
    val bloomHashes = graft.sources.BloomSkipping.equalityHashes(predicates, schema)
      .map { case (c, hs) => m.physicalOf(c) -> hs }
    val candidates = table.filesOf(m).filter(f => mayMatch(f) &&
      graft.sources.BloomSkipping.fileMayMatch(table.root, f, bloomHashes))
    val touched =
      if (candidates.isEmpty) Nil
      else {
        val matchedPaths = table.readMaskedWithPos(candidates, schema, m.mapping)
          .filter(cond).select(col("__graft_rel")).distinct().collect()
          .map(_.getString(0)).toSet
        candidates.filter(f => matchedPaths.contains(f.path))
      }

    val keep =
      if (touched.isEmpty) None
      else Some(table.readForRewrite(m, touched, schema).filter(!cond))
    // allowMissingColumns: when tracking, the kept side carries its
    // row-id column and the incoming batch null-backfills it (fresh rows
    // get ids from the file's allocated range at read time)
    val combined = keep
      .map(_.unionByName(gated, allowMissingColumns = true)).getOrElse(gated)
    val newFiles = table.writeRewriteFiles(m, combined, table.statsContract(m), m.mapping)
    if (touched.isEmpty && newFiles.forall(_.rows == 0L))
      return m.version // nothing replaced, nothing added — no empty commit

    val staged = if (!changeFeed) None else Some(table.stageChangeFeed(
      (touched match {
        case Nil => gated.withColumn("_change_type", lit("insert"))
        case t => table.readMasked(t, schema, m.mapping).filter(cond)
          .withColumn("_change_type", lit("delete"))
          .unionByName(gated.withColumn("_change_type", lit("insert")))
      })))
    val v = table.swap(touched.map(_.path).toSet, newFiles.filter(_.rows > 0L),
      schema, m.version, mayConflict = mayMatch, txn = txn, txnApp = txnApp,
      op = "replaceWhere")
    staged.foreach(table.publishChangeFeed(v, _))
    v
  }

  /** The condition rendered as conjunctive predicates over RESOLVED
    * attribute refs — the shape [[StatsPruning.queryBounds]] consumes.
    * Resolution is a pure name substitution (no analyzer pass), so the
    * trees reach `queryBounds` WITHOUT type coercion — a cross-family
    * comparison (string column vs numeric literal) arrives as a bare
    * attribute-vs-literal shape that an analyzed plan would wrap in
    * Casts. `queryBounds` therefore gates extraction on literal/column
    * type-family agreement; a cross-family, unresolved, or exotic shape
    * contributes no bound (file kept, never wrongly pruned).
    */
  private[graft] def pruningPredicates(
      parsed: Expression, schema: StructType): Seq[Expression] = {
    val resolved = parsed.transformUp {
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        schema.fields.find(_.name.equalsIgnoreCase(u.nameParts.head))
          .map(f => AttributeReference(f.name, f.dataType)())
          .getOrElse(u)
    }
    splitConjunctive(resolved)
  }

  private[graft] def splitConjunctive(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctive(l) ++ splitConjunctive(r)
    case other => Seq(other)
  }
}
