package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.LongType

import graft.operators.{MergeClauses, RowLevel}

/** SQL DML for graft tables — `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * via plain `spark.sql` (the Delta statement surface behind ref
  * COPY_MSQL_TO_SILVER.py:195-196; Spark parses all three natively but
  * resolves them only for DataSource-v2 tables).
  *
  * Spark's parser produces [[DeleteFromTable]] / [[UpdateTable]] /
  * [[MergeIntoTable]]; for a v1 source the analyzer then rejects them
  * ("only supported with v2 tables"). This rule — injected in the hints
  * batch like [[GraftTimeTravelRule]], i.e. BEFORE relation resolution —
  * substitutes a runnable command when the target is a graft table
  * (registered `USING graft` identifier or a `graft.`/path`` literal)
  * and leaves every other target for Spark's own resolution.
  *
  * DELETE and UPDATE execute through [[RowLevel]] (stats-pruned
  * copy-on-write); MERGE maps onto [[graft.operators.MergeBuilder]].
  * The ON clause must be a conjunction of same-named key equalities
  * (`t.k = s.k [AND ...]` — the builder joins by name); the action
  * surface is the full standard one:
  *
  *   WHEN MATCHED [AND c] THEN UPDATE SET * | SET col = expr, ...
  *   WHEN MATCHED [AND c] THEN DELETE
  *   WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (exprs)
  *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
  *
  * Every shape maps onto [[graft.operators.MergeClauses]] with standard
  * first-matching-clause semantics, the same list the builder's flag API
  * lowers to. MergeBuilder picks its execution from the clause shape: a
  * small `UPDATE SET *` + `INSERT *` batch (ref :200-209) takes the
  * broadcast-anti upsert, everything else one full-outer join.
  * Conditions and values may reference both sides (`t.c` = target
  * pre-image, `s.c` = source); ambiguous unqualified refs error loudly
  * at execute.
  */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val dml = substituteDml(plan)
    // Bare `graft.`/path`` relations in READ position (SELECT/join/
    // subquery): Spark's direct-file-query path rejects non-FileFormat
    // sources, so resolve them here — AFTER the DML substitution above,
    // whose patterns need the target still unresolved. DML targets are
    // by now opaque command leaves, so only genuine reads remain.
    dml.resolveOperatorsUp {
      case u: UnresolvedRelation
          if u.multipartIdentifier.length == 2 &&
            u.multipartIdentifier.head.equalsIgnoreCase("graft") =>
        val rel = org.apache.spark.sql.execution.datasources.DataSource(
          spark, className = "graft",
          options = Map("path" -> u.multipartIdentifier(1))).resolveRelation()
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, isStreaming = false)
    }
  }

  private def substituteDml(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case DeleteFromTable(t, cond) if graftTarget(spark, t).isDefined =>
        val (root, quals) = graftTarget(spark, t).get
        GraftDeleteCommand(root, DmlTrees(cond = Some(strip(cond, quals))))

      case UpdateTable(t, assignments, cond) if graftTarget(spark, t).isDefined =>
        val (root, quals) = graftTarget(spark, t).get
        val set = assignments.map { case Assignment(k, v) =>
          keyName(k, quals) -> strip(v, quals)
        }
        GraftUpdateCommand(root, DmlTrees(
          cond = Some(strip(cond.getOrElse(Literal.TrueLiteral), quals)),
          assigns = set))

      // INSERT INTO / INSERT OVERWRITE: Spark would otherwise route a
      // graft relation into InsertIntoHadoopFsRelationCommand, which
      // writes parquet files the MANIFEST never sees — the statement
      // "succeeds" and the rows are invisible to every scan (silent
      // data loss). Substitute the versioned append/overwrite instead.
      case InsertIntoStatement(tbl, partSpec, userCols, query, overwrite,
          ifPartitionNotExists, byName)
          if graftTarget(spark, tbl).isDefined =>
        val (root, _) = graftTarget(spark, tbl).get
        if (ifPartitionNotExists) throw unsupported(
          "INSERT ... PARTITION ... IF NOT EXISTS",
          "a plain INSERT OVERWRITE ... PARTITION (the graft overwrite " +
            "is versioned — restore the prior version instead)")
        GraftInsertCommand(root, userCols, overwrite, byName,
          DmlTrees(source = Some(query)), partSpec.toSeq)

      case MergeIntoTable(tgt, src, onCond, matched, notMatched, nmbs,
          schemaEvolution) if graftTarget(spark, tgt).isDefined =>
        val (root, tq) = graftTarget(spark, tgt).get
        val (pkCols, residual) = pkAndResidual(onCond)
        val sq = sourceQuals(src)
        // Every shape maps onto the ordered clause list with standard SQL
        // semantics: conditions/values travel UNRESOLVED and resolve at
        // execute time against the merge's own join, so `t.c` reads the
        // target PRE-image and `s.c` the source row. MergeBuilder picks
        // its broadcast fast path from the clause shape alone.
        def clause(a: MergeAction, where: String): MergeClauses.Clause = {
          def sets(assignments: Seq[Assignment]) = assignments.map {
            case Assignment(k, v) => keyName(k, tq) -> v
          }
          a match {
            case UpdateStarAction(c) =>
              MergeClauses.Clause(c, MergeClauses.UpdateAll)
            case UpdateAction(c, assigns, _) =>
              MergeClauses.Clause(c, MergeClauses.UpdateSet(sets(assigns)))
            case DeleteAction(c) => MergeClauses.Clause(c, MergeClauses.Delete)
            case InsertStarAction(c) =>
              MergeClauses.Clause(c, MergeClauses.InsertAll)
            case InsertAction(c, assigns) =>
              MergeClauses.Clause(c, MergeClauses.InsertValues(sets(assigns)))
            case other => throw unsupported(s"$where action $other",
              "UPDATE / DELETE / INSERT")
          }
        }
        val mc = MergeClauses(
          matched = matched.map(clause(_, "WHEN MATCHED")),
          notMatched = notMatched.map(clause(_, "WHEN NOT MATCHED")),
          notMatchedBySource = nmbs.map(clause(_, "WHEN NOT MATCHED BY SOURCE")),
          targetQuals = tq, sourceQuals = sq, onResidual = residual)
        GraftMergeCommand(root, pkCols,
          DmlTrees(source = Some(src), merge = Some(mc)), schemaEvolution)
    }
}

object GraftDml {

  /** Opaque holder for the unresolved trees a DML command carries: they
    * resolve against the LIVE table at run time, and exposing them
    * through the command's reflective `expressions` walk would fail the
    * analyzer's `resolved` check (the whole point is that these are not
    * resolvable in the statement's own plan).
    */
  case class DmlTrees(
      cond: Option[Expression] = None,
      assigns: Seq[(String, Expression)] = Nil,
      source: Option[LogicalPlan] = None,
      merge: Option[MergeClauses] = None)

  /** The statement target as (graft root, strippable qualifiers) when —
    * and only when — it is a graft table; None sends the statement to
    * Spark's own (v2) resolution untouched.
    */
  private[graft] def graftTarget(
      spark: SparkSession, p: LogicalPlan): Option[(String, Set[String])] = {
    val (rel, alias) = p match {
      case SubqueryAlias(id, u: UnresolvedRelation) => (u, Some(id.name))
      case u: UnresolvedRelation => (u, None)
      case _ => return None
    }
    GraftSqlParser.rootOfParts(spark, rel.multipartIdentifier).map { root =>
      val quals = (alias.toSeq ++ rel.multipartIdentifier.lastOption.toSeq)
        .map(_.toLowerCase).toSet
      (root, quals)
    }
  }

  /** Drop a leading alias/table qualifier so the tree resolves against
    * the raw table scan (`t.v` → `v`); unqualified refs pass through.
    */
  private[graft] def strip(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 &&
          quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  private[sources] def keyName(k: Expression, quals: Set[String]): String =
    strip(k, quals) match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 => a.nameParts.head
      case other => throw unsupported(s"UPDATE SET target $other",
        "a plain column name")
    }

  /** MERGE ON → MergeBuilder pk columns: each conjunct must equate the
    * SAME column name on both sides (the builder joins by name).
    */
  private[sources] def pkColsOf(cond: Expression): Seq[String] =
    pkAndResidual(cond)._1

  /** Split the MERGE ON condition: same-named key equalities drive the
    * join (pruning, broadcast sizing, conflict detection); every other
    * conjunct becomes the RESIDUAL, applied post-join with standard SQL
    * semantics (a key-joined pair failing it is unmatched on both
    * sides). At least one key equality is required — a key-less ON
    * would force a cross join of a 100 TB target.
    */
  private[sources] def pkAndResidual(
      cond: Expression): (Seq[String], Option[Expression]) = {
    val (eqs, rest) = RowLevel.splitConjunctive(cond).partition {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) => true
      case _ => false
    }
    val pk = eqs.collect {
      case EqualTo(a: UnresolvedAttribute, _) => a.nameParts.last
    }.distinct
    if (pk.isEmpty) throw unsupported(s"MERGE ON $cond",
      "at least one same-named key equality (t.k = s.k [AND <residual>])")
    (pk, rest.reduceOption(org.apache.spark.sql.catalyst.expressions.And))
  }

  private[sources] def sourceQuals(p: LogicalPlan): Set[String] = p match {
    case SubqueryAlias(id, child) =>
      Set(id.name.toLowerCase) ++ sourceQuals(child)
    case u: UnresolvedRelation =>
      u.multipartIdentifier.lastOption.map(_.toLowerCase).toSet
    case _ => Set.empty
  }

  private[sources] def unsupported(what: String, want: String) =
    new IllegalArgumentException(
      s"unsupported for graft tables: $what (supported: $want)")

  private[graft] val versionOutput: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
}

/** `DELETE FROM <graft table> [WHERE cond]` → [[RowLevel.deleteExpr]];
  * returns the committed version (unchanged when nothing matched).
  * An UNCONDITIONED delete (no WHERE, or a literal-true condition) is
  * [[GraftTable.truncate]] — one metadata-only empty-manifest commit
  * instead of streaming every live row through the row-level path.
  */
case class GraftDeleteCommand(root: String, trees: GraftDml.DmlTrees)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftTable(spark, root)
    val v = trees.cond.get match {
      case Literal.TrueLiteral => t.truncate()
      case cond => RowLevel.deleteExpr(
        t, cond, changeFeed = false, None, None, mor = t.dvEnabled)
    }
    Seq(Row(v))
  }
}

/** `UPDATE <graft table> SET ... [WHERE cond]` → [[RowLevel.updateExpr]]. */
case class GraftUpdateCommand(root: String, trees: GraftDml.DmlTrees)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftTable(spark, root)
    Seq(Row(RowLevel.updateExpr(t,
      trees.assigns, trees.cond.get, changeFeed = false, None, None,
      mor = t.dvEnabled)))
  }
}

/** `INSERT INTO [t (cols)] SELECT/VALUES ...` and `INSERT OVERWRITE` →
  * the versioned append/overwrite funnel. Standard SQL semantics:
  * by-position column matching (arity must agree) with store-assignment
  * casts; an explicit column list fills unlisted columns with NULL;
  * `BY NAME` matches by (case-insensitive) name and requires every
  * table column present. The commit reuses the table's current stats
  * columns so appended files keep pruning, and a partitioned table's
  * batch is clustered on the partition columns (append funnel
  * behavior); OVERWRITE on a partitioned table re-declares the layout.
  *
  * `PARTITION (...)` follows Hive/Spark semantics against graft's
  * cluster-partitioned model: static entries (`day='x'`) become literal
  * columns the query must NOT provide; dynamic entries (`day`) are
  * provided by the query's TRAILING columns. Dynamic columns bind in
  * the table's declared partition-column order (falling back to schema
  * order for non-partition columns) — the same by-name resolution
  * Spark's own analyzer applies — NOT the arrival order of the parsed
  * spec, which is a Map whose iteration order is undefined past four
  * entries. An unquoted `null` static value (Spark parses it to a null
  * value, distinct from the string `'null'`) addresses the NULL slice:
  * the fill column is a typed NULL and the overwrite predicate uses
  * null-safe equality.
  *
  * With OVERWRITE a fully-static spec replaces exactly that slice — ONE
  * atomic [[GraftTable.overwriteWhere]] commit, O(slice) not O(table).
  * Dynamic OVERWRITE (one or more dynamic columns) replaces exactly the
  * partitions PRESENT in the batch (Spark's
  * `partitionOverwriteMode=dynamic`): the batch's distinct partition
  * tuples — capped at Hive's 1000-partition precedent so a runaway
  * batch cannot silently become a full-table rewrite — form the replace
  * predicate: an OR of null-safe per-tuple conjunctions for exactness,
  * AND'ed with per-column IN bounds that [[StatsPruning.queryBounds]]
  * understands, so candidate files still prune by range before the
  * exact touched-file resolution.
  */
case class GraftInsertCommand(
    root: String, userCols: Seq[String], overwrite: Boolean,
    byName: Boolean, trees: GraftDml.DmlTrees,
    partSpec: Seq[(String, Option[String])] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val t = GraftTable(spark, root)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"INSERT into uncommitted graft table $root (write an initial " +
        "version first — CTAS, overwrite, or convert)"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schema)
    partSpec.map(_._1).foreach { c =>
      if (!schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"PARTITION column `$c` does not exist on the table " +
            s"(${schema.fieldNames.mkString(", ")})")
    }
    val static = partSpec.collect { case (c, Some(v)) => c -> v }
    // dynamic columns bind the query's trailing columns BY the table's
    // declared partition order (then schema order) — partSpec arrives
    // through a Map whose iteration order is undefined, and Spark's own
    // analyzer resolves dynamic partitions by name against catalog
    // partition order, never by spec arrival order
    val declaredParts = m.partitionCols.getOrElse(Nil)
    def canonicalRank(c: String): (Int, Int) = {
      val p = declaredParts.indexWhere(_.equalsIgnoreCase(c))
      if (p >= 0) (0, p)
      else (1, schema.fieldNames.indexWhere(_.equalsIgnoreCase(c)))
    }
    val dynamic = partSpec.collect { case (c, None) => c }.sortBy(canonicalRank)
    def isStatic(n: String) = static.exists(_._1.equalsIgnoreCase(n))
    def isDynamic(n: String) = dynamic.exists(_.equalsIgnoreCase(n))
    // generated AND identity columns may be omitted from INSERTs — the
    // write funnel computes/allocates them
    val generatedNames = t.generatedCols.map(_._1) ++ t.identityCols.map(_._1)
    def isGenerated(n: String) = generatedNames.exists(_.equalsIgnoreCase(n))
    // columns with a declared DEFAULT materialize it when omitted
    val defaults = t.defaultCols
    def defaultOf(n: String): Option[String] =
      defaults.find(_._1.equalsIgnoreCase(n)).map(_._2)
    // the fields the QUERY must provide: non-spec columns in table
    // order, then dynamic partition columns trailing in spec order
    // (Hive/Spark's dynamic-partition position contract)
    val expected =
      schema.fields.filter(f => !isStatic(f.name) && !isDynamic(f.name)) ++
        dynamic.map(d => schema.fields.find(_.name.equalsIgnoreCase(d)).get)
    val df0 = PlanBridge.ofRows(spark, trees.source.get)
    // duplicate output names (Spark 4 auto-aliases `CAST(ts AS DATE)`
    // back to `ts`) break name-based binding — positional forms rename
    // to unique placeholders first (BY NAME genuinely needs the
    // original names, and duplicates there are unresolvable anyway)
    val df =
      if (byName || df0.columns.distinct.length == df0.columns.length) df0
      else df0.toDF(df0.columns.indices.map(i => s"__graft_c$i"): _*)
    val src = df.schema.fieldNames
    def q(n: String) = s"`$n`"
    val valued: Map[String, org.apache.spark.sql.Column] =
      if (userCols.nonEmpty) {
        userCols.find(c => !expected.exists(_.name.equalsIgnoreCase(c)))
          .foreach(c => throw GraftDml.unsupported(
            s"INSERT column `$c`",
            s"one of ${expected.map(_.name).mkString(", ")}" +
              (if (static.nonEmpty)
                s" (${static.map(_._1).mkString(", ")} carry static " +
                  "PARTITION values)"
              else "")))
        // a duplicate name would bind only its first occurrence below
        // (indexWhere) and silently drop the other value — reject loudly
        val dups = userCols.groupBy(_.toLowerCase).collect {
          case (_, g) if g.length > 1 => g.head
        }
        if (dups.nonEmpty) throw new IllegalArgumentException(
          s"INSERT column list names ${dups.map(c => s"`$c`").mkString(", ")} " +
            "more than once")
        if (src.length != userCols.length) throw new IllegalArgumentException(
          s"INSERT column list has ${userCols.length} column(s) but the " +
            s"query produces ${src.length}")
        // an absent GENERATED column is OMITTED (the write funnel
        // computes it), not null-filled — a null would read as a
        // provided value and fail generated-column validation
        expected.flatMap { f =>
          userCols.indexWhere(_.equalsIgnoreCase(f.name)) match {
            case -1 if isGenerated(f.name) => None
            case -1 => Some(f.name -> defaultOf(f.name)
              .map(e => org.apache.spark.sql.functions.expr(e).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType)))
            case i => Some(f.name -> col(q(src(i))).cast(f.dataType))
          }
        }.toMap
      } else if (byName) {
        val missing = expected.map(_.name).filterNot(n =>
          src.exists(_.equalsIgnoreCase(n)) || isGenerated(n) ||
            defaultOf(n).isDefined)
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"INSERT BY NAME is missing table column(s) ${missing.mkString(", ")}")
        expected.flatMap(f =>
          src.find(_.equalsIgnoreCase(f.name)) match {
            case Some(s) => Some(f.name -> col(q(s)).cast(f.dataType))
            case None if isGenerated(f.name) => None // computed downstream
            case None => defaultOf(f.name).map(e =>
              f.name -> org.apache.spark.sql.functions.expr(e).cast(f.dataType))
          }).toMap
      } else {
        // by position, generated columns may be omitted AS A BLOCK: the
        // query provides either every column or every non-generated one
        // (positional holes would be ambiguous)
        val nonGen = expected.filterNot(f => isGenerated(f.name))
        val target =
          if (src.length == nonGen.length && nonGen.length != expected.length)
            nonGen
          else expected
        if (src.length != target.length) throw new IllegalArgumentException(
          s"INSERT by position needs ${expected.length} column(s) " +
            s"(${expected.map(_.name).mkString(", ")})" +
            (if (nonGen.length != expected.length)
              s" or ${nonGen.length} with the generated column(s) omitted"
            else "") +
            s" but the query produces ${src.length}")
        target.zipWithIndex.map { case (f, i) =>
          f.name -> col(q(src(i))).cast(f.dataType)
        }.toMap
      }
    // fields with no value (omitted generated columns) are left out of
    // the select — the write funnel computes them
    val out = df.select(schema.fields
      .filter(f => isStatic(f.name) || valued.contains(f.name)).map { f =>
        (if (isStatic(f.name))
          lit(static.find(_._1.equalsIgnoreCase(f.name)).get._2).cast(f.dataType)
        else valued(f.name)).as(f.name)
      }.toIndexedSeq: _*)
    val stats = t.statsContract(m)
    val parts = m.partitionCols.getOrElse(Nil)
    val v =
      if (overwrite && partSpec.nonEmpty) {
        // slice replace: atomic predicate-scoped overwrite of exactly
        // the spec'd slice(s). Static entries pin their slice with
        // NULL-safe equality (a 'null' static value replaces the NULL
        // slice, Hive's __HIVE_DEFAULT semantics); a dynamic column
        // replaces exactly the partitions PRESENT in the batch (Spark's
        // partitionOverwriteMode=dynamic) — their distinct values are
        // one small aggregation, capped like Hive's dynamic-partition
        // limit so a runaway batch can't silently become a full-table
        // rewrite. IN-list bounds still prune candidate files by
        // [min, max] of the touched partition values.
        import org.apache.spark.sql.functions.lit
        // the slice predicate below references the partition columns, so
        // an omitted generated partition column must be computed HERE
        // (provided ones are validated by the replaceWhere funnel)
        val outG =
          if (generatedNames.exists(g => !out.columns.exists(_.equalsIgnoreCase(g))))
            t.applyGenerated(out, recompute = false)
          else out
        // a dynamic spec evaluates the batch twice (distinct values +
        // write) — cache it so the source query runs once
        val batch =
          if (dynamic.nonEmpty)
            outG.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else outG
        val staticCond = static.map { case (c, v0) =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(c)).get
          col(s"`${f.name}`") <=> lit(v0).cast(f.dataType)
        }
        val dynFields = dynamic.map(c =>
          schema.fields.find(_.name.equalsIgnoreCase(c)).get)
        val dynCond: Seq[org.apache.spark.sql.Column] =
          if (dynFields.isEmpty) Nil
          else {
            val tuples = batch
              .select(dynFields.map(f => col(s"`${f.name}`")).toIndexedSeq: _*)
              .distinct().limit(1001).collect()
            if (tuples.length > 1000) throw new IllegalArgumentException(
              s"dynamic-partition INSERT OVERWRITE touches more than 1000 " +
                s"distinct (${dynFields.map(_.name).mkString(", ")}) " +
                "tuple(s); overwrite the whole table or split the batch")
            // per-column IN bounds first: redundant with the exact tuple
            // test but shaped for StatsPruning.queryBounds, so the
            // replace still prunes candidate files by range
            val perCol = dynFields.zipWithIndex.map { case (f, i) =>
              val (nulls, vals) = tuples.map(_.get(i)).distinct.partition(_ == null)
              val in =
                if (vals.isEmpty) lit(false)
                else col(s"`${f.name}`").isin(vals.toIndexedSeq: _*)
              if (nulls.nonEmpty) in || col(s"`${f.name}`").isNull else in
            }
            // exact slice membership: with one dynamic column the IN
            // bound above IS exact; multi-column needs the tuple test
            // (the per-column cross product over-covers), null-safe so a
            // null tuple member addresses the NULL slice
            val exact =
              if (dynFields.length <= 1 || tuples.isEmpty) None
              else Some(tuples.map { r =>
                dynFields.zipWithIndex.map { case (f, i) =>
                  col(s"`${f.name}`") <=> lit(r.get(i))
                }.reduce(_ && _)
              }.reduce(_ || _))
            perCol ++ exact
          }
        val cond = (staticCond ++ dynCond).reduce(_ && _)
        try graft.operators.RowLevel.replaceWhere(
          t, org.apache.spark.sql.graftbridge.ColumnBridge.toExpr(cond), batch)
        finally if (dynamic.nonEmpty) batch.unpersist(false)
      } else if (overwrite) {
        if (parts.nonEmpty) t.overwritePartitioned(out, parts, stats)
        else t.overwriteStats(out, stats)
      } else t.appendStats(out, stats)
    Seq(Row(v))
  }
}

/** `MERGE INTO <graft table> USING <source> ON ... WHEN ...` →
  * [[graft.operators.MergeBuilder]]. The source plan (relation or
  * subquery) analyzes at run time through [[PlanBridge.ofRows]].
  */
case class GraftMergeCommand(
    root: String, pkCols: Seq[String], trees: GraftDml.DmlTrees,
    schemaEvolution: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val source = PlanBridge.ofRows(spark, trees.source.get)
    // SQL statements follow the SQL contract: evolution only with the
    // explicit WITH SCHEMA EVOLUTION clause (the programmatic
    // MergeBuilder default stays permissive)
    Seq(Row(GraftTable(spark, root).merge(source, pkCols)
      .withSchemaEvolution(schemaEvolution)
      .withClauses(trees.merge.get)
      .execute()))
  }
}
