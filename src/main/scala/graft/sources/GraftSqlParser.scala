package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** SQL statement surface for graft tables — the Delta-parity table
  * operations the Scala API already provides, reachable from plain
  * `spark.sql` (capability behind ref `COPY_MSQL_TO_SILVER.py:195-196`,
  * where the notebook's tables are Delta and therefore get this SQL
  * surface for free):
  *
  *   DESCRIBE DETAIL <table>
  *   DESCRIBE HISTORY <table>
  *   OPTIMIZE <table> [WHERE <pred>] [ZORDER BY (c1, c2, ...)]
  *   RESTORE [TABLE] <table> [TO] VERSION AS OF <v> | TIMESTAMP AS OF '<ts>'
  *   VACUUM <table> [RETAIN <n> HOURS] [KEEP <n> VERSIONS] [DRY RUN]
  *   ALTER TABLE <table> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <table> DROP CONSTRAINT <name>
  *   ALTER TABLE <table> ADD COLUMN <name> <type>  |  ADD COLUMNS (...)
  *   ALTER TABLE <table> RENAME COLUMN <a> TO <b>
  *   ALTER TABLE <table> DROP COLUMN <c>  |  DROP COLUMNS (c1, c2)
  *   ALTER TABLE <table> SET TBLPROPERTIES ('k' = 'v', ...)
  *   ALTER TABLE <table> UNSET TBLPROPERTIES ('k', ...)
  *   ALTER TABLE <table> CREATE TAG <name> [AS OF VERSION <v>]
  *   ALTER TABLE <table> DROP TAG <name>
  *   SHOW TAGS <table>
  *   SHOW TBLPROPERTIES <table> [('key')]
  *   TRUNCATE TABLE <table> [PARTITION (k='v', ...)]
  *   REORG TABLE <table> APPLY (PURGE)
  *   CREATE TABLE <new> SHALLOW|DEEP CLONE <table> [VERSION AS OF <v>]
  *     LOCATION '<path>'
  *   CREATE [OR REPLACE] TABLE [IF NOT EXISTS] <t> USING graft
  *     [PARTITIONED BY (c1, ...)] [STATS (c1, ...)]
  *     [TBLPROPERTIES (...)] [LOCATION '<path>']
  *     AS <query>                       |  REPLACE TABLE ... AS <query>
  *   CONVERT TO GRAFT parquet.`/path` [STATS (c1, c2)]
  *   COPY INTO <table> FROM parquet.`/path` [STATS (c1, c2)]
  *   INSERT INTO <table> REPLACE WHERE <cond> <query>
  *   SYNC <table> INTO <mirror> [SINCE VERSION <v>]
  *
  * `<table>` is a registered `USING graft` identifier (`db.name`), a
  * `graft.`/abs/path`` literal, or a quoted path. Statements are
  * recognized up front by shape; everything else goes verbatim to the
  * session's delegate parser, so the full Spark SQL surface is
  * untouched. Each statement parses to a [[LeafRunnableCommand]] that
  * resolves its table AT RUN time — parsing stays side-effect-free.
  */
class GraftSqlParser(
    delegate: ParserInterface,
    session: Option[SparkSession] = None) extends ParserInterface {
  import GraftSqlParser._

  /** Non-throwing parse-time gate for statement shapes Spark ALSO
    * understands (TRUNCATE, the ALTER TABLE column/property family):
    * intercepting those for a NON-graft table would replace Spark's
    * native command with a graft resolve error session-wide. Path
    * targets are always graft's; an identifier is graft's only when the
    * catalog probe says so. With no session to probe (direct parser
    * construction in tests) the statement is intercepted as before —
    * resolution stays loud at run time.
    */
  private def graftTarget(t: String): Boolean =
    pathLiteral(t).isDefined || t.toLowerCase.startsWith("graft.`") || {
      session.orElse(SparkSession.getActiveSession).forall { sp =>
        try {
          // multipart (not TableIdentifier): a 3-part catalog.db.table
          // must probe as non-graft and reach the delegate, not fail at
          // graft resolution
          rootOfParts(sp, delegate.parseMultipartIdentifier(t)).isDefined
        } catch {
          // unparseable identifier → intercept so resolution errors
          // loudly as a graft statement; any OTHER probe failure (a
          // transient catalog error, say) must NOT hijack a valid
          // native statement on a non-graft table — fall through to
          // the delegate
          case _: org.apache.spark.sql.catalyst.parser.ParseException => true
          case _: Exception => false
        }
      }
    }

  // statement shapes match on the COMMENT-STRIPPED text (a leading
  // `-- note` or `/* note */` must not silently reroute an OPTIMIZE to
  // the delegate, which would fail it as an unknown statement); the
  // delegate fallthrough gets the ORIGINAL text — Spark's own parser
  // handles its comments itself
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.stripLeadingComments(sqlText) match {
    case DetailRe(t) => GraftDescribeDetail(clean(t))
    case SyncMirrorRe(src, dest, v) =>
      GraftSyncMirror(clean(src), clean(dest), Option(v).map(_.toLong))
    case HistoryRe(t) => GraftDescribeHistory(clean(t))
    case OptimizeRe(t, where, zcols) =>
      GraftOptimize(clean(t),
        Option(zcols).map(_.split(",").map(c => clean(c)).toSeq).getOrElse(Nil),
        Option(where).map(_.trim))
    case RestoreRe(t, v, ts) =>
      GraftRestore(clean(t), Option(v).map(stripQuotes), Option(ts))
    case VacuumRe(t, hours, keep, dry) =>
      GraftVacuum(clean(t), Option(hours).map(_.toLong),
        Option(keep).map(_.toInt), dryRun = dry != null)
    case AddCheckRe(t, name, expr) if graftTarget(clean(t)) =>
      GraftAddConstraint(clean(t), name, expr.trim)
    case DropCheckRe(t, name) if graftTarget(clean(t)) =>
      GraftDropConstraint(clean(t), name)
    case AddColRe(t, defs) if graftTarget(clean(t)) =>
      val inner = defs.trim
      GraftAddColumns(clean(t), parseColumnDefs(
        if (inner.startsWith("(") && inner.endsWith(")"))
          inner.substring(1, inner.length - 1)
        else inner))
    case RenameColRe(t, from, to) if graftTarget(clean(t)) =>
      GraftRenameColumn(clean(t), stripTicks(from), stripTicks(to))
    case AlterColSetDefaultRe(t, c, e) if graftTarget(clean(t)) =>
      GraftAlterColumnDefault(clean(t), stripTicks(c), Some(e.trim))
    case AlterColDropDefaultRe(t, c) if graftTarget(clean(t)) =>
      GraftAlterColumnDefault(clean(t), stripTicks(c), None)
    case AlterColTypeRe(t, c, ty) if graftTarget(clean(t)) =>
      GraftAlterColumnType(clean(t), stripTicks(c), ty.trim)
    case DropColRe(t, cols) if graftTarget(clean(t)) => GraftDropColumns(clean(t),
      cols.split(",").map(c => stripTicks(c.trim)).filter(_.nonEmpty).toSeq)
    case SetPropsRe(t, kvs) if graftTarget(clean(t)) =>
      GraftSetProperties(clean(t), parseProps(kvs))
    case UnsetPropsRe(t, ks) if graftTarget(clean(t)) => GraftUnsetProperties(clean(t),
      ks.split(",").map(k => stripQuotes(k.trim)).toSeq)
    case CreateTagRe(t, name, v) =>
      GraftCreateTag(clean(t), name, Option(v).map(_.toLong))
    case DropTagRe(t, name) => GraftDropTag(clean(t), name)
    case ShowTagsRe(t) => GraftShowTags(clean(t))
    case ShowPropsRe(t, key) if graftTarget(clean(t)) =>
      GraftShowProperties(clean(t), Option(key).map(stripQuotes))
    case ShowPartitionsRe(t) if graftTarget(clean(t)) =>
      GraftShowPartitions(clean(t))
    case ShowCreateRe(t) if graftTarget(clean(t)) =>
      GraftShowCreateTable(clean(t))
    case ShowColumnsRe(t) if graftTarget(clean(t)) =>
      GraftShowColumns(clean(t))
    case DescribeRe(ext, t) if graftTarget(clean(t)) =>
      GraftDescribeTable(clean(t), extended = ext != null)
    case ReorgRe(t) => GraftReorgPurge(clean(t))
    case TruncateRe(t, part) if graftTarget(clean(t)) =>
      GraftTruncate(clean(t), Option(part).map(_.trim))
    case ConvertRe(t, partBy, stats) => GraftConvert(clean(t),
      Option(stats).map(_.split(",").map(s => stripTicks(s.trim))
        .filter(_.nonEmpty).toSeq).getOrElse(Nil),
      Option(partBy).map(parseColumnDefs).getOrElse(Nil))
    case ReplaceWhereRe(t, rest) if graftTarget(clean(t)) =>
      val (cond, query) = GraftSqlParser.splitReplaceWhere(rest)
      GraftInsertReplaceWhere(clean(t), cond, query)
    case CopyIntoRe(t, src, stats) => GraftCopyInto(clean(t), clean(src),
      Option(stats).map(_.split(",").map(s => stripTicks(s.trim))
        .filter(_.nonEmpty).toSeq).getOrElse(Nil))
    case CloneRe(dest, mode, src, v, loc) =>
      GraftShallowClone(clean(dest), clean(src),
        Option(v).map(stripQuotes), Option(loc),
        deep = mode.equalsIgnoreCase("deep"))
    case CreateEmptyRe(orRepl, repl, ifNot, t, cols, parts, stats, p1, loc, p2) =>
      GraftCreateEmptyTable(clean(t),
        orReplace = orRepl != null || repl != null,
        ifNotExists = ifNot != null,
        colDefs = parseColumnDefs(cols),
        partCols = Option(parts)
          .map(_.split(",").map(c => stripTicks(c.trim)).toSeq).getOrElse(Nil),
        statsCols = Option(stats)
          .map(_.split(",").map(c => stripTicks(c.trim)).toSeq).getOrElse(Nil),
        location = Option(loc),
        properties = Seq(p1, p2).flatMap(Option(_)).flatMap(parseProps))
    case CtasRe(orRepl, repl, ifNot, t, parts, stats, props, loc, query) =>
      GraftCreateTableAsSelect(clean(t),
        orReplace = orRepl != null || repl != null,
        ifNotExists = ifNot != null,
        partCols = Option(parts)
          .map(_.split(",").map(c => stripTicks(c.trim)).toSeq).getOrElse(Nil),
        statsCols = Option(stats)
          .map(_.split(",").map(c => stripTicks(c.trim)).toSeq).getOrElse(Nil),
        location = Option(loc), query = query.trim,
        properties = Option(props).toSeq.flatMap(parseProps))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftSqlParser {
  // Anchored, case-insensitive, dotall statement shapes. The target
  // group is reluctant so trailing clauses bind to their own groups.
  private val T = """([\w.`'"/\-]+)""" // identifier, graft.`path`, or quoted path
  private[graft] val DetailRe = s"""(?is)\\s*DESCRIBE\\s+DETAIL\\s+$T\\s*;?\\s*""".r
  private[graft] val SyncMirrorRe =
    (s"""(?is)\\s*SYNC\\s+$T\\s+INTO\\s+$T""" +
      """(?:\s+SINCE\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private[graft] val HistoryRe = s"""(?is)\\s*DESCRIBE\\s+HISTORY\\s+$T\\s*;?\\s*""".r
  private[graft] val OptimizeRe =
    (s"""(?is)\\s*OPTIMIZE\\s+$T(?:\\s+WHERE\\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""").r
  private[graft] val RestoreRe =
    (s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$T\\s+(?:TO\\s+)?""" +
      """(?:VERSION\s+AS\s+OF\s+(\d+|'[^']+')|""" +
      """TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*""").r
  private[graft] val VacuumRe =
    (s"""(?is)\\s*VACUUM\\s+$T(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS)?""" +
      """(?:\s+KEEP\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*""").r
  private[graft] val AddCheckRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*""".r
  private[graft] val DropCheckRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*""".r
  private[graft] val AddColRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+ADD\\s+COLUMNS?\\s+""" +
      """(\(.*\)|.+?)\s*;?\s*""").r
  private[graft] val RenameColRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+RENAME\\s+COLUMN\\s+(`[^`]+`|\\w+)\\s+TO\\s+(`[^`]+`|\\w+)\\s*;?\\s*""".r
  private[graft] val AlterColSetDefaultRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+""" +
      """(`[^`]+`|\w+)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*""").r
  private[graft] val AlterColDropDefaultRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+""" +
      """(`[^`]+`|\w+)\s+DROP\s+DEFAULT\s*;?\s*""").r
  private[graft] val AlterColTypeRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+""" +
      """(`[^`]+`|\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+([\w(),. ]+?)\s*;?\s*""").r
  private[graft] val DropColRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+COLUMNS?\\s*\\(?\\s*""" +
      """((?:`[^`]+`|\w+)(?:\s*,\s*(?:`[^`]+`|\w+))*)\s*\)?\s*;?\s*""").r
  private[graft] val CloneRe =
    (s"""(?is)\\s*CREATE\\s+TABLE\\s+$T\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$T""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+|'[^']+'))?(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*""").r
  private[graft] val SetPropsRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*""".r
  private[graft] val UnsetPropsRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+UNSET\\s+TBLPROPERTIES\\s*\\(([^)]+)\\)\\s*;?\\s*""".r
  private[graft] val CreateTagRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+CREATE\\s+TAG\\s+(\\w[\\w.\\-]*)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private[graft] val DropTagRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$T\\s+DROP\\s+TAG\\s+(\\w[\\w.\\-]*)\\s*;?\\s*""".r
  private[graft] val ShowTagsRe =
    s"""(?is)\\s*SHOW\\s+TAGS\\s+$T\\s*;?\\s*""".r
  private[graft] val ShowPropsRe =
    (s"""(?is)\\s*SHOW\\s+TBLPROPERTIES\\s+$T""" +
      """(?:\s*\(\s*('[^']*'|"[^"]*"|[\w.]+)\s*\))?\s*;?\s*""").r
  private[graft] val ShowPartitionsRe =
    s"""(?is)\\s*SHOW\\s+PARTITIONS\\s+$T\\s*;?\\s*""".r
  private[graft] val ShowCreateRe =
    s"""(?is)\\s*SHOW\\s+CREATE\\s+TABLE\\s+$T\\s*;?\\s*""".r
  private[graft] val ShowColumnsRe =
    s"""(?is)\\s*SHOW\\s+COLUMNS\\s+(?:FROM|IN)\\s+$T\\s*;?\\s*""".r
  // DETAIL/HISTORY never reach this (their cases match first, and a
  // two-token tail can't fit the single-token target anyway)
  private[graft] val DescribeRe =
    (s"""(?is)\\s*(?:DESCRIBE|DESC)\\s+(?:TABLE\\s+)?""" +
      s"""(?:(EXTENDED|FORMATTED)\\s+)?$T\\s*;?\\s*""").r
  private[graft] val ReorgRe =
    s"""(?is)\\s*REORG\\s+TABLE\\s+$T\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*""".r
  private[graft] val TruncateRe =
    (s"""(?is)\\s*TRUNCATE\\s+TABLE\\s+$T""" +
      """(?:\s+PARTITION\s*\(([^)]+)\))?\s*;?\s*""").r
  // condition and query are split by [[splitReplaceWhere]], not by the
  // regex: a reluctant-group split would cut the condition at a
  // query-head keyword inside a string literal (`v = 'a SELECT b'`) or
  // a parenthesized subquery (`k IN ( SELECT ... )`)
  private[graft] val ReplaceWhereRe =
    s"""(?is)\\s*INSERT\\s+INTO\\s+$T\\s+REPLACE\\s+WHERE\\s+(.+?)\\s*;?\\s*""".r
  private[graft] val CopyIntoRe =
    (s"""(?is)\\s*COPY\\s+INTO\\s+$T\\s+FROM\\s+(?:parquet\\.)?$T""" +
      """(?:\s+STATS\s*\(([^)]+)\))?\s*;?\s*""").r
  private[graft] val ConvertRe =
    (s"""(?is)\\s*CONVERT\\s+TO\\s+GRAFT\\s+(?:parquet\\.)?$T""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?""" +
      """(?:\s+STATS\s*\(([^)]+)\))?\s*;?\s*""").r
  private[graft] val CtasRe =
    ("""(?is)\s*(?:CREATE\s+(OR\s+REPLACE\s+)?|(REPLACE\s+))TABLE\s+""" +
      s"""(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$T\\s+USING\\s+graft""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?""" +
      """(?:\s+STATS\s*\(([^)]+)\))?""" +
      """(?:\s+TBLPROPERTIES\s*\(((?:'[^']*'|"[^"]*"|[^()'"])+)\))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?""" +
      """\s+AS\s+(.+?)\s*;?\s*""").r
  private[graft] val CreateEmptyRe =
    ("""(?is)\s*(?:CREATE\s+(OR\s+REPLACE\s+)?|(REPLACE\s+))TABLE\s+""" +
      s"""(?:(IF\\s+NOT\\s+EXISTS)\\s+)?$T\\s*\\((.+)\\)\\s*USING\\s+graft""" +
      """(?:\s+PARTITIONED\s+BY\s*\(([^)]+)\))?""" +
      """(?:\s+STATS\s*\(([^)]+)\))?""" +
      """(?:\s+TBLPROPERTIES\s*\(((?:'[^']*'|"[^"]*"|[^()'"])+)\))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?""" +
      """(?:\s+TBLPROPERTIES\s*\(((?:'[^']*'|"[^"]*"|[^()'"])+)\))?\s*;?\s*""").r

  /** A convert target must be a PATH literal (backtick/quote forms) —
    * there is no catalog entry yet to resolve an identifier against.
    */
  private[graft] def pathLiteral(target: String): Option[String] = {
    val t = target.trim
    def unquote(s: String, q: Char): Option[String] =
      if (s.length >= 2 && s.head == q && s.last == q)
        Some(s.substring(1, s.length - 1))
      else None
    unquote(t, '`').orElse(unquote(t, '\'')).orElse(unquote(t, '"'))
      .orElse(if (t.startsWith("/")) Some(t) else None)
  }

  private def clean(s: String): String = s.trim

  private def stripTicks(s: String): String =
    if (s.length >= 2 && s.head == '`' && s.last == '`') s.substring(1, s.length - 1)
    else s

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && (s.head == '\'' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1)
    else s

  /** `'k' = 'v', 'k2' = 'v2'` → pairs (quotes on either side optional —
    * Spark's own TBLPROPERTIES grammar quotes keys and values). Commas
    * and `=` INSIDE a quoted token are literal — a value like
    * `'graft.bloomFilterColumns' = 'k1,k2'` (this dialect's own
    * documented multi-column form) is one pair, not two.
    */
  private[graft] def parseProps(kvs: String): Seq[(String, String)] =
    splitOutsideQuotes(kvs, ',').filter(_.trim.nonEmpty).map { kv =>
      val i = splitOutsideQuotes(kv, '=') match {
        case head +: _ +: _ => head.length
        case _ => -1
      }
      require(i > 0, s"TBLPROPERTIES expects 'key' = 'value' pairs, got: $kv")
      stripQuotes(kv.take(i).trim) -> stripQuotes(kv.drop(i + 1).trim)
    }

  /** Partition-spec variant of [[parseProps]]: `k = 'v', k2 = null` →
    * pairs whose value is None when the raw token is the UNQUOTED null
    * keyword — the NULL slice — and Some(string) otherwise (so the
    * quoted string `'null'` stays the literal three-letter value, the
    * distinction [[parseProps]]'s quote-stripping erases).
    */
  private[graft] def parsePartitionSpec(kvs: String): Seq[(String, Option[String])] =
    splitOutsideQuotes(kvs, ',').filter(_.trim.nonEmpty).map { kv =>
      val i = splitOutsideQuotes(kv, '=') match {
        case head +: _ +: _ => head.length
        case _ => -1
      }
      require(i > 0, s"PARTITION spec expects key = value pairs, got: $kv")
      val raw = kv.drop(i + 1).trim
      stripQuotes(stripTicks(kv.take(i).trim)) ->
        (if (raw.equalsIgnoreCase("null")) None else Some(stripQuotes(raw)))
    }

  /** `name TYPE, name2 TYPE2(args)` → (name, type-DDL) pairs. Commas
    * inside a type's parentheses (DECIMAL(10,2), nested STRUCT fields)
    * are literal — the split is paren-depth-aware.
    */
  private[graft] def parseColumnDefs(defs: String): Seq[(String, String)] = {
    val items = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    // generic-type angle depth (MAP<STRING,STRING>, ARRAY<STRUCT<...>>):
    // tracked only at paren depth 0 — inside parens (generated/default
    // expressions) a bare `<` is a comparison, not a bracket
    var angle = 0
    // string-literal state: DEFAULT puts arbitrary literals into column
    // definitions, so a '<' or ',' inside 'a < b' / "x, y" is literal
    // text, never a bracket or a column separator; same for backticked
    // identifiers (`a,b` is one column name)
    var quote: Char = 0
    // backslash-escape state inside '…'/"…" literals: DEFAULT 'it\'s'
    // must not close the quote at \' (doubled-quote escaping needs no
    // state — 'it''s' closes and reopens). Backticked identifiers have
    // no backslash escapes in Spark, so the flag never sets there.
    var esc = false
    defs.foreach { c =>
      if (quote != 0) {
        cur += c
        if (esc) esc = false
        else if (c == '\\' && quote != '`') esc = true
        else if (c == quote) quote = 0
      }
      else if (c == '\'' || c == '"' || c == '`') { quote = c; cur += c }
      else if (c == '(') { depth += 1; cur += c }
      else if (c == ')') { depth -= 1; cur += c }
      else if (c == '<' && depth == 0) { angle += 1; cur += c }
      else if (c == '>' && depth == 0 && angle > 0) { angle -= 1; cur += c }
      else if (c == ',' && depth == 0 && angle == 0) {
        items += cur.result(); cur.clear()
      }
      else cur += c
    }
    require(quote == 0, s"unterminated string literal in column definitions: $defs")
    items += cur.result()
    items.result().map(_.trim).filter(_.nonEmpty).map { item =>
      val (name, rest) =
        if (item.startsWith("`")) {
          val end = item.indexOf('`', 1)
          require(end > 0, s"unterminated backtick in column definition: $item")
          (item.substring(1, end), item.substring(end + 1))
        } else {
          val sp = item.indexWhere(_.isWhitespace)
          require(sp > 0, s"column definition needs 'name TYPE', got: $item")
          (item.take(sp), item.drop(sp))
        }
      require(rest.trim.nonEmpty, s"column definition needs 'name TYPE', got: $item")
      name -> rest.trim
    }
  }

  /** Split on `sep` occurrences outside '...'/"..." runs. */
  /** Strip LEADING whitespace, `-- line` and slash-star block comments
    * so a commented graft statement still matches its shape (comments
    * ELSEWHERE in the statement flow through to whatever parses that
    * fragment). An unterminated block comment is returned as-is — the
    * delegate produces the right error.
    */
  private[graft] def stripLeadingComments(sql: String): String = {
    var i = 0
    val n = sql.length
    var progress = true
    while (progress) {
      progress = false
      while (i < n && sql.charAt(i).isWhitespace) i += 1
      if (i + 1 < n && sql.charAt(i) == '-' && sql.charAt(i + 1) == '-') {
        val nl = sql.indexOf('\n', i)
        i = if (nl < 0) n else nl + 1
        progress = true
      } else if (i + 1 < n && sql.charAt(i) == '/' && sql.charAt(i + 1) == '*') {
        val end = sql.indexOf("*/", i + 2)
        if (end < 0) return sql.substring(i)
        i = end + 2
        progress = true
      }
    }
    sql.substring(i)
  }

  /** Split `REPLACE WHERE <cond> <query>` at the first TOP-LEVEL
    * query-head keyword — outside string/backtick literals and outside
    * parentheses — so a keyword inside a condition literal
    * (`v = 'a SELECT b'`) or a parenthesized subquery
    * (`k IN ( SELECT ... )`) never truncates the condition. Loud when
    * no query follows.
    */
  private[graft] def splitReplaceWhere(rest: String): (String, String) = {
    val heads = Seq("SELECT", "VALUES", "TABLE", "WITH", "FROM")
    var quote: Char = 0
    var depth = 0
    var i = 0
    while (i < rest.length) {
      val c = rest.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"' || c == '`') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && i > 0 && rest.charAt(i - 1).isWhitespace) {
        val up = rest.substring(i, math.min(rest.length, i + 7)).toUpperCase
        val hit = heads.exists(h => up.startsWith(h) &&
          (i + h.length == rest.length || {
            val nc = rest.charAt(i + h.length)
            !nc.isLetterOrDigit && nc != '_'
          }))
        if (hit) return (rest.take(i).trim, rest.drop(i).trim)
      }
      i += 1
    }
    throw new IllegalArgumentException(
      "INSERT INTO ... REPLACE WHERE expects a condition followed by a " +
        s"SELECT/VALUES/TABLE/WITH/FROM query, got: $rest")
  }

  private def splitOutsideQuotes(s: String, sep: Char): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') { quote = c; cur += c }
      else if (c == sep) { parts += cur.result(); cur.clear() }
      else cur += c
    }
    require(quote == 0, s"unterminated quote in: $s")
    parts += cur.result()
    parts.result()
  }

  /** Resolve a statement's table target to its GraftTable root. */
  private[graft] def resolve(spark: SparkSession, target: String): GraftTable =
    GraftTable(spark, rootOf(spark, target))

  /** Property namespace that spells a CHECK constraint (Delta's
    * `delta.constraints.<name>` convention): setting
    * `'graft.constraints.pos' = 'x > 0'` adds the constraint (with the
    * same existing-row validation as ADD CONSTRAINT), unsetting the key
    * drops it. This is what makes SHOW CREATE TABLE's output a complete
    * round-trip — constraints ride the TBLPROPERTIES clause.
    */
  private[graft] val ConstraintProp = "graft.constraints."

  /** Route a TBLPROPERTIES list: constraint-namespace keys become real
    * CHECK constraints, everything else a plain property.
    */
  private[graft] def applyTableProps(
      t: GraftTable, props: Seq[(String, String)]): Unit = {
    // identity-namespace keys first regardless of the user's list order:
    // addGenerated's identity-reference guard only sees configs that are
    // already applied
    val ordered = props.sortBy { case (k, _) =>
      if (k.toLowerCase(java.util.Locale.ROOT)
        .startsWith(GraftTable.IdentityPrefix)) 0 else 1
    }
    ordered.foreach { case (k, v) =>
      if (k.toLowerCase(java.util.Locale.ROOT).startsWith(ConstraintProp))
        t.addCheck(k.substring(ConstraintProp.length), v)
      else if (k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(GraftTable.GeneratedPrefix))
        // generated-namespace keys become REAL generated columns (full
        // validation), exactly like the constraint namespace — what makes
        // SHOW CREATE TABLE's TBLPROPERTIES rendering round-trip
        t.addGenerated(k.substring(GraftTable.GeneratedPrefix.length), v)
      else if (k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(GraftTable.IdentityPrefix)) {
        val cfg = GraftTable.parseIdentityConfig(v)
        t.addIdentity(k.substring(GraftTable.IdentityPrefix.length),
          cfg.start, cfg.step, cfg.byDefault)
      } else if (k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(GraftTable.DefaultPrefix))
        t.addDefault(k.substring(GraftTable.DefaultPrefix.length), v)
      else if (k.equalsIgnoreCase(GraftTable.RowTrackingProperty)) {
        // a real protocol action, not a stored string: the enabling
        // commit backfills id ranges (metadata-only). Disabling is
        // refused — files already carry materialized ids and consumers
        // may have captured `_row_id` values.
        require(v.trim.equalsIgnoreCase("true"),
          s"$k only accepts 'true' (row tracking cannot be disabled " +
            "once ids have been served)")
        t.enableRowTracking()
      } else t.setProperty(k, v)
    }
  }

  /** Split a column definition's tail at a
    * `GENERATED ALWAYS|BY DEFAULT AS IDENTITY [(START WITH n [INCREMENT BY n])]`
    * clause: returns (tail without the clause, Some((start, step,
    * byDefault))). Checked before [[splitGenerated]] would matter —
    * splitGenerated's pattern needs a paren right after AS, so the two
    * never overlap.
    */
  private[graft] def splitIdentity(
      rest: String): (String, Option[(Long, Long, Boolean)]) = {
    val m = java.util.regex.Pattern.compile(
      "(?i)\\bGENERATED\\s+(ALWAYS|BY\\s+DEFAULT)\\s+AS\\s+IDENTITY" +
        "(\\s*\\(\\s*START\\s+WITH\\s+(-?\\d+)(?:\\s+INCREMENT\\s+BY\\s+(-?\\d+))?\\s*\\))?")
      .matcher(rest)
    if (!m.find()) return (rest, None)
    val byDefault = m.group(1).toUpperCase.startsWith("BY")
    val start = Option(m.group(3)).map(_.toLong).getOrElse(1L)
    val step = Option(m.group(4)).map(_.toLong).getOrElse(1L)
    ((rest.substring(0, m.start()) + rest.substring(m.end())).trim,
      Some((start, step, byDefault)))
  }

  /** Split a column definition's tail at a `DEFAULT <expr>` clause —
    * the expression runs to the end of the definition (after NOT NULL /
    * COMMENT have their usual positions before it) or is parenthesized.
    * Returns (tail without the clause, Some(expr)).
    */
  private[graft] def splitDefault(rest: String): (String, Option[String]) = {
    val m = java.util.regex.Pattern
      .compile("(?i)\\bDEFAULT\\s+").matcher(rest)
    if (!m.find()) return (rest, None)
    val tail = rest.substring(m.end()).trim
    val (exprS, after) =
      if (tail.startsWith("(")) {
        var depth = 0; var i = 0
        while (i < tail.length && (depth > 0 || i == 0)) {
          if (tail(i) == '(') depth += 1
          else if (tail(i) == ')') depth -= 1
          i += 1
        }
        require(depth == 0, s"unbalanced parens in DEFAULT: $rest")
        (tail.substring(1, i - 1).trim, tail.substring(i))
      } else {
        // unparenthesized: a quoted string or a bare token run up to a
        // following clause keyword (COMMENT / NOT NULL)
        val stop = java.util.regex.Pattern
          .compile("(?i)\\s+(COMMENT|NOT\\s+NULL)\\b").matcher(tail)
        if (stop.find()) (tail.substring(0, stop.start()).trim,
          tail.substring(stop.start()))
        else (tail, "")
      }
    require(exprS.nonEmpty, s"empty DEFAULT expression: $rest")
    ((rest.substring(0, m.start()) + " " + after).trim, Some(exprS))
  }

  /** Split a column definition's tail at a `GENERATED ALWAYS AS (expr)`
    * clause: returns (tail without the clause, Some(expr)) — the
    * expression's parens are balanced-matched so nested calls survive.
    */
  private[graft] def splitGenerated(rest: String): (String, Option[String]) = {
    val m = java.util.regex.Pattern
      .compile("(?i)\\bGENERATED\\s+ALWAYS\\s+AS\\s*\\(").matcher(rest)
    if (!m.find()) return (rest, None)
    var depth = 1
    var i = m.end()
    while (i < rest.length && depth > 0) {
      if (rest(i) == '(') depth += 1
      else if (rest(i) == ')') depth -= 1
      i += 1
    }
    require(depth == 0, s"unbalanced parens in GENERATED ALWAYS AS: $rest")
    val expr = rest.substring(m.end(), i - 1).trim
    require(expr.nonEmpty, s"empty GENERATED ALWAYS AS expression: $rest")
    ((rest.substring(0, m.start()) + rest.substring(i)).trim, Some(expr))
  }

  private[graft] def rootOf(spark: SparkSession, target: String): String = {
    val t = target.trim
    def unquote(s: String, q: Char): Option[String] =
      if (s.length >= 2 && s.head == q && s.last == q)
        Some(s.substring(1, s.length - 1))
      else None
    unquote(t, '\'').orElse(unquote(t, '"'))
      .orElse(
        if (t.toLowerCase.startsWith("graft.`"))
          unquote(t.stripPrefix("graft.").stripPrefix("GRAFT."), '`')
        else None)
      .getOrElse {
        // multipart, not parseTableIdentifier: a 3-part
        // `spark_catalog.db.t` (the form every session-catalog tool
        // emits) must resolve here too — RESTORE/OPTIMIZE/DESCRIBE
        // HISTORY are graft-only statements with no delegate to fall
        // back on
        val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(t)
        rootOfParts(spark, parts).getOrElse {
          val meta = try Some(spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier(t)))
          catch { case _: Exception => None }
          throw new IllegalArgumentException(
            s"$t is not a graft table (provider: " +
              s"${meta.flatMap(_.provider).getOrElse("not registered")})")
        }
      }
  }

  /** Resolve a CREATE-form destination (identifier or `graft.`path``)
    * to its table root; identifier targets also return (db, name,
    * already-registered) for post-create registration. An existing
    * graft registration's location wins (LOCATION, if also given, must
    * match); otherwise LOCATION; otherwise the session catalog's
    * default (managed/warehouse) path. A registered NON-graft table is
    * refused.
    */
  private[sources] def createDest(
      spark: SparkSession, dest: String, location: Option[String],
      ifNotExists: Boolean): (String, Option[(String, String, Boolean)]) = {
    def plainPath(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val destIsPath = dest.startsWith("'") || dest.startsWith("\"") ||
      dest.toLowerCase.startsWith("graft.`")
    if (destIsPath) (rootOf(spark, dest), None)
    else {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(dest)
      val db = ident.database
        .getOrElse(spark.sessionState.catalog.getCurrentDatabase)
      val registered = spark.catalog.tableExists(s"`$db`.`${ident.table}`")
      val existingRoot = rootOfParts(spark, Seq(db, ident.table))
      if (registered && existingRoot.isEmpty && !ifNotExists)
        throw new IllegalStateException(
          s"$dest exists but is not a graft table; DROP it first")
      for (r <- existingRoot; l <- location)
        require(plainPath(l) == r,
          s"$dest is registered at $r; LOCATION '$l' does not match")
      val r = existingRoot.orElse(location.map(plainPath)).getOrElse {
        val u = spark.sessionState.catalog.defaultTablePath(
          TableIdentifier(ident.table, Some(db)))
        if (u.getScheme == null || u.getScheme == "file") u.getPath
        else u.toString
      }
      (r, Some((db, ident.table, registered)))
    }
  }

  /** The graft root behind a multipart identifier, or None when it is
    * not a graft table — the non-throwing probe the analyzer rules
    * ([[GraftTimeTravelRule]], [[GraftDmlRule]]) gate on. Accepts both a
    * registered `USING graft` identifier and the `graft.`/path``
    * literal form; a temp view never matches (Spark's own resolution
    * must keep precedence over a shadowed metastore table).
    */
  private[graft] def rootOfParts(
      spark: SparkSession, parts: Seq[String]): Option[String] = {
    if (parts.length == 2 && parts.head.equalsIgnoreCase("graft"))
      return Some(parts(1))
    val p =
      if (parts.length == 3 && parts.head == "spark_catalog") parts.tail
      else parts
    if (p.isEmpty || p.length > 2) return None
    if (spark.sessionState.catalog.isTempView(p)) return None
    val ident =
      if (p.length == 2) TableIdentifier(p(1), Some(p(0)))
      else TableIdentifier(p.head)
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) None
      else {
        val loc = meta.location
        Some(
          if (loc.getScheme == null || loc.getScheme == "file") loc.getPath
          else loc.toString)
      }
    } catch { case _: Exception => None }
  }
}

/** Analyzer rule resolving SQL time travel for graft tables: Spark's
  * parser already produces `RelationTimeTravel` for
  * `SELECT ... FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts`, but only
  * DataSource-v2 tables resolve it natively. For a registered `USING
  * graft` identifier this rule rebuilds the relation with the reader's
  * `versionAsOf`/`timestampAsOf` option (same pinned
  * [[GraftFileIndex]]); everything else is left for the analyzer's own
  * resolution.
  */
class GraftTimeTravelRule(spark: SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case RelationTimeTravel(u: UnresolvedRelation, ts, version)
          if rootIfGraft(u.multipartIdentifier).isDefined =>
        val root = rootIfGraft(u.multipartIdentifier).get
        val opts = Map("path" -> root) ++
          version.map("versionAsOf" -> _) ++
          ts.map(e => "timestampAsOf" -> tsString(e))
        val rel = org.apache.spark.sql.execution.datasources.DataSource(
          spark, className = "graft", options = opts).resolveRelation()
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, isStreaming = false)
    }

  private def tsString(e: Expression): String = e.eval() match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case micros: java.lang.Long => java.time.Instant
      .ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L).toString
    case other => String.valueOf(other)
  }

  private def rootIfGraft(parts: Seq[String]): Option[String] =
    GraftSqlParser.rootOfParts(spark, parts)
}

/** `DESCRIBE DETAIL` — one metadata-only row ([[GraftTable.detail]]). */
case class GraftDescribeDetail(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType)(),
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("num_files", LongType)(),
    AttributeReference("num_rows", LongType)(),
    AttributeReference("size_bytes", LongType)(),
    AttributeReference("partition_columns", StringType)(),
    AttributeReference("last_operation", StringType)(),
    AttributeReference("committed_at", StringType)(),
    AttributeReference("num_checks", LongType)(),
    AttributeReference("num_change_feed_versions", LongType)(),
    AttributeReference("row_tracking", BooleanType)(),
    AttributeReference("row_id_high_water_mark", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolve(spark, target).detail.collect().toSeq
}

/** `DESCRIBE HISTORY` — commit log rows, newest first. */
case class GraftDescribeHistory(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("operation", StringType)(),
    AttributeReference("committed_at", StringType)(),
    AttributeReference("num_files", IntegerType)(),
    AttributeReference("rows", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolve(spark, target).history.map(h =>
      Row(h.version, h.operation, h.committedAt, h.numFiles, h.rows))
}

/** `OPTIMIZE [WHERE pred] [ZORDER BY (...)]` — compaction
  * ([[GraftTable.compact]] / [[GraftTable.compactWhere]] /
  * [[GraftTable.compactZOrderN]]); returns the committed version.
  * WHERE scopes the bin-pack to files whose stats range can match the
  * predicate; combining WHERE with ZORDER is not supported (z-ordering
  * a table subset would interleave two clustering layouts).
  */
case class GraftOptimize(
    target: String, zorderCols: Seq[String], where: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(where.isEmpty || zorderCols.isEmpty,
      "OPTIMIZE ... WHERE cannot be combined with ZORDER BY")
    val t = GraftSqlParser.resolve(spark, target)
    val v = where match {
      case Some(pred) => t.compactWhere(pred)
      case None if zorderCols.isEmpty => t.compact()
      case None => t.compactZOrderN(zorderCols)
    }
    Seq(Row(v))
  }
}

/** `RESTORE [TABLE] t [TO] VERSION AS OF <v|'tag'> | TIMESTAMP AS OF
  * 'ts'` — [[GraftTable.restore]]. Returns the committed version first
  * (stable position for callers), then Delta's restore metrics: files
  * brought back that the pre-restore state lacked, files the restore
  * dropped, and the table's size/file count after — the observability
  * an operator uses to judge the blast radius of a rollback.
  */
case class GraftRestore(
    target: String, version: Option[String], timestamp: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType)(),
    AttributeReference("num_restored_files", LongType)(),
    AttributeReference("num_removed_files", LongType)(),
    AttributeReference("num_of_files_after_restore", LongType)(),
    AttributeReference("table_size_after_restore", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val v = version.map(t.resolveVersionRef).getOrElse {
      // TIMESTAMP AS OF: the last commit at-or-before the cut (same
      // strict-parse semantics as the reader's timestampAsOf)
      val cut = GraftDataSource.parseTimestampCut(timestamp.get)
      t.history.reverseIterator // oldest → newest
        .takeWhile(h => h.committedAt.nonEmpty &&
          !java.time.Instant.parse(h.committedAt).isAfter(cut))
        .map(_.version).reduceOption((_, b) => b)
        .getOrElse(throw new IllegalArgumentException(
          s"RESTORE TIMESTAMP AS OF '${timestamp.get}' precedes every " +
            s"commit of $target"))
    }
    // metrics vs the PRE-restore state (identity = path + DV pointer,
    // same as conflict detection: a moved DV means different live rows)
    val prior = t.latestManifest
    val committed = t.restore(v)
    val m = t.manifest(committed)
    val (removed, restored) = t.filesDelta(prior, m)
    val after = t.filesOf(m)
    Seq(Row(committed, restored.size.toLong, removed.size.toLong, after.size.toLong,
      after.map(_.bytes.getOrElse(0L)).sum))
  }
}

/** `VACUUM [RETAIN n HOURS] [KEEP n VERSIONS] [DRY RUN]` —
  * [[GraftTable.vacuum]] / [[GraftTable.vacuumDryRun]]; defaults match
  * the Scala API (keep 1 version, 1-hour in-flight-writer retention).
  * Returns the number of data files reclaimed, or — DRY RUN — one row
  * per data file that WOULD be deleted, deleting nothing.
  */
case class GraftVacuum(
    target: String, retainHours: Option[Long], keepVersions: Option[Int],
    dryRun: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType)())
    else Seq(AttributeReference("deleted_files", IntegerType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val keep = keepVersions.getOrElse(1)
    val ageMs = retainHours.map(_ * 3600000L).getOrElse(3600000L)
    if (dryRun) t.vacuumDryRun(keep, ageMs).map(Row(_))
    else Seq(Row(t.vacuum(keep, ageMs)))
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`. */
case class GraftAddConstraint(target: String, name: String, expr: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolve(spark, target).addCheck(name, expr)
    Nil
  }
}

/** `ALTER TABLE ... DROP CONSTRAINT name`. */
case class GraftDropConstraint(target: String, name: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolve(spark, target).dropCheck(name)
    Nil
  }
}

/** `ALTER TABLE ... ADD COLUMN name TYPE` / `ADD COLUMNS (a T1, b T2)` —
  * explicit nullable schema evolution, metadata-only
  * ([[GraftTable.addColumn]]). Returns the last committed version.
  */
case class GraftAddColumns(target: String, cols: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    cols.foreach { case (n, ddl) =>
      require(GraftSqlParser.splitGenerated(ddl)._2.isEmpty,
        s"cannot ADD generated column $n: existing rows have no stored " +
          "value and a metadata-only add cannot compute one (Delta " +
          "contract: generated columns are declared at CREATE TABLE)")
      require(GraftSqlParser.splitIdentity(ddl)._2.isEmpty,
        s"cannot ADD identity column $n: existing rows have no stored " +
          "value and a metadata-only add cannot allocate one (declare " +
          "identity columns at CREATE TABLE)")
      require(GraftSqlParser.splitDefault(ddl)._2.isEmpty,
        s"cannot ADD column $n WITH DEFAULT: existing rows would need a " +
          "read-time backfill this engine does not do — add the column, " +
          "then ALTER COLUMN ... SET DEFAULT for future inserts")
    }
    Seq(Row(cols.map { case (n, ddl) => t.addColumn(n, ddl) }.last))
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <type>` (also `CHANGE COLUMN` /
  * `SET DATA TYPE` spellings) — lossless TYPE WIDENING as a
  * metadata-only commit ([[GraftTable.widenColumn]]); no data file is
  * rewritten. Returns the committed version.
  */
/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT <expr>` / `DROP DEFAULT` —
  * metadata-only; governs FUTURE INSERTs that omit the column (Delta
  * parity: existing rows are untouched and read as stored).
  */
case class GraftAlterColumnDefault(
    target: String, column: String, exprSql: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("column", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    exprSql match {
      case Some(e) => t.addDefault(column, e)
      case None => t.dropDefault(column)
    }
    Seq(Row(column))
  }
}

case class GraftAlterColumnType(target: String, column: String, typeDdl: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftSqlParser.resolve(spark, target).widenColumn(column, typeDdl)))
}

/** `ALTER TABLE ... RENAME COLUMN a TO b` — metadata-only rename via
  * the table's column mapping ([[GraftTable.renameColumn]]); no data
  * file is rewritten. Returns the committed version.
  */
case class GraftRenameColumn(target: String, from: String, to: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    Seq(Row(t.renameColumn(from, to)))
  }
}

/** `ALTER TABLE ... DROP COLUMN c` / `DROP COLUMNS (c1, c2)` —
  * metadata-only drops ([[GraftTable.dropColumn]]); the physical data
  * ages out via rewriting maintenance. Returns the last committed
  * version.
  */
case class GraftDropColumns(target: String, cols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    Seq(Row(cols.map(t.dropColumn).last))
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)` —
  * [[GraftTable.setProperty]] per pair (e.g. `'graft.deletionVectors' =
  * 'true'` routes DELETE/UPDATE to merge-on-read deletion vectors).
  * Graft tables only — a non-graft target fails loudly at run time,
  * same contract as the constraint statements above.
  */
case class GraftSetProperties(target: String, props: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    GraftSqlParser.applyTableProps(t, props)
    Nil
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)`. */
case class GraftUnsetProperties(target: String, keys: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    keys.foreach { k =>
      if (k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(GraftSqlParser.ConstraintProp))
        t.dropCheck(k.substring(GraftSqlParser.ConstraintProp.length))
      else t.unsetProperty(k)
    }
    Nil
  }
}

/** `REORG TABLE t APPLY (PURGE)` — [[GraftTable.reorgPurge]]:
  * materialize deletion vectors into clean files (Delta parity).
  */
/** `ALTER TABLE ... CREATE TAG name [AS OF VERSION v]` — pin a version
  * under a stable name ([[GraftTable.createTag]]); vacuum protects it.
  */
case class GraftCreateTag(target: String, name: String, version: Option[Long])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftSqlParser.resolve(spark, target).createTag(name, version)))
}

/** `ALTER TABLE ... DROP TAG name` — [[GraftTable.deleteTag]]. */
case class GraftDropTag(target: String, name: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlParser.resolve(spark, target).deleteTag(name)
    Nil
  }
}

/** `SHOW TAGS <table>` — (tag, version) rows. */
case class GraftShowTags(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("tag", StringType)(),
    AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlParser.resolve(spark, target).tags.toSeq.sortBy(_._1)
      .map { case (n, v) => Row(n, v) }
}

case class GraftReorgPurge(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftSqlParser.resolve(spark, target).reorgPurge()))
}

/** `SHOW TBLPROPERTIES t [('key')]` — the graft property file (where
  * bloom/autoCompact/deletionVectors/statsColumns declarations live;
  * Spark's native command only sees catalog-stored properties, which a
  * graft table does not use). With a key: that one property, or a
  * Spark-parity "does not have property" row.
  */
case class GraftShowProperties(target: String, key: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType)(),
    AttributeReference("value", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    // constraints surface under their property spelling (Delta parity),
    // so SHOW TBLPROPERTIES lists everything SHOW CREATE TABLE renders
    val props = t.properties ++ t.checks.map { case (n, e) =>
      s"${GraftSqlParser.ConstraintProp}$n" -> e
    }
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        s"Table ${target.trim} does not have property: $k")))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `SHOW PARTITIONS <graft table>` — distinct partition tuples, one
  * Hive-rendered `k=v/k2=v2` row each (Spark native-output parity; a
  * NULL slice renders as `__HIVE_DEFAULT_PARTITION__`), sorted. Answered
  * from MANIFEST METADATA whenever possible — the first thing a user
  * types at a partitioned 100 TB table must not scan it:
  *
  *  - pv (Hive-import) tables: every file carries its tuple — exact,
  *    zero data I/O, O(live files) driver work;
  *  - clustered tables whose files are tuple-pure (per-file min==max on
  *    every partition column — the dynamic-overwrite/clusterBy layout):
  *    exact from stats ranges, zero data I/O;
  *  - otherwise (a file straddles values, or stats are missing): ONE
  *    column-pruned distinct over the partition columns only — the scan
  *    reads just those columns, never full rows.
  *
  * Unpartitioned tables refuse, matching Spark's native command.
  */
case class GraftShowPartitions(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val t = GraftSqlParser.resolve(spark, target)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"SHOW PARTITIONS on uncommitted table ${t.root}"))
    val pCols = m.partitionCols.getOrElse(Nil)
    if (pCols.isEmpty) throw new IllegalArgumentException(
      s"SHOW PARTITIONS: table ${target.trim} is not partitioned")
    val files = t.filesOf(m)
    import org.apache.spark.sql.functions.col
    val tuples: Seq[Seq[String]] =
      if (m.hasPv)
        files.map { f =>
          val pv = f.pv.getOrElse(Map.empty)
          pCols.map(c => pv.collectFirst {
            case (k, v) if k.equalsIgnoreCase(c) => v
          }.getOrElse(GraftTable.HiveDefaultPartition))
        }.distinct
      else {
        val p2l = m.logicalByPhysical
        val perFile = files.map { f =>
          val ranges = StatsPruning.fileRanges(f).map {
            case (c, r) => p2l.getOrElse(c, c) -> r
          }
          pCols.map(c => ranges.collectFirst {
            case (k, (lo, hi)) if k.equalsIgnoreCase(c) && lo == hi => lo
          })
        }
        if (files.nonEmpty && perFile.forall(_.forall(_.isDefined)))
          perFile.map(_.map(_.get)).distinct
        else
          t.scan.select(pCols.map(c => col(s"`$c`").cast("string")): _*)
            .distinct().collect().toSeq
            .map(r => pCols.indices.map(i =>
              Option(r.getString(i))
                .getOrElse(GraftTable.HiveDefaultPartition)).toSeq)
      }
    tuples.map(vals =>
      pCols.zip(vals).map { case (c, v) =>
        s"$c=${ExternalCatalogUtils.escapePathName(v)}"
      }.mkString("/"))
      .sorted.map(Row(_))
  }
}

/** `SHOW COLUMNS FROM|IN t` — one `col_name` row per logical column,
  * declaration order (Spark-native output shape). Metadata-only.
  */
case class GraftShowColumns(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("col_name", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"SHOW COLUMNS on uncommitted table ${t.root}"))
    org.apache.spark.sql.types.StructType.fromDDL(m.schema)
      .fields.toSeq.map(f => Row(f.name))
  }
}

/** `DESCRIBE [TABLE] [EXTENDED|FORMATTED] t` — Spark-native three-column
  * shape (col_name, data_type, comment): the logical columns in
  * declaration order, a `# Partition Information` section when the
  * table is partitioned (pv or clustered — both are real partitioning
  * here), and with EXTENDED/FORMATTED a `# Detailed Table Information`
  * section from manifest metadata. Metadata-only; DESCRIBE DETAIL /
  * HISTORY keep their dedicated commands.
  */
case class GraftDescribeTable(target: String, extended: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType)(),
    AttributeReference("data_type", StringType)(),
    AttributeReference("comment", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"DESCRIBE on uncommitted table ${t.root}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schema)
    def commentOf(f: org.apache.spark.sql.types.StructField): String =
      if (f.metadata.contains("comment")) f.metadata.getString("comment")
      else null
    val cols = schema.fields.toSeq.map(f =>
      Row(f.name, f.dataType.catalogString, commentOf(f)))
    val pCols = m.partitionCols.getOrElse(Nil)
    val partSection =
      if (pCols.isEmpty) Nil
      else Row("# Partition Information", "", "") +:
        Row("# col_name", "data_type", "comment") +:
        pCols.map { c =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(c))
          Row(c, f.map(_.dataType.catalogString).getOrElse(""),
            f.map(commentOf).orNull)
        }
    val detail =
      if (!extended) Nil
      else Seq(
        Row("", "", ""),
        Row("# Detailed Table Information", "", ""),
        Row("Location", t.root, ""),
        Row("Provider", "graft", ""),
        Row("Last Commit Version", m.version.toString, ""),
        Row("Partition Layout",
          if (m.hasPv) "hive-import (pv)"
          else if (pCols.nonEmpty) "clustered" else "none", ""),
        Row("Table Properties",
          t.properties.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString("[", ", ", "]"), ""))
    cols ++ partSection ++ detail
  }
}

/** `SHOW CREATE TABLE t` — one `createtab_stmt` row (Spark-native
  * output shape) whose text is a RUNNABLE graft DDL statement
  * reproducing the table's declared state: logical schema (column
  * mapping stays internal — physical parquet names never surface),
  * PARTITIONED BY, and TBLPROPERTIES carrying both plain properties and
  * CHECK constraints under `graft.constraints.<name>` (Delta's
  * spelling) — which the CREATE/ALTER property paths route back into
  * real constraints, so for flat schemas the output round-trips through
  * [[GraftSqlParser]] with full semantics, not just visually.
  * Metadata-only: no data file is opened. Capability behind the ref's
  * reliance on Spark-catalog DDL introspection for its silver tables
  * (COPY_MSQL_TO_SILVER.py:154-171 creates them with explicit DDL).
  */
case class GraftShowCreateTable(target: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"SHOW CREATE TABLE on uncommitted table ${t.root}"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schema)
    def esc(s: String): String = s.replace("'", "\\'")
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      val cm = if (f.metadata.contains("comment"))
        s" COMMENT '${esc(f.metadata.getString("comment"))}'" else ""
      s"  `${f.name}` ${f.dataType.sql}$nn$cm"
    }
    val sb = new StringBuilder
    sb.append(s"CREATE TABLE graft.`${t.root}` (\n")
      .append(cols.mkString(",\n")).append(")\n")
      .append("USING graft")
    m.partitionCols.filter(_.nonEmpty).foreach(pc =>
      sb.append("\nPARTITIONED BY (")
        .append(pc.map(c => s"`$c`").mkString(", ")).append(")"))
    val props = t.properties ++ t.checks.map { case (n, e) =>
      s"${GraftSqlParser.ConstraintProp}$n" -> e
    }
    // single-quote-bearing values take the double-quoted form — that is
    // the delimiter our TBLPROPERTIES splitter understands (backslash
    // escapes are only for the Spark-parsed COMMENT literals above)
    def lit(s: String): String =
      if (!s.contains("'")) s"'$s'"
      else if (!s.contains("\"")) "\"" + s + "\""
      else s"'${esc(s)}'"
    if (props.nonEmpty)
      sb.append("\nTBLPROPERTIES (\n")
        .append(props.toSeq.sortBy(_._1).map { case (k, v) =>
          s"  ${lit(k)} = ${lit(v)}"
        }.mkString(",\n")).append(")")
    Seq(Row(sb.result()))
  }
}

/** `TRUNCATE TABLE t` — [[GraftTable.truncate]]: one metadata-only
  * empty-manifest commit; returns the committed version.
  */
case class GraftTruncate(target: String, partSpec: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlParser.resolve(spark, target)
    val v = partSpec match {
      case None => t.truncate()
      case Some(spec) =>
        // `TRUNCATE TABLE t PARTITION (k='v', ...)` — slice truncate as
        // a replaceWhere with an EMPTY batch: one atomic commit clearing
        // exactly the slice, O(touched files), old versions intact. An
        // unquoted `k = null` entry clears the NULL slice (`IS NULL`);
        // a quoted `'null'` stays the literal string value.
        val m = t.latestManifest.getOrElse(throw new IllegalStateException(
          s"TRUNCATE of uncommitted table $target"))
        val schema = StructType.fromDDL(m.schema)
        val cond = GraftSqlParser.parsePartitionSpec(spec).map { case (k, v0) =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
            throw new IllegalArgumentException(
              s"PARTITION column `$k` does not exist on the table " +
                s"(${schema.fieldNames.mkString(", ")})"))
          v0 match {
            case None => s"`${f.name}` IS NULL"
            case Some(v) =>
              s"`${f.name}` <=> CAST('${v.replace("'", "''")}' AS ${f.dataType.sql})"
          }
        }.mkString(" AND ")
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
        t.overwriteWhere(empty, cond)
    }
    Seq(Row(v))
  }
}

/** `CONVERT TO GRAFT parquet.`/path` [PARTITIONED BY (name TYPE, ...)]
  * [STATS (c1, c2)]` — in-place import of an existing parquet directory
  * ([[GraftTable.convertParquet]]); the PARTITIONED BY clause declares a
  * Hive-style `name=value` directory layout (Delta CONVERT parity).
  */
case class GraftConvert(target: String, statsCols: Seq[String],
    partitionedBy: Seq[(String, String)] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("num_files", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val p = GraftSqlParser.pathLiteral(target).getOrElse(
      throw new IllegalArgumentException(
        s"CONVERT TO GRAFT expects parquet.`/path` (got $target)"))
    val t = GraftTable.convertParquet(spark, p, statsCols, partitionedBy)
    val m = t.latestManifest.get
    Seq(Row(p, m.version, m.allFiles.toLong))
  }
}

/** `CREATE [OR REPLACE] TABLE t USING graft [PARTITIONED BY (...)]
  * [STATS (...)] [LOCATION p] AS <query>` (and `REPLACE TABLE ... AS`) —
  * CTAS/RTAS through the VERSIONED overwrite funnel (Delta parity;
  * Spark's v1 session catalog cannot express REPLACE at all). Key
  * semantics:
  *
  *  - **REPLACE is an overwrite commit, not a drop+create**: the new
  *    contents land as version N+1 of the SAME table — readers pinned to
  *    an old version (time travel, in-flight scans) are undisturbed, the
  *    old versions stay restorable, and history survives. A CREATE
  *    without OR REPLACE over an existing table fails loudly;
  *    IF NOT EXISTS makes it a no-op instead.
  *  - **Managed location**: with no LOCATION, an identifier target lands
  *    at the session catalog's default (warehouse) path for that name —
  *    `CREATE TABLE db.t USING graft AS SELECT ...` needs no path at
  *    all, the single most common materialization form.
  *  - `PARTITIONED BY` declares clustering columns (the liquid layout —
  *    see [[GraftTable.overwritePartitioned]]); `STATS` picks the
  *    per-file min/max stats columns. A REPLACE with neither keeps an
  *    existing compatible partition declaration (clustering is a layout
  *    hint, not a schema contract).
  *  - The query string parses/runs at EXECUTION time via `spark.sql`, so
  *    parsing this statement stays side-effect-free like every other
  *    statement here.
  */
case class GraftCreateTableAsSelect(
    dest: String, orReplace: Boolean, ifNotExists: Boolean,
    partCols: Seq[String], statsCols: Seq[String],
    location: Option[String], query: String,
    properties: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)())

  private def plainPath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  override def run(spark: SparkSession): Seq[Row] = {
    require(!(orReplace && ifNotExists),
      "CREATE OR REPLACE TABLE cannot also be IF NOT EXISTS")
    val (root, identOpt) =
      GraftSqlParser.createDest(spark, dest, location, ifNotExists)
    val t = GraftTable(spark, root)
    val exists = t.exists || identOpt.exists(_._3)
    if (exists && ifNotExists)
      return Seq(Row(root, t.latestVersion.getOrElse(0L)))
    if (exists && !orReplace)
      throw new IllegalStateException(
        s"$dest already exists; use CREATE OR REPLACE TABLE (the replace " +
          "is a versioned overwrite — old versions stay time-travelable)")
    val df = spark.sql(query)
    val v =
      if (partCols.nonEmpty) t.overwritePartitioned(df, partCols, statsCols)
      else t.overwriteStats(df, statsCols)
    // properties AFTER the successful write: a failed CTAS must not
    // leave a property file a later unrelated CREATE would inherit.
    // Consequence: the CTAS's own files predate a bloom declaration
    // (sidecars appear from the next write/OPTIMIZE on) — perf-only.
    // Constraint-namespace keys validate the just-written rows.
    GraftSqlParser.applyTableProps(t, properties)
    identOpt.foreach { case (db, name, registered) =>
      if (!registered) GraftCatalog.register(spark, db, name, t)
      // a REPLACE can change the schema; this session's relation cache
      // still holds the old resolution — drop it so the very next
      // spark.table() sees the new columns (Delta invalidates on
      // REPLACE the same way)
      else spark.catalog.refreshTable(s"`$db`.`$name`")
    }
    Seq(Row(root, v))
  }
}

/** `CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t (col TYPE, ...) USING
  * graft [PARTITIONED BY (...)] [STATS (...)] [LOCATION p]` —
  * schema-first table creation ([[GraftTable.createEmpty]]): one
  * empty-manifest commit carrying the declared schema, no job. STATS
  * declares the stats-column contract ahead of any file (recorded as
  * the `graft.statsColumns` property) so the first INSERT already
  * carries pruning min/max. The Delta-parity counterpart of
  * the reference's `CREATE TABLE IF NOT EXISTS ... USING DELTA`
  * (`COPY_MSQL_TO_SILVER.py:195-196`). Shares CTAS's resolution rules:
  * managed (warehouse) location for a bare identifier, REPLACE as a
  * versioned overwrite commit, IF NOT EXISTS no-op over an existing
  * table, identifier registration in the session catalog.
  */
case class GraftCreateEmptyTable(
    dest: String, orReplace: Boolean, ifNotExists: Boolean,
    colDefs: Seq[(String, String)], partCols: Seq[String],
    statsCols: Seq[String] = Nil,
    location: Option[String] = None,
    properties: Seq[(String, String)] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("version", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(!(orReplace && ifNotExists),
      "CREATE OR REPLACE TABLE cannot also be IF NOT EXISTS")
    require(colDefs.nonEmpty, s"CREATE TABLE $dest needs at least one column")
    val (root, identOpt) =
      GraftSqlParser.createDest(spark, dest, location, ifNotExists)
    val t = GraftTable(spark, root)
    val exists = t.exists || identOpt.exists(_._3)
    if (exists && ifNotExists)
      return Seq(Row(root, t.latestVersion.getOrElse(0L)))
    if (exists && !orReplace)
      throw new IllegalStateException(
        s"$dest already exists; use CREATE OR REPLACE TABLE (the replace " +
          "is a versioned overwrite — old versions stay time-travelable)")
    // `GENERATED ALWAYS AS (expr)` / `... AS IDENTITY` split off each
    // column's tail first — both are table config (`graft.generated.` /
    // `graft.identity.` properties validated below), not part of the
    // Spark-parsed schema grammar
    val split = colDefs.map { case (n, rest) =>
      val (rest1, idCfg) = GraftSqlParser.splitIdentity(rest)
      val (rest2, dflt) = GraftSqlParser.splitDefault(rest1)
      val (bare, gen) = GraftSqlParser.splitGenerated(rest2)
      (n, bare, gen, idCfg, dflt)
    }
    val genDefs = split.collect { case (n, _, Some(e), _, _) => n -> e }
    val idDefs = split.collect { case (n, _, _, Some(cfg), _) => n -> cfg }
    val dfltDefs = split.collect { case (n, _, _, _, Some(e)) => n -> e }
    // the delegate's parseTableSchema handles NOT NULL / COMMENT /
    // nested types — same grammar ALTER TABLE ADD COLUMNS funnels through
    val schema = spark.sessionState.sqlParser.parseTableSchema(
      split.map { case (n, rest, _, _, _) => s"`$n` $rest" }.mkString(", "))
    statsCols.find(c => !schema.fieldNames.exists(_.equalsIgnoreCase(c)))
      .foreach(c => throw new IllegalArgumentException(
        s"STATS column `$c` does not exist in the declared schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    val v = t.createEmpty(schema, partCols)
    // identity BEFORE generated: addGenerated forbids expressions over
    // identity columns (they are NULL when the expression is computed),
    // which only works if the identity configs are visible first
    idDefs.foreach { case (n, (st, sp, byDef)) =>
      t.addIdentity(n, st, sp, byDef) }
    genDefs.foreach { case (n, e) => t.addGenerated(n, e) }
    dfltDefs.foreach { case (n, e) => t.addDefault(n, e) }
    // a generated PARTITION column's pruning story is per-file stats on
    // its SOURCE columns: the layout clusters files by the generated
    // value, its sources are monotone-correlated by construction, so a
    // range filter on the raw source column skips files directly —
    // auto-add those sources to the declared stats contract
    val genSources: Seq[String] = genDefs
      .filter { case (n, _) => partCols.exists(_.equalsIgnoreCase(n)) }
      .flatMap { case (_, e) =>
        spark.sessionState.sqlParser.parseExpression(e).collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            u.nameParts.head
        }
      }
    // identity columns auto-join the stats contract too: they are the
    // natural merge/point-lookup key, and per-file [min,max] on a
    // monotone allocation makes those lookups prune near-perfectly
    val autoStats = genSources ++ idDefs.map(_._1)
    val allStats = (statsCols ++ autoStats.filterNot(s =>
      statsCols.exists(_.equalsIgnoreCase(s)))).distinct
    // a zero-file table has nothing to derive a stats contract from;
    // record the declaration so the FIRST write already lands pruning
    // stats (see GraftTable.declaredStatsCols)
    if (allStats.nonEmpty)
      t.setProperty(GraftTable.StatsProperty, allStats.mkString(","))
    // TBLPROPERTIES at create time (Delta parity) — set after the commit
    // so a failed create leaves no property file behind; bloom/
    // autoCompact/statsColumns declarations then govern the first write
    // (constraint-namespace keys become real CHECK constraints)
    GraftSqlParser.applyTableProps(t, properties)
    identOpt.foreach { case (db, name, registered) =>
      if (!registered) GraftCatalog.register(spark, db, name, t)
      else spark.catalog.refreshTable(s"`$db`.`$name`")
    }
    Seq(Row(root, v))
  }
}

/** `SELECT ... FROM table_changes(<table>, <from> [, <to>])` — Delta's
  * stored-CDF read surface as a SQL table-valued function (registered
  * through `SparkSessionExtensions.injectTableFunction`). Serves the
  * STORED change feed ([[GraftTable.changeFeed]]), exactly like Delta:
  * O(changed rows in the version window), never a snapshot diff.
  * Arguments must be foldable (literals): the plan substitutes at
  * resolution time.
  */
object GraftTableChanges {
  private[graft] def argStr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): String =
    e.eval() match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case o => String.valueOf(o)
    }

  /** A version bound: a numeric version, a tag name, or a timestamp
    * (Delta accepts versions and timestamps; tags are the graft
    * extension). Timestamp semantics match the reader/stream options: a
    * FROM bound takes the first commit at-or-after the cut, a TO bound
    * the last at-or-before — so ('2020-01-01', '2020-01-31') brackets
    * exactly January's commits. Shared by `table_changes` and
    * `table_changes_by_row`.
    */
  private[graft] def versionBound(
      t: GraftTable, fn: String,
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      from: Boolean): Long = e.eval() match {
    case n: Number => n.longValue()
    case _ =>
      val s = argStr(e)
      try t.resolveVersionRef(s)
      catch {
        case _: IllegalArgumentException =>
          val cut = try GraftDataSource.parseTimestampCut(s)
          catch {
            case _: Exception => throw new IllegalArgumentException(
              s"$fn bound '$s' is not a version, a tag of " +
                "this table, or a parseable timestamp")
          }
          if (from) t.versionAtOrAfter(cut) else t.versionAtOrBefore(cut)
      }
  }

  def plan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.size == 2 || args.size == 3,
      "table_changes expects (table, from[, to]) — version, tag, or timestamp")
    val spark = SparkSession.active
    val t = GraftSqlParser.resolve(spark, argStr(args.head))
    def bound(e: org.apache.spark.sql.catalyst.expressions.Expression,
        from: Boolean): Long = versionBound(t, "table_changes", e, from)
    val from = bound(args(1), from = true)
    // a FROM bound past the stored feed (e.g. a future timestamp) is an
    // EMPTY window, not an error — ('2999-01-01', ...) brackets nothing.
    // A table with no stored feed at all keeps the loud error.
    val df = t.changeFeedVersions.lastOption match {
      case Some(last) if from > last =>
        val tail = t.changeFeed(sinceVersion = last)
        tail.filter(tail("_commit_version") >= from)
      case _ => t.changeFeed(sinceVersion = from)
    }
    val bounded =
      if (args.size == 3)
        df.filter(df("_commit_version") <= bound(args(2), from = false))
      else df
    bounded.queryExecution.analyzed
  }
}

/** `SELECT ... FROM table_changes_by_row(<table>, <from> [, <to>])` —
  * the row-tracking change read ([[GraftTable.changesBetweenByRow]]) as
  * a SQL table function: one snapshot diff paired by STABLE ROW ID, so
  * a key-changing UPDATE reads as update_preimage/update_postimage and
  * rewrites (OPTIMIZE/z-order) between the bounds contribute nothing.
  * Output is the table columns + `_row_id` + `_change_type`. Requires
  * row tracking enabled at both bounds; O(both snapshots) — the stored
  * feed (`table_changes`) stays the O(changes) surface.
  */
object GraftTableChangesByRow {
  def plan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import GraftTableChanges.{argStr, versionBound}
    require(args.size == 2 || args.size == 3,
      "table_changes_by_row expects (table, from[, to]) — version, tag, " +
        "or timestamp")
    val spark = SparkSession.active
    val t = GraftSqlParser.resolve(spark, argStr(args.head))
    val from = versionBound(t, "table_changes_by_row", args(1), from = true)
    val to =
      if (args.size == 3)
        versionBound(t, "table_changes_by_row", args(2), from = false)
      else t.latestVersion.getOrElse(throw new IllegalStateException(
        s"table_changes_by_row on uncommitted table ${t.root}"))
    t.changesBetweenByRow(from, to).queryExecution.analyzed
  }
}

/** `SELECT ... FROM table_changed_since(<table>, <cut>)` —
  * [[GraftTable.changedSince]] as a SQL table function: rows modified
  * AFTER the cut, off one snapshot with manifest-level file skipping
  * (O(files written since the cut)). Cut accepts a version, tag, or
  * timestamp (at-or-before semantics, like a TO bound: "changes since
  * yesterday 18:00" excludes the commit AT the cut).
  */
object GraftTableChangedSince {
  def plan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import GraftTableChanges.{argStr, versionBound}
    require(args.size == 2,
      "table_changed_since expects (table, sinceVersion) — version, tag, " +
        "or timestamp")
    val spark = SparkSession.active
    val t = GraftSqlParser.resolve(spark, argStr(args.head))
    val cut = versionBound(t, "table_changed_since", args(1), from = false)
    t.changedSince(cut).queryExecution.analyzed
  }
}

/** `SELECT * FROM table_deleted_since('t', v)` — the deletion complement
  * of `table_changed_since` ([[GraftTable.deletedSince]]): one `_row_id`
  * column of rows deleted after the cut, derived from the manifest
  * delta at O(touched files); a rewrite (compaction) contributes none.
  */
object GraftTableDeletedSince {
  def plan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import GraftTableChanges.{argStr, versionBound}
    require(args.size == 2,
      "table_deleted_since expects (table, sinceVersion) — version, tag, " +
        "or timestamp")
    val spark = SparkSession.active
    val t = GraftSqlParser.resolve(spark, argStr(args.head))
    val cut = versionBound(t, "table_deleted_since", args(1), from = false)
    t.deletedSince(cut).queryExecution.analyzed
  }
}

/** `SELECT * FROM table_sync_since('t', v)` — the complete mirror sync
  * ([[GraftTable.syncSince]]): upserts (full rows) and deletes
  * (`_row_id` only) since the cut, both off ONE pinned latest version,
  * tagged by `_sync_action` — the pairing a correct incremental mirror
  * needs, packaged so it cannot be split across two table states.
  */
object GraftTableSyncSince {
  def plan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import GraftTableChanges.{argStr, versionBound}
    require(args.size == 2,
      "table_sync_since expects (table, sinceVersion) — version, tag, " +
        "or timestamp")
    val spark = SparkSession.active
    val t = GraftSqlParser.resolve(spark, argStr(args.head))
    val cut = versionBound(t, "table_sync_since", args(1), from = false)
    t.syncSince(cut).queryExecution.analyzed
  }
}

/** `SYNC <src> INTO <mirror> [SINCE VERSION <v>]` —
  * [[GraftTable.syncMirror]] from SQL: ONE atomic identity-keyed merge
  * applying everything changed and deleted since the cursor, pinned to
  * one source version. Returns that version — the caller's NEXT cursor
  * (persist it through [[graft.pipeline.SyncRunner]] when crash-safe
  * progress matters). Without SINCE the statement BOOTSTRAPS a missing
  * mirror from the full pinned snapshot; on an existing mirror it
  * refuses (an accidental full re-overwrite from SQL should never be
  * one forgotten clause away).
  */
case class GraftSyncMirror(src: String, dest: String, since: Option[Long])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val s = GraftSqlParser.resolve(spark, src)
    val m = GraftSqlParser.resolve(spark, dest)
    val cut = since.getOrElse {
      if (m.exists) throw new IllegalArgumentException(
        s"SYNC $src INTO $dest: the mirror already exists — pass SINCE " +
          "VERSION <cursor> (the version a previous sync returned); " +
          "omitting it is the BOOTSTRAP form and would re-overwrite")
      0L
    }
    Seq(Row(s.syncMirror(m, cut)))
  }
}

/** `COPY INTO t FROM parquet.`/path` [STATS (...)]` —
  * [[GraftTable.copyInto]]: idempotent per-file append of an existing
  * parquet directory (footers-only when schemas match). Returns the
  * committed version.
  */
case class GraftCopyInto(target: String, src: String, statsCols: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val p = GraftSqlParser.pathLiteral(src).getOrElse(
      throw new IllegalArgumentException(
        s"COPY INTO expects FROM parquet.`/path` (got $src)"))
    Seq(Row(GraftSqlParser.resolve(spark, target).copyInto(p, statsCols)))
  }
}

/** `INSERT INTO t REPLACE WHERE <cond> <query>` — the SQL surface of
  * [[GraftTable.overwriteWhere]] (Delta/Databricks replaceWhere): ONE
  * atomic commit replacing exactly the predicate's rows with the
  * query's result, O(touched slice + new data) via the DELETE pruning
  * machinery, per-row predicate enforcement on the incoming rows. The
  * query binds to the table schema BY POSITION with store-assignment
  * casts (same contract as plain INSERT). The condition is a plain
  * predicate over the table's columns; subqueries in it are not
  * supported (the reluctant statement split would mis-parse them, and
  * slice predicates are literal-bounded by design).
  */
case class GraftInsertReplaceWhere(target: String, condSql: String, query: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val t = GraftSqlParser.resolve(spark, target)
    val m = t.latestManifest.getOrElse(throw new IllegalStateException(
      s"INSERT REPLACE WHERE into uncommitted graft table $target"))
    val schema = StructType.fromDDL(m.schema)
    val df = spark.sql(query)
    if (df.columns.length != schema.length) throw new IllegalArgumentException(
      s"INSERT REPLACE WHERE binds by position and needs ${schema.length} " +
        s"column(s) (${schema.fieldNames.mkString(", ")}) but the query " +
        s"produces ${df.columns.length}")
    val out = df.select(schema.fields.zipWithIndex.map { case (f, i) =>
      col(s"`${df.columns(i)}`").cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    Seq(Row(t.overwriteWhere(out, condSql)))
  }
}

/** `CREATE TABLE new SHALLOW|DEEP CLONE src [VERSION AS OF v]
  * LOCATION p` — [[GraftTable.cloneAt]] (hard-linked, O(files)) or
  * [[GraftTable.cloneDeepAt]] (byte copies, O(data) — the
  * backup/migration form); registers `new` in the session catalog when
  * it is an identifier (a `graft.`path`` destination just clones).
  */
case class GraftShallowClone(
    dest: String, source: String, version: Option[String],
    location: Option[String], deep: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType)(),
    AttributeReference("cloned_version", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSqlParser.resolve(spark, source)
    val v = version.map(src.resolveVersionRef)
      .orElse(src.latestVersion).getOrElse(
        throw new IllegalStateException(s"clone of uncommitted table $source"))
    val destIsPath = dest.startsWith("'") || dest.startsWith("\"") ||
      dest.toLowerCase.startsWith("graft.`")
    val destRoot =
      if (destIsPath) GraftSqlParser.rootOf(spark, dest)
      else location.getOrElse(throw new IllegalArgumentException(
        s"SHALLOW CLONE to identifier $dest requires LOCATION '<path>'"))
    val cloned =
      if (deep) src.cloneDeepAt(v, destRoot) else src.cloneAt(v, destRoot)
    if (!destIsPath) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(dest)
      val db = ident.database
        .getOrElse(spark.sessionState.catalog.getCurrentDatabase)
      GraftCatalog.register(spark, db, ident.table, cloned)
    }
    Seq(Row(destRoot, v))
  }
}
