package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** SQL surface for the native graft joins — the `injectParser` tier of
  * the Catalyst extension API (the column-API forms already plan to
  * [[AsOfJoinNode]]/[[IntervalJoinNode]]; this makes the SAME nodes
  * reachable from pure SQL, the way DuckDB/QuestDB spell them):
  *
  * {{{
  *   SELECT <list> FROM <left> ASOF [LEFT] JOIN <right>
  *   ON <leftKey> = <rightKey> AND <leftTime> >= <rightTime>
  *
  *   SELECT <list> FROM <left> INTERVAL JOIN <right>
  *   ON <leftKey> = <rightKey>
  *   AND (<leftStart>, <leftEnd>) OVERLAPS (<rightStart>, <rightEnd>)
  * }}}
  *
  * `>=` is the backward as-of (latest right at-or-before each left
  * row), `<=` the forward one; the join carries EVERY right column
  * (null when no right row qualifies — left-join semantics, which is
  * what the native node computes; add `WHERE x IS NOT NULL` for the
  * inner form). Equal-time ties resolve by the carried right tuple —
  * ascending lexicographic, so backward picks the max and forward the
  * min, matching the column-API contract exactly (q228 grades the SQL
  * form against q201's oracle).
  *
  * The statement is recognized by shape — one SELECT list over one
  * ASOF JOIN of two named relations with a two-conjunct ON — and
  * built DIRECTLY as logical plan: `UnresolvedRelation`s under an
  * [[UnresolvedAsOfJoin]], the select list parsed per item by the
  * DELEGATE parser (so any expression Spark SQL accepts works in the
  * list). Everything that doesn't match the shape — including every
  * other statement kind — falls through to the delegate verbatim:
  * the parser adds a statement form, it never re-interprets one.
  * Resolution happens in [[ResolveGraftAsOfJoin]] (injected as a
  * resolution rule): once both children resolve, the name-based node
  * becomes a fully-typed [[AsOfJoinNode]] and plans through the
  * existing strategy.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private def graftPlan(sqlText: String): Option[LogicalPlan] =
    GraftSqlParser.parseAsOf(sqlText, delegate)
      .orElse(GraftSqlParser.parseInterval(sqlText, delegate))

  private def rewrites(sqlText: String): Option[String] =
    GraftSqlParser.rewriteDescribeHistory(sqlText)
      .orElse(GraftSqlParser.rewriteTimeTravel(sqlText))
      .orElse(GraftSqlParser.rewriteTimestampTravel(sqlText))
      .orElse(GraftSqlParser.rewriteChanges(sqlText))
      .orElse(GraftSqlParser.rewriteSyncAsOf(sqlText))

  override def parsePlan(sqlText: String): LogicalPlan =
    // maintenance statements FIRST: `RESTORE t TO VERSION AS OF n`
    // contains the time-travel clause textually, and the rewrite would
    // otherwise mangle the statement before the command regex sees it
    GraftSqlParser.parseMaintenance(sqlText).getOrElse(
      rewrites(sqlText) match {
        case Some(rewritten) => parsePlan(rewritten)
        case None =>
          graftPlan(sqlText).getOrElse(delegate.parsePlan(sqlText))
      })

  override def parseQuery(sqlText: String): LogicalPlan =
    rewrites(sqlText) match {
      case Some(rewritten) => parseQuery(rewritten)
      case None => graftPlan(sqlText).getOrElse(delegate.parseQuery(sqlText))
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** One (possibly dot-qualified) TABLE identifier as the statement
    * regexes claim it: each segment a plain `\w+` run or a
    * backtick-quoted body (Spark's quoting — a doubled backtick is a
    * literal backtick), so `CREATE TABLE \`my-table\`` and every
    * subsequent DML/maintenance statement route to graft instead of
    * silently falling through to a stock-Spark resolution error.
    * [[cleanIdent]] strips the quoting to the CANONICAL name the
    * registry keys on (spelling preserved — names are case-sensitive
    * as written, quoted or not, matching the registry's exact-match
    * lookups); [[quoteIdent]] re-quotes for emitted DDL.
    */
  private[plans] val Id = """(?:\w+|`(?:[^`]|``)+`)(?:\.(?:\w+|`(?:[^`]|``)+`))*"""

  /** Canonical form of a (possibly backtick-quoted) identifier: quoted
    * segments unwrap (`` `` `` → a literal backtick), everything else
    * — including the dots joining segments — passes through verbatim.
    */
  private[plans] def cleanIdent(raw: String): String = {
    val s = raw.trim
    if (!s.contains('`')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '`') {
        var j = i + 1
        var open = true
        while (j < s.length && open) {
          if (s.charAt(j) == '`') {
            if (j + 1 < s.length && s.charAt(j + 1) == '`') {
              sb += '`'; j += 2
            } else { j += 1; open = false }
          } else { sb += s.charAt(j); j += 1 }
        }
        i = j
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** The re-parsable spelling of a canonical name: plain `[\w.]+`
    * names emit raw; anything else emits as ONE backtick-quoted
    * identifier (dots included — [[cleanIdent]] maps both spellings to
    * the same canonical key, so the round-trip is exact).
    */
  private[plans] def quoteIdent(name: String): String =
    if (name.matches("""[\w.]+""")) name
    else "`" + name.replace("`", "``") + "`"

  /** The names a table may take: the canonical name doubles as the
    * store VIEW (a directory name) and embeds in `$`-mangled
    * time-travel identifiers, so path separators, quotes, backticks,
    * `$`, and the two path dots are refused at CREATE/RENAME — loudly,
    * not as a corrupt store later.
    */
  private[plans] def validateTableName(name: String): Unit = {
    require(name.nonEmpty, "empty table name")
    require(name != "." && name != "..",
      s"table name `$name` is a path dot")
    val bad = Seq('/', '\\', '`', '\'', '"', '$', '\n', '\r', '\t')
    bad.filter(name.contains(_)).foreach(c =>
      throw new IllegalArgumentException(
        s"table name `$name` contains the reserved character " +
          s"`${if (c == '\n') "\\n" else if (c == '\r') "\\r" else if (c == '\t') "\\t" else c}` " +
          "— rename it (quoted names may hold any other character)"))
  }

  // SELECT <list> FROM <tbl> ASOF [LEFT] JOIN <tbl>
  //   ON <col> = <col> AND <col> >=|<= <col>
  // Identifiers are (qualified) plain names; the select list is any
  // expression text (split on top-level commas, parsed by the
  // delegate). DOTALL so multi-line statements match.
  private val AsOfRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)\s+ASOF\s+(?:LEFT\s+)?JOIN\s+""" +
      """([\w.]+)\s+ON\s+([\w.]+)\s*=\s*([\w.]+)\s+AND\s+""" +
      """([\w.]+)\s*(>=|<=)\s*([\w.]+)\s*;?\s*$""").r

  /** Split a select list on commas at paren/bracket depth 0, outside
    * quotes — enough for arbitrary expressions with function calls and
    * string literals in the list.
    */
  private[plans] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        cur += c
        if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur += c
        case '(' | '[' => depth += 1; cur += c
        case ')' | ']' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  // SELECT <list> FROM <tbl> INTERVAL JOIN <tbl>
  //   ON <col> = <col> AND (<start>, <end>) OVERLAPS (<start>, <end>)
  // — the half-open interval-overlap join, same ON-shape convention.
  private val IntervalRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)\s+INTERVAL\s+JOIN\s+""" +
      """([\w.]+)\s+ON\s+([\w.]+)\s*=\s*([\w.]+)\s+AND\s+""" +
      """\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)\s+OVERLAPS\s+""" +
      """\(\s*([\w.]+)\s*,\s*([\w.]+)\s*\)\s*;?\s*$""").r

  private def selectItems(selList: String,
                          delegate: ParserInterface): Seq[
      org.apache.spark.sql.catalyst.expressions.NamedExpression] =
    splitTopLevel(selList).map {
      case "*" => UnresolvedStar(None)
      case item => delegate.parseExpression(item) match {
        case ne: org.apache.spark.sql.catalyst.expressions.NamedExpression => ne
        case e => UnresolvedAlias(e)
      }
    }

  // <table> VERSION AS OF <n> — time travel over a registered
  // SnapshotStore view. A pure TEXT rewrite (the whole statement then
  // parses through the delegate, so the surface composes with every
  // statement form Spark SQL has — joins of two versions of the same
  // table, subqueries, CTEs): each occurrence becomes the quoted
  // identifier `name$asof$n`, which [[ResolveGraftTimeTravel]] later
  // binds to `store.read(view, Some(n))`. Matches only a bare
  // (qualified) name followed by the clause at QUOTE DEPTH ZERO:
  // occurrences inside '…'/"…"/`…` literals and identifiers or inside
  // --/'/*' comments are left verbatim (enforced by [[quotedMask]],
  // the same quote walk [[splitTopLevel]] uses — not just claimed).
  private val VersionAsOfRe =
    ("""(?is)(""" + Id + """)\s+VERSION\s+AS\s+OF\s+(\d+)""").r

  /** Per-character mask of `s`: true where the character sits inside a
    * quoted region ('…', "…", `…`; SQL's doubled-quote escaping works
    * by toggle, and Spark's default backslash escaping is honored —
    * a backslash-quote inside a literal does not close it) or a
    * comment (line `--` to EOL, or slash-star block; bracketed
    * comments NEST in Spark SQL, so the walk tracks depth and unmasks
    * only when the outermost closes). Text rewrites consult it so
    * they only touch real syntax.
    */
  private[plans] def quotedMask(s: String): Array[Boolean] = {
    val in = new Array[Boolean](s.length)
    var quote: Char = 0 // 0 none; '-' line comment; '*' block comment
    var blockDepth = 0 // Spark SQL bracketed comments NEST
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote == '-') {
        in(i) = true; if (c == '\n') quote = 0
      } else if (quote == '*') {
        // the two-char tokens consume atomically, so an opener's star
        // can never double as a closer's (and vice versa)
        in(i) = true
        if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
          blockDepth += 1; in(i + 1) = true; i += 1
        } else if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
          in(i + 1) = true; i += 1
          blockDepth -= 1
          if (blockDepth == 0) quote = 0
        }
      } else if (quote != 0) {
        in(i) = true
        if (c == '\\' && quote != '`' && i + 1 < s.length) {
          // backslash escape inside '…'/"…": consume the next char too
          in(i + 1) = true; i += 1
        } else if (c == quote) quote = 0
      } else if (c == '\'' || c == '"' || c == '`') {
        quote = c; in(i) = true
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        quote = '-'; in(i) = true
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        quote = '*'; blockDepth = 1; in(i) = true; in(i + 1) = true; i += 1
      }
      i += 1
    }
    in
  }

  /** Is a rewrite match GENUINE syntax rather than literal/comment
    * content? Everything after its identifier group (group 1) must sit
    * outside quotes/comments, and the identifier itself must be either
    * fully unquoted or begin with the backtick that QUOTES it — a
    * backtick-quoted table name is legitimately "inside quotes" by the
    * mask, while an occurrence inside a string literal or a comment
    * always has a masked tail and stays verbatim.
    */
  private def identMatchOk(s: String, mask: Array[Boolean],
                           m: scala.util.matching.Regex.Match): Boolean = {
    val tailClear = !(m.end(1) until m.end).exists(mask)
    // with a clear tail, masked characters inside the identifier group
    // can only come from ITS OWN backtick quoting: the identifier
    // pattern matches no quote/comment delimiters, and the regex
    // demands whitespace right after the group, so a '…'/"…" literal
    // or comment enclosing the group would also mask the tail
    val idClear = !(m.start until m.end(1)).exists(mask) ||
      m.group(1).contains('`')
    tailClear && idClear
  }

  /** Replace `re`'s matches in `sqlText` — but ONLY genuine-syntax
    * matches ([[identMatchOk]]). None when nothing rewritable matched.
    */
  private def replaceOutsideQuotes(sqlText: String, re: scala.util.matching.Regex)(
      build: scala.util.matching.Regex.Match => String): Option[String] = {
    val mask = quotedMask(sqlText)
    val ms = re.findAllMatchIn(sqlText)
      .filter(m => identMatchOk(sqlText, mask, m)).toSeq
    if (ms.isEmpty) None
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { m =>
        sb.append(sqlText.substring(pos, m.start)).append(build(m))
        pos = m.end
      }
      Some(sb.append(sqlText.substring(pos)).toString)
    }
  }

  private[plans] def rewriteTimeTravel(sqlText: String): Option[String] =
    replaceOutsideQuotes(sqlText, VersionAsOfRe)(m =>
      "`" + cleanIdent(m.group(1)) + "$asof$" + m.group(2) + "`")

  // <table> TIMESTAMP AS OF '<instant>' — wall-clock time travel:
  // resolved through the manifests' monotonic commit timestamps
  // ([[graft.sources.SnapshotStore.versionAtTimestamp]] — latest
  // version at-or-before the instant) to the SAME pinned-snapshot read
  // VERSION AS OF produces. The literal parses at REWRITE time (epoch
  // millis, 'yyyy-MM-dd', or ISO date-time, interpreted as UTC — the
  // engine's session timezone) so the identifier carries plain millis.
  // Unlike VERSION AS OF the match necessarily SPANS a quoted literal,
  // so only the match START is required to sit outside quotes/comments
  // (an occurrence inside a string or comment is left verbatim).
  private val TimestampAsOfRe =
    ("""(?is)(""" + Id + """)\s+TIMESTAMP\s+AS\s+OF\s+'([^']*)'""").r

  /** Parse a TIMESTAMP AS OF literal to epoch millis (UTC): bare
    * digits = epoch millis; else `yyyy-MM-dd[ HH:mm:ss[.SSS]]` (a 'T'
    * separator also accepted). The WHOLE literal must parse — a
    * trailing timezone offset or stray suffix refuses instead of
    * silently resolving to the wrong instant (SimpleDateFormat.parse
    * ignores trailing text; the ParsePosition check closes that hole).
    * Fails naming the accepted forms.
    */
  private[plans] def parseTsLiteral(s: String): Long = {
    val t = s.trim
    if (t.nonEmpty && t.forall(_.isDigit)) return t.toLong
    def bad() = throw new IllegalArgumentException(
      s"TIMESTAMP AS OF '$s': expected epoch millis, 'yyyy-MM-dd', " +
        "or 'yyyy-MM-dd HH:mm:ss[.SSS]' (UTC)")
    val norm = t.replace('T', ' ')
    val full =
      if (norm.length == 10) norm + " 00:00:00"
      else if (norm.length == 16) norm + ":00"
      else norm
    val fmt = new java.text.SimpleDateFormat(
      if (full.contains(".")) "yyyy-MM-dd HH:mm:ss.SSS"
      else "yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    fmt.setLenient(false)
    val pos = new java.text.ParsePosition(0)
    val d = fmt.parse(full, pos)
    if (d == null || pos.getIndex != full.length) bad()
    d.getTime
  }

  /** Like [[replaceOutsideQuotes]], but requiring only the match START
    * to sit outside quotes/comments — for the rewrite shapes that
    * necessarily SPAN a quoted literal (a timestamp bound). An
    * occurrence inside a string or comment is still left verbatim.
    */
  private def replaceStartOutsideQuotes(sqlText: String,
      re: scala.util.matching.Regex)(
      build: scala.util.matching.Regex.Match => Option[String]): Option[String] = {
    val mask = quotedMask(sqlText)
    // a quoted table name legitimately starts "inside quotes" — then
    // the first character AFTER the identifier group (the whitespace
    // before the clause keyword) must be clear instead, which rejects
    // occurrences inside string literals and comments
    def startOk(m: scala.util.matching.Regex.Match): Boolean =
      !mask(m.start) || (sqlText.charAt(m.start) == '`' &&
        (m.end(1) >= sqlText.length || !mask(m.end(1))))
    val ms = re.findAllMatchIn(sqlText)
      .filter(startOk)
      .flatMap(m => build(m).map(m -> _)).toSeq
    if (ms.isEmpty) None
    else {
      val sb = new StringBuilder
      var pos = 0
      ms.foreach { case (m, repl) =>
        sb.append(sqlText.substring(pos, m.start)).append(repl)
        pos = m.end
      }
      Some(sb.append(sqlText.substring(pos)).toString)
    }
  }

  // claimed ONLY for registered (incl. durable-catalog) names: Spark's
  // own parser accepts `TIMESTAMP AS OF` for v2/vendor tables, and the
  // rewrite must not steal native time travel from them (VERSION AS OF
  // predates the registry gate and keeps its spec-pinned behavior)
  private[plans] def rewriteTimestampTravel(sqlText: String): Option[String] =
    replaceStartOutsideQuotes(sqlText, TimestampAsOfRe) { m =>
      val name = cleanIdent(m.group(1))
      if (GraftTableRegistry.lookup(name).isEmpty) None
      else Some("`" + name + "$asofts$" + parseTsLiteral(m.group(2)) + "`")
    }

  // <table> CHANGES FROM <a> TO <b> — the change data feed as a SQL
  // relation (the batch half of the changeFeed stream source): each
  // occurrence becomes the quoted identifier `name$diff$a$b`, which
  // [[ResolveGraftTimeTravel]] binds to `store.diff(view, a, b, key)`
  // over the registry's recorded key. Same quote/comment masking and
  // compositionality as VERSION AS OF (usable in joins, CTEs,
  // subqueries). Bounds are versions, `TIMESTAMP '<instant>'` (resolved
  // through the manifests' commit timestamps), or — TO side only —
  // `LATEST`, so a poller can ask "everything since v5" without first
  // querying history. The bound-anchored FROM keeps `SELECT changes
  // FROM t` and every other accidental shape unmatched. A timestamp
  // bound necessarily spans a quoted literal, so only the match START
  // must sit outside quotes/comments.
  private val ChangesRe =
    ("""(?is)(""" + Id +
      """)\s+CHANGES\s+FROM\s+(\d+|TIMESTAMP\s*'[^']*')\s+TO\s+""" +
      """(\d+|LATEST\b|TIMESTAMP\s*'[^']*')""").r

  /** Encode one CHANGES bound into its identifier token: digits stay
    * digits, LATEST lowers, a TIMESTAMP literal parses to `t<millis>`.
    */
  private def encodeChangesBound(raw: String): String = {
    val t = raw.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t
    else if (t.equalsIgnoreCase("latest")) "latest"
    else "t" + parseTsLiteral(
      t.replaceFirst("(?is)^TIMESTAMP\\s*'", "").stripSuffix("'"))
  }

  private[plans] def rewriteChanges(sqlText: String): Option[String] =
    replaceStartOutsideQuotes(sqlText, ChangesRe)(m =>
      Some("`" + cleanIdent(m.group(1)) + "$diff$" +
        encodeChangesBound(m.group(2)) +
        "$" + encodeChangesBound(m.group(3)) + "`"))

  // DESCRIBE HISTORY <table> — the table-history statement (Delta's
  // spelling) over a registered store view: rewritten to a SELECT over
  // the `name$history` identifier, bound by [[ResolveGraftTimeTravel]]
  // to `store.history(view)`.
  private val DescribeHistoryRe =
    ("""(?is)^\s*DESCRIBE\s+HISTORY\s+(""" + Id + """)\s*;?\s*$""").r

  private[plans] def rewriteDescribeHistory(sqlText: String): Option[String] =
    DescribeHistoryRe.findFirstMatchIn(sqlText).map(m =>
      "SELECT * FROM `" + cleanIdent(m.group(1)) + "$history`")

  // OPTIMIZE <table> [CLUSTER BY (c1, …, cd)] and
  // VACUUM <table> [RETAIN <n> VERSIONS] — the table-maintenance
  // statements (Delta's spellings) over registered store views,
  // parsed directly to RunnableCommands: `spark.sql` executes a
  // Command plan eagerly exactly once, returning the metrics row —
  // no side effects hide in analysis rules.
  // OPTIMIZE <t> [WHERE <pred>] [CLUSTER BY (a, b)] — a WHERE scopes
  // the rewrite to the dirs the predicate may touch (stats-pruned),
  // Delta's partition-scoped maintenance
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+(""" + Id + """)(?:\s+(.+?))?\s*;?\s*$""").r

  private val ClusterByLookahead = """(?is)^\s+BY\s*\(""".r
  private val OptClusterColsRe =
    """(?is)^(?:CLUSTER|ZORDER)\s+BY\s*\(([^)]*)\)\s*$""".r

  /** Split an OPTIMIZE statement's tail into (WHERE predicate, CLUSTER
    * BY columns) — the boundary found by the MASK WALK ([[topLevelKw]]),
    * never a regex: a predicate holding the text `CLUSTER BY (x)`
    * inside a string literal (or a parenthesized subquery) must not be
    * truncated with the literal's content misread as cluster columns.
    * None when the tail is not one of the statement's legal shapes
    * (the statement then falls through to the delegate's error).
    */
  private[plans] def splitOptimizeTail(tail: String)
      : Option[(Option[String], Seq[String])] = {
    val t = tail.trim
    if (t.isEmpty) return Some((None, Nil))
    // ZORDER BY is accepted as a spelling alias for CLUSTER BY (the
    // Delta habit) — both route to the same Hilbert layout writer
    val clusterAt = (topLevelKw(t, "CLUSTER", ClusterByLookahead) ++
      topLevelKw(t, "ZORDER", ClusterByLookahead)).sorted.headOption
    val (head, clusterTxt) = clusterAt match {
      case Some(i) => (t.take(i).trim, Some(t.drop(i).trim))
      case None => (t, None)
    }
    val cols = clusterTxt match {
      case None => Some(Nil)
      case Some(c) => OptClusterColsRe.findFirstMatchIn(c).map(
        _.group(1).split(",").toSeq.map(s => cleanIdent(s.trim))
          .filter(_.nonEmpty))
    }
    val where: Option[Option[String]] =
      if (head.isEmpty) Some(None)
      else if (head.length > 5 &&
               head.substring(0, 5).equalsIgnoreCase("WHERE") &&
               !Character.isLetterOrDigit(head.charAt(5)))
        Some(Some(head.drop(5).trim))
      else None
    for (w <- where; cs <- cols) yield (w, cs)
  }

  // ALTER TABLE <t> RENAME TO <t2> — a pure catalog-binding move (the
  // store view and every byte of data stay put — at 100 TB a rename
  // must be metadata): the new name takes the whole binding (key,
  // clustering, constraints), the old name unbinds everywhere it was
  // persisted. Claimed only for registered names.
  private val RenameRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id + """)\s+RENAME\s+TO\s+(""" +
      Id + """)\s*;?\s*$""").r
  // ALTER TABLE <t> RENAME COLUMN a TO b — METADATA-ONLY rename
  // ([[graft.sources.SnapshotStore.renameColumn]]): a manifest
  // republish records `a>b`, the read projection surfaces old-dir data
  // under the new name, later writes land the new name physically, and
  // the next full rewrite localizes + clears. The registry key /
  // cluster declaration rebind when they named the old spelling;
  // CHECK constraints rewrite mechanically (round-trip-proven).
  private val RenameColRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+RENAME\s+COLUMN\s+(""" + Id + """)\s+TO\s+(""" + Id +
      """)\s*;?\s*$""").r
  // ALTER TABLE <t> ALTER COLUMN <c> TYPE <wider> — METADATA-ONLY type
  // widening ([[graft.sources.SnapshotStore.alterColumnType]]): a
  // manifest republish records `c>type`, reads cast the old-era data
  // to the declared type, later writes land the wide type physically
  // (mixed eras plan one wide scan schema via the parquet reader's
  // type promotion), time travel keeps each version's own type, and
  // the next full rewrite localizes + clears. Widening-only —
  // INT→BIGINT, INT→DOUBLE, FLOAT→DOUBLE, DECIMAL(p,s)→DECIMAL(p+,s);
  // narrowing refuses loudly in the store.
  private val AlterColTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+ALTER\s+COLUMN\s+(""" + Id +
      """)\s+TYPE\s+([A-Za-z0-9_]+(?:\s*\(\s*\d+\s*,\s*\d+\s*\))?)""" +
      """\s*;?\s*$""").r
  // DELETE FROM <t> (no WHERE) — remove ALL rows: one empty overwrite
  // commit, zero data IO beyond the schema file, history stays
  // time-travelable (the TRUNCATE lifecycle under DELETE's spelling —
  // Delta's DELETE-without-predicate contract)
  private val DeleteAllRe =
    ("""(?is)^\s*DELETE\s+FROM\s+(""" + Id + """)\s*;?\s*$""").r
  // DESCRIBE [TABLE] <t> — the schema listing for a registered graft
  // table (Spark's (col_name, data_type, comment) shape); claimed only
  // for registered names, and the single-identifier anchor keeps
  // DESCRIBE HISTORY/DETAIL (two tokens) on their own paths
  private val DescribeTableRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(""" + Id + """)\s*;?\s*$""").r
  // ALTER TABLE <t> DROP COLUMN[S] c1[, …] — METADATA-ONLY drops
  // ([[graft.sources.SnapshotStore.dropColumn]]): a manifest republish
  // records the column as dropped, the read-time projection hides it,
  // time travel to a pre-drop version still sees it, and the physical
  // bytes go at the next full rewrite (OPTIMIZE). The key, cluster
  // columns, and CHECK-referenced columns refuse.
  private val DropColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+DROP\s+COLUMNS?\s+(.+?)\s*;?\s*$""").r
  // CREATE TABLE <t2> SHALLOW|DEEP CLONE <t1> [VERSION AS OF n]
  // [LOCATION '<root>'] — Delta's CLONE spelling over the store's
  // zero-copy [[graft.sources.SnapshotStore.cloneView]] (shallow: v1
  // manifest of foreign refs, O(files) metadata, same store root) and
  // [[graft.sources.SnapshotStore.deepClone]] (independent byte copy,
  // LOCATION = the target root). The clone takes the source binding's
  // key/clustering/constraints and registers durably. Claimed in
  // parseMaintenance, which runs BEFORE the VERSION AS OF rewrite —
  // the clause text stays intact here.
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+(""" + Id +
      """)\s+(SHALLOW|DEEP)\s+CLONE\s+(""" + Id +
      """)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r

  // ALTER TABLE <t> CREATE|FAST FORWARD|REBASE|DROP BRANCH <b> — the
  // WAP (write–audit–publish) lifecycle in SQL over the store's
  // branch primitives. CREATE registers the branch as the DML-able
  // table `` `t@b` `` (the quoted-identifier surface makes every
  // statement work on it); FAST FORWARD publishes the audited branch
  // head into main atomically; REBASE re-points an append-only branch
  // onto main's current head after an OCC refusal; DROP unbinds.
  private val CreateBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+CREATE\s+BRANCH\s+(\w+)\s*;?\s*$""").r
  private val FastForwardRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+FAST\s+FORWARD\s+BRANCH\s+(\w+)\s*;?\s*$""").r
  private val RebaseBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+REBASE\s+BRANCH\s+(\w+)\s*;?\s*$""").r
  private val DropBranchRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+DROP\s+BRANCH\s+(\w+)\s*;?\s*$""").r
  // SHOW BRANCHES <t> — the branch listing (branch name, head version)
  private val ShowBranchesRe =
    ("""(?is)^\s*SHOW\s+BRANCHES\s+(?:FROM\s+|IN\s+)?(""" + Id +
      """)\s*;?\s*$""").r

  // PUBLISH SYNCPOINT (t1, t2, …) — pin the named tables' CURRENT
  // versions as ONE atomically-published syncpoint
  // ([[graft.sources.SnapshotStore.publishSync]]): the SQL spelling of
  // the lambda day-cycle's cross-view consistency point. All tables
  // must live under one store root (syncpoints are store-level).
  private val PublishSyncRe =
    """(?is)^\s*PUBLISH\s+SYNCPOINT\s*\(([^)]*)\)\s*;?\s*$""".r
  // <t> SYNC AS OF LATEST|<id> — read the table AS OF the version the
  // (latest or named) syncpoint pinned: every table read through the
  // same syncpoint belongs to the same published cycle, the
  // splice-anomaly-free read, now reachable from pure SQL. A text
  // rewrite like VERSION AS OF (composes with joins/CTEs/subqueries);
  // claimed only for registered names.
  private val SyncAsOfRe =
    ("""(?is)(""" + Id + """)\s+SYNC\s+AS\s+OF\s+(LATEST\b|\d+)""").r

  private[plans] def rewriteSyncAsOf(sqlText: String): Option[String] = {
    // registry-gated like TIMESTAMP AS OF: an unregistered name's text
    // stays verbatim (the delegate reports ITS error on the original
    // statement, never on a mangled identifier)
    val mask = quotedMask(sqlText)
    val any = SyncAsOfRe.findAllMatchIn(sqlText).exists(m =>
      identMatchOk(sqlText, mask, m) &&
        GraftTableRegistry.lookup(cleanIdent(m.group(1))).nonEmpty)
    if (!any) None
    else replaceOutsideQuotes(sqlText, SyncAsOfRe) { m =>
      val n = cleanIdent(m.group(1))
      if (GraftTableRegistry.lookup(n).isEmpty) m.matched
      else "`" + n + "$sync$" + m.group(2).toLowerCase + "`"
    }
  }

  // ALTER TABLE <t> CLUSTER BY (a, b) | NONE — re-declare (or clear)
  // the table's layout: future INSERT/CTAS route through the new
  // curve, the next bare OPTIMIZE re-clusters along it (the liquid-
  // clustering lifecycle: layout is a table property, not a rewrite)
  private val AlterClusterRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id + """)\s+CLUSTER\s+BY\s+""" +
      """(?:\(([^)]*)\)|(NONE))\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+(""" + Id + """)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?""" +
      """(\s+DRY\s+RUN)?\s*;?\s*$""").r
  // SHOW GRAFT TABLES — the registry listing (name, root, view, key,
  // version per binding); spelled with the provider token so the stock
  // SHOW TABLES surface is never shadowed
  private val ShowTablesRe =
    """(?is)^\s*SHOW\s+GRAFT\s+TABLES\s*;?\s*$""".r
  // SHOW CREATE TABLE <t> — the re-executable DDL for a registered
  // graft table (claimed only for registered names, so the stock
  // SHOW CREATE TABLE surface never loses a catalog table)
  private val ShowCreateRe =
    ("""(?is)^\s*SHOW\s+CREATE\s+TABLE\s+(""" + Id + """)\s*;?\s*$""").r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(""" + Id +
      """)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  // the wall-clock rollback form: the instant resolves through the
  // manifests' commit timestamps at run time (same resolution as the
  // read-side TIMESTAMP AS OF)
  private val RestoreTsRe =
    ("""(?is)^\s*RESTORE\s+(?:TABLE\s+)?(""" + Id +
      """)\s+TO\s+TIMESTAMP\s+AS\s+OF""" +
      """\s+'([^']*)'\s*;?\s*$""").r
  private val DeleteRe =
    ("""(?is)^\s*DELETE\s+FROM\s+(""" + Id +
      """)\s+WHERE\s+(.+?)\s*;?\s*$""").r
  private val InsertRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + Id +
      """)\s+(SELECT\s+.+?|VALUES\s+.+?)\s*;?\s*$""").r
  // INSERT INTO <t> (c1, c2, …) SELECT …|VALUES … — the COLUMN-LIST
  // form: the payload binds positionally to the NAMED columns, every
  // other table column lands NULL; a keyed table must name its key
  private val InsertColsRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + Id + """)\s*\(([^)]*)\)\s*""" +
      """(SELECT\s+.+?|VALUES\s+.+?)\s*;?\s*$""").r
  // INSERT OVERWRITE [TABLE] <t> SELECT …|VALUES … — the full-content
  // swap as ONE overwrite commit (every prior snapshot stays
  // time-travelable); claimed only for registered names, so the stock
  // INSERT OVERWRITE surface keeps catalog tables
  private val InsertOverwriteRe =
    ("""(?is)^\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(""" + Id + """)\s+""" +
      """(SELECT\s+.+?|VALUES\s+.+?)\s*;?\s*$""").r
  // INSERT INTO <t> REPLACE WHERE <pred> SELECT …|VALUES … — Delta's
  // atomic region swap; the pred/payload boundary is found by the
  // mask walk ([[splitReplaceWhere]]), never the regex: a pred holding
  // a parenthesized subquery must not split at the inner SELECT
  private val ReplaceWhereRe =
    ("""(?is)^\s*INSERT\s+INTO\s+(""" + Id +
      """)\s+REPLACE\s+WHERE\s+(.+?)\s*;?\s*$""").r

  // COPY INTO <t> FROM '<path>' FILEFORMAT = PARQUET|CSV|JSON
  // [PATTERN = '<glob>'] [FORCE] — idempotent bulk file ingestion: each
  // loaded file records a fence in the manifest's own files field, so
  // re-running the statement (or pointing it at a landing dir that
  // keeps growing) loads every file EXACTLY once; FORCE reloads
  // regardless of fences (Delta's spelling — the operator escape hatch
  // for the path+size+mtime identity's blind spot: an in-place
  // overwrite preserving both on a coarse-mtime filesystem)
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+(""" + Id + """)\s+FROM\s+'([^']+)'\s+""" +
      """FILEFORMAT\s*=\s*(\w+)(?:\s+PATTERN\s*=\s*'([^']+)')?""" +
      """(\s+FORCE)?\s*;?\s*$""").r

  private val SelectLookahead = """(?s)^\s""".r
  private val ValuesLookahead = """(?s)^\s*\(""".r

  /** Split a `<pred> SELECT …|VALUES …` tail at the FIRST top-level
    * payload keyword (depth 0, outside quotes/comments — a subquery's
    * SELECT sits inside parens and never splits). None when no payload
    * keyword exists at top level or the predicate would be empty.
    */
  private[plans] def splitReplaceWhere(tail: String): Option[(String, String)] = {
    val at = (topLevelKw(tail, "SELECT", SelectLookahead) ++
      topLevelKw(tail, "VALUES", ValuesLookahead)).sorted.headOption
    at.map(i => (tail.take(i).trim, tail.drop(i).trim))
      .filter { case (pred, _) => pred.nonEmpty }
  }
  // group(2) = everything after SET; the WHERE boundary is resolved by
  // [[splitTopLevelWhere]] (quote/paren-aware), never by the regex
  private val UpdateRe =
    ("""(?is)^\s*UPDATE\s+(""" + Id + """)\s+SET\s+(.+?)\s*;?\s*$""").r
  // CREATE TABLE <name> (<schema DDL>) USING graft [PRIMARY KEY k]
  // [LOCATION '<root>'] — the pure-SQL table origin: instantiates the
  // store view (one empty v1 commit so the schema is durable on disk)
  // and records the registry binding, so the WHOLE lifecycle is
  // reachable from SQL with zero Scala setup. The CTAS form seeds v1
  // from any session query instead. Claimed by the `USING graft`
  // provider token (no registry entry exists yet); every other CREATE
  // falls through verbatim. The store root comes from LOCATION or the
  // `spark.graft.store.root` conf — the role a catalog's managed
  // location plays.
  // clause order is fixed: PRIMARY KEY, then CLUSTER BY, then LOCATION
  // (documented in the README's SQL table)
  private val CreateTableRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?(""" + Id + """)\s*""" +
      """\((.+?)\)\s*USING\s+graft""" +
      """(?:\s+PRIMARY\s+KEY\s+\(?\s*(\w+)\s*\)?)?""" +
      """(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r
  private val CtasRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+""" +
      """(IF\s+NOT\s+EXISTS\s+)?(""" + Id + """)\s+""" +
      """USING\s+graft""" +
      """(?:\s+PRIMARY\s+KEY\s+\(?\s*(\w+)\s*\)?)?""" +
      """(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+LOCATION\s+'([^']+)')?""" +
      """\s+AS\s+(SELECT\s+.+?)\s*;?\s*$""").r
  // DROP TABLE unbinds the registry entry (claimed only for registered
  // names — a DROP of anything else reaches the stock parser); the
  // store data stays on disk, external-table semantics, GC via VACUUM
  private val DropTableRe =
    ("""(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(""" + Id +
      """)\s*;?\s*$""").r
  // CREATE MATERIALIZED VIEW <name> [LOCATION '<root>'] AS SELECT … —
  // the declarative batch-view origin ([[MaterializedView]]): seeds v1
  // from the defining query, persists the definition in the binding
  // props, classifies the shape for CDF-driven incremental REFRESH.
  // Always claimed: stock Spark has no MATERIALIZED VIEW statement, so
  // nothing is stolen from the delegate.
  private val CreateMvRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+(""" +
      Id + """)""" +
      """(?:\s+LOCATION\s+'([^']+)')?\s+AS\s+(SELECT\s+.+?)\s*;?\s*$""").r
  private val RefreshMvRe =
    ("""(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(""" + Id +
      """)(\s+FULL)?\s*;?\s*$""").r
  private val DropMvRe =
    ("""(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(""" + Id +
      """)\s*;?\s*$""").r
  // ALTER TABLE <t> ADD COLUMN[S] (c1 T1, …) — schema evolution as the
  // store already defines it (per-dir schemas, merged at read): one
  // empty append dir carrying the widened schema makes the new columns
  // part of every later read (NULL for existing rows), zero data IO.
  // The column list is captured RAW and unwrapped by [[stripOuterParens]]
  // — regex-optional parens would steal the closing paren of a
  // parameterized type (`ADD COLUMN d DECIMAL(10,2)`).
  private val AlterAddRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+ADD\s+COLUMNS?\s*(.+?)\s*;?\s*$""").r
  // ALTER TABLE <t> ADD CONSTRAINT <nm> CHECK (<expr>) — the greedy
  // body capture ends at the statement's LAST close paren, so nested
  // parens inside the expression survive; existing rows validate
  // before the constraint records (Delta's ADD CONSTRAINT contract)
  private val AlterAddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+ADD\s+CONSTRAINT\s+(\w+)\s+""" +
      """CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val AlterDropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+(""" + Id +
      """)\s+DROP\s+CONSTRAINT\s+""" +
      """(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""").r

  /** Wrap `df` with the table's CHECK-constraint guards: each
    * constraint adds a `where` that passes every row (NULL passes —
    * the SQL CHECK contract) or aborts the WRITE JOB itself via
    * `raise_error` naming the constraint and the violating row (JSON)
    * — zero extra passes, and the abort happens before any publish.
    * `exempt` marks rows the guard must skip: a MERGE tombstone row is
    * being DELETED — its source column values never land, so they
    * cannot violate anything.
    */
  private[plans] def withCheckGuards(name: String,
      df: org.apache.spark.sql.DataFrame,
      exempt: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false))
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    GraftTableRegistry.lookupChecks(name).foldLeft(df) { case (d, (nm, ex)) =>
      val ok = coalesce(expr(ex).cast("boolean"), lit(true))
      d.where(when(ok || exempt, lit(true)).otherwise(
        raise_error(concat(
          lit(s"$name: CHECK constraint `$nm` ($ex) violated by row "),
          to_json(struct(df.columns.map(col): _*)))).cast("boolean")))
    }
  }

  /** Strip ONE wrapping paren pair — only when the opening paren
    * actually closes at the final character (depth walk), so a
    * parameterized type's own parens are never touched.
    */
  private[plans] def stripOuterParens(s: String): String = {
    val t = s.trim
    if (!t.startsWith("(") || !t.endsWith(")")) return t
    var depth = 0
    var i = 0
    while (i < t.length - 1) {
      val c = t.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return t }
      i += 1
    }
    t.substring(1, t.length - 1).trim
  }
  // TRUNCATE TABLE <t> — an empty overwrite commit: contents go, the
  // version history (and txn fences) stay, time travel still reads
  // every prior snapshot until VACUUM
  private val TruncateRe =
    ("""(?is)^\s*TRUNCATE\s+TABLE\s+(""" + Id + """)\s*;?\s*$""").r
  // DESCRIBE DETAIL <t> — the table-metadata statement (Delta's
  // spelling): one row of (version, dir/vector counts, bytes), all
  // O(files) driver metadata
  private val DescribeDetailRe =
    ("""(?is)^\s*DESCRIBE\s+DETAIL\s+(""" + Id + """)\s*;?\s*$""").r
  // ANALYZE TABLE <t> COMPUTE STATISTICS FOR ALL COLUMNS | FOR COLUMNS
  // c1, … — Spark's own spelling, claimed only for registered store
  // views (catalog tables still reach the stock command); returns the
  // long-format exact profile (count/nulls/NDV/min/max per column)
  private val AnalyzeRe =
    ("""(?is)^\s*ANALYZE\s+TABLE\s+(""" + Id +
      """)\s+COMPUTE\s+STATISTICS\s+""" +
      """FOR\s+(?:(ALL)\s+COLUMNS|COLUMNS\s+(.+?))\s*;?\s*$""").r
  // MERGE INTO (SQL:2003 / Delta semantics), the one merge statement:
  // any number of `WHEN [NOT] MATCHED [AND <cond>] THEN <action>`
  // clauses, first-match-wins precedence per row — the upsert-all pair
  // and the column-level SET/VALUES forms are clause lists like any
  // other. The head captures through ON; the clause tail is split by
  // [[splitWhenClauses]] (quote/paren-aware — a WHEN inside a
  // condition's parens or a string literal never splits).
  private val MergeWhenRe =
    ("""(?is)^\s*MERGE\s+INTO\s+(""" + Id +
      """)(?:\s+(?:AS\s+)?(?!USING\b)(\w+))?\s+""" +
      """USING\s+(""" + Id + """)(?:\s+(?:AS\s+)?(?!ON\b)(\w+))?\s+""" +
      """ON\s+([\w.]+)\s*=\s*([\w.]+)\s+""" +
      """(WHEN\s+.+?)\s*;?\s*$""").r

  // head of a MERGE whose source is an INLINE SUBQUERY:
  // `MERGE INTO t [AS a] USING (` — the paren's extent is found by the
  // mask walk ([[hoistMergeSource]]), never the regex
  private val MergeUsingParenRe =
    ("""(?is)^(\s*MERGE\s+INTO\s+(?:""" + Id + """)""" +
      """(?:\s+(?:AS\s+)?(?!USING\b)\w+)?\s+USING\s*)\(""").r

  /** The subquery-source MERGE rewrite: extract the balanced
    * `USING (SELECT …)` body (quote/comment-mask walk — parens inside
    * literals never count) and substitute the placeholder name
    * `__graft_merge_src`, so the merge statement parses unchanged; the
    * command receives the subquery SQL and materializes it once at run
    * time. None when the statement has no paren source (or the body
    * is not a SELECT — nothing else is legal there).
    */
  private[plans] def hoistMergeSource(sqlText: String): Option[(String, String)] =
    MergeUsingParenRe.findFirstMatchIn(sqlText).flatMap { m =>
      val open = m.end - 1
      val mask = quotedMask(sqlText)
      var depth = 0
      var close = -1
      var i = open
      while (i < sqlText.length && close < 0) {
        val c = sqlText.charAt(i)
        if (!mask(i)) {
          if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) close = i }
        }
        i += 1
      }
      if (close < 0) None
      else {
        val sub = sqlText.substring(open + 1, close).trim
        if (!sub.take(6).equalsIgnoreCase("SELECT")) None
        else Some((sqlText.take(open) + "__graft_merge_src " +
          sqlText.drop(close + 1), sub))
      }
    }

  private val WhenHeadRe =
    """(?is)^WHEN\s+(NOT\s+)?MATCHED\s*(.*)$""".r
  private val ActUpdateAllRe = """(?is)^UPDATE\s+SET\s+\*$""".r
  private val ActUpdateSetRe = """(?is)^UPDATE\s+SET\s+(.+)$""".r
  private val ActDeleteRe = """(?is)^DELETE$""".r
  private val ActInsertAllRe = """(?is)^INSERT\s+\*$""".r
  private val ActInsertValsRe =
    """(?is)^INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)$""".r

  /** Positions where keyword `kw` starts at paren depth 0 outside
    * quotes/comments, with identifier boundaries on both sides AND the
    * given lookahead regex matching the text right after it — the
    * lookahead is what lets an un-parenthesized `CASE WHEN … THEN …`
    * inside a condition or SET expression pass through unsplit (a
    * clause WHEN is followed by [NOT] MATCHED; a clause THEN by
    * UPDATE/DELETE/INSERT — a CASE's arms never are).
    */
  private[plans] def topLevelKw(s: String, kw: String,
                                lookahead: scala.util.matching.Regex): Seq[Int] = {
    val mask = quotedMask(s)
    def ident(c: Char) = Character.isLetterOrDigit(c) || c == '_' || c == '$'
    val k = kw.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!mask(i)) {
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (depth == 0 && i + k <= s.length &&
                 s.substring(i, i + k).equalsIgnoreCase(kw) &&
                 (i == 0 || !ident(s.charAt(i - 1))) &&
                 (i + k == s.length || !ident(s.charAt(i + k))) &&
                 lookahead.findFirstIn(s.substring(i + k)).nonEmpty)
          out += i
      }
      i += 1
    }
    out.toSeq
  }

  private val WhenLookahead = """(?is)^\s+(NOT\s+)?MATCHED\b""".r
  private val ThenLookahead = """(?is)^\s+(UPDATE|DELETE|INSERT)\b""".r

  /** Split the WHEN-clause tail into one string per clause: a new
    * clause starts at every top-level `WHEN` followed by `[NOT]
    * MATCHED` — a WHEN inside a parenthesized subquery, a string
    * literal, or a CASE expression never splits.
    */
  private[plans] def splitWhenClauses(s: String): Seq[String] = {
    val starts = topLevelKw(s, "WHEN", WhenLookahead)
    (starts :+ s.length).sliding(2).collect {
      case Seq(a, b) => s.substring(a, b).trim
    }.toSeq.filter(_.nonEmpty)
  }

  /** Parse one `WHEN …` clause text to a [[MergeClause]] — refusing
    * action/side mismatches up front (UPDATE/DELETE need MATCHED,
    * INSERT needs NOT MATCHED — the SQL MERGE grammar). The
    * condition/action boundary is the first top-level THEN followed by
    * an action keyword, so CASE arms inside conditions survive.
    */
  private[plans] def parseWhenClause(tag: String, s: String): MergeClause = {
    val m = WhenHeadRe.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(s"$tag: unparseable clause `$s`"))
    val matched = m.group(1) == null
    val rest = m.group(2)
    val thenAt = topLevelKw(rest, "THEN", ThenLookahead).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tag: clause `$s` has no THEN <action>"))
    val before = rest.take(thenAt).trim
    val cond =
      if (before.isEmpty) None
      else if (before.length >= 4 &&
               before.substring(0, 3).equalsIgnoreCase("AND") &&
               !Character.isLetterOrDigit(before.charAt(3)))
        Some(before.drop(3).trim)
      else throw new IllegalArgumentException(
        s"$tag: expected `AND <condition>` before THEN, got `$before`")
    val act = rest.drop(thenAt + 4).trim match {
      case ActUpdateAllRe() => MergeUpdateAll
      case ActDeleteRe() => MergeDelete
      case ActInsertAllRe() => MergeInsertAll
      case ActInsertValsRe(cols, vals) => MergeInsertVals(
        cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty),
        vals.trim)
      case ActUpdateSetRe(sets) => MergeUpdateSet(sets.trim)
      case other => throw new IllegalArgumentException(
        s"$tag: unsupported merge action `$other`")
    }
    act match {
      case MergeUpdateAll | MergeDelete | _: MergeUpdateSet =>
        require(matched, s"$tag: `$s` — UPDATE/DELETE need WHEN MATCHED")
      case MergeInsertAll | _: MergeInsertVals =>
        require(!matched, s"$tag: `$s` — INSERT needs WHEN NOT MATCHED")
    }
    MergeClause(matched, cond, act)
  }

  /** True when the predicate text holds a SUBQUERY — an unmasked `(`
    * whose next unmasked non-space token is SELECT. Such a predicate
    * cannot evaluate per-row against a dir scan (`functions.expr` has
    * no relation context), so DELETE/UPDATE route it through the full
    * session SQL over the snapshot instead.
    */
  private[plans] def hasSubquery(s: String): Boolean = {
    val mask = quotedMask(s)
    var i = 0
    while (i < s.length) {
      if (!mask(i) && s.charAt(i) == '(') {
        var j = i + 1
        while (j < s.length && !mask(j) && Character.isWhitespace(s.charAt(j)))
          j += 1
        if (j + 6 <= s.length && !mask(j) &&
            s.substring(j, j + 6).equalsIgnoreCase("SELECT") &&
            (j + 6 == s.length || !Character.isLetterOrDigit(s.charAt(j + 6))))
          return true
      }
      i += 1
    }
    false
  }

  /** Split `s` at the FIRST `WHERE` keyword lying at paren depth 0
    * outside quotes/comments (the mask walk): (before, Some(after)),
    * or (s, None) when no top-level WHERE exists. Subquery WHEREs are
    * parenthesized (depth > 0) and literal WHEREs are masked, so the
    * split is the clause boundary a parser would find.
    */
  private[plans] def splitTopLevelWhere(s: String): (String, Option[String]) = {
    val mask = quotedMask(s)
    // identifier characters per Spark's unquoted-identifier lexer: a
    // SET column like `where_updated` (or `x_where`) must not read as
    // the WHERE keyword — '_' and '$' continue an identifier
    def ident(c: Char) = Character.isLetterOrDigit(c) || c == '_' || c == '$'
    var depth = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!mask(i)) {
        if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') depth -= 1
        else if (depth == 0 && (c == 'w' || c == 'W') && i + 5 <= s.length &&
                 s.substring(i, i + 5).equalsIgnoreCase("WHERE") &&
                 (i == 0 || !ident(s.charAt(i - 1))) &&
                 (i + 5 == s.length || !ident(s.charAt(i + 5))))
          return (s.take(i).trim, Some(s.drop(i + 5).trim))
      }
      i += 1
    }
    (s.trim, None)
  }

  // every statement form is claimed ONLY for names in the registry:
  // OPTIMIZE/VACUUM/DELETE/… against anything else (another
  // extension's tables, temp views, v2 catalogs) falls through to the
  // delegate chain verbatim
  private[plans] def parseMaintenance(sqlText: String): Option[LogicalPlan] = {
    // every captured table name normalizes through [[cleanIdent]]
    // (backtick quoting stripped) — the canonical spelling is what the
    // registry keys on, so quoted and unquoted spellings of one name
    // address one table
    def nm(m: scala.util.matching.Regex.Match, g: Int = 1): String =
      cleanIdent(m.group(g))
    def claimed(m: scala.util.matching.Regex.Match, g: Int = 1): Boolean =
      GraftTableRegistry.lookup(nm(m, g)).nonEmpty
    OptimizeRe.findFirstMatchIn(sqlText).flatMap { m =>
      // the WHERE/CLUSTER BY boundary comes from the mask walk
      // ([[splitOptimizeTail]]) — a predicate literal containing
      // `CLUSTER BY (x)` must not be truncated; an unparseable tail
      // falls through to the delegate's error
      if (!claimed(m)) None
      else splitOptimizeTail(Option(m.group(2)).getOrElse("")).map {
        case (whereSql, cols) =>
          GraftOptimizeCommand(nm(m), cols, whereSql = whereSql): LogicalPlan
      }
    }.orElse(RenameColRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftRenameColumnCommand(nm(m), nm(m, 2), nm(m, 3)): LogicalPlan
    }).orElse(AlterColTypeRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftAlterColumnTypeCommand(nm(m), nm(m, 2),
          m.group(3).trim): LogicalPlan
    }).orElse(RenameRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftRenameTableCommand(nm(m), nm(m, 2)): LogicalPlan
    }).orElse(CreateBranchRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftBranchCommand(nm(m), m.group(2), "create"): LogicalPlan
    }).orElse(FastForwardRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftBranchCommand(nm(m), m.group(2), "fastforward"): LogicalPlan
    }).orElse(RebaseBranchRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftBranchCommand(nm(m), m.group(2), "rebase"): LogicalPlan
    }).orElse(DropBranchRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftBranchCommand(nm(m), m.group(2), "drop"): LogicalPlan
    }).orElse(ShowBranchesRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftShowBranchesCommand(nm(m)): LogicalPlan
    }).orElse(AlterClusterRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftAlterClusterCommand(nm(m),
          Option(m.group(2)).toSeq.flatMap(_.split(","))
            .map(c => cleanIdent(c.trim)).filter(_.nonEmpty)): LogicalPlan
    }).orElse(VacuumRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftVacuumCommand(nm(m),
          Option(m.group(2)).map(_.toInt).getOrElse(1),
          dryRun = m.group(3) != null): LogicalPlan
    }).orElse(ShowTablesRe.findFirstMatchIn(sqlText).map { _ =>
      GraftShowTablesCommand(): LogicalPlan
    }).orElse(PublishSyncRe.findFirstMatchIn(sqlText).map { m =>
      GraftPublishSyncCommand(m.group(1).split(",").toSeq
        .map(c => cleanIdent(c.trim)).filter(_.nonEmpty)): LogicalPlan
    }).orElse(ShowCreateRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftShowCreateTableCommand(nm(m)): LogicalPlan
    }).orElse(RestoreRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftRestoreCommand(nm(m), m.group(2).toLong): LogicalPlan
    }).orElse(RestoreTsRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftRestoreCommand(nm(m),
          toTimestamp = Some(parseTsLiteral(m.group(2)))): LogicalPlan
    }).orElse(DeleteRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftDeleteCommand(nm(m), m.group(2)): LogicalPlan
    }).orElse(DeleteAllRe.findFirstMatchIn(sqlText).collect {
      // DELETE with no WHERE = remove all rows: the TRUNCATE commit
      // (empty overwrite, history travelable) under DELETE's spelling
      case m if claimed(m) =>
        GraftTruncateCommand(nm(m)): LogicalPlan
    }).orElse(ReplaceWhereRe.findFirstMatchIn(sqlText).flatMap { m =>
      if (!claimed(m)) None
      else splitReplaceWhere(m.group(2)).map { case (pred, query) =>
        GraftReplaceWhereCommand(nm(m), pred, query): LogicalPlan
      }
    }).orElse(InsertOverwriteRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftInsertOverwriteCommand(nm(m), m.group(2)): LogicalPlan
    }).orElse(InsertColsRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftInsertCommand(nm(m), m.group(3),
          columns = Some(m.group(2).split(",").toSeq
            .map(c => cleanIdent(c.trim)).filter(_.nonEmpty))): LogicalPlan
    }).orElse(InsertRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftInsertCommand(nm(m), m.group(2)): LogicalPlan
    }).orElse(CopyIntoRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftCopyIntoCommand(nm(m), m.group(2), m.group(3),
          Option(m.group(4)), force = m.group(5) != null): LogicalPlan
    }).orElse(UpdateRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        // the SET/WHERE boundary is found by the mask walk, not the
        // regex: a WHERE inside a parenthesized subquery or a string
        // literal in the SET list must not split the statement
        val (setSql, pred) = splitTopLevelWhere(m.group(2))
        GraftUpdateCommand(nm(m), setSql,
          pred.getOrElse("true")): LogicalPlan
    }).orElse {
      // an inline `USING (SELECT …)` source hoists to a placeholder
      // NAME first, so the merge statement below parses unchanged; the
      // command receives the subquery SQL and materializes it at run
      // time. Statements whose target is not registered fall through
      // with the ORIGINAL text.
      val (mText, mSrcSql) = hoistMergeSource(sqlText)
        .map { case (t, s) => (t, Some(s)) }.getOrElse((sqlText, None))
      MergeWhenRe.findFirstMatchIn(mText).collect {
        case m if claimed(m) =>
          val tag = s"MERGE INTO ${nm(m)}"
          GraftMergeCommand(nm(m), Option(m.group(2)),
            nm(m, 3), Option(m.group(4)),
            Seq(m.group(5), m.group(6)),
            splitWhenClauses(m.group(7)).map(parseWhenClause(tag, _)),
            srcSql = mSrcSql, srcRaw = m.group(3)): LogicalPlan
      }
    }.orElse(CloneRe.findFirstMatchIn(sqlText).collect {
      // claimed on the SOURCE being registered — a CLONE of anything
      // else falls through to whatever the stock parser says
      case m if claimed(m, 3) =>
        GraftCloneTableCommand(nm(m), nm(m, 3),
          deep = m.group(2).equalsIgnoreCase("DEEP"),
          asOf = Option(m.group(4)).map(_.toLong),
          location = Option(m.group(5))): LogicalPlan
    }).orElse(CreateTableRe.findFirstMatchIn(sqlText).map { m =>
      GraftCreateTableCommand(nm(m, 3), Some(m.group(4)), None,
        Option(m.group(5)), Option(m.group(7)),
        ifNotExists = m.group(2) != null,
        clusterCols = Option(m.group(6)).toSeq
          .flatMap(_.split(",")).map(c => cleanIdent(c.trim))
          .filter(_.nonEmpty),
        orReplace = m.group(1) != null): LogicalPlan
    }).orElse(CtasRe.findFirstMatchIn(sqlText).map { m =>
      GraftCreateTableCommand(nm(m, 3), None, Some(m.group(7)),
        Option(m.group(4)), Option(m.group(6)),
        ifNotExists = m.group(2) != null,
        clusterCols = Option(m.group(5)).toSeq
          .flatMap(_.split(",")).map(c => cleanIdent(c.trim))
          .filter(_.nonEmpty),
        orReplace = m.group(1) != null): LogicalPlan
    }).orElse(CreateMvRe.findFirstMatchIn(sqlText).map { m =>
      GraftCreateMaterializedViewCommand(nm(m, 2), Option(m.group(3)),
        m.group(4), orReplace = m.group(1) != null): LogicalPlan
    }).orElse(RefreshMvRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftRefreshMaterializedViewCommand(nm(m),
          force = m.group(2) != null): LogicalPlan
    }).orElse(DropMvRe.findFirstMatchIn(sqlText).collect {
      // an MV is a registered graft table — DROP shares the table path
      case m if claimed(m) =>
        GraftDropTableCommand(nm(m)): LogicalPlan
    }).orElse(DropTableRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftDropTableCommand(nm(m)): LogicalPlan
    }).orElse(AlterAddConstraintRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftAddConstraintCommand(nm(m), m.group(2),
          m.group(3).trim): LogicalPlan
    }).orElse(AlterDropConstraintRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftDropConstraintCommand(nm(m), m.group(3),
          ifExists = m.group(2) != null): LogicalPlan
    }).orElse(DropColumnRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftDropColumnCommand(nm(m), m.group(2).split(",").toSeq
          .map(c => cleanIdent(c.trim)).filter(_.nonEmpty)): LogicalPlan
    }).orElse(AlterAddRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftAlterAddColumnsCommand(nm(m),
          stripOuterParens(m.group(2))): LogicalPlan
    }).orElse(TruncateRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftTruncateCommand(nm(m)): LogicalPlan
    }).orElse(DescribeDetailRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftDescribeDetailCommand(nm(m)): LogicalPlan
    }).orElse(DescribeTableRe.findFirstMatchIn(sqlText).collect {
      // temp views / catalog tables keep the stock DESCRIBE (the same
      // always-win rule plain SELECT resolution gives them); only a
      // name the catalog PROVABLY does not own describes through the
      // graft binding — a thrown tableExists (transient catalog error)
      // is "unknown", which falls through to the delegate instead of
      // shadowing a possibly-existing catalog table. The raw matched
      // text keeps the user's quoting (backticked names parse in the
      // catalog's multipart parser).
      case m if claimed(m) &&
          org.apache.spark.sql.SparkSession.getActiveSession.forall(s =>
            scala.util.Try(s.catalog.tableExists(m.group(1)))
              .toOption.contains(false)) =>
        GraftDescribeTableCommand(nm(m)): LogicalPlan
    }).orElse(AnalyzeRe.findFirstMatchIn(sqlText).collect {
      case m if claimed(m) =>
        GraftAnalyzeCommand(nm(m),
          Option(m.group(3)).map(_.split(",").toSeq
            .map(c => cleanIdent(c.trim)).filter(_.nonEmpty))): LogicalPlan
    })
  }

  /** A zero-row frame that still writes ONE real parquet file: the
    * repartition(1) is load-bearing — an empty-RDD frame has zero
    * partitions and would write no file at all, leaving the schema
    * non-durable on disk (coalesce cannot raise a 0-partition count
    * either). CREATE TABLE, ALTER ADD COLUMNS, and TRUNCATE all seed
    * through this.
    */
  private[plans] def emptySingleFileFrame(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .repartition(1)

  /** Positional SQL-INSERT payload binding shared by INSERT INTO /
    * INSERT OVERWRITE / REPLACE WHERE: run the payload query through
    * the full session SQL (so it can itself use `VERSION AS OF`, graft
    * joins, temp views…), require the column COUNT matches, rename
    * positionally to the table's names (a VALUES list has no names to
    * match on), and cast each column to the table's type with the
    * ANSI-strict guard — with ANSI off a lenient cast would silently
    * NULL an incompatible value; the guard fails the write job instead,
    * naming column and value, before any publish. The returned
    * Observation counts the payload rows DURING the write job — no
    * pre-materialization, an INSERT SELECT over an arbitrarily large
    * query stays one streaming write pass. The table's CHECK
    * constraints guard the aligned payload the same in-write way
    * ([[withCheckGuards]]) — every INSERT form enforces them here.
    */
  private[plans] def alignInsertPayload(
      spark: org.apache.spark.sql.SparkSession, tag: String,
      target: org.apache.spark.sql.types.StructType, querySql: String,
      checksFor: Option[String] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Observation) = {
    import org.apache.spark.sql.functions.{col, concat_ws, count, lit, raise_error, when}
    val src0 = spark.sql(querySql)
    require(src0.columns.length == target.length,
      s"$tag: ${src0.columns.length} columns, table has ${target.length}")
    val obs = org.apache.spark.sql.Observation()
    val named = src0.toDF(target.map(_.name): _*)
    val src = named.select(target.map { f =>
      val srcType = named.schema(f.name).dataType
      if (srcType == f.dataType) col(f.name)
      else {
        val casted = col(f.name).cast(f.dataType)
        when(col(f.name).isNotNull && casted.isNull,
          raise_error(concat_ws("", lit(s"$tag: value '"),
            col(f.name).cast("string"),
            lit(s"' is not a valid ${f.dataType.simpleString} for " +
              s"column ${f.name}"))).cast(f.dataType))
          .otherwise(casted).as(f.name)
      }
    }: _*).observe(obs, count(lit(1)).as("n"))
    (checksFor.fold(src)(withCheckGuards(_, src)), obs)
  }

  /** The one duplicate-key probe, behind MERGE's cardinality rule and
    * PRIMARY KEY's intra-batch check: a key `df` carries on more than
    * one row, cast to string, with its row count (NULL keys count as
    * one key, as SQL's GROUP BY counts them). Keys already on the
    * driver ([[graft.sources.SnapshotStore.localKeyFrame]]) are counted
    * there, with no job; any other frame runs one narrow aggregate
    * (key-only column pruning).
    */
  private[plans] def repeatedKey(df: org.apache.spark.sql.DataFrame,
      k: String): Option[(String, Long)] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    graft.sources.SnapshotStore.localKeyFrame(df, k) match {
      case Some(keys) =>
        val ks = keys.select(col(k), col(k).cast("string")).collect()
          .map(r => (Option(r.get(0)), r.getString(1)))
        val n = ks.groupMapReduce(_._1)(_ => 1L)(_ + _)
        ks.collectFirst { case (v, s) if n(v) > 1 => (s, n(v)) }
      case None =>
        df.groupBy(col(k)).agg(count(lit(1)).as("_graft_n"))
          .where(col("_graft_n") > 1)
          .select(col(k).cast("string"), col("_graft_n"))
          .limit(1).collect().headOption.map(r => (r.getString(0), r.getLong(1)))
    }
  }

  /** Opt-in PRIMARY KEY enforcement (`spark.graft.sql.enforcePrimaryKey`)
    * shared by the INSERT family, run BEFORE any write on a keyed
    * table: the payload materializes once (localCheckpoint; rows
    * already on the driver stand as they are) and refuses a repeated
    * key, naming it ([[repeatedKey]]); with `survivors` — the rows of the
    * snapshot the payload lands beside — a semi-probe refuses a key
    * that already exists among them (key-only column pruning on the
    * target scan; the payload side is small and broadcasts). Without
    * `survivors` the payload replaces every row and only probes itself.
    * Returns the payload to commit and the version the existing-key
    * probe read: the commit pins it (expectedBase), so a concurrent
    * insert landing between probe and publish surfaces as a
    * SnapshotConflict instead of a duplicate slipping past.
    */
  private[plans] def enforcePrimaryKey(spark: org.apache.spark.sql.SparkSession,
      tag: String, name: String, store: graft.sources.SnapshotStore,
      view: String, src: org.apache.spark.sql.DataFrame,
      survivors: Option[org.apache.spark.sql.Column], where: String = "")
      : (org.apache.spark.sql.DataFrame, Option[Long]) = {
    import org.apache.spark.sql.functions.col
    GraftTableRegistry.lookupKey(name).filter(_ =>
      spark.conf.getOption("spark.graft.sql.enforcePrimaryKey")
        .exists(_.toBoolean)) match {
      case None => (src, None)
      case Some(k) =>
        val probedBase = survivors.map(_ =>
          store.versions(view).lastOption.getOrElse(0L))
        // rows already on the driver are a fixed set as they stand
        val chk =
          if (graft.sources.SnapshotStore.isLocal(src)) src
          else src.localCheckpoint()
        repeatedKey(chk, k).foreach { case (key, _) =>
          throw new IllegalArgumentException(
            s"$tag: the payload repeats PRIMARY KEY `$k` = $key " +
              "— deduplicate it, or disable spark.graft.sql.enforcePrimaryKey") }
        survivors.foreach { rows =>
          store.read(view).where(rows).select(col(k))
            .join(chk.select(col(k)).distinct(), Seq(k), "left_semi")
            .select(col(k).cast("string")).limit(1).collect()
            .headOption.foreach(r => throw new IllegalArgumentException(
              s"$tag: PRIMARY KEY `$k` = ${r.getString(0)} already " +
                s"exists$where — MERGE INTO to upsert, or disable " +
                "spark.graft.sql.enforcePrimaryKey"))
        }
        (chk, probedBase)
    }
  }

  /** Commit in the table's declared layout: a CLUSTER BY table through
    * the Hilbert range-dir writer (multi-column skipping is its default
    * layout, not a maintenance action), any other as a plain commit;
    * the registered key is recorded as stats either way.
    */
  private[plans] def commitLaidOut(name: String,
      store: graft.sources.SnapshotStore, view: String,
      df: org.apache.spark.sql.DataFrame, overwrite: Boolean,
      expectedBase: Option[Long] = None,
      filesExtra: Set[Long] = Set.empty): Long = {
    val cluster = GraftTableRegistry.lookupCluster(name)
    val key = GraftTableRegistry.lookupKey(name).toSeq
    // an appended row whose key an earlier DELETE left in a deletion
    // vector must show: the commit resurrects it by the key
    val resurrect = key.headOption.filter(_ => !overwrite)
    if (cluster.nonEmpty)
      store.commitClustered(view, df, cluster, overwrite = overwrite,
        statsCols = key, expectedBase = expectedBase, filesExtra = filesExtra,
        resurrectKey = resurrect)
    else store.commit(view, df, overwrite = overwrite,
      expectedBase = expectedBase, statsCols = key, filesExtra = filesExtra,
      resurrectKey = resurrect)
  }

  /** The snapshot rows a DELETE/UPDATE predicate matches. A SUBQUERY
    * predicate cannot evaluate per-row against a dir scan (`expr()` has
    * no relation context), so it resolves through the full session SQL
    * over a temp view of the snapshot, aliased back to the TABLE's name
    * so correlated references (`WHERE EXISTS (… WHERE o.g = t.g)`) keep
    * resolving; the view drops once `body` returns, so `body` must
    * finish with the rows (materialize or commit them).
    */
  private[plans] def withMatchedRows[T](spark: org.apache.spark.sql.SparkSession,
      store: graft.sources.SnapshotStore, view: String, name: String,
      predicateSql: String)(body: org.apache.spark.sql.DataFrame => T): T =
    if (!hasSubquery(predicateSql))
      body(store.read(view).where(org.apache.spark.sql.functions.expr(predicateSql)))
    else {
      val tmp = "graft_dml_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      store.read(view).createOrReplaceTempView(tmp)
      try body(spark.sql(s"SELECT * FROM $tmp AS " +
        s"`${name.split('.').last}` WHERE $predicateSql"))
      finally spark.catalog.dropTempView(tmp)
    }

  private[plans] def parseAsOf(sqlText: String,
                               delegate: ParserInterface): Option[LogicalPlan] =
    AsOfRe.findFirstMatchIn(sqlText).map { m =>
      val Seq(selList, lTbl, rTbl, lk, rk, lt, op, rt) =
        (1 to 8).map(m.group)
      val node = UnresolvedAsOfJoin(
        UnresolvedRelation(delegate.parseMultipartIdentifier(lTbl)),
        UnresolvedRelation(delegate.parseMultipartIdentifier(rTbl)),
        lk, rk, lt, rt, forward = op == "<=")
      Project(selectItems(selList, delegate), node)
    }

  private[plans] def parseInterval(sqlText: String,
                                   delegate: ParserInterface): Option[LogicalPlan] =
    IntervalRe.findFirstMatchIn(sqlText).map { m =>
      val Seq(selList, lTbl, rTbl, lk, rk, ls, le, rs, re) =
        (1 to 9).map(m.group)
      val node = UnresolvedIntervalJoin(
        UnresolvedRelation(delegate.parseMultipartIdentifier(lTbl)),
        UnresolvedRelation(delegate.parseMultipartIdentifier(rTbl)),
        lk, rk, ls, le, rs, re)
      Project(selectItems(selList, delegate), node)
    }
}

/** The parse-time as-of node: pure names over unresolved children.
  * [[ResolveGraftAsOfJoin]] turns it into the typed [[AsOfJoinNode]]
  * once both children resolve; until then it reports itself unresolved
  * so nothing upstream binds to its (empty) output.
  */
case class UnresolvedAsOfJoin(left: LogicalPlan, right: LogicalPlan,
                              leftKey: String, rightKey: String,
                              leftTime: String, rightTime: String,
                              forward: Boolean)
    extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** The parse-time interval-join node — [[UnresolvedAsOfJoin]]'s
  * sibling for the `INTERVAL JOIN … OVERLAPS` statement shape.
  */
case class UnresolvedIntervalJoin(left: LogicalPlan, right: LogicalPlan,
                                  leftKey: String, rightKey: String,
                                  leftStart: String, leftEnd: String,
                                  rightStart: String, rightEnd: String)
    extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedIntervalJoin =
    copy(left = newLeft, right = newRight)
}

/** `OPTIMIZE <table> [CLUSTER BY (…)]` as a RunnableCommand: plain
  * form compacts ([[graft.sources.SnapshotStore.compact]] — vectors
  * materialize, foreign refs localize); CLUSTER BY recluster the
  * table along the d-dimensional Hilbert curve
  * ([[graft.sources.SnapshotStore.optimizeClusteredN]], cluster
  * columns recorded as stats so box pruning works immediately).
  * Returns one (table, version) row, Delta-OPTIMIZE style.
  */
case class GraftOptimizeCommand(name: String, clusterCols: Seq[String],
                                whereSql: Option[String] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("OPTIMIZE", name)
    // a bare OPTIMIZE on a table with a DDL-declared CLUSTER BY
    // re-clusters along the declared curve (the liquid-clustering
    // contract: maintenance tightens the table's OWN layout — plain
    // compaction would silently destroy it); an explicit CLUSTER BY
    // still overrides
    val effective =
      if (clusterCols.nonEmpty) clusterCols
      else GraftTableRegistry.lookupCluster(name)
    // keep the row-identity key's stats through maintenance — every
    // insert records them, and dropping them here would make the NEXT
    // keyed merge/delete read every rewritten dir
    val stats = (GraftTableRegistry.lookupKey(name).toSeq ++ effective).distinct
    val v = whereSql match {
      // WHERE scopes the rewrite to the dirs the predicate may touch —
      // maintenance at the cost of what changed, never a table rewrite
      case Some(w) => store.optimizeWhere(view,
        org.apache.spark.sql.functions.expr(w), effective, statsCols = stats)
      case None =>
        if (effective.isEmpty) store.compact(view, statsCols = stats)
        else if (effective.size == 1)
          // single-column clustering is a plain range layout — the
          // clustered writer's 1-col code path (the curve needs 2+ dims)
          store.commitClustered(view, store.read(view), effective,
            overwrite = true, statsCols = stats)
        else store.optimizeClusteredN(view, effective, statsCols = stats)
    }
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** `ALTER TABLE <t> CLUSTER BY (a, b) | NONE` — re-declare (or clear)
  * the table's layout as a PROPERTY change: zero data IO now; future
  * INSERT/CTAS route through the new curve and the next bare OPTIMIZE
  * re-clusters the existing data along it (the liquid-clustering
  * lifecycle). The new columns must exist in the current schema.
  * Persists with the binding, so the declared layout survives a
  * restart like everything else. Returns (table, clustering).
  */
case class GraftAlterClusterCommand(name: String, clusterCols: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("clustering", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("ALTER TABLE", name)
    if (clusterCols.nonEmpty) {
      val cols = store.read(view).columns
      clusterCols.foreach { c =>
        require(cols.exists(_.equalsIgnoreCase(c)),
          s"ALTER TABLE $name CLUSTER BY: `$c` is not a table column " +
            cols.mkString("(", ", ", ")"))
      }
    }
    GraftTableRegistry.registerCluster(name, clusterCols)
    GraftTableRegistry.persistBinding(spark, name)
    Seq(org.apache.spark.sql.Row(name,
      if (clusterCols.isEmpty) "NONE"
      else clusterCols.mkString("(", ", ", ")")))
  }
}

/** `VACUUM <table> [RETAIN n VERSIONS] [DRY RUN]` as a
  * RunnableCommand — [[graft.sources.SnapshotStore.vacuum]] over the
  * registry binding. Returns one (table, removed_dirs) row; the DRY
  * RUN form deletes nothing and returns one (kind, would_remove) row
  * per dead data dir AND per expiring version — the manifest half
  * matters even when no dir dies: an append-only table keeps every
  * dir live, but old versions (and time travel to them) still go.
  */
case class GraftVacuumCommand(name: String, retainVersions: Int,
                              dryRun: Boolean = false)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] =
    if (dryRun) Seq(
      AttributeReference("table", org.apache.spark.sql.types.StringType)(),
      AttributeReference("kind", org.apache.spark.sql.types.StringType)(),
      AttributeReference("would_remove", org.apache.spark.sql.types.StringType)())
    else Seq(
      AttributeReference("table", org.apache.spark.sql.types.StringType)(),
      AttributeReference("removed_dirs", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("VACUUM", name)
    if (dryRun) {
      val (dirs, vers) = store.vacuumDryRun(view, retainVersions)
      dirs.map(d => org.apache.spark.sql.Row(name, "data_dir", d)) ++
        vers.map(v => org.apache.spark.sql.Row(name, "version", s"v$v"))
    } else Seq(org.apache.spark.sql.Row(name,
      store.vacuum(view, retainVersions).toLong))
  }
}

/** `SHOW GRAFT TABLES` — one row per registry binding: the catalog
  * listing for the engine's tables (name, store root, view, key
  * column, current version). Driver metadata only.
  */
case class GraftShowTablesCommand()
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType)(),
    AttributeReference("root", StringType)(),
    AttributeReference("view", StringType)(),
    AttributeReference("key_column", StringType)(),
    AttributeReference("version", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] =
    GraftTableRegistry.bindings.sortBy(_._1).map {
      case (name, (store, view)) =>
        val v = store.versions(view) match {
          case Nil => 0L
          case vs => vs.max
        }
        org.apache.spark.sql.Row(name, store.root, view,
          GraftTableRegistry.lookupKey(name).orNull, v)
    }
}

/** `RESTORE [TABLE] <table> TO VERSION AS OF <n>` (or `TO TIMESTAMP
  * AS OF '<instant>'` — resolved to the latest version at-or-before
  * the instant) as a RunnableCommand —
  * [[graft.sources.SnapshotStore.restore]]: a NEW version
  * re-publishing the target manifest (dirs + deletion vectors), so
  * history is preserved and txn fences carry forward. Returns one
  * (table, restored_version, new_version) row.
  */
case class GraftRestoreCommand(name: String, toVersion: Long = -1L,
                               toTimestamp: Option[Long] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("restored_version", org.apache.spark.sql.types.LongType)(),
    AttributeReference("new_version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("RESTORE", name)
    // RESTORE would silently break the content == defining@synced
    // invariant the incremental refresh depends on — same refusal
    MaterializedView.requireWritable("RESTORE", name)
    val v = toTimestamp.map(store.versionAtTimestamp(view, _))
      .getOrElse(toVersion)
    Seq(org.apache.spark.sql.Row(name, v, store.restore(view, v)))
  }
}

/** `DELETE FROM <table> WHERE <pred>` as a RunnableCommand —
  * [[graft.sources.SnapshotStore.deleteWhere]]: a DELETION-VECTOR
  * delete (zero data-file rewrite, O(deleted keys) key IO, auto-fold
  * past the vector threshold), keyed by the row-identity column the
  * registration recorded ([[GraftTableRegistry.lookupKey]] — vectors
  * are keyed, and SQL carries only the name). The predicate text
  * parses through the session's own expression parser at run time, so
  * any Spark WHERE clause works — including SUBQUERIES (`k IN
  * (SELECT …)`, `EXISTS (…)`): those resolve through the full session
  * SQL over the snapshot and delete by the matched key set
  * ([[graft.sources.SnapshotStore.deleteKeys]] — one deletion-vector
  * commit, the list never collects to the driver). Claimed only for
  * registered names —
  * DELETE against anything else still reaches the stock parser.
  * Returns one (table, version) row (version unchanged when nothing
  * matched — no empty vector publishes).
  */
case class GraftDeleteCommand(name: String, predicateSql: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("DELETE FROM", name)
    MaterializedView.requireWritable("DELETE FROM", name)
    val keyCol = GraftTableRegistry.requiredKey("DELETE FROM", name)
    // a SUBQUERY predicate (`WHERE k IN (SELECT …)`) deletes by the
    // matched KEY SET (deleteKeys: one deletion-vector commit, the list
    // never touches the driver)
    if (GraftSqlParser.hasSubquery(predicateSql))
      GraftSqlParser.withMatchedRows(spark, store, view, name, predicateSql) {
        rows => Seq(org.apache.spark.sql.Row(name, store.deleteKeys(view,
          keyCol, rows.select(org.apache.spark.sql.functions.col(keyCol)))))
      }
    else
      Seq(org.apache.spark.sql.Row(name,
        store.deleteWhere(view, keyCol,
          org.apache.spark.sql.functions.expr(predicateSql))))
  }
}

/** `INSERT INTO <table> SELECT …|VALUES …` as a RunnableCommand: the
  * payload query runs through the full session SQL (so it can itself
  * use `VERSION AS OF`, graft joins, temp views…), aligned BY NAME to
  * the table's current schema, and lands as ONE append commit with
  * the key column (when registered) recorded as stats. Claimed only
  * for registered names. Returns (table, version, rows_inserted).
  *
  * PRIMARY KEY contract: like Delta, the recorded key is
  * INFORMATIONAL by default — INSERT appends without a uniqueness
  * probe, and a duplicated key then flows through every keyed
  * statement (an UPDATE compiled to mergeInto carries BOTH copies).
  * Set `spark.graft.sql.enforcePrimaryKey=true` to refuse violating
  * INSERTs up front: the payload materializes once (localCheckpoint),
  * an intra-batch duplicate probe and a bounded existing-key probe
  * (key-only column pruning on the target scan; the new-key side is
  * small and broadcasts) run BEFORE any write, and a violation names
  * the offending key. The probes cost one narrow target scan — the
  * price every enforced-PK engine pays per insert.
  */
case class GraftInsertCommand(name: String, querySql: String,
                              columns: Option[Seq[String]] = None)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)(),
    AttributeReference("rows_inserted", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("INSERT INTO", name)
    MaterializedView.requireWritable("INSERT INTO", name)
    val target = store.read(view).schema
    import org.apache.spark.sql.functions.{col, lit}
    // the COLUMN-LIST form binds the payload to the NAMED subset (in
    // list order); every other table column lands NULL. A keyed table
    // must name its key — a NULL row identity breaks every keyed
    // statement after the insert.
    val sub = columns.fold(target) { cs =>
      val fields = cs.map { c =>
        target.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"INSERT INTO $name: `$c` is not a table column " +
              target.fieldNames.mkString("(", ", ", ")")))
      }
      require(fields.map(_.name.toLowerCase).distinct.size == fields.size,
        s"INSERT INTO $name: duplicate column in the insert list")
      GraftTableRegistry.lookupKey(name).foreach { k =>
        require(fields.exists(_.name.equalsIgnoreCase(k)),
          s"INSERT INTO $name: the column list must include the " +
            s"PRIMARY KEY `$k` — a NULL row identity breaks keyed DML")
      }
      org.apache.spark.sql.types.StructType(fields)
    }
    val (src0, obs) = GraftSqlParser.alignInsertPayload(spark,
      s"INSERT INTO $name", sub, querySql, checksFor = None)
    // expand to full table width (unnamed columns NULL), THEN apply
    // the CHECK guards — a constraint over an unnamed column sees the
    // NULL it will actually store
    val expanded = columns.fold(src0)(_ => src0.select(target.map { f =>
      if (sub.fieldNames.exists(_.equalsIgnoreCase(f.name))) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*))
    val src = GraftSqlParser.withCheckGuards(name, expanded)
    val (payload, probedBase) = GraftSqlParser.enforcePrimaryKey(spark,
      s"INSERT INTO $name", name, store, view, src, survivors = Some(lit(true)))
    val v = GraftSqlParser.commitLaidOut(name, store, view, payload,
      overwrite = false, expectedBase = probedBase)
    Seq(org.apache.spark.sql.Row(name, v, obs.get("n").asInstanceOf[Long]))
  }
}

/** `INSERT OVERWRITE [TABLE] <t> SELECT …|VALUES …`: the payload
  * replaces the table contents in ONE overwrite commit — history and
  * txn fences stay, every prior snapshot remains time-travelable until
  * VACUUM (the same lifecycle TRUNCATE has, with content). Payload
  * binding, ANSI guard, and the streaming-write row count are shared
  * with INSERT INTO ([[GraftSqlParser.alignInsertPayload]]); a
  * DDL-declared CLUSTER BY routes the new content through the Hilbert
  * range-dir writer. Opt-in PRIMARY KEY enforcement checks the payload
  * against ITSELF only — the rows it would conflict with are the rows
  * it replaces. Returns (table, version, rows_inserted).
  */
case class GraftInsertOverwriteCommand(name: String, querySql: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)(),
    AttributeReference("rows_inserted", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("INSERT OVERWRITE", name)
    MaterializedView.requireWritable("INSERT OVERWRITE", name)
    val target = store.read(view).schema
    val (src, obs) = GraftSqlParser.alignInsertPayload(spark,
      s"INSERT OVERWRITE $name", target, querySql, checksFor = Some(name))
    val (payload, _) = GraftSqlParser.enforcePrimaryKey(spark,
      s"INSERT OVERWRITE $name", name, store, view, src, survivors = None)
    val v = GraftSqlParser.commitLaidOut(name, store, view, payload,
      overwrite = true)
    Seq(org.apache.spark.sql.Row(name, v, obs.get("n").asInstanceOf[Long]))
  }
}

/** `INSERT INTO <t> REPLACE WHERE <pred> SELECT …|VALUES …` — the
  * atomic REGION swap (Delta's replaceWhere): one commit whose
  * snapshot is (old rows NOT matching pred) ∪ (payload), compiled to
  * [[graft.sources.SnapshotStore.replaceWhere]] — stats-pruned
  * copy-on-write of only the dirs the predicate may touch, untouched
  * dirs carried by name, and an in-write guard refusing any payload
  * row OUTSIDE the predicate (it would silently survive the next
  * replace of a different region). The idiomatic form of "reload one
  * day's partition". Opt-in PRIMARY KEY enforcement probes the payload
  * against itself and against the SURVIVING rows (`NOT pred`) — the
  * replaced region cannot conflict. Returns (table, version,
  * rows_inserted).
  */
case class GraftReplaceWhereCommand(name: String, predicateSql: String,
                                    querySql: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)(),
    AttributeReference("rows_inserted", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"INSERT INTO $name REPLACE WHERE"
    val (store, view) = GraftTableRegistry.required(tag, name)
    val target = store.read(view).schema
    val (src, obs) = GraftSqlParser.alignInsertPayload(spark, tag,
      target, querySql, checksFor = Some(name))
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val pred = expr(predicateSql)
    // the surviving rows (`NOT pred`) are the ones a payload key can
    // collide with — the replaced region cannot conflict
    val (payload, probedBase) = GraftSqlParser.enforcePrimaryKey(spark, tag,
      name, store, view, src,
      survivors = Some(!coalesce(pred.cast("boolean"), lit(false))),
      where = " outside the replaced region")
    val v = store.replaceWhere(view, pred, payload,
      statsCols = (GraftTableRegistry.lookupKey(name).toSeq ++
        GraftTableRegistry.lookupCluster(name)).distinct,
      expectedBase = probedBase)
    Seq(org.apache.spark.sql.Row(name, v, obs.get("n").asInstanceOf[Long]))
  }
}

/** `COPY INTO <t> FROM '<path>' FILEFORMAT = PARQUET|CSV|JSON
  * [PATTERN = '<glob>'] [FORCE]` — IDEMPOTENT bulk file ingestion, the
  * landing-zone statement a training-data pipeline loads shards with.
  * FORCE reloads every matched file regardless of fences (Delta's
  * spelling — the operator escape hatch for in-place overwrites the
  * path+size+mtime identity cannot see), still recording fences so
  * later non-FORCE runs skip. Pre-namespacing tables (head manifest
  * without a `files` field, txn fences present) auto-consult their
  * legacy fences and MIGRATE them to the modern field in one run —
  * no silent full re-load after an upgrade. The rest of the contract:
  *
  *  - `FROM` names a file or a directory (non-recursive listing, data
  *    files only — `_`/`.`-prefixed sidecars skipped); `PATTERN`
  *    globs file NAMES, defaulting to `*.<format>`;
  *  - every loaded file records a fence
  *    ([[graft.sources.SnapshotStore.fileFence]] — a (path, size,
  *    mtime) hash in the manifest's own `files` field, atomic WITH the
  *    commit, no side ledger to desync, and disjoint from the user
  *    txn-id space by construction) — re-running the statement, or
  *    pointing it at a landing dir that keeps growing, loads each file
  *    EXACTLY once; already-loaded files cost one driver set lookup
  *    and are COUNTED in the returned files_skipped, so a skip is
  *    always observable; a file overwritten in place with new content
  *    re-loads (its identity hash changed);
  *  - with `spark.graft.sql.enforcePrimaryKey=true` and a keyed table,
  *    the batch probes itself and the existing keys BEFORE any write
  *    (the same probes every INSERT form runs, commit pinned to the
  *    probed version) — a shard repeating a key refuses loudly;
  *  - parquet aligns BY NAME (missing table columns land NULL — shard
  *    schemas may trail the table's evolution; extra file columns
  *    refuse loudly); csv (`header` expected) and json read with the
  *    table's schema directly; casts are ANSI-strict;
  *  - CHECK constraints guard the load in-write; a DDL-declared
  *    CLUSTER BY routes through the range-dir writer; the whole batch
  *    is ONE append commit.
  *
  * Returns (table, version, files_loaded, rows_loaded, files_skipped)
  * — a no-new-file run returns the current version with zero
  * loaded/rows (everything in files_skipped) and publishes nothing.
  */
case class GraftCopyIntoCommand(name: String, fromPath: String,
                                format: String, pattern: Option[String],
                                force: Boolean = false)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("files_loaded", LongType)(),
    AttributeReference("rows_loaded", LongType)(),
    AttributeReference("files_skipped", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    val tag = s"COPY INTO $name"
    val (store, view) = GraftTableRegistry.required(tag, name)
    MaterializedView.requireWritable(tag, name)
    val fmt = format.toLowerCase
    require(Set("parquet", "csv", "json").contains(fmt),
      s"$tag: FILEFORMAT must be PARQUET, CSV, or JSON — got `$format`")
    val from = java.nio.file.Paths.get(fromPath)
    require(java.nio.file.Files.exists(from), s"$tag: no such path `$fromPath`")
    val files: Seq[String] =
      if (java.nio.file.Files.isRegularFile(from)) Seq(from.toString)
      else {
        val glob = pattern.getOrElse(s"*.$fmt")
        val m = java.nio.file.FileSystems.getDefault
          .getPathMatcher("glob:" + glob)
        val s0 = java.nio.file.Files.list(from)
        try s0.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .filter { f =>
            val n = f.getFileName.toString
            !n.startsWith("_") && !n.startsWith(".") && m.matches(f.getFileName)
          }
          .map(_.toString).toSeq.sorted
        finally s0.close()
      }
    val applied = store.appliedFileFences(view)
    // Legacy fences (pre-namespacing, path-only hashes in the txn set)
    // are consulted when EITHER the one-shot upgrade switch
    // `spark.graft.sql.copyLegacyFences=true` is set, OR the head
    // manifest has no `files` field at all while carrying txns — the
    // reliable every-post-upgrade-publish-writes-the-field signal that
    // the table's last writer predates the namespacing, so a silent
    // full re-load is the likelier corruption than the (astronomically
    // unlikely) txn-id collision the namespacing closed. Files
    // recognized through a legacy fence MIGRATE: their modern fences
    // record in this statement's commit (a fence-only publish when
    // nothing else loads), so the auto-consult window closes after one
    // run instead of staying open forever.
    val legacy = spark.conf
      .getOption("spark.graft.sql.copyLegacyFences").exists(_.toBoolean) ||
      (!store.hasFileFenceField(view) && store.appliedTxns(view).nonEmpty)
    val appliedTx = if (legacy) store.appliedTxns(view) else Set.empty[Long]
    val legacyHits =
      if (!legacy) Nil
      else files.filter(f => !applied.contains(store.fileFence(f)) &&
        appliedTx.contains(store.fileFenceLegacy(f)))
    // FORCE reloads regardless of fences — the escape hatch for an
    // in-place overwrite invisible to the path+size+mtime identity;
    // the reloaded files' fences still record, so later non-FORCE runs
    // skip as usual
    val fresh =
      if (force) files
      else files.filterNot(f => applied.contains(store.fileFence(f)) ||
        appliedTx.contains(store.fileFenceLegacy(f)))
    val skipped = (files.size - fresh.size).toLong
    val migrated = legacyHits.map(store.fileFence).toSet
    if (fresh.isEmpty) {
      val cur =
        if (migrated.nonEmpty) store.recordFileFences(view, migrated)
        else store.versions(view).lastOption.getOrElse(0L)
      return Seq(org.apache.spark.sql.Row(name, cur, 0L, 0L, skipped))
    }
    val target = store.read(view).schema
    import org.apache.spark.sql.functions.{col, count, lit}
    // every format surfaces the batch's FULL column set so the
    // extra-column refusal below is deterministic across multi-file
    // batches: parquet merges footers; csv/json bind by NAME (header /
    // field names) and cast through the shared aligned path — a
    // reordered CSV header binds correctly instead of silently
    // swapping values, and enforceSchema=false makes a file whose
    // header disagrees with the batch's refuse loudly. csv/json pay a
    // naming/inference pass — parquet is the scale path.
    val raw = fmt match {
      case "parquet" => spark.read.option("mergeSchema", "true")
        .parquet(fresh: _*)
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "false").option("enforceSchema", "false")
        .csv(fresh: _*)
      case "json" => spark.read.json(fresh: _*)
    }
    raw.columns.foreach { c =>
      require(target.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"$tag: file column `$c` is not a table column " +
          target.fieldNames.mkString("(", ", ", ")"))
    }
    val aligned = raw.select(target.map { f =>
      if (raw.columns.exists(_.equalsIgnoreCase(f.name)))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    val obs = org.apache.spark.sql.Observation()
    val guarded = GraftSqlParser.withCheckGuards(name,
      aligned.observe(obs, count(lit(1)).as("n")))
    // opt-in PRIMARY KEY enforcement — the same probes every INSERT
    // form runs
    val (payload, probedBase) = GraftSqlParser.enforcePrimaryKey(spark, tag,
      name, store, view, guarded, survivors = Some(lit(true)))
    val v = GraftSqlParser.commitLaidOut(name, store, view, payload,
      overwrite = false, expectedBase = probedBase,
      filesExtra = fresh.map(store.fileFence).toSet ++ migrated)
    Seq(org.apache.spark.sql.Row(name, v, fresh.size.toLong,
      obs.get("n").asInstanceOf[Long], skipped))
  }
}

/** `UPDATE <table> SET c = expr[, …] [WHERE <pred>]` as a
  * RunnableCommand — expressed as the store's keyed MERGE: the source
  * is the current snapshot filtered to the predicate with the SET
  * expressions applied, so only key-overlapping dirs rewrite
  * (copy-on-write + file skipping) and the statement is one atomic
  * commit; no WHERE = all rows. Needs the registered key column.
  * Scale contract: the updated set materializes once (mergeInto's
  * multi-reference source) — an UPDATE touching most of a huge table
  * should be an overwrite job instead, like every keyed-merge engine.
  * Returns (table, version, rows_updated).
  */
case class GraftUpdateCommand(name: String, setSql: String, predicateSql: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)(),
    AttributeReference("rows_updated", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("UPDATE", name)
    MaterializedView.requireWritable("UPDATE", name)
    val keyCol = GraftTableRegistry.requiredKey("UPDATE", name)
    import org.apache.spark.sql.functions.expr
    val assignments = GraftSqlParser.splitTopLevel(setSql).map { a =>
      val eq = a.indexOf('=')
      require(eq > 0, s"UPDATE $name: bad assignment `$a`")
      (a.take(eq).trim, a.drop(eq + 1).trim)
    }
    require(!assignments.exists(_._1.equalsIgnoreCase(keyCol)),
      s"UPDATE $name: assigning the row-identity key `$keyCol` is not " +
        "an update — DELETE + INSERT instead (keyed merge semantics)")
    // SIMULTANEOUS assignment (the SQL contract): every SET expression
    // evaluates against the OLD row in one projection — `SET a = b,
    // b = a` swaps, it does not copy (sequential withColumns would
    // read the already-updated column). The checkpoint below
    // materializes the matched rows before a subquery predicate's temp
    // view drops.
    GraftSqlParser.withMatchedRows(spark, store, view, name, predicateSql) { base =>
      val byName = assignments.map { case (c, e) => c.toLowerCase -> e }.toMap
      require(byName.size == assignments.size,
        s"UPDATE $name: duplicate SET column")
      // rows_updated rides the checkpoint's own materialization job (an
      // Observation below the checkpoint) — one pass over the updated
      // subset, no second count job; the localCheckpoint itself is what
      // lets mergeInto reference the source multiple times without
      // recomputing the SET projection
      val obs = org.apache.spark.sql.Observation()
      // CHECK constraints guard the post-SET rows in the checkpoint's
      // own job — an UPDATE can violate an invariant as surely as an
      // INSERT, and the refusal lands before mergeInto writes anything
      val updated = GraftSqlParser.withCheckGuards(name,
        base.select(base.columns.toSeq.map { c =>
          byName.get(c.toLowerCase)
            .map(e => expr(e).cast(base.schema(c).dataType).as(c))
            .getOrElse(org.apache.spark.sql.functions.col(c))
        }: _*)).observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).localCheckpoint()
      val n = obs.get("n").asInstanceOf[Long]
      val v =
        if (n == 0) store.versions(view).max
        else store.mergeInto(view, updated, keyCol,
          statsCols = Seq(keyCol))
      Seq(org.apache.spark.sql.Row(name, v, n))
    }
  }
}

/** One MERGE action — the THEN side of a WHEN clause. */
sealed trait MergeAction
case object MergeUpdateAll extends MergeAction
final case class MergeUpdateSet(setSql: String) extends MergeAction
case object MergeDelete extends MergeAction
case object MergeInsertAll extends MergeAction
final case class MergeInsertVals(cols: Seq[String], valsSql: String)
    extends MergeAction

/** One `WHEN [NOT] MATCHED [AND cond] THEN action` clause. */
final case class MergeClause(matched: Boolean, cond: Option[String],
                             action: MergeAction)

/** `MERGE INTO <t> [AS a] USING <src> [AS b] ON a.k = b.k <clauses>` —
  * SQL:2003 / Delta MERGE: any list of `WHEN [NOT] MATCHED [AND cond]
  * THEN action` clauses, compiled to ONE keyed
  * [[graft.sources.SnapshotStore.mergeInto]] (copy-on-write of only
  * the key-overlapping dirs, one atomic commit). Per source row the
  * FIRST clause whose condition holds fires (the SQL precedence rule);
  * rows firing a DELETE carry a tombstone column mergeInto drops, rows
  * firing no clause are filtered out of the source, so the target rows
  * they shadow carry through untouched. SET assignments are
  * SIMULTANEOUS within a clause (one projection over the old row).
  * Duplicate source keys refuse up front (the cardinality rule).
  *
  * The plan follows from the clauses:
  *  - when the first matched clause is an unconditional `UPDATE SET *`
  *    and the first unmatched one an unconditional `INSERT *`, the
  *    outcome does not depend on the match: the source goes straight
  *    to mergeInto (the upsert the speed-layer sinks perform);
  *  - otherwise the source left-joins the target, narrowed to its
  *    distinct key column unless some condition, SET or VALUES
  *    expression (or a SET leaving a column unassigned) reads a target
  *    column — DELETE values and fall-through rows never do.
  *
  * `src` is a registered view (read lazily, manifest-pinned), any
  * session table or temp view, or an inline `USING (SELECT …)`; the
  * last two are projected to the columns the clauses read, and
  * materialize once unless their rows already sit on the driver (an
  * optimized plan that is a LocalRelation, such as a VALUES list). Such
  * a source runs its cardinality probe on the driver, and the
  * upsert-all pair hands it to mergeInto, which answers its key
  * questions there too. Returns (table, version).
  */
case class GraftMergeCommand(name: String, tAliasOpt: Option[String],
                             srcName: String, sAliasOpt: Option[String],
                             onCols: Seq[String],
                             clauses: Seq[MergeClause],
                             srcSql: Option[String] = None,
                             srcRaw: String = "")
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    import org.apache.spark.sql.catalyst.analysis.{Star, UnresolvedAttribute}
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val tag = s"MERGE INTO $name"
    val (store, view) = GraftTableRegistry.required("MERGE INTO", name)
    MaterializedView.requireWritable("MERGE INTO", name)
    val keyCol = GraftTableRegistry.requiredKey("MERGE INTO", name)
    require(onCols.map(_.split('.').last).forall(_.equalsIgnoreCase(keyCol)),
      s"$tag: ON must equate the registered key `$keyCol` on both " +
        s"sides, got ${onCols.mkString(" = ")}")
    require(clauses.nonEmpty, s"$tag: no WHEN clauses")
    val target = store.read(view)
    val targetSchema = target.schema
    val tcols = targetSchema.map(_.name)
    def isTcol(c: String) = tcols.exists(_.equalsIgnoreCase(c))
    def parseSets(setSql: String): Map[String, String] = {
      val pairs = GraftSqlParser.splitTopLevel(setSql).map { a =>
        val eq = a.indexOf('=')
        require(eq > 0, s"$tag: bad assignment `$a`")
        a.take(eq).trim.split('.').last.toLowerCase -> a.drop(eq + 1).trim
      }
      val m = pairs.toMap
      require(m.size == pairs.size, s"$tag: duplicate SET column")
      require(!m.contains(keyCol.toLowerCase),
        s"$tag: a keyed merge cannot reassign the key `$keyCol`")
      m
    }
    def parseIns(cols: Seq[String], valsSql: String): Map[String, String] = {
      val es = GraftSqlParser.splitTopLevel(valsSql)
      require(cols.size == es.size,
        s"$tag: INSERT names ${cols.size} columns but VALUES has ${es.size}")
      val m = cols.map(_.split('.').last.toLowerCase).zip(es).toMap
      require(m.size == cols.size, s"$tag: duplicate INSERT column")
      require(m.contains(keyCol.toLowerCase),
        s"$tag: the INSERT column list must include the key `$keyCol`")
      m
    }
    // per-clause SET/INSERT maps (unqualified lowercase column ->
    // expression text), in clause order
    val parsed: Seq[(MergeClause, Map[String, String])] = clauses.map {
      case c @ MergeClause(_, _, MergeUpdateSet(s)) => c -> parseSets(s)
      case c @ MergeClause(_, _, MergeInsertVals(cs, vs)) => c -> parseIns(cs, vs)
      case c => c -> Map.empty[String, String]
    }
    parsed.flatMap(_._2.keySet).foreach(c => require(isTcol(c),
      s"$tag: `$c` is not a target column " + tcols.mkString("(", ", ", ")")))
    // an inline subquery source has no name of its own: it needs an
    // alias as soon as a clause carries an expression (Delta's rule too)
    val exprSql = clauses.flatMap(_.cond) ++ parsed.flatMap(_._2.values)
    require(srcSql.isEmpty || sAliasOpt.nonEmpty || exprSql.isEmpty,
      s"$tag: a subquery source needs an alias — USING (SELECT …) AS s")
    val ta = tAliasOpt.getOrElse(name.split('.').last)
    val sa = sAliasOpt.getOrElse(srcName.split('.').last)
    // the unconditional `UPDATE SET * / INSERT *` pair: every source row
    // lands whole whether it matched or not, so no join is built
    val upsertAll =
      clauses.find(_.matched).contains(MergeClause(true, None, MergeUpdateAll)) &&
        clauses.find(!_.matched).contains(MergeClause(false, None, MergeInsertAll))
    require(upsertAll || !ta.equalsIgnoreCase(sa),
      s"$tag: target and source aliases collide (`$ta`) — alias one side")
    require(upsertAll || !isTcol("_graft_del"), s"$tag: `_graft_del` is reserved")
    // the column names the expressions mention; a subquery or star
    // hides its references, so it counts as reading every column
    val trees = exprSql.map(e =>
      org.apache.spark.sql.graftbridge.ColumnBridge.expressionEager(expr(e)))
    val opaque = trees.exists(_.exists {
      case _: SubqueryExpression | _: Star => true
      case _ => false
    })
    val refs: Seq[Seq[String]] = trees.flatMap(_.collect {
      case a: UnresolvedAttribute => a.nameParts
    })
    def qualified(p: Seq[String], alias: String) =
      p.length > 1 && p.head.equalsIgnoreCase(alias)
    val starAll = clauses.exists(c =>
      c.action == MergeUpdateAll || c.action == MergeInsertAll)
    // an expensive source QUERY/VIEW materializes once, projected to the
    // columns the clauses read, and feeds both the cardinality probe
    // and the merge; a registered store view stays lazy
    val graftSrc =
      if (srcSql.nonEmpty) None else GraftTableRegistry.lookup(srcName)
    val raw = srcSql.map(spark.sql).getOrElse(graftSrc
      .map { case (s2, v2) => s2.read(v2) }
      // a NON-graft source resolves by its ORIGINAL spelling — the
      // canonical name collapses quoted multi-part structure
      // (`my db`.src -> "my db.src"), which spark.table would misread
      .getOrElse(spark.table(if (srcRaw.nonEmpty) srcRaw
        else GraftSqlParser.quoteIdent(srcName))))
    if (starAll) tcols.foreach { c =>
      require(raw.columns.exists(_.equalsIgnoreCase(c)),
        s"$tag: UPDATE/INSERT * needs source column `$c` " +
          raw.columns.mkString("(", ", ", ")"))
    }
    val named = refs.flatten.map(_.toLowerCase).toSet
    val source =
      if (graftSrc.nonEmpty) raw
      else {
        val narrowed = raw.select(raw.columns.toSeq
          .filter(c => opaque || c.equalsIgnoreCase(keyCol) ||
            (starAll && isTcol(c)) || named(c.toLowerCase))
          .map(c => raw.col("`" + c.replace("`", "``") + "`")): _*)
        // rows already on the driver (a VALUES list, a local frame) are
        // a fixed set as they stand, and their key probes run there
        if (graft.sources.SnapshotStore.isLocal(narrowed)) narrowed
        else narrowed.localCheckpoint()
      }
    GraftMergeCommand.requireUniqueSourceKeys(tag, source, keyCol)
    // SQL:2003 / Delta reject target references in NOT MATCHED
    // conditions at analysis time — here every target column is NULL
    // (the left join's unmatched side), so `AND t.ok` would silently
    // evaluate false and drop every insert; refuse loudly instead
    clauses.filterNot(_.matched).flatMap(_.cond).foreach { cond =>
      val refsTarget = org.apache.spark.sql.graftbridge.ColumnBridge
        .expressionEager(expr(cond)).collect {
          case a: UnresolvedAttribute if qualified(a.nameParts, ta) => a
        }
      require(refsTarget.isEmpty,
        s"$tag: a WHEN NOT MATCHED condition cannot reference the " +
          s"target (`${refsTarget.headOption.fold("")(_.name)}` in " +
          s"`$cond`) — every target column is NULL for unmatched rows")
    }
    // CHECK guards skip rows the merge is DELETING — their values never
    // land, so they cannot violate anything
    val (rows, deleteCol) =
      if (upsertAll) (GraftSqlParser.withCheckGuards(name, source), None)
      else {
        // a target column is read by a name qualified with the target's
        // alias, by an unqualified target column name (it resolves in the
        // join — ambiguously when the source has the column too), or by
        // a SET that carries the old value of a column it does not assign
        val readsTarget = opaque ||
          refs.exists(p => qualified(p, ta) ||
            (!qualified(p, sa) && isTcol(p.head))) ||
          parsed.exists {
            case (MergeClause(_, _, MergeUpdateSet(_)), sets) =>
              tcols.exists(c => !c.equalsIgnoreCase(keyCol) &&
                !sets.contains(c.toLowerCase))
            case _ => false
          }
        val tSide =
          if (readsTarget) target else target.select(col(keyCol)).distinct()
        val joined = source.as(sa).join(tSide.as(ta),
          col(s"$sa.$keyCol") === col(s"$ta.$keyCol"), "left")
        val matched = col(s"$ta.$keyCol").isNotNull
        def fire(c: MergeClause): org.apache.spark.sql.Column =
          c.cond.map(e => coalesce(expr(e).cast("boolean"), lit(false)))
            .getOrElse(lit(true))
        val mClauses = parsed.filter(_._1.matched)
        val iClauses = parsed.filterNot(_._1.matched)
        def chain(pairs: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
                  default: org.apache.spark.sql.Column) =
          pairs.foldRight(default) { case ((f, v), acc) => when(f, v).otherwise(acc) }
        def anyFires(cs: Seq[(MergeClause, Map[String, String])]) =
          cs.map { case (c, _) => fire(c) }.reduceOption(_ || _).getOrElse(lit(false))
        // rows firing no clause leave the source; with an unconditional
        // clause on each side every row fires, and no filter reads the
        // match (so a key-only consumer of the rows needs no join)
        val kept =
          if (Seq(mClauses, iClauses).forall(_.exists(_._1.cond.isEmpty))) joined
          else joined.where((matched && anyFires(mClauses)) ||
            (!matched && anyFires(iClauses)))
        val delFlag = when(matched,
          chain(mClauses.map { case (c, _) =>
            fire(c) -> lit(c.action == MergeDelete) }, lit(false)))
          .otherwise(lit(false))
        val projected = kept.select(tcols.map { c =>
          val dt = targetSchema(c).dataType
          // the matched row's key, and NULL for values that never land
          val unread =
            if (c.equalsIgnoreCase(keyCol)) col(s"$sa.$c").cast(dt)
            else lit(null).cast(dt)
          def mValue(cl: MergeClause, sets: Map[String, String]) = cl.action match {
            case MergeUpdateAll => col(s"$sa.$c").cast(dt)
            case MergeUpdateSet(_) => sets.get(c.toLowerCase).map(e => expr(e).cast(dt))
              .getOrElse(if (c.equalsIgnoreCase(keyCol)) unread else col(s"$ta.$c"))
            case _ => unread // DELETE: dropped by the flag
          }
          def iValue(cl: MergeClause, ins: Map[String, String]) = cl.action match {
            case MergeInsertAll => col(s"$sa.$c").cast(dt)
            case _ => ins.get(c.toLowerCase)
              .map(e => expr(e).cast(dt)).getOrElse(lit(null).cast(dt))
          }
          when(matched,
            chain(mClauses.map { case (cl, m) => fire(cl) -> mValue(cl, m) }, unread))
            .otherwise(
              chain(iClauses.map { case (cl, m) => fire(cl) -> iValue(cl, m) },
                lit(null).cast(dt)))
            .as(c)
        } :+ delFlag.as("_graft_del"): _*)
        (GraftSqlParser.withCheckGuards(name, projected,
          exempt = col("_graft_del")), Some("_graft_del"))
      }
    Seq(org.apache.spark.sql.Row(name,
      store.mergeInto(view, rows, keyCol, deleteCol = deleteCol,
        statsCols = Seq(keyCol))))
  }
}

object GraftMergeCommand {
  /** The SQL MERGE cardinality rule: at most ONE source row may match
    * a target row — two source rows on the same key would both land
    * through the store's anti-join+union merge, a silent duplicate-key
    * corruption of a keyed table. One probe over the source keys
    * ([[GraftSqlParser.repeatedKey]]; runs BEFORE any write), a clear
    * refusal naming the offending key otherwise.
    */
  private[plans] def requireUniqueSourceKeys(tag: String,
      source: org.apache.spark.sql.DataFrame, keyCol: String): Unit =
    GraftSqlParser.repeatedKey(source, keyCol).foreach { case (key, n) =>
      throw new IllegalArgumentException(
        s"$tag: source has $n rows for key `$key` " +
          "— SQL MERGE requires at most one source row per target row; " +
          "deduplicate the source (e.g. row_number() OVER " +
          "(PARTITION BY key ORDER BY …) = 1) first")
    }
}

/** `CREATE TABLE <name> (<ddl>) USING graft [PRIMARY KEY k]
  * [LOCATION '<root>']` and the CTAS form — the pure-SQL table origin.
  * The schema form publishes an EMPTY v1 (one zero-row parquet file,
  * written through one task so the schema is durable on disk, not just
  * in the session's cache); CTAS seeds v1 from any session query
  * (which may itself use VERSION AS OF, graft joins, temp views).
  * Either way the (name → store view [+ key]) binding lands in
  * [[GraftTableRegistry]], making every DML/maintenance statement and
  * time travel reachable with zero Scala setup. `IF NOT EXISTS`
  * adopts: an already-registered name or a store view already on disk
  * under the resolved root returns its current version instead of
  * failing. The root resolves LOCATION first, then the
  * `spark.graft.store.root` conf (the managed-location role).
  * Returns one (table, version) row.
  */
case class GraftCreateTableCommand(name: String,
                                   schemaDdl: Option[String],
                                   querySql: Option[String],
                                   keyCol: Option[String],
                                   location: Option[String],
                                   ifNotExists: Boolean,
                                   clusterCols: Seq[String] = Nil,
                                   orReplace: Boolean = false)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    // the canonical name doubles as the store view directory and
    // embeds in the $-mangled time-travel identifiers — reserved
    // characters refuse HERE, loudly, not as a corrupt store later
    GraftSqlParser.validateTableName(name)
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize
    // durable half of the registration: the binding persists as a
    // catalog file under the session's store root (or the table's own
    // root when no catalog root is set), so a restarted JVM resolves
    // the name from disk — CREATE TABLE is a durable statement, not a
    // session note
    def persist(st: graft.sources.SnapshotStore, view: String): Unit =
      GraftTableRegistry.persistBinding(spark, name)
    // CREATE OR REPLACE: define the table ANEW in one overwrite commit
    // — schema/content/key/clustering from THIS statement, every prior
    // snapshot still time-travelable until VACUUM (Delta's REPLACE
    // lifecycle). CHECK constraints drop with the old definition
    // (re-declare via ALTER — exactly what the SHOW CREATE TABLE
    // recipe replays); the re-registration clears them and the
    // persisted binding follows.
    if (orReplace) {
      require(!ifNotExists,
        s"CREATE OR REPLACE TABLE $name: OR REPLACE and IF NOT EXISTS " +
          "are mutually exclusive")
      // replacing a MATERIALIZED VIEW with a plain table silently drops
      // its definition — require the explicit DROP first (or use
      // CREATE OR REPLACE MATERIALIZED VIEW to redefine it)
      MaterializedView.requireWritable(s"CREATE OR REPLACE TABLE $name",
        name)
      val store = GraftTableRegistry.lookup(name) match {
        case Some((st, v)) =>
          require(v == name,
            s"CREATE OR REPLACE TABLE $name: the binding's store view " +
              s"is `$v` — a divergent view name replaces via the Scala API")
          location.foreach { l =>
            require(norm(l) == norm(st.root),
              s"CREATE OR REPLACE TABLE $name: LOCATION '$l' conflicts " +
                s"with the registered root '${st.root}'")
          }
          st
        case None =>
          val root = location
            .orElse(spark.conf.getOption("spark.graft.store.root"))
            .getOrElse(throw new IllegalArgumentException(
              s"CREATE OR REPLACE TABLE $name USING graft: no store root " +
                "— add LOCATION '<path>' or set spark.graft.store.root"))
          new graft.sources.SnapshotStore(spark, root)
      }
      val seed = querySql match {
        case Some(q) => spark.sql(q)
        case None => GraftSqlParser.emptySingleFileFrame(spark,
          org.apache.spark.sql.types.StructType.fromDDL(schemaDdl.get))
      }
      keyCol.foreach { k =>
        require(seed.columns.exists(_.equalsIgnoreCase(k)),
          s"CREATE OR REPLACE TABLE $name: PRIMARY KEY `$k` is not a " +
            "table column " + seed.columns.mkString("(", ", ", ")"))
      }
      clusterCols.foreach { c =>
        require(seed.columns.exists(_.equalsIgnoreCase(c)),
          s"CREATE OR REPLACE TABLE $name: CLUSTER BY `$c` is not a " +
            "table column " + seed.columns.mkString("(", ", ", ")"))
      }
      val v =
        if (clusterCols.nonEmpty && querySql.nonEmpty)
          store.commitClustered(name, seed, clusterCols, overwrite = true,
            statsCols = keyCol.toSeq)
        else store.commit(name, seed, overwrite = true,
          statsCols = (keyCol.toSeq ++ clusterCols).distinct)
      keyCol match {
        case Some(k) => GraftTableRegistry.register(name, store, name, k)
        case None => GraftTableRegistry.register(name, store, name)
      }
      GraftTableRegistry.registerCluster(name, clusterCols)
      persist(store, name)
      return Seq(org.apache.spark.sql.Row(name, v))
    }
    GraftTableRegistry.lookup(name).foreach { case (st, view) =>
      if (!ifNotExists) throw new IllegalArgumentException(
        s"CREATE TABLE $name: already registered — DROP TABLE $name " +
          "first, or use CREATE TABLE IF NOT EXISTS")
      // adoption must not silently contradict the statement: a
      // LOCATION or PRIMARY KEY that disagrees with the live binding
      // is a conflict, not a no-op (a mismatched key would route
      // keyed DML onto the wrong row identity)
      location.foreach { l =>
        require(norm(l) == norm(st.root),
          s"CREATE TABLE IF NOT EXISTS $name: LOCATION '$l' conflicts " +
            s"with the registered root '${st.root}'")
      }
      keyCol.foreach { k =>
        val bound = GraftTableRegistry.lookupKey(name)
        require(bound.exists(_.equalsIgnoreCase(k)),
          s"CREATE TABLE IF NOT EXISTS $name: PRIMARY KEY `$k` " +
            s"conflicts with the registered key " +
            bound.fold("(none)")(b => s"`$b`"))
      }
      // same conflict rule for a declared layout: silently re-routing
      // inserts onto a different curve would fragment the table
      if (clusterCols.nonEmpty) {
        val bound = GraftTableRegistry.lookupCluster(name)
        if (bound.nonEmpty)
          require(bound.map(_.toLowerCase) == clusterCols.map(_.toLowerCase),
            s"CREATE TABLE IF NOT EXISTS $name: CLUSTER BY " +
              clusterCols.mkString("(", ", ", ")") +
              " conflicts with the registered clustering " +
              bound.mkString("(", ", ", ")"))
        else GraftTableRegistry.registerCluster(name, clusterCols)
      }
      persist(st, view)
      return Seq(org.apache.spark.sql.Row(name,
        st.versions(view).lastOption.getOrElse(0L)))
    }
    val root = location
      .orElse(spark.conf.getOption("spark.graft.store.root"))
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE $name USING graft: no store root — add " +
          "LOCATION '<path>' or set spark.graft.store.root"))
    val store = new graft.sources.SnapshotStore(spark, root)
    def register(): Unit = {
      keyCol match {
        case Some(k) => GraftTableRegistry.register(name, store, name, k)
        case None => GraftTableRegistry.register(name, store, name)
      }
      GraftTableRegistry.registerCluster(name, clusterCols)
    }
    if (store.versions(name).nonEmpty) {
      if (!ifNotExists) throw new IllegalArgumentException(
        s"CREATE TABLE $name: a store view `$name` already exists " +
          s"under $root — CREATE TABLE IF NOT EXISTS adopts it")
      // the adopted view's REAL schema is authoritative — the declared
      // PRIMARY KEY must be one of its columns or keyed DML would bind
      // to a non-existent (or wrong) row identity
      keyCol.foreach { k =>
        val cols = store.read(name).columns
        require(cols.exists(_.equalsIgnoreCase(k)),
          s"CREATE TABLE IF NOT EXISTS $name: PRIMARY KEY `$k` is not " +
            "a column of the adopted view " +
            cols.mkString("(", ", ", ")"))
      }
      register()
      persist(store, name)
      return Seq(org.apache.spark.sql.Row(name, store.versions(name).max))
    }
    val seed = querySql match {
      case Some(q) => spark.sql(q)
      case None => GraftSqlParser.emptySingleFileFrame(spark,
        org.apache.spark.sql.types.StructType.fromDDL(schemaDdl.get))
    }
    keyCol.foreach { k =>
      require(seed.columns.exists(_.equalsIgnoreCase(k)),
        s"CREATE TABLE $name: PRIMARY KEY `$k` is not a table column " +
          seed.columns.mkString("(", ", ", ")"))
    }
    clusterCols.foreach { c =>
      require(seed.columns.exists(_.equalsIgnoreCase(c)),
        s"CREATE TABLE $name: CLUSTER BY `$c` is not a table column " +
          seed.columns.mkString("(", ", ", ")"))
    }
    // a clustered CTAS seeds v1 through the Hilbert range-dir writer —
    // the declared layout is the table's FIRST layout, not a later
    // OPTIMIZE; the empty-schema form has nothing to cluster yet
    val v =
      if (clusterCols.nonEmpty && querySql.nonEmpty)
        store.commitClustered(name, seed, clusterCols, overwrite = true,
          statsCols = keyCol.toSeq)
      else store.commit(name, seed, overwrite = true,
        statsCols = (keyCol.toSeq ++ clusterCols).distinct)
    register()
    persist(store, name)
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** `DROP TABLE <name>` for a registered graft table: unbinds the
  * registry entry, so the name stops resolving in SQL. The store data
  * stays on disk (external-table semantics — the registry is a
  * binding, not ownership); reclaim space with VACUUM before dropping,
  * or via the store API. Unregistered names fall through to the stock
  * parser, so this can never unbind another catalog's table.
  *
  * Durable-catalog scope: the statement removes the binding from the
  * SESSION'S catalog root (`spark.graft.store.root`) and from the
  * table's own root — the two places CREATE persists to. A binding
  * persisted under a DIFFERENT catalog root (the conf changed between
  * CREATE and DROP) stays in that catalog, exactly as dropping a table
  * from one metastore leaves its entry in another: re-point the conf
  * at the original root to drop it there.
  */
/** `CREATE MATERIALIZED VIEW <name> [LOCATION '<root>'] AS <select>` —
  * see [[MaterializedView.create]]. Returns (view, mode, version):
  * mode is the classified maintenance shape (`agg`/`spj`/`full`).
  */
case class GraftCreateMaterializedViewCommand(name: String,
                                              location: Option[String],
                                              definingSql: String,
                                              orReplace: Boolean = false)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("view", org.apache.spark.sql.types.StringType)(),
    AttributeReference("mode", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] =
    MaterializedView.create(spark, name, definingSql, location, orReplace)
}

/** `REFRESH MATERIALIZED VIEW <name> [FULL]` — see
  * [[MaterializedView.refresh]]. Returns one observability row:
  * (view, mode, src_from, src_to, changed, version); `changed` is the
  * affected group/key count on the incremental paths, -1 on a full
  * recompute, 0 on a no-op.
  */
case class GraftRefreshMaterializedViewCommand(name: String, force: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("view", org.apache.spark.sql.types.StringType)(),
    AttributeReference("mode", org.apache.spark.sql.types.StringType)(),
    AttributeReference("src_from", org.apache.spark.sql.types.LongType)(),
    AttributeReference("src_to", org.apache.spark.sql.types.LongType)(),
    AttributeReference("changed", org.apache.spark.sql.types.LongType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] =
    MaterializedView.refresh(spark, name, force)
}

case class GraftDropTableCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    // unbind the durable catalog entry too — wherever it may live (the
    // session's catalog root, or the table's own root for a LOCATION
    // table created without one); removing an absent name is a no-op
    // that publishes nothing
    val tableRoot = GraftTableRegistry.lookup(name).map(_._1.root)
    GraftTableRegistry.unregister(name)
    (spark.conf.getOption("spark.graft.store.root").toSeq ++ tableRoot)
      .distinct.foreach(GraftCatalog.remove(_, name))
    Seq(org.apache.spark.sql.Row(name))
  }
}

/** `ALTER TABLE <t> ADD COLUMN[S] (c1 T1, …)`: schema evolution the
  * way the store already defines it — per-dir schemas merged at read —
  * so the statement is ONE empty append dir carrying the widened
  * schema (zero data IO; existing rows surface NULL in the new
  * columns, exactly what a widening commit produces). Refuses columns
  * that already exist. The empty dir folds away at the next
  * OPTIMIZE/compaction like any other small dir. Returns
  * (table, version).
  */
case class GraftAlterAddColumnsCommand(name: String, columnsDdl: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("ALTER TABLE", name)
    // an MV's schema is OWNED by its defining query — a direct schema
    // change would be silently undone by the next recompute
    MaterializedView.requireWritable("ALTER TABLE ADD COLUMNS", name)
    val cur = store.read(view).schema
    val added = org.apache.spark.sql.types.StructType.fromDDL(columnsDdl)
    val head = store.versions(view).lastOption
    val dropped = head.map(store.manifestDrops(view, _)).getOrElse(Nil)
    val renameSrcs = head.map(store.manifestRenames(view, _)).getOrElse(Nil)
      .map(_._1)
    added.foreach { f =>
      require(!cur.exists(_.name.equalsIgnoreCase(f.name)),
        s"ALTER TABLE $name: column `${f.name}` already exists")
      // a metadata-only dropped column still exists PHYSICALLY in the
      // old dirs — re-adding the name would resurrect its old values
      // through the merged-schema read; a full rewrite clears the list
      require(!dropped.exists(_.equalsIgnoreCase(f.name)),
        s"ALTER TABLE $name: `${f.name}` was dropped metadata-only and " +
          "its bytes remain — OPTIMIZE (full rewrite) before re-adding " +
          "the name")
      // same hazard for a rename SOURCE: old-name bytes remain, and the
      // read projection would fold a re-added column into the renamed
      // one (coalesce) — refuse until a rewrite localizes the rename
      require(!renameSrcs.exists(_.equalsIgnoreCase(f.name)),
        s"ALTER TABLE $name: `${f.name}` is a pending rename's old " +
          "name and its bytes remain — OPTIMIZE (full rewrite) before " +
          "reusing it")
    }
    val widened = org.apache.spark.sql.types.StructType(cur ++ added)
    Seq(org.apache.spark.sql.Row(name, store.commit(view,
      GraftSqlParser.emptySingleFileFrame(spark, widened),
      overwrite = false)))
  }
}

/** `ALTER TABLE <t> ADD CONSTRAINT <nm> CHECK (<expr>)`: records a
  * CHECK constraint every subsequent SQL write statement enforces
  * in-write ([[GraftSqlParser.withCheckGuards]]). Existing rows
  * validate FIRST — one bounded probe (`limit(1)`) over the current
  * snapshot; a violation refuses the ALTER naming the row, so a
  * recorded constraint is always a TRUE invariant of the table, never
  * an aspiration (Delta's ADD CONSTRAINT contract). The constraint
  * persists in the durable catalog (base64-encoded beside the
  * binding), survives a restart, and round-trips through SHOW CREATE
  * TABLE as an ALTER row. Returns (table, constraint).
  */
case class GraftAddConstraintCommand(name: String, cName: String,
                                     exprSql: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("constraint", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"ALTER TABLE $name ADD CONSTRAINT $cName"
    val (store, view) = GraftTableRegistry.required(tag, name)
    val existing = GraftTableRegistry.lookupChecks(name)
    require(!existing.exists(_._1.equalsIgnoreCase(cName)),
      s"$tag: constraint `$cName` already exists — DROP CONSTRAINT first")
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, struct, to_json}
    val cur = store.read(view)
    val viol = cur
      .where(coalesce(expr(exprSql).cast("boolean"), lit(true)) === false)
      .select(to_json(struct(cur.columns.map(col): _*)))
      .limit(1).collect()
    viol.headOption.foreach(r => throw new IllegalArgumentException(
      s"$tag: existing row ${r.getString(0)} violates CHECK ($exprSql) " +
        "— a recorded constraint must hold over the whole table"))
    GraftTableRegistry.registerChecks(name, existing :+ (cName -> exprSql))
    GraftTableRegistry.persistBinding(spark, name)
    Seq(org.apache.spark.sql.Row(name, cName))
  }
}

/** `ALTER TABLE <t> DROP CONSTRAINT [IF EXISTS] <nm>` — unrecords the
  * CHECK constraint (and re-persists the binding, so the drop survives
  * a restart). Without IF EXISTS an unknown name refuses. Returns
  * (table, constraint).
  */
case class GraftDropConstraintCommand(name: String, cName: String,
                                      ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("constraint", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    GraftTableRegistry.required(s"ALTER TABLE $name DROP CONSTRAINT", name)
    val existing = GraftTableRegistry.lookupChecks(name)
    if (!existing.exists(_._1.equalsIgnoreCase(cName)) && !ifExists)
      throw new IllegalArgumentException(
        s"ALTER TABLE $name DROP CONSTRAINT $cName: no such constraint " +
          existing.map(_._1).mkString("(", ", ", ")"))
    GraftTableRegistry.registerChecks(name,
      existing.filterNot(_._1.equalsIgnoreCase(cName)))
    GraftTableRegistry.persistBinding(spark, name)
    Seq(org.apache.spark.sql.Row(name, cName))
  }
}

/** `ALTER TABLE <t> RENAME TO <t2>` — a pure CATALOG move: the store
  * view directory and every byte of data stay put (at 100 TB a rename
  * must be O(1) metadata, the Delta/Iceberg contract), the new name
  * takes the ENTIRE binding (store, view, key, clustering, CHECK
  * constraints) and persists durably, and the old name unbinds from
  * the in-memory registry and from every catalog root CREATE persisted
  * to. SHOW CREATE TABLE on the renamed table emits the original
  * CREATE (under the view's name) followed by this RENAME — "run every
  * row in order" stays the DR recipe. Returns (table, renamed_from).
  */
case class GraftRenameTableCommand(name: String, newName: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("renamed_from", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"ALTER TABLE $name RENAME TO $newName"
    val (store, view) = GraftTableRegistry.required(tag, name)
    GraftSqlParser.validateTableName(newName)
    require(newName != name, s"$tag: the names are identical")
    require(GraftTableRegistry.lookup(newName).isEmpty,
      s"$tag: `$newName` is already a registered graft table")
    val key = GraftTableRegistry.lookupKey(name)
    val cluster = GraftTableRegistry.lookupCluster(name)
    val checks = GraftTableRegistry.lookupChecks(name)
    val props = GraftTableRegistry.lookupProps(name)
    key match {
      case Some(k) => GraftTableRegistry.register(newName, store, view, k)
      case None => GraftTableRegistry.register(newName, store, view)
    }
    GraftTableRegistry.registerCluster(newName, cluster)
    GraftTableRegistry.registerChecks(newName, checks)
    // the binding props travel too — a renamed MATERIALIZED VIEW keeps
    // its definition (and synced pointer) instead of silently becoming
    // a plain, never-refreshing table
    GraftTableRegistry.registerProps(newName, props)
    GraftTableRegistry.persistBinding(spark, newName)
    // the old name unbinds everywhere CREATE persisted it — the same
    // two roots DROP TABLE clears
    GraftTableRegistry.unregister(name)
    (spark.conf.getOption("spark.graft.store.root").toSeq :+ store.root)
      .distinct.foreach(GraftCatalog.remove(_, name))
    Seq(org.apache.spark.sql.Row(newName, name))
  }
}

/** `ALTER TABLE <t> DROP COLUMN[S] c1[, …]` — METADATA-ONLY drops
  * ([[graft.sources.SnapshotStore.dropColumn]]): each column records
  * in the manifest's dropped list (one manifest republish per column,
  * zero data IO) and the read-time projection hides it from this
  * version on; time travel to a pre-drop version still surfaces it,
  * and the physical bytes go at the next full rewrite (OPTIMIZE /
  * compaction), which clears the list. Refuses the PRIMARY KEY, a
  * declared CLUSTER BY column, and any column a recorded CHECK
  * constraint references (the guard would silently stop evaluating).
  * Returns (table, version).
  */
case class GraftDropColumnCommand(name: String, columns: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"ALTER TABLE $name DROP COLUMN"
    val (store, view) = GraftTableRegistry.required(tag, name)
    MaterializedView.requireWritable(tag, name)
    require(columns.nonEmpty, s"$tag: no columns named")
    val key = GraftTableRegistry.lookupKey(name)
    val cluster = GraftTableRegistry.lookupCluster(name)
    val checks = GraftTableRegistry.lookupChecks(name)
    columns.foreach { c =>
      key.filter(_.equalsIgnoreCase(c)).foreach(k =>
        throw new IllegalArgumentException(
          s"$tag: `$c` is the PRIMARY KEY `$k` — keyed DML needs it"))
      cluster.filter(_.equalsIgnoreCase(c)).foreach(_ =>
        throw new IllegalArgumentException(
          s"$tag: `$c` is a declared CLUSTER BY column — " +
            s"ALTER TABLE $name CLUSTER BY first"))
      checks.foreach { case (nm, ex) =>
        import org.apache.spark.sql.functions.expr
        val refs = org.apache.spark.sql.graftbridge.ColumnBridge
          .expressionEager(expr(ex)).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                if a.nameParts.last.equalsIgnoreCase(c) => a
          }
        require(refs.isEmpty,
          s"$tag: CHECK constraint `$nm` ($ex) references `$c` — " +
            "DROP CONSTRAINT first")
      }
    }
    // ONE atomic manifest publish for the whole list — a bad name in
    // a multi-column drop leaves nothing half-dropped
    val v = store.dropColumns(view, columns)
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** The WAP branch lifecycle in SQL — one command, four actions over
  * the store's branch primitives:
  *
  *  - `ALTER TABLE t CREATE BRANCH b`
  *    ([[graft.sources.SnapshotStore.branchCreate]] — a zero-copy
  *    clone of main's head): the branch registers as the table
  *    `` `t@b` `` carrying main's key/clustering/constraints, so the
  *    WHOLE statement surface (INSERT/UPDATE/MERGE/SELECT/CHANGES/
  *    time travel) works on it, isolated from main;
  *  - `ALTER TABLE t FAST FORWARD BRANCH b`
  *    ([[graft.sources.SnapshotStore.fastForward]]): publish the
  *    audited branch head into main ATOMICALLY — refuses with
  *    SnapshotConflict when main advanced since the branch was cut
  *    (the audit ran against a stale base);
  *  - `ALTER TABLE t REBASE BRANCH b`
  *    ([[graft.sources.SnapshotStore.rebaseBranch]]): the recovery
  *    that refusal asks for — re-point an append-only branch onto
  *    main's current head (O(files) metadata), then re-audit;
  *  - `ALTER TABLE t DROP BRANCH b`: unbind `` `t@b` `` (the branch
  *    view stays on disk as a retention root until main localizes —
  *    external-table semantics, like DROP TABLE).
  *
  * Returns (table, branch, version) — the branch/main version the
  * action produced (NULL for drop).
  */
case class GraftBranchCommand(name: String, branch: String, action: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType)(),
    AttributeReference("branch", StringType)(),
    AttributeReference("version", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"ALTER TABLE $name ${action.toUpperCase} BRANCH $branch"
    val (store, view) = GraftTableRegistry.required(tag, name)
    val bName = s"$name@$branch"
    val bView = store.branchView(view, branch)
    def registerBranch(): Unit = {
      GraftTableRegistry.lookupKey(name) match {
        case Some(k) => GraftTableRegistry.register(bName, store, bView, k)
        case None => GraftTableRegistry.register(bName, store, bView)
      }
      GraftTableRegistry.registerCluster(bName,
        GraftTableRegistry.lookupCluster(name))
      GraftTableRegistry.registerChecks(bName,
        GraftTableRegistry.lookupChecks(name))
      GraftTableRegistry.persistBinding(spark, bName)
    }
    def unregisterBranch(): Unit = {
      GraftTableRegistry.unregister(bName)
      (spark.conf.getOption("spark.graft.store.root").toSeq :+ store.root)
        .distinct.foreach(GraftCatalog.remove(_, bName))
    }
    action match {
      case "create" =>
        val v = store.branchCreate(view, branch)
        registerBranch()
        Seq(org.apache.spark.sql.Row(name, branch, v))
      case "fastforward" =>
        val v = store.fastForward(view, branch)
        Seq(org.apache.spark.sql.Row(name, branch, v))
      case "rebase" =>
        Seq(org.apache.spark.sql.Row(name, branch,
          store.rebaseBranch(view, branch)))
      case "drop" =>
        unregisterBranch()
        Seq(org.apache.spark.sql.Row(name, branch, null))
    }
  }
}

/** `SHOW BRANCHES [FROM|IN] <t>` — one (table, branch, version) row
  * per live branch of the registered table (the on-disk `view@<b>`
  * siblings, whether or not this session created them) — the listing
  * an operator checks before a fast-forward. Driver metadata only.
  */
case class GraftShowBranchesCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType)(),
    AttributeReference("branch", StringType)(),
    AttributeReference("version", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("SHOW BRANCHES", name)
    store.branches(view).map { b =>
      val bv = store.branchView(view, b)
      org.apache.spark.sql.Row(name, b,
        store.versions(bv).lastOption.getOrElse(0L))
    }
  }
}

/** `CREATE TABLE <t2> SHALLOW|DEEP CLONE <t1> [VERSION AS OF n]
  * [LOCATION '<root>']` — Delta's CLONE statement:
  *
  *  - SHALLOW (zero-copy): the clone's v1 manifest references the
  *    source's data dirs by relative path — cloning a 100 TB table is
  *    O(files) metadata ([[graft.sources.SnapshotStore.cloneView]]);
  *    it lives in the SOURCE's store root (foreign refs are
  *    root-relative), so LOCATION refuses if it disagrees;
  *  - DEEP (independent): byte-copies the snapshot's dirs into the
  *    target root (LOCATION, else the session store root, else the
  *    source root) — vacuum/rewrites on either side can never touch
  *    the other ([[graft.sources.SnapshotStore.deepClone]]).
  *
  * Either way the clone takes the source binding's PRIMARY KEY,
  * CLUSTER BY, and CHECK constraints and registers durably — it is a
  * fully DML-able table from the next statement on. Streaming txn
  * fences are NOT carried (the clone is a new table — the Delta
  * caveat). Returns (table, version).
  */
case class GraftCloneTableCommand(name: String, srcName: String,
                                  deep: Boolean, asOf: Option[Long],
                                  location: Option[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val kind = if (deep) "DEEP" else "SHALLOW"
    val tag = s"CREATE TABLE $name $kind CLONE $srcName"
    GraftSqlParser.validateTableName(name)
    val (srcStore, srcView) = GraftTableRegistry.required(tag, srcName)
    require(GraftTableRegistry.lookup(name).isEmpty,
      s"$tag: `$name` is already a registered graft table")
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val (store, v) =
      if (deep) {
        val root = location
          .orElse(spark.conf.getOption("spark.graft.store.root"))
          .getOrElse(srcStore.root)
        val target =
          if (norm(root) == norm(srcStore.root)) srcStore
          else new graft.sources.SnapshotStore(spark, root)
        (target, srcStore.deepClone(target, srcView, name, asOf))
      } else {
        // a shallow clone's foreign refs are relative WITHIN one store
        // root — a different LOCATION cannot hold them
        location.foreach(l => require(norm(l) == norm(srcStore.root),
          s"$tag: a SHALLOW clone lives in the source's store root " +
            s"'${srcStore.root}' — use DEEP CLONE to place it at '$l'"))
        (srcStore, srcStore.cloneView(srcView, name, asOf))
      }
    // the clone takes the source binding whole (key, layout,
    // constraints) and registers durably — DML-able immediately
    GraftTableRegistry.lookupKey(srcName) match {
      case Some(k) => GraftTableRegistry.register(name, store, name, k)
      case None => GraftTableRegistry.register(name, store, name)
    }
    GraftTableRegistry.registerCluster(name,
      GraftTableRegistry.lookupCluster(srcName))
    GraftTableRegistry.registerChecks(name,
      GraftTableRegistry.lookupChecks(srcName))
    GraftTableRegistry.persistBinding(spark, name)
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** `ALTER TABLE <t> RENAME COLUMN a TO b` — METADATA-ONLY
  * ([[graft.sources.SnapshotStore.renameColumn]]): the manifest
  * records `a>b`, the read projection surfaces old-dir data under the
  * new name (coalescing once post-rename writes carry it physically),
  * time travel keeps each version's own spelling, and the next full
  * rewrite localizes + clears. When the renamed column IS the
  * registered PRIMARY KEY or a declared CLUSTER BY column, the
  * binding REBINDS to the new spelling and re-persists — keyed DML
  * and layout routing continue seamlessly. Recorded CHECK constraints
  * FOLLOW the rename: their stored SQL rewrites mechanically with a
  * proven round-trip, refusing (DROP/re-ADD) only expressions the
  * rewriter can't prove. Returns (table, version).
  */
case class GraftRenameColumnCommand(name: String, oldCol: String,
                                    newCol: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val tag = s"ALTER TABLE $name RENAME COLUMN"
    val (store, view) = GraftTableRegistry.required(tag, name)
    MaterializedView.requireWritable(tag, name)
    // CHECK constraints FOLLOW the rename: the stored SQL text's
    // attribute references rewrite mechanically (parse → transform the
    // unresolved tree → regenerate SQL), PROVEN by a round-trip — the
    // regenerated text must re-parse to exactly the transformed tree,
    // or the command refuses before anything publishes (the old
    // DROP/re-ADD escape hatch, kept for expressions the rewriter
    // can't prove). Enforcement and SHOW CREATE pick up the new
    // spelling through the same registry entry.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.functions.expr
    def tree(sql: String) = org.apache.spark.sql.graftbridge.ColumnBridge
      .expressionEager(expr(sql))
    val rewritten = GraftTableRegistry.lookupChecks(name).map {
      case (nm, ex) =>
        val t0 = tree(ex)
        val refs = t0.collect {
          case a: UnresolvedAttribute
              if a.nameParts.last.equalsIgnoreCase(oldCol) => a
        }
        if (refs.isEmpty) (nm, ex)
        else {
          val migrated = scala.util.Try {
            val t1 = t0.transform {
              case a: UnresolvedAttribute
                  if a.nameParts.last.equalsIgnoreCase(oldCol) =>
                UnresolvedAttribute(a.nameParts.init :+ newCol)
            }
            val sql1 = t1.sql
            require(tree(sql1) == t1, "round-trip mismatch")
            sql1
          }
          migrated match {
            case scala.util.Success(sql1) => (nm, sql1)
            case scala.util.Failure(_) =>
              throw new IllegalArgumentException(
                s"$tag: CHECK constraint `$nm` ($ex) references `$oldCol` " +
                  "and cannot be rewritten mechanically — DROP CONSTRAINT, " +
                  "rename, re-ADD with the new name")
          }
        }
    }
    val v = store.renameColumn(view, oldCol, newCol)
    GraftTableRegistry.rebindColumn(name, oldCol, newCol)
    GraftTableRegistry.registerChecks(name, rewritten)
    GraftTableRegistry.persistBinding(spark, name)
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** `ALTER TABLE <t> ALTER COLUMN <c> TYPE <wider>` — METADATA-ONLY
  * type widening ([[graft.sources.SnapshotStore.alterColumnType]]):
  * zero data IO, versioned, read-time cast over the old era, the next
  * full rewrite localizes. Widening-only; the store refuses narrowing
  * and unsupported pairs loudly. Returns (table, version).
  */
case class GraftAlterColumnTypeCommand(name: String, colName: String,
                                       typeDdl: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) =
      GraftTableRegistry.required(s"ALTER TABLE $name ALTER COLUMN", name)
    MaterializedView.requireWritable(s"ALTER TABLE $name ALTER COLUMN", name)
    val v = store.alterColumnType(view, colName, typeDdl)
    Seq(org.apache.spark.sql.Row(name, v))
  }
}

/** `DESCRIBE [TABLE] <t>` for a registered graft table — the schema
  * listing in Spark's (col_name, data_type, comment) shape, derived
  * from the CURRENT snapshot's merged schema (renames/drops applied);
  * the comment column carries `primary key` / `cluster by` markers so
  * the binding's row identity and declared layout are visible where
  * an operator looks first.
  */
case class GraftDescribeTableCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.StringType
  override def output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType)(),
    AttributeReference("data_type", StringType)(),
    AttributeReference("comment", StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("DESCRIBE TABLE", name)
    require(store.versions(view).nonEmpty,
      s"DESCRIBE TABLE $name: no committed snapshot yet")
    val key = GraftTableRegistry.lookupKey(name)
    val cluster = GraftTableRegistry.lookupCluster(name)
      .map(_.toLowerCase).toSet
    store.read(view).schema.map { f =>
      val marks = Seq(
        key.filter(_.equalsIgnoreCase(f.name)).map(_ => "primary key"),
        Some("cluster by").filter(_ => cluster.contains(f.name.toLowerCase))
      ).flatten
      org.apache.spark.sql.Row(f.name, f.dataType.simpleString,
        if (marks.isEmpty) null else marks.mkString(", "))
    }
  }
}

/** `PUBLISH SYNCPOINT (t1, t2, …)` — pin the named registered tables'
  * CURRENT versions as one atomically-published syncpoint
  * ([[graft.sources.SnapshotStore.publishSync]] — the same link(2)
  * exclusive-publish discipline as view manifests). Every table read
  * through `SYNC AS OF` then belongs to the same published cycle —
  * the lambda day-cycle's cross-view consistency point, reachable
  * from pure SQL. All named tables must live under ONE store root
  * (syncpoints are store-level). Returns one (syncpoint, table,
  * version) row per pin.
  */
case class GraftPublishSyncCommand(names: Seq[String])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("syncpoint", LongType)(),
    AttributeReference("table", StringType)(),
    AttributeReference("version", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    require(names.nonEmpty, "PUBLISH SYNCPOINT: no tables named")
    val bound = names.map(n =>
      n -> GraftTableRegistry.required("PUBLISH SYNCPOINT", n))
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val roots = bound.map { case (_, (st, _)) => norm(st.root) }.distinct
    require(roots.size == 1,
      "PUBLISH SYNCPOINT: all tables must share one store root " +
        s"(syncpoints are store-level), got ${roots.mkString(", ")}")
    val store = bound.head._2._1
    val pins = bound.map { case (n, (st, view)) =>
      val vs = st.versions(view)
      require(vs.nonEmpty, s"PUBLISH SYNCPOINT: `$n` has no committed snapshot")
      view -> vs.max
    }.toMap
    val id = store.publishSync(pins)
    bound.map { case (n, (_, view)) =>
      org.apache.spark.sql.Row(id, n, pins(view))
    }
  }
}

/** `TRUNCATE TABLE <t>`: an EMPTY overwrite commit — contents go in
  * one metadata publish (no data IO beyond one zero-row schema file),
  * history and txn fences stay, every prior snapshot remains
  * time-travelable until VACUUM. Returns (table, version).
  */
case class GraftTruncateCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", org.apache.spark.sql.types.StringType)(),
    AttributeReference("version", org.apache.spark.sql.types.LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("TRUNCATE TABLE", name)
    MaterializedView.requireWritable("TRUNCATE TABLE", name)
    Seq(org.apache.spark.sql.Row(name, store.commit(view,
      GraftSqlParser.emptySingleFileFrame(spark, store.read(view).schema),
      overwrite = true)))
  }
}

/** `DESCRIBE DETAIL <t>` — one metadata row for the current snapshot:
  * version, data-dir / deletion-vector counts, total data bytes, and
  * the registered key column. Pure driver-side manifest listing, the
  * operational dashboard query.
  */
case class GraftDescribeDetailCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType)(),
    AttributeReference("version", LongType)(),
    AttributeReference("num_data_dirs", LongType)(),
    AttributeReference("num_deletion_vectors", LongType)(),
    AttributeReference("data_bytes", LongType)(),
    AttributeReference("key_column", StringType)(),
    AttributeReference("num_rows", LongType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("DESCRIBE DETAIL", name)
    val key = GraftTableRegistry.lookupKey(name).orNull
    // a registered-but-never-committed view describes as v0, empty —
    // not a crash (versions.max / readManifest would throw)
    store.versions(view).lastOption match {
      case None =>
        Seq(org.apache.spark.sql.Row(name, 0L, 0L, 0L, 0L, key, 0L))
      case Some(v) =>
        val dirs = store.manifestDirs(view, Some(v))
        val dels = store.manifestDels(view, v)
        // num_rows is metadata-only (write-time recorded counts) — NULL
        // when not exactly answerable (statless dirs, live vectors)
        Seq(org.apache.spark.sql.Row(name, v, dirs.size.toLong,
          dels.size.toLong, dirs.map(store.dirBytes(view, _)).sum, key,
          store.rowCountFast(view).map(Long.box).orNull))
    }
  }
}

/** `SHOW CREATE TABLE <t>` — the RE-EXECUTABLE DDL for a registered
  * graft table, one statement per row in execution order (today the
  * CREATE; table-level statements that only ALTER can add — e.g. CHECK
  * constraints — follow as further rows, so "run every row in order"
  * stays the porting/DR recipe as the surface grows). The emitted
  * CREATE spells `IF NOT EXISTS` deliberately: graft tables are
  * external-style (DROP unbinds, data stays), so re-running the
  * statement ADOPTS the on-disk view — the exact disaster-recovery /
  * new-cluster flow — instead of refusing because data already exists.
  * The schema comes from the CURRENT snapshot (the store's merged
  * per-dir schema — authoritative over whatever DDL originally ran),
  * key/clustering from the registry, and LOCATION is always emitted
  * (the binding's absolute root) so the statement works under any
  * `spark.graft.store.root`. A binding whose store view name differs
  * from the table name (possible via the Scala registration API, never
  * via SQL) is refused — no pure-SQL statement can reproduce it.
  */
case class GraftShowCreateTableCommand(name: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("stmt", org.apache.spark.sql.types.StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("SHOW CREATE TABLE", name)
    require(store.versions(view).nonEmpty,
      s"SHOW CREATE TABLE $name: the view has no committed snapshot yet " +
        "— there is no schema on disk to show")
    // a MATERIALIZED VIEW re-creates as one: the defining query IS the
    // schema/content recipe, and replaying CREATE MATERIALIZED VIEW
    // restores the refresh machinery a CREATE TABLE replay would lose
    GraftTableRegistry.lookupProps(name).get(MaterializedView.SqlProp)
      .foreach { defining =>
        val rootAbs = java.nio.file.Paths.get(store.root)
          .toAbsolutePath.normalize.toString
        require(!rootAbs.contains("'"),
          s"SHOW CREATE TABLE $name: the root path contains a quote — " +
            "no re-parsable LOCATION spelling exists")
        // the OR REPLACE form: a replay against the surviving on-disk
        // view REDEFINES (recompute) instead of refusing — adopting
        // old bytes under a possibly-different definition would poison
        // every later incremental refresh
        return Seq(org.apache.spark.sql.Row(
          "CREATE OR REPLACE MATERIALIZED VIEW " +
            s"${GraftSqlParser.quoteIdent(name)} " +
            s"LOCATION '$rootAbs' AS $defining"))
      }
    // a binding whose view name DIFFERS from the table name (a rename,
    // or the Scala registration API) replays as CREATE under the
    // VIEW's name — adopting the on-disk data — followed by the RENAME
    // that moves the binding; "run every row in order" stays the DR
    // recipe. The view name itself must be SQL-spellable for that.
    val renamed = view != name
    if (renamed) GraftSqlParser.validateTableName(view)
    val createName = if (renamed) view else name
    val schema = store.read(view).schema
    val key = GraftTableRegistry.lookupKey(name)
    val cluster = GraftTableRegistry.lookupCluster(name)
    // clause order matches [[CreateTableRe]]: PRIMARY KEY, CLUSTER BY,
    // LOCATION — the emitted text must re-parse through the same regex
    // (non-`[\w.]` names re-quote via [[GraftSqlParser.quoteIdent]]).
    // The root is emitted ABSOLUTE (a relative root would re-bind
    // against the replayer's cwd — the DR flow runs anywhere) and a
    // quote inside it has no re-parsable spelling, so it refuses.
    val rootAbs = java.nio.file.Paths.get(store.root)
      .toAbsolutePath.normalize.toString
    require(!rootAbs.contains("'"),
      s"SHOW CREATE TABLE $name: the root path contains a quote — " +
        "no re-parsable LOCATION spelling exists")
    val q = GraftSqlParser.quoteIdent _
    val create =
      s"CREATE TABLE IF NOT EXISTS ${q(createName)} (${schema.toDDL}) " +
      "USING graft" +
      key.fold("")(k => s" PRIMARY KEY $k") +
      (if (cluster.nonEmpty) cluster.mkString(" CLUSTER BY (", ", ", ")")
       else "") +
      s" LOCATION '$rootAbs'"
    val rename =
      if (renamed) Seq(s"ALTER TABLE ${q(view)} RENAME TO ${q(name)}")
      else Nil
    // CHECK constraints follow as ALTER rows — the CREATE grammar has
    // no constraint clause, and the adoption path would skip one anyway
    val alters = GraftTableRegistry.lookupChecks(name).map { case (nm, ex) =>
      s"ALTER TABLE ${q(name)} ADD CONSTRAINT $nm CHECK ($ex)"
    }
    ((create +: rename) ++ alters).map(org.apache.spark.sql.Row(_))
  }
}

/** `ANALYZE TABLE <t> COMPUTE STATISTICS FOR ALL COLUMNS | FOR COLUMNS
  * c1, …` over a registered store view — Spark's own statement
  * spelling bound to [[graft.operators.Stats.analyzeColumns]]: the
  * exact long-format profile (rows, non-null, NDV, min/max as strings)
  * in ONE aggregation pass (the k exact countDistincts ride Catalyst's
  * Expand — the textbook ANALYZE cost, paid by explicit command).
  * O(columns) result rows collect to the driver, catalog-sized.
  */
case class GraftAnalyzeCommand(name: String, columns: Option[Seq[String]])
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  import org.apache.spark.sql.types.{LongType, StringType}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("column", StringType)(),
    AttributeReference("n_rows", LongType)(),
    AttributeReference("n_nonnull", LongType)(),
    AttributeReference("n_null", LongType)(),
    AttributeReference("ndv", LongType)(),
    AttributeReference("min_s", StringType)(),
    AttributeReference("max_s", StringType)())
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val (store, view) = GraftTableRegistry.required("ANALYZE TABLE", name)
    val df = store.read(view)
    // resolve each listed name to the table's OWN spelling (so a
    // case-variant spelling profiles instead of failing resolution
    // downstream) and de-duplicate (FOR COLUMNS k, k would otherwise
    // build ambiguous aggregate aliases)
    val cols = columns.getOrElse(df.columns.toSeq).map { c =>
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ANALYZE TABLE $name: `$c` is not a table column " +
            df.columns.mkString("(", ", ", ")")))
    }.distinct
    graft.operators.Stats.analyzeColumns(df, cols).collect().toSeq
  }
}

/** Name → (store, view) registry backing the `VERSION AS OF` SQL
  * surface: SQL statements carry only a table NAME, so the binding to
  * a [[graft.sources.SnapshotStore]] has to live beside the session
  * (the same role Spark's catalog plays for saved tables; this engine's
  * tables are store views, which the stock catalog cannot hold).
  * Process-global like the session registries the streaming queries
  * use — one engine per JVM in every entry point; re-registering a
  * name simply rebinds it.
  */
object GraftTableRegistry {
  private val reg = scala.collection.concurrent.TrieMap
    .empty[String, (graft.sources.SnapshotStore, String)]
  private val keys = scala.collection.concurrent.TrieMap.empty[String, String]
  private val clusters =
    scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
  private val checks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  private val props =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  def register(name: String, store: graft.sources.SnapshotStore,
               view: String): Unit = {
    reg.update(name, (store, view))
    // a re-registration REPLACES the binding whole: a key column from
    // a prior 4-arg registration must not silently apply to the new
    // view (a wrong-keyed deletion vector excludes the wrong rows)
    keys.remove(name)
    clusters.remove(name)
    checks.remove(name)
    props.remove(name)
  }

  /** Registration with the view's row-identity KEY column — what the
    * keyed DML statements need (deletion vectors and merges are keyed;
    * SQL carries only the table name, so the key binds here, the same
    * way a real catalog would record the table's primary key).
    */
  def register(name: String, store: graft.sources.SnapshotStore,
               view: String, keyCol: String): Unit = {
    reg.update(name, (store, view))
    keys.update(name, keyCol)
    clusters.remove(name)
    checks.remove(name)
    props.remove(name)
  }

  /** Record the table's free-form binding PROPERTIES — the durable
    * key→value side-channel a statement tier can hang its own metadata
    * on (the materialized-view definition lives here: `mv.sql`,
    * `mv.source`, `mv.synced`, `mv.mode`). Persisted with the binding,
    * restored by the lazy restart path like key/cluster/checks.
    */
  def registerProps(name: String, ps: Map[String, String]): Unit =
    if (ps.isEmpty) props.remove(name) else props.update(name, ps)
  def lookupProps(name: String): Map[String, String] =
    props.getOrElse(name, Map.empty)

  /** Record the table's DDL-declared `CLUSTER BY` columns: subsequent
    * INSERT/CTAS commits route through the Hilbert range-dir writer so
    * multi-column skipping is the table's DEFAULT layout, not a
    * post-hoc OPTIMIZE.
    */
  def registerCluster(name: String, cols: Seq[String]): Unit =
    if (cols.isEmpty) clusters.remove(name) else clusters.update(name, cols)
  def lookupCluster(name: String): Seq[String] =
    clusters.get(name).getOrElse {
      // same disk-fallback contract as lookupKey: a LIVE binding with
      // no clustering stays unclustered; only a fully-absent name
      // re-materializes from the durable catalog
      if (reg.contains(name)) Nil
      else loadFromDisk(name).map(_ => clusters.getOrElse(name, Nil))
        .getOrElse(Nil)
    }

  /** Record the table's CHECK constraints (name → boolean expression
    * SQL) — enforced by every SQL write statement (INSERT / INSERT
    * OVERWRITE / REPLACE WHERE / UPDATE / MERGE) via an in-write
    * `raise_error` guard; a row whose expression evaluates to FALSE
    * aborts the write job before any publish, NULL passes (the SQL
    * CHECK contract). Scala-API writes through the store bypass them —
    * SQL-tier semantics, stated in the README.
    */
  def registerChecks(name: String, cs: Seq[(String, String)]): Unit =
    if (cs.isEmpty) checks.remove(name) else checks.update(name, cs)
  def lookupChecks(name: String): Seq[(String, String)] =
    checks.getOrElse(name, Nil)

  /** The declared CLUSTER BY of whichever binding points at
    * (root, view) — the REVERSE lookup the streaming table sink needs
    * (it is constructed from root/view options, not a table name), so
    * a stream into a `CREATE TABLE … CLUSTER BY` table keeps the
    * declared skipping layout per micro-batch instead of silently
    * degrading until the next OPTIMIZE. Consulted per batch against
    * the IN-MEMORY bindings (O(tables) map scan — no disk IO in the
    * micro-batch path); the sink folds the durable catalog in once at
    * construction via [[bindings]].
    */
  def clusterForLocation(root: String, view: String): Seq[String] = {
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize.toString
    val r = norm(root)
    reg.collectFirst {
      case (n, (st, v)) if v == view && norm(st.root) == r =>
        clusters.getOrElse(n, Nil)
    }.getOrElse(Nil)
  }

  def unregister(name: String): Unit = {
    reg.remove(name); keys.remove(name); clusters.remove(name)
    checks.remove(name); props.remove(name)
  }

  /** Rebind column-name references in the table's metadata after a
    * column rename: a key or declared cluster column spelled `oldCol`
    * follows the rename, so keyed DML and layout routing continue
    * addressing the same (now renamed) column.
    */
  private[plans] def rebindColumn(name: String, oldCol: String,
                                  newCol: String): Unit = {
    keys.get(name).filter(_.equalsIgnoreCase(oldCol))
      .foreach(_ => keys.update(name, newCol))
    clusters.get(name).foreach(cs => clusters.update(name,
      cs.map(c => if (c.equalsIgnoreCase(oldCol)) newCol else c)))
  }

  /** The session's catalog root — where durable bindings persist and
    * where a lookup miss goes looking (`spark.graft.store.root`, the
    * same conf the LOCATION-less CREATE path treats as the managed
    * location).
    */
  private def catalogRoot: Option[String] =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.store.root"))

  /** Lazy restart path: an in-memory miss consults the durable catalog
    * under the session's store root and re-materializes the binding
    * (store handle + key + cluster cols) — a restarted JVM resolves
    * yesterday's `CREATE TABLE`s by name with zero replay.
    */
  private def loadFromDisk(name: String)
      : Option[(graft.sources.SnapshotStore, String)] =
    catalogRoot.flatMap(loadFromDiskAt(_, name))

  private def loadFromDiskAt(root: String, name: String)
      : Option[(graft.sources.SnapshotStore, String)] =
    for {
      spark <- org.apache.spark.sql.SparkSession.getActiveSession
      b <- GraftCatalog.load(root).get(name)
    } yield {
      val store = new graft.sources.SnapshotStore(spark, b.root)
      b.key match {
        case Some(k) => register(name, store, b.view, k)
        case None => register(name, store, b.view)
      }
      registerCluster(name, b.cluster)
      registerChecks(name, b.checks)
      registerProps(name, b.props)
      (store, b.view)
    }

  /** Fold the durable catalog under an EXPLICIT root into the
    * in-memory registry — the SINK-side fold: a streaming sink is
    * configured by options (`root`/`view`), not a table name, and may
    * run in a JVM whose session never set `spark.graft.store.root`;
    * without this fold such a stream would miss a CLUSTER BY another
    * JVM declared and silently land plain commits on a declared-layout
    * table. Names already live in memory are never clobbered.
    */
  def foldCatalog(root: String): Unit =
    GraftCatalog.load(root).keys.filterNot(reg.contains)
      .foreach(loadFromDiskAt(root, _))

  def lookup(name: String): Option[(graft.sources.SnapshotStore, String)] =
    reg.get(name).orElse(loadFromDisk(name))
  def lookupKey(name: String): Option[String] =
    keys.get(name).orElse {
      // the disk fallback must not clobber a LIVE in-memory binding
      // that simply has no key — only a fully-absent name goes to disk
      if (reg.contains(name)) None
      else loadFromDisk(name).flatMap(_ => keys.get(name))
    }

  /** Every live binding — the `SHOW GRAFT TABLES` listing. Durable
    * bindings under the session's catalog root are folded in first, so
    * the listing survives a restart like everything else.
    */
  def bindings: Seq[(String, (graft.sources.SnapshotStore, String))] = {
    catalogRoot.foreach(root =>
      GraftCatalog.load(root).keys.filterNot(reg.contains)
        .foreach(loadFromDisk))
    reg.toSeq
  }

  /** Re-persist the FULL current binding of `name` into the durable
    * catalog (the session's catalog root, falling back to the table's
    * own root — the two places CREATE persists to). CREATE TABLE and
    * every binding-mutating ALTER (ADD/DROP CONSTRAINT) share this, so
    * the durable catalog always carries the whole binding: root, view,
    * key, clustering, constraints.
    */
  private[plans] def persistBinding(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    lookup(name).foreach { case (st, view) =>
      val catRoot = spark.conf.getOption("spark.graft.store.root")
        .getOrElse(st.root)
      GraftCatalog.upsert(catRoot, GraftCatalog.Binding(name,
        java.nio.file.Paths.get(st.root).toAbsolutePath.normalize.toString,
        view, lookupKey(name), lookupCluster(name), lookupChecks(name),
        lookupProps(name)))
    }

  /** Test hook: wipe the in-memory maps (simulating a JVM restart) —
    * durable catalog files are untouched.
    */
  private[graft] def clearInMemory(): Unit = {
    reg.clear(); keys.clear(); clusters.clear(); checks.clear()
    props.clear()
  }

  /** Lookup-or-fail with the registration hint — the shared error
    * every statement command raises.
    */
  def required(tag: String, name: String): (graft.sources.SnapshotStore, String) =
    lookup(name).getOrElse(throw new IllegalArgumentException(
      s"$tag: table `$name` is not registered — call " +
        "GraftTableRegistry.register(name, store, view) first"))

  /** The registered key column, or fail naming the 4-arg overload. */
  def requiredKey(tag: String, name: String): String =
    lookupKey(name).getOrElse(throw new IllegalArgumentException(
      s"$tag: table `$name` was registered without a key column — " +
        "register(name, store, view, keyCol) to enable keyed DML"))
}

/** Binds the parser's `name$asof$v` time-travel identifiers to the
  * registered store view AT that version: the substituted subtree is
  * the store read's analyzed plan (a parquet scan over the pinned
  * manifest — stats/dels of that snapshot, immune to later commits),
  * wrapped in a [[SubqueryAlias]] of the ORIGINAL name so qualified
  * column references (`t.c`) keep resolving. An unregistered name
  * fails loudly with the registration hint rather than surfacing the
  * mangled identifier as a missing-table error.
  */
object ResolveGraftTimeTravel extends Rule[LogicalPlan] {

  private val Ref = """(.+)\$asof\$(\d+)""".r
  private val TsRef = """(.+)\$asofts\$(\d+)""".r
  private val HistRef = """(.+)\$history""".r
  private val DiffRef = """(.+)\$diff\$([^$]+)\$([^$]+)""".r
  private val SyncRef = """(.+)\$sync\$(latest|\d+)""".r

  private def registered(tag: String, name: String) =
    GraftTableRegistry.required(tag, name)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation => u.multipartIdentifier match {
        case Seq(Ref(name, v)) =>
          val (store, view) = registered("VERSION AS OF", name)
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.read(view, Some(v.toLong)).queryExecution.analyzed)
        case Seq(TsRef(name, ms)) =>
          val (store, view) = registered("TIMESTAMP AS OF", name)
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.read(view,
              Some(store.versionAtTimestamp(view, ms.toLong)))
              .queryExecution.analyzed)
        case Seq(HistRef(name)) =>
          val (store, view) = registered("DESCRIBE HISTORY", name)
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.history(view).queryExecution.analyzed)
        case Seq(SyncRef(name, tok)) =>
          // the splice-anomaly-free read: the view AS OF the version
          // the (latest or named) syncpoint pinned — readSync refuses
          // when no syncpoint exists or none pins this view
          val (store, view) = registered("SYNC AS OF", name)
          val id = if (tok == "latest") None else Some(tok.toLong)
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.readSync(view, id).queryExecution.analyzed)
        case Seq(DiffRef(name, a, b)) =>
          val (store, view) = registered("CHANGES FROM", name)
          val key = GraftTableRegistry.requiredKey("CHANGES FROM", name)
          val allVs = store.versions(view)
          require(allVs.nonEmpty, s"CHANGES on `$name`: no committed snapshot")
          // LATEST and TIMESTAMP bounds resolve here (latest retained
          // version / latest version at-or-before the instant); the
          // resolved pair then passes the same range contract
          def bound(tok: String): Long = tok match {
            case "latest" => allVs.max
            case t if t.startsWith("t") && t.length > 1 &&
                t.tail.forall(_.isDigit) =>
              store.versionAtTimestamp(view, t.tail.toLong)
            case d if d.nonEmpty && d.forall(_.isDigit) => d.toLong
            case other => throw new IllegalArgumentException(
              s"CHANGES on `$name`: unparseable bound `$other`")
          }
          // the range contract up front: an INVERTED range would
          // silently emit a REVERSED feed (deletes as inserts), and a
          // nonexistent version would surface as a raw file error
          // instead of this surface's friendly refusal. EQUAL bounds
          // are a legal empty feed — the poller's idle cycle (`FROM v
          // TO LATEST` with no commit since v) must yield zero rows,
          // not an error.
          val (lo, hi) = (bound(a), bound(b))
          if (lo > hi) throw new IllegalArgumentException(
            s"CHANGES FROM $lo TO $hi on `$name`: the range must " +
              "ascend (FROM <= TO)")
          Seq(lo, hi).filterNot(allVs.contains).foreach(v =>
            throw new IllegalArgumentException(
              s"CHANGES FROM $lo TO $hi on `$name`: version $v is not " +
                s"a retained version ${allVs.mkString("(", ", ", ")")}"))
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.diff(view, lo, hi, Seq(key))
              .queryExecution.analyzed)
        // PLAIN registered names resolve to the current snapshot — the
        // restart path: a durable-catalog table is SELECTable by name
        // with zero setup. Spark's own ResolveRelations runs EARLIER in
        // the same resolution batch, so temp views and catalog tables
        // always win the name; this rule only sees relations nothing
        // else claimed. Batch only — a streaming relation goes through
        // the graft-table stream source, not a snapshot read.
        case Seq(name) if !u.isStreaming &&
            GraftTableRegistry.lookup(name).nonEmpty =>
          val (store, view) = GraftTableRegistry.required("SELECT", name)
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(name,
            store.read(view).queryExecution.analyzed)
        case _ => u
      }
    }
}

/** Resolution rule for the SQL-born graft join nodes: bind column
  * names against the resolved children (session resolver, so case
  * sensitivity follows the engine config) and emit the typed native
  * nodes. As-of carries ALL right columns as produced attributes
  * (fresh exprIds — they are BORN at the join, the same contract the
  * column-API builder sets); interval bounds cast to the node's
  * LongType contract (any integral input works from SQL).
  */
object ResolveGraftAsOfJoin extends Rule[LogicalPlan] {

  private def attr(tag: String, p: LogicalPlan, n: String): Attribute =
    p.output.filter(a => conf.resolver(a.name, n)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"$tag: column `$n` not found among " +
          p.output.map(_.name).mkString("(", ", ", ")"))
      case many => throw new IllegalArgumentException(
        s"$tag: column `$n` is ambiguous: " + many.mkString("[", ", ", "]"))
    }

  private def asLong(a: Attribute): org.apache.spark.sql.catalyst.expressions.Expression =
    if (a.dataType == org.apache.spark.sql.types.LongType) a
    else org.apache.spark.sql.catalyst.expressions.Cast(a,
      org.apache.spark.sql.types.LongType)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case UnresolvedAsOfJoin(l, r, lk, rk, lt, rt, fwd)
          if l.resolved && r.resolved =>
        val outAttrs = r.output.map(a =>
          AttributeReference(a.name, a.dataType, nullable = true)())
        AsOfJoinNode(l, r, attr("ASOF JOIN", l, lk), attr("ASOF JOIN", r, rk),
          attr("ASOF JOIN", l, lt), attr("ASOF JOIN", r, rt),
          rightValues = r.output, outAttrs = outAttrs, forward = fwd)
      case UnresolvedIntervalJoin(l, r, lk, rk, ls, le, rs, re)
          if l.resolved && r.resolved =>
        val t = "INTERVAL JOIN"
        IntervalJoinNode(l, r, attr(t, l, lk), attr(t, r, rk),
          asLong(attr(t, l, ls)), asLong(attr(t, l, le)),
          asLong(attr(t, r, rs)), asLong(attr(t, r, re)))
    }
}
