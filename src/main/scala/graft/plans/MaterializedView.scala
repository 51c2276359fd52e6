package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative MATERIALIZED VIEWs over the snapshot store — the batch
  * layer of the reference's lambda architecture (its Spark jobs each
  * recompute one fixed "batch view" per run; cf. `batch_processing.py`
  * in the reference, which re-aggregates the full master dataset) as a
  * first-class, INCREMENTALLY-maintained SQL object:
  *
  * {{{
  *   CREATE MATERIALIZED VIEW daily AS
  *     SELECT d, count(*) AS n, sum(p) AS sp FROM facts GROUP BY d
  *   REFRESH MATERIALIZED VIEW daily          -- CDF-driven, O(delta)
  *   REFRESH MATERIALIZED VIEW daily FULL     -- forced recompute
  * }}}
  *
  * The MV is itself a registered graft table (SELECTable, versioned,
  * time-travelable); its definition persists in the durable catalog's
  * binding properties (`mv.sql`, `mv.source`, `mv.synced`, `mv.mode`),
  * so a restarted JVM refreshes yesterday's views by name.
  *
  * Maintenance strategy: AFFECTED-GROUP RECOMPUTE, not delta
  * arithmetic. Each refresh reads the source's changed rows since the
  * last refresh once, as [[graft.sources.SnapshotStore.signedDelta]]
  * (the pre- and post-images of every row whose visibility changed:
  * added/removed dirs + deletion-vector keys — O(delta), never a
  * full-snapshot scan); the distinct group tuples touched by those rows
  * are recomputed FROM THE CURRENT SNAPSHOT restricted to exactly those
  * groups, and groups that vanish are tombstoned. Recompute-based
  * maintenance is exact for EVERY aggregate the defining SQL can spell
  * (min/max/avg/count(DISTINCT …)/HAVING — not just the additive
  * family), and it is IDEMPOTENT: a refresh that crashes after the MV
  * commit but before the synced-version bump simply re-applies the
  * same window next time and converges, no ledger needed. Additive
  * aggregates fold the same delta's signs instead (the additive path
  * below); a delta the store refuses (vacuumed base, a schema-era
  * change, vectors keyed by two columns across a window that removed
  * vectors) recomputes the whole view.
  *
  * Three shapes, classified from the defining SQL:
  *  - `agg`  — `SELECT … FROM <one graft table> [WHERE …] GROUP BY …
  *    [HAVING …]`: incremental per affected group (single-column
  *    groups upsert through the file-pruned keyed merge; multi-column
  *    groups rebuild the O(groups) MV as keep ∪ recomputed in one
  *    overwrite commit — the WIN is never re-scanning the fact table,
  *    not avoiding a small MV rewrite);
  *  - `spj`  — select-project-filter over one KEYED graft table with
  *    the key projected: incremental per changed key through the keyed
  *    merge with tombstones (rows deleted or filtered out);
  *  - `full` — anything else (joins, subqueries, windows, set ops):
  *    REFRESH re-runs the defining query wholesale. Always correct;
  *    the single-source version check still short-circuits a no-op.
  *
  * Classification is CONSERVATIVE: any shape the incremental engine
  * cannot prove it maintains exactly demotes to `full` — never a
  * silently-wrong incremental result.
  */
object MaterializedView {

  import GraftSqlParser.{Id, cleanIdent, quoteIdent, splitTopLevel,
    topLevelKw, validateTableName}

  private[plans] val SqlProp = "mv.sql"
  private[plans] val SourceProp = "mv.source"
  private[plans] val SyncedProp = "mv.synced"
  private[plans] val ModeProp = "mv.mode"

  /** DML statements against an MV refuse: a direct write would
    * silently diverge the stored rows from the defining query, and the
    * incremental refresh — which reconciles only AFFECTED groups/keys
    * — would never repair the untouched ones. (The refresh engine
    * itself writes through the store API, not the statement tier, so
    * maintenance is unaffected; content-preserving maintenance —
    * OPTIMIZE, VACUUM, ANALYZE — stays allowed.)
    */
  private[plans] def requireWritable(tag: String, name: String): Unit =
    require(!GraftTableRegistry.lookupProps(name).contains(SqlProp),
      s"$tag: `$name` is a MATERIALIZED VIEW — it is maintained by " +
        "REFRESH MATERIALIZED VIEW and cannot be written directly; " +
        s"DROP MATERIALIZED VIEW $name to detach it from its definition")

  /** One select item: its expression SQL and its output name (the
    * trailing alias, or the column name for a bare reference; None for
    * an unaliased computed item).
    */
  private final case class Item(exprSql: String, name: Option[String])

  private[plans] sealed trait Shape { def mode: String }
  private[plans] final case class AggShape(
      selectSql: String, src: String, srcAlias: Option[String],
      whereSql: Option[String], groupSql: String, havingSql: Option[String],
      groups: Seq[(String, String)] /* (exprSql, outName) */)
      extends Shape { def mode = "agg" }
  private[plans] final case class SpjShape(
      selectSql: String, src: String, srcAlias: Option[String],
      whereSql: Option[String], key: String)
      extends Shape { def mode = "spj" }
  private[plans] case object FullShape extends Shape { def mode = "full" }

  private val AnyWs = """(?s)^\s""".r
  private val ByLa = """(?is)^\s+BY\b""".r
  private val ParenLa = """(?s)^\s*\(""".r
  private val FromRelRe =
    ("""(?is)^\s*(""" + Id + """)(?:\s+(?:AS\s+)?(\w+))?\s*$""").r
  private val AliasRe =
    """(?is)^(.+?)\s+AS\s+(\w+|`(?:[^`]|``)+`)\s*$""".r
  private val AggFnRe =
    ("""(?i)\b(sum|count|avg|mean|min|max|stddev|stddev_samp|stddev_pop|""" +
      """variance|var_samp|var_pop|collect_list|collect_set|first|last|""" +
      """any_value|approx_count_distinct|percentile|percentile_approx|""" +
      """median|mode|corr|covar_samp|covar_pop|skewness|kurtosis|""" +
      """bit_and|bit_or|bit_xor|bool_and|bool_or|array_agg|hll_sketch_agg)""" +
      """\s*\(""").r

  private def norm(s: String): String =
    s.replaceAll("\\s+", " ").trim.toLowerCase

  private def parseItem(it: String): Item = it match {
    case AliasRe(e, a) => Item(e.trim, Some(cleanIdent(a)))
    case _ if it.trim.matches("^" + Id + "$") =>
      Item(it.trim, Some(cleanIdent(it.trim).split('.').last))
    case _ => Item(it.trim, None)
  }

  /** Classify a defining query into a maintainable shape — or
    * [[FullShape]] whenever any part of it falls outside what the
    * incremental engine provably maintains.
    */
  private[plans] def classify(sql: String): Shape = {
    val t = sql.trim.stripSuffix(";").trim
    if ("""(?is)^SELECT\s""".r.findFirstIn(t).isEmpty) return FullShape
    // conservative structural gates: subqueries anywhere (even inside
    // a string literal — over-demotion is safe), top-level operators
    // the group recompute cannot scope, leading DISTINCT
    if ("""(?is)\(\s*SELECT\b""".r.findFirstIn(t).nonEmpty) return FullShape
    if ("""(?is)^\s*SELECT\s+DISTINCT\b""".r.findFirstIn(t).nonEmpty)
      return FullShape
    val fullKws = Seq("JOIN" -> AnyWs, "UNION" -> AnyWs,
      "INTERSECT" -> AnyWs, "EXCEPT" -> AnyWs, "MINUS" -> AnyWs,
      "LIMIT" -> AnyWs, "ORDER" -> ByLa, "WINDOW" -> AnyWs,
      "LATERAL" -> AnyWs, "PIVOT" -> ParenLa, "UNPIVOT" -> ParenLa,
      "QUALIFY" -> AnyWs, "DISTRIBUTE" -> ByLa, "SORT" -> ByLa,
      "CLUSTER" -> ByLa, "TABLESAMPLE" -> ParenLa, "OVER" -> ParenLa,
      "VALUES" -> ParenLa)
    if (fullKws.exists { case (k, la) => topLevelKw(t, k, la).nonEmpty })
      return FullShape
    val fromAt = topLevelKw(t, "FROM", AnyWs)
    if (fromAt.size != 1) return FullShape
    val whereAt = topLevelKw(t, "WHERE", AnyWs)
    val groupAt = topLevelKw(t, "GROUP", ByLa)
    val havingAt = topLevelKw(t, "HAVING", AnyWs)
    if (whereAt.size > 1 || groupAt.size > 1 || havingAt.size > 1)
      return FullShape
    val end = t.length
    val fromEndsAt =
      (whereAt ++ groupAt ++ havingAt).sorted.headOption.getOrElse(end)
    // clause ORDER must be FROM < WHERE < GROUP < HAVING — anything
    // else is either malformed (let the full path surface the parse
    // error) or a shape this decomposition would mis-slice
    if (whereAt.exists(w => w < fromAt.head || groupAt.exists(_ < w) ||
          havingAt.exists(_ < w)) ||
        groupAt.exists(g => g < fromAt.head || havingAt.exists(_ < g)) ||
        havingAt.exists(_ < fromAt.head))
      return FullShape
    val selectSql = t.substring("SELECT".length, fromAt.head).trim
    val fromSql = t.substring(fromAt.head + "FROM".length, fromEndsAt)
    val whereSql = whereAt.headOption.map { w =>
      t.substring(w + "WHERE".length,
        (groupAt ++ havingAt).sorted.headOption.getOrElse(end)).trim
    }.filter(_.nonEmpty)
    val groupSql = groupAt.headOption.map { g =>
      t.substring(g, havingAt.headOption.getOrElse(end))
        .replaceFirst("""(?is)^GROUP\s+BY\s+""", "").trim
    }
    val havingSql = havingAt.headOption
      .map(h => t.substring(h + "HAVING".length, end).trim)
      .filter(_.nonEmpty)
    val (src, alias) = fromSql match {
      case FromRelRe(s, a) => (cleanIdent(s), Option(a))
      case _ => return FullShape
    }
    if (GraftTableRegistry.lookup(src).isEmpty) return FullShape
    val items = splitTopLevel(selectSql).map(parseItem)
    if (items.exists(_.exprSql == "*")) return FullShape
    groupSql match {
      case Some(g) =>
        // resolve every GROUP BY token to a (source expression, MV
        // output column) pair: positional, select-alias, or textual
        // expression match — anything unresolvable demotes to full
        val groups = splitTopLevel(g).map { tok =>
          val byPos = tok.trim match {
            case p if p.matches("""\d+""") =>
              items.lift(p.toInt - 1)
            case _ => None
          }
          val byExpr = items.find(i => norm(i.exprSql) == norm(tok))
          val byAlias = items.find(_.name.exists(
            _.equalsIgnoreCase(cleanIdent(tok.trim))))
          byPos.orElse(byExpr).orElse(byAlias) match {
            case Some(Item(e, Some(n))) => (e, n)
            case _ => return FullShape
          }
        }
        if (groups.map(_._2.toLowerCase).distinct.size != groups.size)
          return FullShape
        // the refresh-side semi-join evaluates each group expression
        // against the BARE source read (no relation alias in scope) —
        // a qualified spelling (`t.c`) that only resolves under the
        // FROM alias demotes rather than failing mid-refresh. Plan-only
        // (select on an unexecuted read), zero jobs.
        if (scala.util.Try {
          val (st, vw) = GraftTableRegistry.required("MATERIALIZED VIEW", src)
          st.read(vw).select(groups.map(gr => expr(gr._1)): _*)
        }.isFailure) return FullShape
        AggShape(selectSql, src, alias, whereSql, g, havingSql, groups)
      case None =>
        if (AggFnRe.findFirstIn(selectSql).nonEmpty) return FullShape
        val key = GraftTableRegistry.lookupKey(src).getOrElse(
          return FullShape)
        // the key must survive projection under its own name, as a
        // plain reference — that is what tombstones join back on
        val keyOk = items.exists(i => i.name.exists(_.equalsIgnoreCase(key)) &&
          i.exprSql.trim.matches("^" + Id + "$") &&
          cleanIdent(i.exprSql.trim).split('.').last.equalsIgnoreCase(key))
        if (!keyOk) return FullShape
        SpjShape(selectSql, src, alias, whereSql, key)
    }
  }

  /** The registered graft tables a full-shape defining query reads —
    * used only to track a single source's version for no-op refresh
    * detection (zero or several sources ⇒ every refresh recomputes).
    */
  private def registeredSources(sql: String): Seq[String] = {
    val RelRe = ("""(?is)\b(?:FROM|JOIN)\s+(""" + Id + """)""").r
    RelRe.findAllMatchIn(sql).map(m => cleanIdent(m.group(1)))
      .toSeq.distinct.filter(GraftTableRegistry.lookup(_).nonEmpty)
  }

  private def reassemble(selectSql: String, tmp: String, src: String,
                         srcAlias: Option[String], whereSql: Option[String],
                         groupSql: Option[String],
                         havingSql: Option[String]): String =
    s"SELECT $selectSql FROM $tmp AS " +
      quoteIdent(srcAlias.getOrElse(src)) +
      whereSql.fold("")(w => s" WHERE $w") +
      groupSql.fold("")(g => s" GROUP BY $g") +
      havingSql.fold("")(h => s" HAVING $h")

  private def maxIncremental(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.mv.maxIncremental")
      .map(_.toLong).getOrElse(200000L)

  // unique per invocation: two refreshes racing on one MV (or one MV's
  // rehab inside another's refresh) must not clobber each other's
  // session-scoped temp view between registration and read
  private def tmpName(name: String): String =
    "graft_mv_tmp_" + name.replaceAll("\\W", "_") + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  // ------------------------------------------------------------ create

  /** `orReplace` REDEFINES: an existing binding or on-disk view is
    * overwritten by a fresh seed commit (every prior snapshot stays
    * time-travelable until VACUUM — the same REPLACE lifecycle as
    * CREATE OR REPLACE TABLE). There is deliberately NO adopt-without-
    * recompute path: an adopted MV whose on-disk content matched a
    * DIFFERENT definition would incrementally refresh from a wrong
    * base forever — the replay recipe SHOW CREATE emits is the OR
    * REPLACE form, which recomputes.
    */
  def create(spark: SparkSession, name: String, definingSql: String,
             location: Option[String], orReplace: Boolean = false)
      : Seq[Row] = {
    validateTableName(name)
    def norm(p: String) =
      java.nio.file.Paths.get(p).toAbsolutePath.normalize
    val existing = GraftTableRegistry.lookup(name)
    if (!orReplace) require(existing.isEmpty,
      s"CREATE MATERIALIZED VIEW $name: already registered — " +
        s"DROP MATERIALIZED VIEW $name first, or use " +
        "CREATE OR REPLACE MATERIALIZED VIEW")
    existing.foreach { case (st, vw) =>
      require(vw == name,
        s"CREATE OR REPLACE MATERIALIZED VIEW $name: the binding's " +
          s"store view is `$vw` — a divergent view name replaces via " +
          "the Scala API")
      location.foreach { l =>
        require(norm(l) == norm(st.root),
          s"CREATE OR REPLACE MATERIALIZED VIEW $name: LOCATION '$l' " +
            s"conflicts with the registered root '${st.root}'")
      }
    }
    val root = existing.map(_._1.root).orElse(location)
      .orElse(spark.conf.getOption("spark.graft.store.root"))
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $name: no store root — add " +
          "LOCATION '<path>' or set spark.graft.store.root"))
    val store = existing.map(_._1)
      .getOrElse(new graft.sources.SnapshotStore(spark, root))
    if (!orReplace) require(store.versions(name).isEmpty,
      s"CREATE MATERIALIZED VIEW $name: a store view `$name` already " +
        s"exists under $root — CREATE OR REPLACE MATERIALIZED VIEW " +
        "redefines it")
    var shape = classify(definingSql)
    val source = shape match {
      case a: AggShape => Some(a.src)
      case s: SpjShape => Some(s.src)
      case FullShape => registeredSources(definingSql) match {
        case Seq(one) => Some(one)
        case _ => None
      }
    }
    // pin the source version BEFORE the seed runs: a source commit
    // racing the seed scan lands either in the seed (and the first
    // refresh recomputes its groups — idempotent) or after it (and the
    // first refresh picks it up); pinning after the seed could record
    // a version the seed never saw and silently skip its window
    val synced = source.map { s =>
      val (st, v) = GraftTableRegistry.required("CREATE MATERIALIZED VIEW", s)
      st.versions(v).lastOption.getOrElse(0L)
    }
    val seed = spark.sql(definingSql)
    // output-schema validation: the maintenance columns must exist
    // under the names classification derived — anything else demotes
    shape = shape match {
      case a: AggShape
          if !a.groups.forall(g => seed.columns.exists(
            _.equalsIgnoreCase(g._2))) => FullShape
      case s: SpjShape
          if !seed.columns.exists(_.equalsIgnoreCase(s.key)) => FullShape
      case other => other
    }
    val statsCols = shape match {
      case a: AggShape => a.groups.map(_._2)
      case s: SpjShape => Seq(s.key)
      case FullShape => Nil
    }
    val v = store.commit(name, seed, overwrite = true, statsCols = statsCols)
    val keyOpt = shape match {
      case s: SpjShape => Some(s.key)
      case a: AggShape if a.groups.size == 1 => Some(a.groups.head._2)
      case _ => None
    }
    keyOpt match {
      case Some(k) => GraftTableRegistry.register(name, store, name, k)
      case None => GraftTableRegistry.register(name, store, name)
    }
    GraftTableRegistry.registerProps(name, Map(
      SqlProp -> definingSql.trim,
      ModeProp -> shape.mode,
      SourceProp -> source.getOrElse(""),
      SyncedProp -> synced.getOrElse(-1L).toString))
    GraftTableRegistry.persistBinding(spark, name)
    Seq(Row(name, shape.mode, v))
  }

  // ----------------------------------------------------------- refresh

  def refresh(spark: SparkSession, name: String, force: Boolean): Seq[Row] = {
    val (mvStore, mvView) =
      GraftTableRegistry.required("REFRESH MATERIALIZED VIEW", name)
    val ps = GraftTableRegistry.lookupProps(name)
    val sql = ps.getOrElse(SqlProp, throw new IllegalArgumentException(
      s"REFRESH MATERIALIZED VIEW $name: `$name` is a table, not a " +
        "materialized view (no stored definition)"))
    val source = ps.get(SourceProp).filter(_.nonEmpty)
    val synced = ps.get(SyncedProp).map(_.toLong).getOrElse(-1L)
    val srcState = source.flatMap(GraftTableRegistry.lookup)
    val cur = srcState.map { case (st, v) =>
      st.versions(v).lastOption.getOrElse(0L) }
    if (!force && source.nonEmpty && srcState.nonEmpty && cur.contains(synced))
      return Seq(Row(name, "noop", synced, synced, 0L,
        mvStore.versions(mvView).lastOption.getOrElse(0L)))

    def bumpSynced(to: Long): Unit = {
      GraftTableRegistry.registerProps(name,
        GraftTableRegistry.lookupProps(name) + (SyncedProp -> to.toString))
      GraftTableRegistry.persistBinding(spark, name)
    }
    def fullRecompute(mode: String): Seq[Row] = {
      val df = spark.sql(sql)
      val shape = classify(sql)
      val statsCols = shape match {
        case a: AggShape => a.groups.map(_._2)
        case s: SpjShape => Seq(s.key)
        case FullShape => Nil
      }
      val v = mvStore.commit(mvView, df, overwrite = true,
        statsCols = statsCols)
      bumpSynced(cur.getOrElse(-1L))
      Seq(Row(name, mode, synced, cur.getOrElse(-1L), -1L, v))
    }

    if (force) return fullRecompute("full_forced")
    val shape = classify(sql)
    if (shape == FullShape || synced < 0 || srcState.isEmpty)
      return fullRecompute("full")
    val (srcStore, srcView) = srcState.get
    val toV = cur.get
    // crash rescue for the NON-idempotent additive path: each additive
    // commit fences itself with the source version it brings the MV to
    // (txn = toV on the MV view — user txns can't land there, the MV
    // is write-protected), so a refresh that died between the commit
    // and the catalog bump resumes from the FENCED version instead of
    // re-applying the same delta arithmetic
    val fenced = mvStore.appliedTxns(mvView)
    val effSynced = math.max(synced, fenced.foldLeft(-1L)(math.max))
    if (effSynced >= toV) {
      bumpSynced(toV)
      return Seq(Row(name, "noop", effSynced, toV, 0L,
        mvStore.versions(mvView).lastOption.getOrElse(0L)))
    }
    // the window's one delta read: the additive fold consumes its
    // signs, the group and key recomputes its rows (pre- and
    // post-images of every row whose visibility changed)
    val delta = srcStore.signedDelta(srcView, effSynced, toV)
      .getOrElse(return fullRecompute("full"))
    shape match {
      case a: AggShape =>
        additiveRefresh(spark, name, mvStore, mvView, srcStore, srcView,
          a, delta, effSynced, toV, bumpSynced) match {
          case Some(rows) => return rows
          case None => // not additive-maintainable — group recompute
        }
      case _ =>
    }
    val tmp = tmpName(name)

    shape match {
      case AggShape(sel, src, alias, whereSql, groupSql, havingSql, groups) =>
        // distinct group tuples of every changed row — the WHERE is
        // deliberately NOT applied (an update moving a row out of the
        // filter must still dirty its group); materialized once
        val affected = delta.select(groups.map { case (e, n) =>
          expr(e).as(n) }: _*).distinct().localCheckpoint()
        // tighten the recompute scan BEFORE the semi-join: a semi-join
        // alone pushes nothing into the parquet reader, so for
        // bare-column group keys a min/max range predicate rides down
        // as a pushable filter; with a CLUSTER BY layout the group
        // re-scan then prunes row groups instead of decoding the table.
        // NULL group values keep an IS NULL arm (NULL never matches
        // BETWEEN); expression-valued groups skip (nothing pushable).
        // Purely a superset filter — the semi-join stays the exact
        // restriction. One probe job over the checkpointed groups reads
        // everything the branches need: the group count, those ranges
        // and the NULL-group test the merge-vs-overwrite choice reads.
        val bare = groups.filter(_._1.trim.matches("""\w+"""))
        val gname = groups.head._2
        val probeAggs = Seq(count(lit(1)), count(when(col(gname).isNull, 1))) ++
          bare.flatMap { case (_, n) => Seq(min(col(n)), max(col(n))) }
        val pr = affected.agg(probeAggs.head, probeAggs.tail: _*).head()
        val nAff = pr.getLong(0)
        if (nAff == 0) { // metadata-only commits (fences, syncpoints)
          bumpSynced(toV)
          return Seq(Row(name, "incremental_agg", effSynced, toV, 0L,
            mvStore.versions(mvView).lastOption.getOrElse(0L)))
        }
        if (nAff > maxIncremental(spark))
          return fullRecompute("full") // mass churn: recompute is cheaper
        // recompute exactly the dirty groups from the CURRENT snapshot:
        // semi-join the source on its group expressions (renamed probe
        // columns so an output alias matching a source column cannot
        // make the condition ambiguous)
        val probe = affected.select(groups.map { case (_, n) =>
          col(n).as(s"_mv_g_$n") }: _*)
        val rangePred = bare.zipWithIndex.map { case ((e, _), i) =>
          val (lo, hi) = (pr.get(2 + 2 * i), pr.get(3 + 2 * i))
          if (lo == null) col(e).isNull
          else col(e).isNull || col(e).between(lit(lo), lit(hi))
        }.reduceOption(_ && _).getOrElse(lit(true))
        val srcDf = srcStore.read(srcView, Some(toV)).where(rangePred)
        val cond = groups.map { case (e, n) =>
          expr(e) <=> probe(s"_mv_g_$n") }.reduce(_ && _)
        val restricted = srcDf.join(broadcast(probe), cond, "left_semi")
        restricted.createOrReplaceTempView(tmp)
        try {
          val recomputed = spark.sql(reassemble(sel, tmp, src, alias,
            whereSql, Some(groupSql), havingSql)).localCheckpoint()
          val mvSchema = mvStore.read(mvView).schema
          val singleKeyable = groups.size == 1 && pr.getLong(1) == 0
          val v =
            if (singleKeyable) {
              // keyed path: upserts + tombstones through the
              // file-pruned merge — O(affected groups) write
              val ups = recomputed
                .select(mvSchema.map(f => col(f.name)): _*)
                .withColumn("_graft_mv_del", lit(false))
              val tomb = affected
                .join(recomputed.select(col(gname)), Seq(gname), "left_anti")
                .select(mvSchema.map(f =>
                  if (f.name.equalsIgnoreCase(gname))
                    col(gname).cast(f.dataType).as(f.name)
                  else lit(null).cast(f.dataType).as(f.name)): _*)
                .withColumn("_graft_mv_del", lit(true))
              mvStore.mergeInto(mvView, ups.unionByName(tomb), gname,
                deleteCol = Some("_graft_mv_del"),
                statsCols = Seq(gname))
            } else {
              // multi-column groups (or NULL group values): rebuild the
              // O(groups) MV as keep ∪ recomputed in one overwrite —
              // null-safe on every group column so a NULL-valued group
              // still replaces
              val old = mvStore.read(mvView)
              val anti = groups.map { case (_, n) =>
                old(n) <=> probe(s"_mv_g_$n") }.reduce(_ && _)
              val next = old.join(broadcast(probe), anti, "left_anti")
                .unionByName(recomputed.select(old.columns.map(col): _*))
              mvStore.commit(mvView, next, overwrite = true,
                statsCols = groups.map(_._2))
            }
          bumpSynced(toV)
          Seq(Row(name, "incremental_agg", effSynced, toV, nAff, v))
        } finally spark.catalog.dropTempView(tmp)

      case SpjShape(sel, src, alias, whereSql, key) =>
        val dirty = delta.select(col(key)).distinct().localCheckpoint()
        val nKeys = dirty.count()
        if (nKeys == 0) {
          bumpSynced(toV)
          return Seq(Row(name, "incremental_spj", effSynced, toV, 0L,
            mvStore.versions(mvView).lastOption.getOrElse(0L)))
        }
        if (nKeys > maxIncremental(spark)) return fullRecompute("full")
        val restricted = srcStore.read(srcView, Some(toV))
          .join(broadcast(dirty), Seq(key), "left_semi")
        restricted.createOrReplaceTempView(tmp)
        try {
          val recomputed = spark.sql(reassemble(sel, tmp, src, alias,
            whereSql, None, None)).localCheckpoint()
          val mvSchema = mvStore.read(mvView).schema
          val ups = recomputed.select(mvSchema.map(f => col(f.name)): _*)
            .withColumn("_graft_mv_del", lit(false))
          val tomb = dirty
            .join(recomputed.select(col(key)), Seq(key), "left_anti")
            .select(mvSchema.map(f =>
              if (f.name.equalsIgnoreCase(key))
                col(key).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)): _*)
            .withColumn("_graft_mv_del", lit(true))
          val v = mvStore.mergeInto(mvView, ups.unionByName(tomb), key,
            deleteCol = Some("_graft_mv_del"), statsCols = Seq(key))
          bumpSynced(toV)
          Seq(Row(name, "incremental_spj", effSynced, toV, nKeys, v))
        } finally spark.catalog.dropTempView(tmp)

      case FullShape => fullRecompute("full") // unreachable; guarded above
    }
  }

  // ---------------------------------------------------- additive path

  private val CountStarRe = """(?is)^count\s*\(\s*(?:\*|1)\s*\)$""".r
  private val CountRe = """(?is)^count\s*\((.+)\)$""".r
  private val SumRe = """(?is)^sum\s*\((.+)\)$""".r
  private val MinRe = """(?is)^min\s*\((.+)\)$""".r
  private val MaxRe = """(?is)^max\s*\((.+)\)$""".r

  /** The ADDITIVE fast path: when every aggregate is `count(*)` /
    * `count(expr)` / `sum(expr)` / `min(expr)` / `max(expr)` (no
    * HAVING), the refresh folds the source's EXACT signed row delta
    * (`delta`, [[graft.sources.SnapshotStore.signedDelta]] over the
    * window — the frame [[refresh]] reads once) straight into the
    * stored aggregates — ZERO base-table reads, not even the affected
    * groups' re-scan. Returns None (→ the group-recompute path) when
    * the shape, the delta, or a type rules it out.
    *
    * `min`/`max` fold only over an INSERT-ONLY window (any −1 delta
    * row demotes): a removal can take the extremum with it, and the
    * stored value cannot answer what the next one is. That window IS
    * the streaming lambda case — blind appends folding daily
    * high/low/count/sum with zero base reads.
    *
    * Guard rails that keep it EXACT, not approximately right:
    *  - `sum` columns must be integral or decimal in the MV schema —
    *    float addition is not associative, so a delta-folded double
    *    sum would drift from the recompute the oracle runs; float sums
    *    stay on the recompute path;
    *  - at least one `count(*)` must be projected — it is the group's
    *    liveness: a group folding to n = 0 tombstones, and n < 0 fails
    *    loudly (an impossible state, not a quiet corruption);
    *  - SQL `sum` is NULL (not 0) over zero non-null contributions, and
    *    plain arithmetic cannot tell "sum is now 0" from "the last
    *    non-null contributor left" — groups whose folded sum hits
    *    EXACTLY 0 (with n > 0) are re-computed from the restricted
    *    base instead of trusting the fold (bounded: only those groups);
    *  - the fold is NOT idempotent, so the commit carries txn = toV
    *    (the source version it brings the MV to) — a replay of the
    *    same window is fenced out by `mergeIntoOnce`/`appliedTxns`, and
    *    a crash between the commit and the catalog bump resumes from
    *    the fenced version (the `effSynced` rescue in [[refresh]]).
    */
  private def additiveRefresh(spark: SparkSession, name: String,
      mvStore: graft.sources.SnapshotStore, mvView: String,
      srcStore: graft.sources.SnapshotStore, srcView: String,
      shape: AggShape, delta: DataFrame, fromV: Long, toV: Long,
      bumpSynced: Long => Unit): Option[Seq[Row]] = {
    val AggShape(sel, src, alias, whereSql, groupSql, havingSql, groups) =
      shape
    if (havingSql.nonEmpty) return None
    val groupNames = groups.map(_._2.toLowerCase).toSet
    val aggItems = splitTopLevel(sel).map(parseItem)
      .filterNot(_.name.exists(n => groupNames.contains(n.toLowerCase)))
    if (aggItems.isEmpty || aggItems.exists(_.name.isEmpty)) return None
    val mvSchema = mvStore.read(mvView).schema
    def mvType(n: String) =
      mvSchema.find(_.name.equalsIgnoreCase(n)).map(_.dataType)
    sealed trait Kind
    case object NStar extends Kind
    final case class NExpr(e: String) extends Kind
    final case class SExpr(e: String) extends Kind
    final case class MinE(e: String) extends Kind
    final case class MaxE(e: String) extends Kind
    // the regex capture is greedy, so `sum(a) + sum(b)` "matches" with
    // a nonsense inner capture — demand balanced parens (counting raw
    // chars: a paren inside a string literal over-demotes, which is
    // safe); DISTINCT aggregation is NOT additive; and the capture must
    // actually parse as one expression before it reaches an agg builder
    def foldable(e: String): Boolean = {
      var depth = 0
      var ok = true
      e.foreach { c =>
        if (c == '(') depth += 1
        else if (c == ')') { depth -= 1; if (depth < 0) ok = false }
      }
      ok && depth == 0 &&
        """(?is)^\s*distinct\b""".r.findFirstIn(e).isEmpty &&
        scala.util.Try(expr(e)).isSuccess
    }
    val kinds: Seq[(String, Kind)] = aggItems.map { it =>
      val n = it.name.get
      it.exprSql.trim match {
        case CountStarRe() => n -> NStar
        case CountRe(e) if foldable(e) => n -> NExpr(e)
        case SumRe(e) if foldable(e) =>
          import org.apache.spark.sql.types._
          mvType(n) match {
            case Some(ByteType | ShortType | IntegerType | LongType) |
                 Some(_: DecimalType) => n -> SExpr(e)
            case _ => return None // float/unknown sums: recompute path
          }
        // min/max are exact for ANY orderable type (no reassociation),
        // but only over an INSERT-ONLY window — gated below
        case MinRe(e) if foldable(e) && mvType(n).nonEmpty => n -> MinE(e)
        case MaxRe(e) if foldable(e) && mvType(n).nonEmpty => n -> MaxE(e)
        case _ => return None
      }
    }
    val nCol = kinds.collectFirst { case (n, NStar) => n }
      .getOrElse(return None) // liveness column required
    // the defining WHERE commutes with the signed multiset — apply it
    // to the delta rows themselves; resolution failures demote
    val d = scala.util.Try(
      whereSql.map(w => delta.where(expr(w))).getOrElse(delta))
      .getOrElse(return None)
    val sign = col("_graft_sign")
    val hasMinMax = kinds.exists(k =>
      k._2.isInstanceOf[MinE] || k._2.isInstanceOf[MaxE])
    // min/max fold exactly ONLY over an insert-only window: a removal
    // can take the extremum with it, and the stored value alone cannot
    // say what the next one is. The −1 detector rides IN the same
    // delta aggregation (one scan, checked on the checkpointed result)
    // and any removal demotes to the group recompute.
    val deltaAggs = kinds.map {
      case (n, NStar) => sum(sign).cast("long").as(s"_d_$n")
      case (n, NExpr(e)) =>
        sum(when(expr(e).isNotNull, sign).otherwise(lit(0)))
          .cast("long").as(s"_d_$n")
      case (n, SExpr(e)) => sum(expr(e) * sign).as(s"_d_$n")
      case (n, MinE(e)) => min(when(sign > 0, expr(e))).as(s"_d_$n")
      case (n, MaxE(e)) => max(when(sign > 0, expr(e))).as(s"_d_$n")
    } ++ (if (hasMinMax)
      Seq(max(when(sign < 0, lit(1)).otherwise(lit(0))).as("_graft_neg"))
    else Nil)
    val deltaAgg = scala.util.Try(
      d.groupBy(groups.map { case (e, n) => expr(e).as(s"_g_$n") }: _*)
        .agg(deltaAggs.head, deltaAggs.tail: _*)
        .localCheckpoint()).getOrElse(return None)
    // one probe job over the checkpointed delta for everything the
    // branch logic needs — group count, the min/max removal detector,
    // and the NULL-group test the merge-vs-overwrite choice reads —
    // instead of the three separate actions (isEmpty + count + isEmpty)
    // this path used to submit per refresh
    val gname0 = groups.head._2
    val probeAggs = Seq(count(lit(1)).as("_n"),
      // coalesce: the aggs are NULL over an empty delta, and the row
      // accessors below must read well-typed ints on that branch too
      coalesce(if (hasMinMax) max(col("_graft_neg")) else lit(0),
        lit(0)).as("_neg"),
      coalesce(max(when(col(s"_g_$gname0").isNull, 1).otherwise(0)),
        lit(0)).as("_gnull"))
    val probeRow = deltaAgg.agg(probeAggs.head, probeAggs.tail: _*).head()
    if (hasMinMax && probeRow.getInt(1) == 1) return None
    val nTouched = probeRow.getLong(0)
    if (nTouched == 0) {
      bumpSynced(toV)
      return Some(Seq(Row(name, "incremental_add", fromV, toV, 0L,
        mvStore.versions(mvView).lastOption.getOrElse(0L))))
    }
    if (nTouched > maxIncremental(spark)) return None
    // fold: old MV rows for the touched groups (right-outer keeps
    // brand-new groups), null-safe on every group column
    val old = mvStore.read(mvView)
    val joinCond = groups.map { case (_, n) =>
      old(n) <=> deltaAgg(s"_g_$n") }.reduce(_ && _)
    val joined = old.join(broadcast(deltaAgg), joinCond, "right_outer")
    def folded(n: String, kind: Kind) = {
      val o = old(n)
      val dd = deltaAgg(s"_d_$n")
      kind match {
        case NStar | NExpr(_) =>
          val nn = coalesce(o, lit(0L)) + coalesce(dd, lit(0L))
          if (n == nCol)
            when(nn < 0, raise_error(concat(lit(
              s"REFRESH MATERIALIZED VIEW $name: group count folded " +
                "below zero — the stored view has diverged from the " +
                "source (was it written directly?); run REFRESH " +
                "MATERIALIZED VIEW "), lit(name), lit(" FULL")))
              .cast("long")).otherwise(nn)
              .cast(mvType(n).get).as(n)
          else nn.cast(mvType(n).get).as(n)
        case SExpr(_) =>
          when(o.isNull && dd.isNull, lit(null))
            .otherwise(coalesce(o.cast(mvType(n).get), lit(0)) +
              coalesce(dd.cast(mvType(n).get), lit(0)))
            .cast(mvType(n).get).as(n)
        // SQL min/max ignore NULLs: a NULL side yields the other (a
        // new group takes the delta's; an all-NULL delta keeps the old)
        case MinE(_) =>
          when(o.isNull, dd).when(dd.isNull, o)
            .otherwise(least(o, dd)).cast(mvType(n).get).as(n)
        case MaxE(_) =>
          when(o.isNull, dd).when(dd.isNull, o)
            .otherwise(greatest(o, dd)).cast(mvType(n).get).as(n)
      }
    }
    val gCols = groups.map { case (_, n) =>
      coalesce(old(n), deltaAgg(s"_g_$n")).as(n) }
    // coalesce picks the delta side for brand-new groups; for a
    // NULL-valued group both sides are NULL, which is the value itself
    val merged = joined.select(
      mvSchema.map { f =>
        groups.find(_._2.equalsIgnoreCase(f.name)) match {
          case Some((_, n)) => gCols(groups.indexWhere(_._2 == n))
          case None =>
            val (kn, kk) = kinds.find(_._1.equalsIgnoreCase(f.name))
              .getOrElse(return None) // a non-agg, non-group column?!
            folded(kn, kk)
        }
      }: _*).localCheckpoint()
    val nExpr = col(nCol)
    val sumCols = kinds.collect { case (n, SExpr(_)) => n }
    // null-safe: a NULL folded sum is the honest all-contributors-NULL
    // value, NOT a hazard — plain === would make the predicate NULL and
    // drop the group from clean AND tombs (losing its count update)
    val hazard = sumCols.map(n => col(n) <=> lit(0)).reduceOption(_ || _)
      .getOrElse(lit(false)) && nExpr > 0
    val hazardGroups = merged.where(hazard)
      .select(groups.map { case (_, n) => col(n) }: _*)
    val nHaz = hazardGroups.count()
    // groups whose folded sum landed EXACTLY on 0 re-verify against the
    // restricted base: 0 is the one value arithmetic cannot distinguish
    // from SQL's all-contributors-gone NULL
    val rehab: Option[DataFrame] =
      if (nHaz == 0) None
      else scala.util.Try {
        val probe = hazardGroups.select(groups.map { case (_, n) =>
          col(n).as(s"_mv_g_$n") }: _*)
        val srcDf = srcStore.read(srcView, Some(toV))
        val cond = groups.map { case (e, n) =>
          expr(e) <=> probe(s"_mv_g_$n") }.reduce(_ && _)
        val tmp = tmpName(name) + "_hz"
        srcDf.join(broadcast(probe), cond, "left_semi")
          .createOrReplaceTempView(tmp)
        try spark.sql(reassemble(sel, tmp, src, alias, whereSql,
          Some(groupSql), havingSql))
          .select(mvSchema.map(f => col(f.name)): _*).localCheckpoint()
        finally spark.catalog.dropTempView(tmp)
      }.toOption match {
        case None => return None // rehab failed: recompute path instead
        case some => some
      }
    val clean = merged.where(!hazard)
    val ups = rehab.fold(clean)(r => clean.unionByName(r))
      .where(nExpr > 0).withColumn("_graft_mv_del", lit(false))
    val tombs = merged.where(nExpr === 0)
      .select(mvSchema.map(f =>
        if (groups.exists(_._2.equalsIgnoreCase(f.name))) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
      .withColumn("_graft_mv_del", lit(true))
    val source = ups.unionByName(tombs)
    val gname = groups.head._2
    val singleKeyable = groups.size == 1 && probeRow.getInt(2) == 0
    val v =
      if (singleKeyable)
        mvStore.mergeIntoOnce(mvView, source, gname, txnId = toV,
          deleteCol = Some("_graft_mv_del"), statsCols = Seq(gname))
          .getOrElse(mvStore.versions(mvView).max) // raced replay: fenced
      else {
        // multi-column / NULL groups: keep ∪ folded in one overwrite,
        // fenced by the same txn for the crash/replay rescue
        val keepCond = groups.map { case (_, n) =>
          old(n) <=> deltaAgg(s"_g_$n") }.reduce(_ && _)
        val keep = old.join(broadcast(deltaAgg), keepCond, "left_anti")
        mvStore.commit(mvView,
          keep.unionByName(ups.drop("_graft_mv_del")),
          overwrite = true, statsCols = groups.map(_._2),
          txn = Some(toV))
      }
    bumpSynced(toV)
    Some(Seq(Row(name, "incremental_add", fromV, toV, nTouched, v)))
  }
}
