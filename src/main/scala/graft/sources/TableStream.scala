package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StreamingBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The ACID table AS a stream — `spark.readStream.format("graft-table")`
  * over a [[SnapshotStore]] view, the Delta-style table-stream the
  * reference's speed layer would read instead of raw Kafka re-parses
  * (its consumers re-read the raw topic because its store has no
  * incremental read; this source makes the COMMITTED table the topic).
  *
  * Offsets ARE committed snapshot versions: `getOffset` is the view's
  * latest manifest, `getBatch(a, b)` is [[SnapshotStore.readAppended]]
  * over `(a, b]` — deterministic (manifests are immutable) and
  * replayable from the checkpointed offset log, so a restarted query
  * re-emits nothing and misses nothing, with NO source-side state: the
  * store's manifest log doubles as the write-ahead log a streaming
  * source needs. Commit granularity = micro-batch granularity
  * (`maxVersionsPerTrigger` caps how many commits one batch absorbs).
  *
  * Two modes:
  *  - append (default): new rows per commit; a rewriting commit
  *    (OPTIMIZE/overwrite/merge) in the range fails loudly unless
  *    `ignoreRewrites` (Delta's `ignoreChanges` line — silent
  *    re-emission is worse than an error).
  *  - change feed (`changeFeed=true`, requires `keyColumns`): emits
  *    [[SnapshotStore.diff]] rows (`change_type` insert/update/delete
  *    with pre/post payloads) per version step, so downstream
  *    materializations can apply retractions — the streaming half of
  *    the CDC-to-MV loop (q241's batch feed, as a source).
  *
  * Options: `root`, `view` (required); `changeFeed`, `keyColumns`,
  * `startingVersion` (exclusive; default 0 = initial snapshot is the
  * first batch), `maxVersionsPerTrigger`, `maxBytesPerTrigger` (soft
  * byte cap per batch over the range's ADDED dirs — the rate limit
  * that matters at scale), `ignoreRewrites`. Sink side:
  * `mergeKey` (upsert by key), `deleteColumn` (with `mergeKey`: rows
  * flagged true DELETE their key — the CDC-tombstone apply),
  * `statsColumns`, `txnAppId`, `legacyTxnFence`.
  *
  * Built on the DataSource v1 streaming `Source` API deliberately: its
  * `getBatch` returns a DataFrame, so the store's existing reads
  * (manifest-recorded schema, deletion-vector anti-join, foreign refs)
  * compose unchanged; the v2 `MicroBatchStream` would force this
  * library to re-implement parquet row reading behind
  * `PartitionReader`. The schema is pinned at stream start (columns
  * added by later commits are dropped, columns removed read NULL —
  * restart the query to pick up a new schema, Delta's contract).
  */
class GraftTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The SINK half — `writeStream.format("graft-table")`: every
    * micro-batch lands as ONE txn-fenced store commit keyed by the
    * batch id, so sink-side exactly-once needs no foreachBatch
    * plumbing. Modes: Complete → a fenced overwrite commit; otherwise
    * `mergeKey` set → [[SnapshotStore.mergeIntoOnce]] (upsert by key —
    * required by Update mode, allowed in Append); plain Append →
    * [[SnapshotStore.appendOnce]]. With the source
    * half this makes the ACID table BOTH ends of a stream — table to
    * table with end-to-end exactly-once and zero user-side state.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val store = new SnapshotStore(sqlContext.sparkSession, param(parameters, "root"))
    val view = param(parameters, "view")
    val mergeKey = parameters.get("mergeKey")
    if (outputMode == OutputMode.Update())
      require(mergeKey.nonEmpty, "graft-table sink: Update mode requires 'mergeKey'")
    val stats = parameters.get("statsColumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // txn namespace: two independent queries (or a reset checkpoint)
    // share the raw 0,1,2… batch-id space — fencing on it alone would
    // silently skip the second writer's colliding ids. The Delta
    // (appId, version) shape: an explicit `txnAppId`, else the
    // query's checkpointLocation (stable across restarts of the SAME
    // query, distinct between queries), salts the fence.
    val ns = parameters.get("txnAppId").orElse(parameters.get("checkpointLocation"))
    val delCol = parameters.get("deleteColumn")
    require(delCol.isEmpty || mergeKey.nonEmpty,
      "graft-table sink: 'deleteColumn' requires 'mergeKey' (tombstones are keyed)")
    // Complete mode overwrites the table with the batch verbatim —
    // honoring tombstones there is a different (filtering) semantic;
    // refusing beats silently committing flag columns and dead rows
    require(delCol.isEmpty || outputMode != OutputMode.Complete(),
      "graft-table sink: 'deleteColumn' is a keyed-merge option — " +
        "Complete mode overwrites with the batch verbatim; drop the " +
        "option or use append/update with 'mergeKey'")
    // fold the durable catalog into the in-memory registry ONCE, so a
    // fresh-JVM stream into a CLUSTER BY table finds the declared
    // layout without anyone re-running CREATE (addBatch then consults
    // only the in-memory map per micro-batch). Folded from BOTH the
    // session conf root (bindings) and the sink's OWN root option —
    // an option-only-configured stream in a JVM with no session conf
    // must still see a layout another JVM declared
    graft.plans.GraftTableRegistry.bindings
    graft.plans.GraftTableRegistry.foldCatalog(param(parameters, "root"))
    new GraftTableSink(store, view, outputMode, mergeKey, stats, ns,
      legacyTxnFence = parameters.get("legacyTxnFence").exists(_.toBoolean),
      deleteCol = delCol)
  }

  private def param(parameters: Map[String, String], key: String): String =
    parameters.getOrElse(key,
      throw new IllegalArgumentException(s"graft-table source: option '$key' is required"))

  private def keyCols(parameters: Map[String, String]): Seq[String] =
    parameters.get("keyColumns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  private def streamSchema(store: SnapshotStore, view: String,
                           parameters: Map[String, String]): StructType =
    if (parameters.get("changeFeed").exists(_.toBoolean)) {
      val keys = keyCols(parameters)
      require(keys.nonEmpty, "graft-table changeFeed mode requires 'keyColumns'")
      val v = store.versions(view).max
      store.diff(view, v, v, keys).schema
    } else store.read(view).schema

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val store = new SnapshotStore(sqlContext.sparkSession, param(parameters, "root"))
    val view = param(parameters, "view")
    (s"graft-table:$view",
      schema.getOrElse(streamSchema(store, view, parameters)))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val store = new SnapshotStore(spark, param(parameters, "root"))
    val view = param(parameters, "view")
    new GraftTableSource(spark, store, view,
      changeFeed = parameters.get("changeFeed").exists(_.toBoolean),
      keyColumns = keyCols(parameters),
      fixedSchema = schema.getOrElse(streamSchema(store, view, parameters)),
      startingVersion = parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong),
      ignoreRewrites = parameters.get("ignoreRewrites").exists(_.toBoolean))
  }
}

class GraftTableSource(spark: SparkSession,
                       store: SnapshotStore,
                       view: String,
                       changeFeed: Boolean,
                       keyColumns: Seq[String],
                       fixedSchema: StructType,
                       startingVersion: Long,
                       maxVersionsPerTrigger: Option[Long],
                       maxBytesPerTrigger: Option[Long] = None,
                       ignoreRewrites: Boolean)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def schema: StructType = fixedSchema

  /** Version carried by an offset — after a restart the engine hands
    * back the checkpoint-log form ([[SerializedOffset]]), live batches
    * the typed one; both serialize as the bare version number.
    */
  private def ver(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  // ---- admission control (the FileStreamSource shape: a v1 Source
  // that ALSO implements the v2 admission interfaces, so rate limits
  // and Trigger.AvailableNow compose as multiple capped batches
  // instead of one unbounded one)

  // AvailableNow pin: versions committed AFTER query start are not
  // this run's problem — latestOffset never advances past it, and the
  // engine drains up to it in maxVersionsPerTrigger-sized steps
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(
      store.versions(view).lastOption.getOrElse(startingVersion))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  /** Next batch end for a batch starting (exclusive) at `startOffset`:
    * the latest committed version, clamped by the AvailableNow pin and
    * the per-trigger version cap (commits are the store's natural
    * batch unit — rate limiting counts them, not rows). `null` = no
    * new data, the engine's idle signal.
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(startOffset).map(ver).getOrElse(startingVersion)
    val vs = store.versions(view)
    if (vs.isEmpty) return null
    val pinned = availableNowEnd.fold(vs.last)(e => math.min(vs.last, e))
    val vEnd = maxVersionsPerTrigger.fold(pinned)(n => math.min(pinned, from + n))
    val end = maxBytesPerTrigger.fold(vEnd)(cap =>
      byteCappedEnd(vs, from, vEnd, cap))
    if (end <= from) null else LongOffset(end)
  }

  /** Walk committed versions in (from, vEnd], accumulating each
    * version's ADDED dir bytes — data dirs AND deletion-vector dirs
    * (a changeFeed stream's backlog can be all DV deletes; counting
    * them as zero would admit it unbounded). Driver-side manifest +
    * file listing only, no jobs; each version's manifest is read ONCE
    * (the dirs carry forward as the next step's predecessor — the
    * committed list is contiguous except below a vacuum horizon, where
    * the predecessor re-derives). Stops once the cumulative bytes
    * reach `maxBytesPerTrigger`, always admitting at least one version
    * — the soft-cap contract (a single over-cap commit must still make
    * progress). Bytes, not versions, are the unit that matters at
    * scale: one OPTIMIZE commit can be a thousand times a normal
    * append, and a version-count limit would admit it blindly.
    */
  private def byteCappedEnd(committed: Seq[Long], from: Long, vEnd: Long,
                            cap: Long): Long = {
    def allDirs(v: Long): Set[String] =
      (store.manifestDirs(view, Some(v)) ++ store.manifestDels(view, v)).toSet
    val pending = committed.filter(v => v > from && v <= vEnd)
    var cum = 0L
    var end = from
    var prevV = from
    var prevDirs: Set[String] =
      if (committed.contains(from)) allDirs(from) else Set.empty
    val it = pending.iterator
    while (it.hasNext && (end == from || cum < cap)) {
      val v = it.next()
      val prev =
        if (v == prevV + 1) prevDirs
        else if (committed.contains(v - 1)) allDirs(v - 1)
        else Set.empty[String]
      val dirs = allDirs(v)
      cum += dirs.diff(prev).toSeq.map(store.dirBytes(view, _)).sum
      prevV = v
      prevDirs = dirs
      end = v
    }
    end
  }

  // legacy v1 polling path (kept for completeness — the engine prefers
  // the admission-control path above when both are present)
  override def getOffset: Option[OffsetV1] = {
    val vs = store.versions(view)
    if (vs.isEmpty) None else Some(LongOffset(vs.max))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(o => ver(o)).getOrElse(startingVersion)
    val to = ver(end)
    val batch =
      if (to <= from) emptyBatch
      else if (changeFeed) cdfBatch(from, to)
      else store.readAppended(view, from, to, allowRewrites = ignoreRewrites)
    StreamingBridge.asStreaming(align(batch))
  }

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], fixedSchema)

  /** Change-feed batch: manifest-diff between the offsets; ONLY the
    * initial range (`from <= 0` — a fresh stream with no starting
    * version) surfaces snapshot `to` as pure inserts in the same
    * schema. A positive `from` that is no longer a retained version
    * (vacuumed while the query was down, or a bad startingVersion)
    * fails LOUDLY like the append path does — silently re-emitting the
    * full snapshot as inserts would duplicate every already-streamed
    * row into downstream retraction MVs, which is strictly worse than
    * an error.
    */
  private def gone(v: Long): Nothing =
    throw new IllegalStateException(
      s"graft-table changeFeed: stream offset version $v of " +
        s"'$view' is no longer retained (vacuumed?) — restart from " +
        "a fresh checkpoint or raise vacuum retention")

  private def cdfBatch(from: Long, to: Long): DataFrame =
    if (from > 0) {
      if (!store.versions(view).contains(from)) gone(from)
      store.diff(view, from, to, keyColumns)
    } else {
      // both ends checked: a restart replays the committed initial
      // batch through here too, and its end version may have been
      // vacuumed while the query was down
      if (!store.versions(view).contains(to)) gone(to)
      val snap = store.read(view, Some(to))
      val have = snap.columns.toSet
      val payload = fixedSchema.fieldNames.toSeq
        .filterNot(keyColumns.contains).filterNot(_ == "change_type")
      snap.select((keyColumns.map(col) :+ lit("insert").as("change_type")) ++
        payload.map { c =>
          val base = c.stripSuffix("_post")
          if (c.endsWith("_pre") || !have.contains(base)) lit(null).as(c)
          else col(base).as(c)
        }: _*)
    }

  /** Pin every batch to the stream-start schema: same columns, same
    * order, same types (casts cover commit-time widenings; a column a
    * later commit dropped reads NULL).
    */
  private def align(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(fixedSchema.fields.toSeq.map { f =>
      (if (have.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}

/** One store commit per micro-batch, fenced by the batch id SALTED
  * with the query's txn namespace (txnAppId / checkpointLocation —
  * Delta's (appId, version) identity): a redelivered batch of the SAME
  * query after restart is recognized in the txn history and skipped,
  * while a DIFFERENT query writing the same view (its own 0,1,2… id
  * space) fences independently instead of being silently swallowed.
  * Without any namespace (no checkpointLocation option) the raw batch
  * id is the fence and the view accepts exactly one writer lineage —
  * the documented fallback.
  *
  * Upgrade note: fences recorded BEFORE namespacing (raw batch ids)
  * are not recognized by a salted restart of the same checkpoint — a
  * view written by a pre-namespacing query should restart from a
  * fresh checkpoint (or pass `txnAppId` matching nothing and accept
  * one replayed batch through the keyed merge path, which is
  * idempotent per key).
  */
class GraftTableSink(store: SnapshotStore, view: String,
                     outputMode: OutputMode, mergeKey: Option[String],
                     statsCols: Seq[String],
                     txnNamespace: Option[String] = None,
                     legacyTxnFence: Boolean = false,
                     deleteCol: Option[String] = None) extends Sink {

  /** Deterministic per-(namespace, batch) fence id: namespace hash in
    * the high 32 bits, batch id in the low — stable across restarts
    * (the namespace string is), disjoint between queries up to the
    * 32-bit hash.
    */
  private def fence(batchId: Long): Long =
    txnNamespace.fold(batchId)(ns =>
      (scala.util.hashing.MurmurHash3.stringHash(ns).toLong << 32) ^ batchId)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // `legacyTxnFence=true` is the one-restart migration switch for
    // checkpoints recorded BEFORE fences were namespace-salted: those
    // fences are the raw 0,1,2… batch ids, which the salted id no
    // longer matches, so the replayed last batch would re-append. The
    // raw check cannot be on by default — raw ids collide with small
    // user txnIds, and skipping a colliding batch silently LOSES data;
    // opt in for the first restart after upgrading, then remove.
    if (legacyTxnFence && store.appliedTxns(view).contains(batchId)) return
    // re-root the incremental plan as a standalone batch frame over
    // the batch's RDD (the handed-in Dataset is streaming-bound and
    // rejects batch writes — ForeachBatchSink does the same re-wrap)
    val df = StreamingBridge.asBatch(data)
    val txnId = fence(batchId)
    // a DDL-declared CLUSTER BY on the bound table routes append /
    // Complete batches through the Hilbert range-dir writer — the
    // table's skipping layout is its DEFAULT, a stream must not
    // silently degrade it until the next OPTIMIZE (per-commit
    // envelopes are tight; cross-commit overlap is what the periodic
    // OPTIMIZE re-tightens, same as batch INSERT). The keyed-merge
    // path rewrites whole dirs and keeps its own stats discipline.
    val cluster = graft.plans.GraftTableRegistry
      .clusterForLocation(store.root, view)
    outputMode match {
      case m if m == OutputMode.Complete() =>
        if (!store.appliedTxns(view).contains(txnId)) {
          if (cluster.nonEmpty)
            store.commitClustered(view, df, cluster, overwrite = true,
              statsCols = statsCols, txn = Some(txnId))
          else store.commit(view, df, overwrite = true,
            statsCols = statsCols, txn = Some(txnId))
        }
      case _ if mergeKey.isDefined =>
        // deleteColumn marks CDC tombstones: a flagged row DELETES its
        // key instead of upserting — the zero-user-code sink half of a
        // change-feed replication pipeline
        store.mergeIntoOnce(view, df, mergeKey.get, txnId = txnId,
          deleteCol = deleteCol, statsCols = statsCols)
      case _ if cluster.nonEmpty =>
        if (!store.appliedTxns(view).contains(txnId))
          store.commitClustered(view, df, cluster, overwrite = false,
            statsCols = statsCols, txn = Some(txnId))
      case _ =>
        store.appendOnce(view, df, txnId = txnId, statsCols = statsCols)
    }
  }
}
