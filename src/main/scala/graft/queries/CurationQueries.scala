package graft.queries

import graft.Tables
import graft.functions.{NumFns, PiiFns, TextFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation surface beyond the reference's shape: the operators a
  * 100 TB training-data pipeline runs between raw crawl and tokenizer —
  * PII scrubbing, repetition/quality gating (Gopher-style rules),
  * benchmark decontamination. All narrow projections + native column
  * expressions; the only shuffles are keyed aggregations.
  */
object CurationQueries {
  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DSIR-style importance weights toward the EN slice (Xie et al.
    // 2023): per-doc Σ over bigram occurrences of
    // log p̂_tgt − log p̂_raw, add-one smoothed over the raw vocabulary.
    // Both distributions are single hash aggs; the vocabulary-sized
    // log-ratio table broadcasts, so scoring is a map-side join + one
    // doc-keyed sum. The oracle replays the same smoothing arithmetic;
    // only the order-dependent per-doc sum is r15'd.
    "q164_dsir_weights" -> ((s, dir) =>
      graft.operators.Curation.importanceWeights(
        t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")),

    // Character-entropy quality gate: Shannon entropy (nats) of each
    // document's character distribution, keep >= 2.82 (the corpus Q1 —
    // boilerplate/repetition scores low). Pure explode + two keyed hash
    // aggs, zero corpus joins.
    "q166_char_entropy" -> ((s, dir) =>
      graft.operators.Curation.charEntropy(
        t(s, dir, "documents"), "doc_id", "text", minEntropy = 2.82)),

    // C4-style cross-document line dedup: deterministic 10-token
    // segments occurring in >= 3 distinct documents (the planted
    // duplicate clusters; 15 such segments at sf0.01) are removed
    // everywhere and the survivors reassembled in order. The frequent
    // table is agg-filtered BEFORE the membership join (broadcast-sized
    // by construction); reassembly sorts per-doc in-row. clean_text
    // equality pins exact order preservation.
    "q168_line_dedup" -> ((s, dir) =>
      graft.operators.Curation.crossDocLineDedup(
        t(s, dir, "documents"), "doc_id", "text", segLen = 10, maxDocs = 3)),

    // Per-domain document cap: deterministic LCG rank within source,
    // keep <= 15 of each domain's 25 docs — the crawl rule that stops
    // one giant domain from dominating. Full audit frame (kept AND
    // rejected rows) so rejection reporting rides the same pass.
    "q169_domain_cap" -> ((s, dir) =>
      graft.operators.Mixer.capPerKey(
        t(s, dir, "documents").select(col("source"), col("doc_id")),
        keyCol = "source", idCol = "doc_id", cap = 15)),

    // Equal-frequency quartile binning of lineitem quantity per return
    // flag: cutpoints from ONE exactPercentiles pass (r15'd — the q51
    // boundary device), bin = in-row searchsorted over the broadcast
    // O(k) cut array. Integral quantities make the interpolated cuts
    // dyadic-exact; the graded frame is the per-bin profile, which
    // pins both the assignment rule and the equal-frequency property.
    "q170_equalfreq_bins" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("double").as("qty"))
      graft.operators.Stats.equalFreqBins(li, "flag", "qty", k = 4)
        .groupBy(col("flag"), col("bin"))
        .agg(count(lit(1)).as("n"), min(col("qty")).as("lo"),
          max(col("qty")).as("hi"))
    }),

    // Length-bucketed batch assembly: 16-token-wide buckets, LCG order
    // inside each, batches of 8, per-batch padded cost (pad-to-max).
    // O(batches) output; padding_frac is int-derived division —
    // bit-stable raw.
    "q173_length_batches" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).as("n_tok"))
      graft.operators.Mixer.lengthBucketedBatches(docs, "doc_id", "n_tok",
        bucketWidth = 16L, batchSize = 8)
    }),

    // Zero-copy shallow clone: t gets three bi-monthly commits; tc is
    // cloned AT v2 (Jan-Apr) — an O(files) manifest publish, no data
    // IO — then appends July independently. The graded frame reads
    // BOTH tables: the clone must see exactly (v2 + its own append)
    // through the cross-view relative refs, and the source must be
    // untouched by the clone's append. Clone isolation (vacuum safety,
    // localization by compact) is spec-pinned.
    "q177_shallow_clone" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q177_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "tc"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      def slice(lo: String, hi: String) = o.where(col("d").between(lo, hi))
      store.commit("t", slice("1995-01-01", "1995-02-28"), overwrite = true)
      store.commit("t", slice("1995-03-01", "1995-04-30"), overwrite = false)
      store.commit("t", slice("1995-05-01", "1995-06-30"), overwrite = false)
      store.cloneView("t", "tc", asOf = Some(2L))
      store.commit("tc", slice("1995-07-01", "1995-07-31"), overwrite = false)
      def agg(view: String, side: String) = store.read(view)
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"),
          NumFns.stableRound(sum(col("p")), 2).as("total"))
        .withColumn("side", lit(side))
      agg("tc", "clone").unionByName(agg("t", "src"))
    }),

    // Cross-view SYNCPOINT: the lambda splice anomaly closed. The
    // reference updates batch/speed/serving as independent writes
    // (batchPipeline.py:169-180, twitterConsumerStream.py:110-127,
    // prediction.py:82-93) so a mid-cycle reader can splice batch vN
    // with speed vM; here each day-cycle publishes ONE atomic
    // {view -> version} syncpoint. Cycle 1 lands batch(01-01..20) +
    // speed(01-21..23) and syncs; the speed layer then runs AHEAD
    // (appends 01-24..25 — mid-cycle, unsynced); cycle 2 absorbs
    // through 01-23 into batch, overwrites speed to 01-24..26, syncs.
    // The graded frame reads BOTH cycles through their syncpoints: the
    // sp1 read must see exactly cycle 1's pair (the mid-cycle append
    // invisible — if readSync leaked the latest speed version, 01-24/25
    // rows would surface under cycle1 and break the hash), the latest
    // read cycle 2's. Racing publishers and pin validation are
    // spec-pinned (SnapshotStoreSpec).
    "q188_sync_splice" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q188_sync", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      def daily(lo: String, hi: String) = o.where(col("d").between(lo, hi))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"),
          NumFns.stableRound(sum(col("p")), 2).as("total"))
      val b1 = store.commit("batch_view", daily("1995-01-01", "1995-01-20"),
        overwrite = true)
      val s1 = store.commit("speed_view", daily("1995-01-21", "1995-01-23"),
        overwrite = true)
      val sp1 = store.publishSync(
        Map("batch_view" -> b1, "speed_view" -> s1))
      // the speed layer runs ahead of the cycle: invisible through sp1
      store.commit("speed_view", daily("1995-01-24", "1995-01-25"),
        overwrite = false)
      val b2 = store.commit("batch_view", daily("1995-01-01", "1995-01-23"),
        overwrite = true)
      val s3 = store.commit("speed_view", daily("1995-01-24", "1995-01-26"),
        overwrite = true)
      store.publishSync(Map("batch_view" -> b2, "speed_view" -> s3))
      def cycle(id: Option[Long], phase: String) =
        store.readSync("batch_view", id).withColumn("side", lit("batch"))
          .unionByName(
            store.readSync("speed_view", id).withColumn("side", lit("speed")))
          .withColumn("phase", lit(phase))
      cycle(Some(sp1), "cycle1").unionByName(cycle(None, "cycle2"))
    }),

    // Out-of-fold target encoding: l_returnflag x 5 LCG folds of
    // lineitem, target = quantity (integral — sums stay exact through
    // the windows), smoothing m = 10 toward the global mean — the
    // leakage-free categorical encoder. One (category, fold) hash agg;
    // everything after is windows over the 15-row cell frame.
    "q178_target_encoding" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("cat"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("rid"),
          col("l_quantity").cast("long").as("y"))
      graft.operators.Features.oofTargetEncoding(li, "cat", "rid", "y",
        k = 5, m = 10.0)
    }),

    // Hashing-trick vectorizer: polynomial char hash -> 64 slots with
    // ±1 sign, per-doc sparse vector as (doc, slot, signed sum). Zero
    // joins, zero fitted state — the featurizer that needs no vocab.
    "q179_feature_hash" -> ((s, dir) =>
      graft.operators.Features.featureHash(
        t(s, dir, "documents"), "doc_id", "text", numFeatures = 64)),

    // VACUUM: three commits -> OPTIMIZE -> vacuum(retain 1) GCs the
    // three pre-compact dirs and their manifests; the graded read
    // proves the retained snapshot is fully intact post-GC, and the
    // constant columns pin the deterministic post-vacuum layout
    // (1 live dir, 1 retained version). Physical dir deletion and
    // time-travel loss are spec-pinned (SnapshotStoreSpec).
    "q174_vacuum" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q174_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .where(date_format(col("o_orderdate"), "yyyy-MM-dd")
          .between("1995-01-01", "1995-06-30"))
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      store.commit("t", o.where(col("k") % 3 === 0), overwrite = true)
      store.commit("t", o.where(col("k") % 3 === 1), overwrite = false)
      store.commit("t", o.where(col("k") % 3 === 2), overwrite = false)
      store.compact("t")
      store.vacuum("t", retainVersions = 1)
      val nDirs = store.manifestDirs("t").size.toLong
      val nVers = store.versions("t").size.toLong
      store.read("t")
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"),
          NumFns.stableRound(sum(col("p")), 2).as("total"))
        .withColumn("n_live_dirs", lit(nDirs))
        .withColumn("n_versions", lit(nVers))
    }),

    // PII scrub: detect + redact emails / IPv4s / phone numbers in one
    // codegen'd expression chain (PiiFns — regexp_count/regexp_replace,
    // no UDF). The corpus is synthetic word-soup, so the PII spans are
    // injected deterministically from (doc_id, source) first — both
    // engines build the identical augmented text, then the graded
    // operator is the scrub itself. At 100 TB this is a pure map stage:
    // zero shuffles, full whole-stage codegen, patterns pushed through
    // one projection.
    "q66_pii_redact" -> ((s, dir) => {
      val aug = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" reach user"), col("doc_id").cast("string"), lit("@"),
                col("source"), lit(".org"))).otherwise(lit("")),
            when(col("doc_id") % 4 === 0,
              concat(lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit("."),
                ((col("doc_id") * 7) % 256).cast("string"), lit(".4"))).otherwise(lit("")),
            when(col("doc_id") % 5 === 0,
              concat(lit(" tel 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit(""))
          ).as("text"))
      aug.select(col("doc_id"),
        PiiFns.piiCount(col("text"), PiiFns.EmailRe).as("n_emails"),
        PiiFns.piiCount(col("text"), PiiFns.PhoneRe).as("n_phones"),
        PiiFns.piiCount(col("text"), PiiFns.Ipv4Re).as("n_ips"),
        PiiFns.redact(col("text")).as("redacted"))
    }),

    // Gopher-style repetition/quality rules (Rae et al. 2021 §A1.1
    // shape): top-unigram fraction, duplicate-bigram fraction, mean
    // word length, and a composite keep flag. The mode frequency is
    // computed the scale path — explode + (doc_id, word) partial-agg +
    // per-doc max — NOT an O(n_distinct × n_words) array scan per row;
    // the array-local stats (bigram dup ratio, char sum) ride along in
    // one narrow projection. Two keyed shuffles total, both map-side
    // combined. All compared doubles are single int/int divisions —
    // bit-identical across engines, no rounding needed.
    "q67_quality_rules" -> ((s, dir) => {
      graft.operators.Curation.qualityMetrics(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("keep", graft.operators.Curation.keepRule(30L, 0.11, 0.05))
    }),

    // Benchmark decontamination: the n-gram-overlap check every
    // training corpus runs against its eval sets (real pipelines use
    // 8–13-gram hits; this synthetic 40-word vocabulary needs bigrams
    // for signal — the shape is identical). A deterministic slice
    // (doc_id % 97 = 0) stands in for the benchmark; its distinct
    // n-grams are TINY relative to the corpus, so they broadcast —
    // corpus-side the check is a map-side hash probe + one doc-keyed
    // agg, never a corpus×corpus shuffle. That is exactly the 100 TB
    // plan: eval n-grams ship to every executor, the crawl streams by.
    "q68_contamination" -> ((s, dir) => {
      graft.operators.Curation.contamination(t(s, dir, "documents"),
          "doc_id", "text", isBench = col("doc_id") % 97 === 0, n = 2)
        .withColumn("contaminated", col("contam_frac") >= 0.2)
    }),

    // Temperature-scaled language rebalancing (tau = 0.5): rare
    // languages get sqrt(n_max/n_k) epochs via deterministic
    // LCG-Bernoulli replication — the multilingual mixing step of a
    // training-data pipeline. O(langs) agg + broadcast rates + per-row
    // explode; the corpus is never shuffled. The oracle replays the
    // LCG and the sqrt bit-for-bit (IEEE sqrt is correctly rounded).
    "q69_temperature_mix" -> ((s, dir) => {
      graft.operators.Mixer.temperatureResample(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          keyCol = "lang", idCol = "doc_id", tau = 0.5)
        .select(col("doc_id"), col("lang"), col("copy_id"))
    }),

    // Training-mixture epoch plan: per-language token counts vs target
    // weights and a 40k-token budget — fractional epochs per source,
    // clamped + flagged at the repeated-data cap (4 epochs). One
    // O(langs) keyed agg; the weights are a broadcast literal table.
    "q145_epoch_plan" -> ((s, dir) => {
      import s.implicits._
      val w = Seq(("en", 0.3), ("zh", 0.15), ("es", 0.15), ("de", 0.1),
        ("fr", 0.3)).toDF("lang", "w")
      graft.operators.Mixer.epochPlan(
        t(s, dir, "documents").where(col("text").isNotNull),
        "lang", TextFns.tokenCount(col("text")), w, "lang", "w",
        budget = 40000L, maxEpochs = 4.0)
    }),

    // URL canonicalization: scheme/host case, www., default ports,
    // trailing slash, fragment, tracking params (utm_*/fbclid/gclid),
    // query-param ORDER — all collapsed so URL-level dedup can work.
    // Inputs are deterministically messy (6 independent perturbation
    // axes from doc_id); n_same measures the dup groups the
    // normalization recovers. Zero shuffles except the count window.
    "q146_url_canonical" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
          lit("Src"), (col("doc_id") % 7).cast("string"), lit(".Example.org"),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/doc/"), (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 0, lit("?b=2&utm_source=feed&a=1"))
            .otherwise(lit("?a=1&b=2")),
          when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit(""))
        ).as("url"))
      graft.operators.Curation.canonicalizeUrls(urls, "url")
        .select(col("doc_id"), col("url"), col("canon_url"), col("n_same"))
    }),

    // Blocklisted-term gate (C4's badwords filter shape): per-doc
    // blocked-token count with multiplicity, fraction, keep verdict.
    // Literal-array probe inside codegen — zero shuffles; the
    // broadcast-join form for dictionary-sized lists is pinned equal
    // in CurationSpec. The synthetic corpus's "negative" lexicon
    // stands in for the badwords list.
    "q139_blocklist_filter" -> ((s, dir) =>
      graft.operators.Curation.blocklistFilter(t(s, dir, "documents"),
        "doc_id", "text", graft.functions.SentimentFns.DefaultNegative,
        maxFrac = 0.05)),

    // Dedup canonicalization — the final step of the near-dup
    // pipeline: LSH-verified pairs (q23/q70's machinery) → connected
    // components → ONE canonical doc per cluster chosen by quality
    // (distinct-token ratio, exact int/int division; ties → min id).
    // Every clustered doc maps to its keeper — the rewrite table a
    // curation pass applies. Oracle replays the exact-Jaccard truth
    // (complete above the verify threshold per q23's data contract)
    // through a recursive-CTE closure + the same argmax.
    "q142_dedup_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          docs, "doc_id", "text", estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
      val comp = graft.operators.Components.connectedComponents(pairs, "a_id", "b_id")
      val quality = docs
        .withColumn("_toks", TextFns.tokens(col("text")))
        .where(size(col("_toks")) > 0)
        .select(col("doc_id"),
          (size(array_distinct(col("_toks"))).cast("double") / size(col("_toks")))
            .as("q"))
      // EAGER stage: member feeds both the per-cluster argmax window
      // and the final keeper join — unstaged, the quality branch
      // re-tokenizes the corpus once per consumer
      val member = comp.join(quality, comp("id") === quality("doc_id"))
        .select(col("id"), col("comp"), col("q"))
        .localCheckpoint(true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("comp")).orderBy(col("q").desc, col("id"))
      val canon = member.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("comp"), col("id").as("canonical_id"))
      member.join(canon, Seq("comp"))
        .select(col("id").as("doc_id"), col("comp").as("cluster"),
          col("canonical_id"), (col("id") === col("canonical_id")).as("is_canonical"))
    }),

    // Duplicate-cluster resolution: LSH+verify pairs (q23's machinery
    // and thresholds, whose completeness q23 pins against all-pairs) →
    // connected components → one representative per cluster. The
    // pairwise stage alone cannot drive keep/drop on chains a–b, b–c;
    // components can. Min-label propagation over the EDGE set only —
    // O(diameter) keyed shuffles, corpus never reshuffled. Oracle:
    // DuckDB recursive-CTE transitive closure over the identical
    // verified pair set.
    "q70_dup_clusters" -> ((s, dir) => {
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          t(s, dir, "documents"), "doc_id", "text",
          estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
      graft.operators.Components.clusters(pairs, "a_id", "b_id")
    }),

    // Leakage-free train/val/test split: the randomization unit is the
    // near-dup CLUSTER (q70's components over q23's verified pairs),
    // not the document — a per-doc hash split (q160) sends ~2·p·(1−p)
    // of every near-dup pair across the train/held-out boundary, and
    // the eval then scores memorized near-copies. Every doc hashes by
    // its cluster representative (singletons by their own id), so a
    // cluster lands in ONE split by construction and new members of an
    // existing cluster inherit its split on corpus growth. Oracle:
    // recursive-CTE closure over the identical verified pair set +
    // the same LCG split arithmetic.
    "q189_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          docs, "doc_id", "text", estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
      graft.operators.Mixer.groupAwareSplits(
        docs.select(col("doc_id"), col("lang")), "doc_id",
        pairs, "a_id", "b_id")
    }),

    // Incremental clustering — continuous dedup's missing half: q92
    // keeps the FINGERPRINT store incremental, this keeps the CLUSTER
    // labeling incremental. The verified pair set splits into a
    // "stored" batch (clustered one-shot) and a "new" batch folded in
    // via incrementalComponents — which re-clusters only the LABEL
    // graph (O(new edges + touched comps)), never the corpus. The
    // oracle is the full closure over ALL pairs: the incremental path
    // must be indistinguishable from a from-scratch re-cluster.
    "q192_incremental_clusters" -> ((s, dir) => {
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          t(s, dir, "documents"), "doc_id", "text",
          estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true) // both batches derive from one LSH pass
      val isOld = pmod(col("a_id") + col("b_id"), lit(3)) =!= 0
      val stored = graft.operators.Components.connectedComponents(
        pairs.where(isOld), "a_id", "b_id")
      graft.operators.Components.incrementalComponents(
        stored, pairs.where(!isOld), "a_id", "b_id")
        .select(col("id").as("doc_id"), col("comp").as("cluster"))
    }),

    // q192 with the stored labeling resolved from an id-BUCKETED
    // layout — the scale contract q192's comment promises, made
    // load-bearing: every stored-side touch inside
    // incrementalComponents (the two endpoint label lookups, the
    // brand-new-node anti-join, the final remap union) is an equi-join
    // on the bucket key, so the corpus-sized labeling reads
    // bucket-for-bucket with no shuffle exchange on the stored side
    // (PlanShapeSpec pins that plan with broadcast disabled — at store
    // scale nothing could broadcast). The layout is content-keyed and
    // write-once per (JVM, sfDir), exactly q60's pattern: bench rounds
    // 2..n measure the incremental read path, not the seed write.
    // Same full-closure oracle as q192 — the bucketed read must be
    // semantically invisible.
    "q193_bucketed_incremental_clusters" -> ((s, dir) => {
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          t(s, dir, "documents"), "doc_id", "text",
          estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val isOld = pmod(col("a_id") + col("b_id"), lit(3)) =!= 0
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val tbl = s"q193_lbl_$key"
      if (!s.catalog.tableExists(tbl)) {
        val stored = graft.operators.Components.connectedComponents(
          pairs.where(isOld), "a_id", "b_id")
        graft.sources.BucketedStore.write(stored, tbl, "id", buckets = 8,
          path = Some(s"/tmp/graft_bucketed/$tbl"))
      }
      graft.operators.Components.incrementalComponents(
        graft.sources.BucketedStore.read(s, tbl),
        pairs.where(!isOld), "a_id", "b_id")
        .select(col("id").as("doc_id"), col("comp").as("cluster"))
    }),

    // The continuous-dedup loop CLOSED end-to-end — this round's
    // centerpiece: q192's incremental clustering composed with q155's
    // exactly-once micro-batch lifecycle and q189's cluster-aware
    // splits. Seed from the historical slice, then two micro-batches
    // each: LSH-verify new edges vs the fingerprint store + in-batch →
    // fold into the stored labeling via the O(new edges) label-graph
    // delta (mergeIntoOnce upsert, never an O(corpus) rewrite) →
    // reassign splits for exactly the changed/new docs — three ACID
    // stores, every commit txn-fenced (the in-query redelivery of
    // batch 2 must leave all three store versions untouched). Graded
    // output = the final SPLITS store, which must be indistinguishable
    // from a one-shot closure + cluster-keyed split over the union
    // corpus: labels converge to global component min-ids (min-merge
    // associativity) and every cluster merge rewrites its docs' splits
    // in the same delta, so split == split(final comp) exactly.
    "q194_continuous_clustering" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val b1 = docs.where(col("doc_id") % 5 === 0)
      val b2 = docs.where(col("doc_id") % 5 === 1)
      val root = graft.sources.Scratch.processScoped("q194_cont", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val st = new graft.sources.SnapshotStore(s, root)
      graft.operators.ContinuousDedup.seed(st, hist, "doc_id", "text")
      graft.operators.ContinuousDedup.processBatch(st, b1, docs,
        "doc_id", "text", txnId = 1L)
      graft.operators.ContinuousDedup.processBatch(st, b2, docs,
        "doc_id", "text", txnId = 2L)
      val views = Seq(graft.operators.ContinuousDedup.FpsView,
        graft.operators.ContinuousDedup.LabelsView,
        graft.operators.ContinuousDedup.SplitsView)
      val vs = views.map(v => st.versions(v).max) :+ st.syncpoints.max
      graft.operators.ContinuousDedup.processBatch(st, b2, docs,
        "doc_id", "text", txnId = 2L)
      require(views.map(v => st.versions(v).max) :+ st.syncpoints.max == vs,
        "redelivered micro-batch must no-op across all three stores + syncpoint")
      // cycle-consistent read: resolve the batch's ONE syncpoint, not
      // three independent "latest" manifests
      st.readSync(graft.operators.ContinuousDedup.SplitsView)
        .select(col("id").as("doc_id"), col("group_id"), col("split"))
    }),

    // The full TRAIN-DATA-ORDER pipeline, raw corpus to shuffled
    // shards — the capstone composition a trainer actually consumes:
    // leakage-free cluster-aware split (q189) → train slice →
    // temperature resampling over language (q69, tau = 0.5) →
    // deterministic shard shuffle (q100) keyed on a (doc, copy)
    // composite id. Every stage is pure LCG/integer arithmetic over
    // the previous one, so the oracle replays the WHOLE chain
    // end-to-end — closure, split case, rates, copies, shard hash,
    // in-shard rank — and the output (the exact (doc, copy) → (shard,
    // position) layout) is hash-graded. Scale shape: the LSH pass +
    // closure once, then one tiny lang agg, a broadcast rates join, a
    // per-row explode, one shard-keyed rank window — the corpus never
    // shuffles except for the final shard clustering itself.
    "q200_train_data_order" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          docs, "doc_id", "text", estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
      val train = graft.operators.Mixer.groupAwareSplits(
          docs.select(col("doc_id"), col("lang")), "doc_id",
          pairs, "a_id", "b_id")
        .where(col("split") === "train")
      val mixed = graft.operators.Mixer.temperatureResample(
        train.select(col("doc_id"), col("lang")), "lang", "doc_id", tau = 0.5)
      // composite (doc, copy) id: copies stay far below the radix, so
      // the LCG stream stays collision-free and SQL-replayable
      val withUid = mixed.withColumn("uid",
        col("doc_id") * 1024L + col("copy_id"))
      graft.operators.Mixer.shardShuffle(withUid, "uid", nShards = 8)
        .select(col("doc_id"), col("copy_id"), col("shard"), col("shard_pos"))
    }),

    // Cluster-reassignment CHANGE FEED — what downstream consumers of
    // a continuously-maintained clustering actually subscribe to:
    // after each micro-batch folds in, SnapshotStore.diff between the
    // labels store's pre/post versions emits exactly the docs whose
    // cluster was born or remapped (insert = new doc, update = an
    // existing doc's cluster merged), the invalidation feed for any
    // cache/index keyed on cluster. Graded against two independent
    // closures (hist∪b1 and the full union): the CDC of the
    // incremental store must equal the set difference of the two
    // from-scratch labelings — one pairwise-verified pair stage reused
    // for both (pair verification is pairwise, so the induced-subgraph
    // edge set IS the subset corpus' pair set).
    "q199_cluster_cdc" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val b1 = docs.where(col("doc_id") % 5 === 0)
      val b2 = docs.where(col("doc_id") % 5 === 1)
      val root = graft.sources.Scratch.processScoped("q199_cdc", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val st = new graft.sources.SnapshotStore(s, root)
      graft.operators.ContinuousDedup.seed(st, hist, "doc_id", "text")
      graft.operators.ContinuousDedup.processBatch(st, b1, docs,
        "doc_id", "text", txnId = 1L)
      val v1 = st.versions(graft.operators.ContinuousDedup.LabelsView).max
      graft.operators.ContinuousDedup.processBatch(st, b2, docs,
        "doc_id", "text", txnId = 2L)
      val v2 = st.versions(graft.operators.ContinuousDedup.LabelsView).max
      st.diff(graft.operators.ContinuousDedup.LabelsView, v1, v2, Seq("id"))
        .select(col("id").as("doc_id"), col("change_type"),
          col("comp_pre"), col("comp_post"))
    }),

    // q194 driven by a REAL Structured Streaming query: the two
    // micro-batches arrive as files through a readStream file source
    // (maxFilesPerTrigger=1 → one ingest file per micro-batch,
    // AvailableNow to completion), and foreachBatch(batchDf, batchId)
    // runs ContinuousDedup.processBatch with the batch id as the txn —
    // the exactly-once contract now rides the ENGINE's delivery
    // machinery (checkpointed file-source offsets + txn-fenced store
    // commits), not a hand-rolled loop. Restarting the stream against
    // the same checkpoint re-delivers nothing and the store versions
    // must not move. Batch-arrival order is pinned by file mod-times,
    // but the final state is order-invariant either way
    // (ContinuousDedupSpec proves scrambled arrival converges). Same
    // one-shot closure + cluster-split oracle as q194.
    "q197_stream_continuous_clustering" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      // store + checkpoint are run-scoped (wiped — the loop is
      // stateful); the INPUT files are a pure function of the source
      // dir, staged once per process so bench rounds 2..n measure the
      // loop, not the staging write
      val root = graft.sources.Scratch.processScoped("q197_cont", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val inRoot = graft.sources.Scratch.processScoped("q197_in", dir)
      val inDir = new java.io.File(s"$inRoot/in")
      // stage each micro-batch as ONE parquet file, mod-times 10 s
      // apart so the file source's (modTime, path) ordering delivers
      // b1 before b2
      if (!new java.io.File(inDir, "_staged").exists()) {
        inDir.mkdirs()
        Seq(0, 1).foreach { m =>
          val tmp = s"$inRoot/tmp$m"
          docs.where(col("doc_id") % 5 === m).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(inDir, s"b$m.parquet")
          // REPLACE_EXISTING: a prior stage that died after this move
          // but before the _staged marker re-enters here — the retry
          // must overwrite the leftover file, not throw
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(1700000000000L + m * 10000L)
          graft.sources.Scratch.deleteRecursively(new java.io.File(tmp))
        }
        new java.io.File(inDir, "_staged").createNewFile()
      }
      val st = new graft.sources.SnapshotStore(s, s"$root/store")
      graft.operators.ContinuousDedup.seed(st, hist, "doc_id", "text")
      def runStream(): Unit = {
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(s"$inDir")
        val q = stream.writeStream
          .option("checkpointLocation", s"$root/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            graft.operators.ContinuousDedup.processBatch(st, batch, docs,
              "doc_id", "text", txnId = id)
          }
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      runStream()
      val views = Seq(graft.operators.ContinuousDedup.FpsView,
        graft.operators.ContinuousDedup.LabelsView,
        graft.operators.ContinuousDedup.SplitsView)
      val vs = views.map(v => st.versions(v).max) :+ st.syncpoints.max
      runStream() // restart on the same checkpoint: nothing re-delivers
      require(views.map(v => st.versions(v).max) :+ st.syncpoints.max == vs,
        "stream restart must not move any store version or syncpoint")
      st.readSync(graft.operators.ContinuousDedup.SplitsView)
        .select(col("id").as("doc_id"), col("group_id"), col("split"))
    }),

    // Split-leakage audit — the number q189 exists to drive to zero:
    // over the verified near-dup pair set, how many pairs straddle a
    // split boundary under the per-doc hash split (q160) vs the
    // cluster-aware split (q189). One row: cross_doc_split is the
    // leaked-pair count a naive split ships to eval (~2·p·(1−p) of
    // pairs in expectation), cross_cluster_split is structurally 0 —
    // both engines derive it from the same closure, so the invariant
    // itself is what's graded. Scale shape: pair set joined twice
    // against the O(corpus) assignment projection, then a global agg.
    "q190_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      // EAGER stage: pairs feed both the clustering and the final pair
      // join, asg both endpoint joins — unstaged, the LSH pass and the
      // whole assignment pipeline execute twice
      val pairs = graft.operators.Dedup.lshVerifiedPairs(
          docs, "doc_id", "text", estThreshold = 0.3, jaccardThreshold = 0.4)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)
      val asg = graft.operators.Mixer.groupAwareSplits(
          graft.operators.Mixer.assignSplits(
            docs.select(col("doc_id")), "doc_id")
            .withColumnRenamed("split", "doc_split"),
          "doc_id", pairs, "a_id", "b_id")
        .select(col("doc_id"), col("doc_split"), col("split").as("cl_split"))
        .localCheckpoint(true)
      pairs
        .join(asg.select(col("doc_id").as("a_id"), col("doc_split").as("_da"),
          col("cl_split").as("_ca")), Seq("a_id"))
        .join(asg.select(col("doc_id").as("b_id"), col("doc_split").as("_db"),
          col("cl_split").as("_cb")), Seq("b_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("_da") =!= col("_db"), 1L).otherwise(0L))
            .as("cross_doc_split"),
          sum(when(col("_ca") =!= col("_cb"), 1L).otherwise(0L))
            .as("cross_cluster_split"))
    }),

    // Curation drop LEDGER — the per-document provenance record a
    // production pipeline keeps alongside the cleaned corpus: every
    // doc's FIRST failing gate (quality → exact dedup → near-dup
    // cluster) and the canonical it lost to, with gates running
    // SEQUENTIALLY so canonical choices only ever come from documents
    // every earlier gate passed. Composes q67's rules, q18's digest
    // dedup, and q142's clustering into one graded audit frame; the
    // oracle replays the full sequential pipeline (quality CTEs →
    // digest min-id → closure over the SURVIVOR slice).
    "q198_curation_ledger" -> ((s, dir) =>
      graft.operators.Curation.curationLedger(
        t(s, dir, "documents"), "doc_id", "text")),

    // Cross-document repeated-span dedup (the Lee-et-al. substring
    // shape): 5-gram anchors bucketed by gram (singletons and >64-occ
    // stop-grams dropped), cross-doc occurrence pairs expanded inside
    // the bucket row, equal-offset runs merged to maximal spans of
    // >= 8 tokens via gaps-and-islands. Everything is exact string +
    // integer arithmetic, so the oracle replays the full pipeline —
    // anchor set, cap, pair set, run grouping — and the spans are
    // hash-identical.
    "q91_repeated_spans" -> ((s, dir) =>
      graft.operators.Dedup.repeatedSpans(t(s, dir, "documents"),
        "doc_id", "text", k = 5, minSpanTokens = 8, maxBucket = 64)),

    // Incremental dedup vs a stored snapshot — the production shape:
    // historical fingerprints (digest + MinHash sig) persist in a
    // ViewStore; the new batch (the %5==0 slice plus injected exact
    // copies of historical docs, so the digest path has work at every
    // sf) dedups against the STORE, and survivors merge back. Graded
    // output = the final store state. Oracle data contract: with the
    // corpus' bimodal similarity (q23's contract), LSH candidates are
    // complete above the verify threshold, so the oracle can use the
    // exact-Jaccard truth (drop iff digest match or exists hist doc
    // with shingle J >= 0.4) instead of replaying signatures.
    "q92_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 5 =!= 0)
      val batch = docs.where(col("doc_id") % 5 === 0)
        .unionByName(hist.where(col("doc_id") % 97 === 3)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val store = new graft.sources.ViewStore(s,
        graft.sources.Scratch.processScoped("q92_fps", dir))
      graft.operators.IncrementalDedup.snapshot(store, "fps", hist, "doc_id", "text")
      val surv = graft.operators.IncrementalDedup.dedupAgainst(
        store, "fps", batch, hist, "doc_id", "text",
        estThreshold = 0.3, jaccardThreshold = 0.4)
      graft.operators.IncrementalDedup.absorb(store, "fps", surv, "doc_id", "text")
      store.read("fps")
        .select(col("id").as("doc_id"), col("digest"),
          (col("id") % 5 === 0).as("is_new"))
    }),

    // STREAMING incremental dedup with exactly-once absorption — q92's
    // production shape upgraded to the micro-batch lifecycle: two
    // sequential batches dedup against the ACID fingerprint store,
    // each batch's survivors absorb via appendOnce (the redelivered
    // call is a proven no-op), and batch 2's decisions see batch 1's
    // SURVIVORS as history (cross-batch dedup: injected copies of
    // batch-1 docs must drop). Same exact-Jaccard oracle contract as
    // q92 (bimodal similarity), chained across the two store states.
    "q155_stream_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val hist = docs.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1)
      val b1 = docs.where(col("doc_id") % 5 === 0)
        .unionByName(hist.where(col("doc_id") % 97 === 3)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val b2 = docs.where(col("doc_id") % 5 === 1)
        .unionByName(docs.where(col("doc_id") % 5 === 0 && col("doc_id") % 89 === 7)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val master = hist.unionByName(b1).unionByName(b2)
      val root = graft.sources.Scratch.processScoped("q155_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val st = new graft.sources.SnapshotStore(s, root)
      graft.operators.IncrementalDedup.snapshotAcid(st, "fps", hist,
        "doc_id", "text")
      Seq(b1 -> 1L, b2 -> 2L).foreach { case (batch, txn) =>
        // single-fingerprint pairing: the dedup probe's minhash pass
        // already carries every survivor's (digest, sig, shard), so
        // the absorb appends that frame instead of re-hashing the text
        val survFps = graft.operators.IncrementalDedup.dedupFpsAgainstStored(
          st.read("fps"), batch, master, "doc_id", "text",
          estThreshold = 0.3, jaccardThreshold = 0.4)
        graft.operators.IncrementalDedup.absorbFpsOnce(st, "fps", survFps,
          txnId = txn)
        require(graft.operators.IncrementalDedup.absorbFpsOnce(st, "fps",
          survFps, txnId = txn).isEmpty,
          "redelivered micro-batch must no-op")
      }
      st.read("fps").select(col("id").as("doc_id"), col("digest"),
        when(col("id") >= 200000 ||
            (col("id") < 100000 && col("id") % 5 === 1), 2L)
          .when(col("id") >= 100000 || col("id") % 5 === 0, 1L)
          .otherwise(0L).as("batch"))
    }),

    // URL/domain curation: deterministic URLs synthesized from
    // (source, doc_id) — both engines build the identical strings, the
    // graded operator is host extraction + broadcast blocklist anti-join
    // + exact-5-per-domain cap (LCG rank). 60 hosts at sf0.01, 3 of
    // them blocklisted.
    "q93_domain_curation" -> ((s, dir) => {
      import s.implicits._
      val withUrl = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit("-"),
            (col("doc_id") % 3).cast("string"), lit(".example.org/doc/"),
            col("doc_id").cast("string")).as("url"))
      val block = Seq("src3-0.example.org", "src7-1.example.org",
        "src13-2.example.org").toDF("host")
      graft.operators.Curation.domainCurate(withUrl, "url", "doc_id",
          block, maxPerDomain = 5)
        .select(col("doc_id"), col("host"))
    }),

    // Overlapping-window chunking (50-token chunks, stride 40): the
    // splitter between curation and tokenization. Zero shuffles; the
    // oracle replays starts, slices and tail lengths exactly.
    "q98_chunking" -> ((s, dir) =>
      graft.operators.Curation.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 50, stride = 40)),

    // Repeated-span REMOVAL — the curation action on q91's detections:
    // spans merge per victim doc (interval-merge islands), covered token
    // positions drop from the lower-priority (b) side only, min-id docs
    // stay intact. Exact string+integer arithmetic end-to-end, so the
    // oracle replays detection, merging and removal verbatim.
    "q99_span_removal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val spans = graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text",
        k = 5, minSpanTokens = 8, maxBucket = 64)
      graft.operators.Curation.removeRepeatedSpans(docs, "doc_id", "text", spans)
    }),

    // Deterministic corpus shuffle into 8 training shards: LCG shard +
    // in-shard position, partitioning-invariant and fully replayable.
    "q100_shard_shuffle" -> ((s, dir) =>
      graft.operators.Mixer.shardShuffle(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))),

    // JSONL round-trip: every public training corpus ships as JSONL
    // shards, so the engine must WRITE and READ the format losslessly.
    // The corpus is exported once per (JVM, source dir) to a
    // content-keyed scratch path (q60's write-once pattern: later runs
    // — and bench medians — measure the READ path), read back through
    // an explicit schema (schema inference is a full extra pass at
    // 100 TB — never infer in production), and aggregated per lang.
    // The oracle aggregates the original parquet: matching hashes prove
    // the round-trip dropped nothing (nulls, ordering, string content).
    "q73_jsonl_roundtrip" -> ((s, dir) => {
      // process-scoped scratch: a shared content-keyed path races when
      // bench + correctness JVMs run concurrently (one overwrites what
      // the other is reading); within THIS process it is still
      // write-once, so bench medians measure the read path
      val path = graft.sources.Scratch.processScoped("q73_jsonl", dir) + "/docs"
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        t(s, dir, "documents").write.mode("overwrite").json(path)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
      s.read.schema(schema).json(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("total_chars"),
          min(col("text")).as("min_text"),
          max(col("doc_id")).as("max_id"))
    }),

    // One-pass column profiling of orders — the data-quality gate shape
    // (single global agg row melted to long form; exact distincts keep
    // the oracle hashable, approx_count_distinct is the 100 TB swap,
    // see Profile scaladoc). sum/date columns profiled count-only.
    "q78_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")))
    }),

    // K2 upsert graded end-to-end through parquet: overwrite a January
    // view, then MERGE an overlapping mid-Jan..Feb batch (doubled
    // prices) — dynamic partition overwrite replaces exactly the
    // touched day-partitions and leaves the rest. The read-back agg
    // hash-matches an oracle that splices the two batches by date: the
    // graded proof that the speed layer's idempotent keyed sink (T6)
    // leaves precisely the partitions it should. Scratch view rebuilt
    // from overwrite each run -> reruns converge (idempotence).
    "q79_viewstore_merge" -> ((s, dir) => {
      val store = new graft.sources.ViewStore(s,
        graft.sources.Scratch.processScoped("q79_view", dir))
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey"), col("o_totalprice").as("p"))
      store.overwrite("q79", o.where(col("d").between("1995-01-01", "1995-01-31")), "d")
      store.merge("q79",
        o.where(col("d").between("1995-01-15", "1995-02-05"))
          .withColumn("p", col("p") * 2), "d")
      store.read("q79")
        .groupBy(col("d").cast("string").as("d"))
        .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
    }),

    // Snapshot-isolated table format (the ACID gap ViewStore leaves):
    // three commits — overwrite Jan, append doubled Feb, overwrite Mar —
    // then TIME TRAVEL reads of v1/v2/v3 aggregated under a version
    // column. The oracle splices the same three snapshots from the raw
    // table; the hash match proves commits are whole (no torn reads),
    // append chains to its predecessor's manifest, overwrite starts a
    // fresh one, and history stays readable. Conflict/isolation/vacuum
    // semantics are spec-pinned (SnapshotStoreSpec). The view dir is
    // rebuilt from scratch each run -> reruns converge.
    "q96_snapshot_store" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q96_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      store.commit("t", o.where(col("d").between("1995-01-01", "1995-01-31")),
        overwrite = true)
      store.commit("t", o.where(col("d").between("1995-02-01", "1995-02-28"))
        .withColumn("p", col("p") * 2), overwrite = false)
      store.commit("t", o.where(col("d").between("1995-03-01", "1995-03-31")),
        overwrite = true)
      (1L to 3L).map { v =>
        store.read("t", asOf = Some(v))
          .groupBy(col("d"))
          .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("d"), col("n"), col("total"))
    }),

    // Declarative expectations suite (the dbt-test/Deequ DQ gate): all
    // row-level checks fold into ONE corpus pass; uniqueness is one
    // keyed agg, referential integrity one anti probe. The fact table
    // is deterministically corrupted (the q66 perturbation device) so
    // every check counts real violations.
    "q133_expectations" -> ((s, dir) => {
      import graft.operators.Expectations._
      val o = t(s, dir, "orders")
      val fact = o.select(
        col("o_orderkey"),
        when(col("o_orderkey") % 997 === 0, lit(null))
          .otherwise(when(col("o_orderkey") % 389 === 0, col("o_custkey") + 1000000)
            .otherwise(col("o_custkey"))).as("o_custkey"),
        when(col("o_orderkey") % 983 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 991 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(o.where(col("o_orderkey") % 379 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice")))
      graft.operators.Expectations.validate(fact, Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 1e7),
        AcceptedValues("o_orderstatus", Seq("O", "F", "P")),
        Unique(Seq("o_orderkey")),
        ForeignKey("o_custkey", t(s, dir, "customer"), "c_custkey")))
    }),

    // Small-file compaction (OPTIMIZE): three fragmented append commits
    // (each fanned into 16 files), then SnapshotStore.compact rewrites
    // the table as a new version. The graded read proves losslessness
    // (content == the three slices, hash-exact); the file-count
    // collapse, OCC base pinning and time travel to the pre-compact
    // version are spec-pinned (SnapshotStoreSpec).
    "q130_compaction" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q130_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .where(date_format(col("o_orderdate"), "yyyy-MM-dd")
          .between("1995-01-01", "1995-06-30"))
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      store.commit("t", o.where(col("k") % 3 === 0).repartition(16),
        overwrite = true)
      store.commit("t", o.where(col("k") % 3 === 1).repartition(16),
        overwrite = false)
      store.commit("t", o.where(col("k") % 3 === 2).repartition(16),
        overwrite = false)
      val v = store.compact("t")
      store.read("t", asOf = Some(v))
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
    }),

    // Data-skipping range read over the snapshot manifest's per-dir
    // min/max stats: six monthly commits each record [min,max] of d;
    // the Feb..Mar read plans ONLY the two overlapping dirs
    // (pruneDirs — spec-pinned) and applies the exact predicate on
    // top. The 100 TB contract: a month-range query over a year-long
    // table reads a month, not a year — and the skip is decided from
    // the manifest stats BEFORE any parquet footer is opened.
    "q134_skipping_read" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q134_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      for (m <- 1 to 6) {
        val mm = f"$m%02d"
        store.commit("t", o.where(col("d").between(s"1995-$mm-01", s"1995-$mm-31")),
          overwrite = m == 1, statsCols = Seq("d"))
      }
      store.readPruned("t", "d", "1995-02-01", "1995-03-31")
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
    }),

    // Bloom-sidecar point lookup — the skipping read min/max stats
    // CANNOT serve: four append commits hold INTERLEAVED keys
    // (k % 4 == i), so every dir's [min,max] spans the whole key
    // domain and range pruning keeps all four; the per-dir bloom
    // sidecars (written at commit, probed on the driver before any
    // footer opens) rule out the non-matching dirs, and the exact
    // predicate handles the 1% fpp. The MERGE-key/digest-probe access
    // path at 100 TB: O(dirs) sidecar probes, data IO only where the
    // key can live.
    "q151_bloom_point_lookup" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q151_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      for (i <- 0 to 3)
        store.commit("t", o.where(col("k") % 4 === i), overwrite = i == 0,
          statsCols = Seq("k"), bloomCols = Seq("k"))
      val probe = o.agg(max(col("k"))).head().getLong(0)
      val (kept, skipped) = store.pruneDirsEq("t", "k", probe)
      require(skipped.nonEmpty,
        s"bloom pruning skipped nothing (kept ${kept.size} dirs)")
      store.readPrunedEq("t", "k", probe)
    }),

    // Z-ORDER layout driving 2-D data skipping — q86 computes Morton
    // codes, this CONNECTS them to the scan path: orders are committed
    // as 8 equal-z-width dirs (each dir = a compact z-range, so its
    // [min,max] envelope is tight on BOTH custkey and orderkey), and a
    // 2-D box query prunes dirs whose envelope misses EITHER dimension
    // (pruneDirsBox, require-pinned to skip some). A linear layout
    // prunes only its sort key; the z-layout is why 2-d selective
    // queries at 100 TB read a handful of files. Box bounds derive
    // from min/max by exact integer arithmetic both engines replay.
    "q153_zorder_skipping" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q153_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_custkey").as("cust"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val zed = o.withColumn("z",
        graft.operators.Layout.mortonCode(col("cust"), col("k"), bits = 25))
      val zr = zed.agg(min(col("z")), max(col("z"))).head()
      val (zmin, zmax) = (zr.getLong(0), zr.getLong(1))
      val withB = zed.withColumn("b",
        ((col("z") - lit(zmin)) * 8 / lit(zmax - zmin + 1)).cast("int"))
      val present = withB.select(col("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      present.foreach { i =>
        st.commit("t", withB.where(col("b") === i).drop("b", "z"),
          overwrite = false, statsCols = Seq("cust", "k"))
      }
      val br = o.agg(min(col("cust")), max(col("cust")),
        min(col("k")), max(col("k"))).head()
      val (cmin, cmax, kmin, kmax) =
        (br.getLong(0), br.getLong(1), br.getLong(2), br.getLong(3))
      val preds = Seq(
        ("cust", (cmin + (cmax - cmin) / 4).toString,
          (cmin + (cmax - cmin) * 2 / 5).toString),
        ("k", (kmin + (kmax - kmin) / 4).toString,
          (kmin + (kmax - kmin) * 2 / 5).toString))
      val (kept, skipped) = st.pruneDirsBox("t", preds)
      require(skipped.nonEmpty,
        s"z-layout box prune skipped nothing (kept ${kept.size} dirs)")
      st.readPrunedBox("t", preds)
    }),

    // q153 with the HILBERT layout key (the native codegen'd
    // expression): same store-as-8-code-range-dirs device, same 2-D box
    // query, same layout-invisible oracle — but the curve never takes
    // Morton's diagonal jumps, so each dir is a connected 2-D tile and
    // the box prune must again skip dirs (require-pinned). LayoutSpec
    // measures Hilbert's envelopes tighter than z-order's on a grid.
    "q209_hilbert_skipping" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q209_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_custkey").as("cust"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      val hed = o.withColumn("h",
        graft.operators.Layout.hilbertCode(col("cust"), col("k"), bits = 25))
      val hr = hed.agg(min(col("h")), max(col("h"))).head()
      val (hmin, hmax) = (hr.getLong(0), hr.getLong(1))
      val withB = hed.withColumn("b",
        ((col("h") - lit(hmin)) * 8 / lit(hmax - hmin + 1)).cast("int"))
      val present = withB.select(col("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      present.foreach { i =>
        st.commit("t", withB.where(col("b") === i).drop("b", "h"),
          overwrite = false, statsCols = Seq("cust", "k"))
      }
      val br = o.agg(min(col("cust")), max(col("cust")),
        min(col("k")), max(col("k"))).head()
      val (cmin, cmax, kmin, kmax) =
        (br.getLong(0), br.getLong(1), br.getLong(2), br.getLong(3))
      val preds = Seq(
        ("cust", (cmin + (cmax - cmin) / 4).toString,
          (cmin + (cmax - cmin) * 2 / 5).toString),
        ("k", (kmin + (kmax - kmin) / 4).toString,
          (kmin + (kmax - kmin) * 2 / 5).toString))
      val (kept, skipped) = st.pruneDirsBox("t", preds)
      require(skipped.nonEmpty,
        s"hilbert-layout box prune skipped nothing (kept ${kept.size} dirs)")
      st.readPrunedBox("t", preds)
    }),

    // q209's layout as ONE store operation: commit unclustered, then
    // SnapshotStore.optimizeClustered rewrites the snapshot into
    // Hilbert-range dirs under a SINGLE atomic manifest version
    // (readers see the recluster wholly or not at all; history shows
    // one OPTIMIZE overwrite) — the lakehouse OPTIMIZE…CLUSTER BY
    // command. Same layout-invisible box oracle; the prune must again
    // skip dirs, require-pinned.
    // OPTIMIZE ... CLUSTER BY over THREE columns — real lakehouse
    // clustering keys, not 2 — via the d-dimensional Hilbert code
    // (expressions/HilbertCodeN, Skilling's transpose walk;
    // SnapshotStore.optimizeClusteredN): one atomic version whose
    // range dirs are connected 3-D curve segments, so the box prune
    // skips dirs on ALL THREE dimensions at once. The orderkey
    // dimension is div-8-scaled into the 20-bit/dim budget (monotone,
    // so per-dir orderkey envelopes stay tight); price clusters on
    // whole dollars. Layout-invisible oracle: the same 3-D quartile
    // box regardless of layout — plus the in-query require that the
    // optimized layout actually SKIPPED dirs.
    "q229_optimize_clustered_3d" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q229_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_custkey").as("cust"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"),
        expr("o_orderkey div 8").as("_kd"),
        floor(col("o_totalprice")).as("_pd"))
      st.commit("t", o, overwrite = true, statsCols = Seq("cust", "k", "p"))
      val v = st.optimizeClusteredN("t", Seq("cust", "_kd", "_pd"),
        bits = 20, targetDirs = 8, statsCols = Seq("cust", "k", "p"))
      require(v == 2L, s"optimize should publish one version, got v$v")
      val br = o.agg(min(col("cust")), max(col("cust")),
        min(col("k")), max(col("k")), min(col("p")), max(col("p"))).head()
      val (cmin, cmax, kmin, kmax) =
        (br.getLong(0), br.getLong(1), br.getLong(2), br.getLong(3))
      val (pmin, pmax) = (br.getDouble(4), br.getDouble(5))
      val preds = Seq(
        ("cust", (cmin + (cmax - cmin) / 4).toString,
          (cmin + (cmax - cmin) * 2 / 5).toString),
        ("k", (kmin + (kmax - kmin) / 4).toString,
          (kmin + (kmax - kmin) * 2 / 5).toString),
        ("p", (pmin + (pmax - pmin) / 4).toString,
          (pmin + (pmax - pmin) * 2 / 5).toString))
      val (kept, skipped) = st.pruneDirsBox("t", preds)
      require(skipped.nonEmpty,
        s"3-D box prune skipped nothing (kept ${kept.size} dirs)")
      st.readPrunedBox("t", preds).select(col("cust"), col("k"), col("p"))
    }),

    "q220_optimize_clustered" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q220_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_custkey").as("cust"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      st.commit("t", o, overwrite = true, statsCols = Seq("cust", "k"))
      val v = st.optimizeClustered("t", "cust", "k", bits = 25,
        targetDirs = 8, statsCols = Seq("cust", "k"))
      require(v == 2L, s"optimize should publish one version, got v$v")
      val br = o.agg(min(col("cust")), max(col("cust")),
        min(col("k")), max(col("k"))).head()
      val (cmin, cmax, kmin, kmax) =
        (br.getLong(0), br.getLong(1), br.getLong(2), br.getLong(3))
      val preds = Seq(
        ("cust", (cmin + (cmax - cmin) / 4).toString,
          (cmin + (cmax - cmin) * 2 / 5).toString),
        ("k", (kmin + (kmax - kmin) / 4).toString,
          (kmin + (kmax - kmin) * 2 / 5).toString))
      val (kept, skipped) = st.pruneDirsBox("t", preds)
      require(skipped.nonEmpty,
        s"optimized box prune skipped nothing (kept ${kept.size} dirs)")
      st.readPrunedBox("t", preds)
    }),

    // Incremental materialized-view maintenance: the daily aggregate
    // MV refreshes from the DELTA batch only (per-key partials + adds
    // onto existing rows via the file-pruned MERGE), never re-reading
    // the fact table. The delta mixes a new month with late-arriving
    // rows for already-aggregated days, so both the insert path and
    // the add-onto-existing path are exercised; measures are exact
    // integer cents (floor(p*100)), so the two-level sum is
    // bit-identical to the oracle's one-shot recompute.
    "q154_incremental_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q154_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val facts = t(s, dir, "orders")
        .withColumn("d", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .where(col("d").between("1995-01-01", "1995-06-30"))
        .select(col("d"), col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).as("cents"))
      val initial = facts.where(col("d") <= "1995-05-31" && col("k") % 7 =!= 0)
      val late = facts.where(col("d") <= "1995-05-31" && col("k") % 7 === 0)
      val june = facts.where(col("d") >= "1995-06-01")
      graft.operators.IncrementalAgg.refresh(st, "mv", initial, "d", Seq("cents"))
      graft.operators.IncrementalAgg.refresh(st, "mv",
        june.unionByName(late), "d", Seq("cents"))
      st.read("mv").select(col("d"), col("n"), col("sum_cents"))
    }),

    // CDC-driven MV maintenance — the full loop composed from parts
    // that each grade on their own: a base table evolves through ONE
    // mixed merge (updates double a slice's price, tombstones delete
    // another, an April slice inserts), the store's change feed
    // (SnapshotStore.diff) re-shapes into retract/emit op-rows
    // (Changelog.cdcToOps — updates emit the −1 pre / +1 post pair of
    // every streaming-SQL changelog model), and those ops maintain a
    // per-day aggregate MV (IncrementalAgg.refreshWithRetractions).
    // Neither the base nor the MV ever rescans facts; the MV must
    // equal the one-shot aggregate over the FINAL table state.
    "q241_cdc_to_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q241_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val f = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          floor(col("o_totalprice") * 100).as("cents"))
      val v1Facts = f.where(col("d").between("1995-01-01", "1995-03-31"))
      st.commit("t", v1Facts, overwrite = true, statsCols = Seq("k"))
      graft.operators.IncrementalAgg.refreshWithRetractions(st, "mv",
        v1Facts.withColumn("op", lit(1)), "d", Seq("cents"))
      // one mixed merge: update k%5=0 (2x price), delete k%7=0
      // (tombstones win over updates), insert April
      val src = v1Facts.where(col("k") % 5 === 0 && col("k") % 7 =!= 0)
        .withColumn("cents", col("cents") * 2).withColumn("_del", lit(false))
        .unionByName(v1Facts.where(col("k") % 7 === 0)
          .withColumn("_del", lit(true)))
        .unionByName(f.where(col("d").between("1995-04-01", "1995-04-30"))
          .withColumn("_del", lit(false)))
      val v1 = st.versions("t").max
      val v2 = st.mergeInto("t", src, "k", deleteCol = Some("_del"),
        statsCols = Seq("k"))
      val ops = graft.operators.Changelog.cdcToOps(
        st.diff("t", v1, v2, Seq("k")), Seq("d", "cents"))
      graft.operators.IncrementalAgg.refreshWithRetractions(st, "mv",
        ops, "d", Seq("cents"))
      st.read("mv").select(col("d"), col("n"), col("sum_cents"))
    }),

    // q241's CDC-to-MV loop, fully STREAMING: the graft-table source
    // in changeFeed mode IS the CDC feed (offsets = versions, each
    // micro-batch = one version step's diff rows), foreachBatch
    // reshapes it (cdcToOps) and folds it into the aggregate MV with
    // the refresh txn-fenced by the BATCH id — so the whole loop is
    // exactly-once end to end: source replay is deterministic from
    // manifests, sink replay is fenced by the txn history, and an
    // extra drain on the same checkpoint moves nothing (required).
    // The fact table is never re-read; same one-shot oracle as q241.
    "q247_stream_cdc_to_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q247_snap", dir)
      Seq("t", "mv", "_cp").foreach(d =>
        graft.sources.Scratch.deleteRecursively(new java.io.File(root, d)))
      val st = new graft.sources.SnapshotStore(s, root)
      val f = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          floor(col("o_totalprice") * 100).as("cents"))
      val v1Facts = f.where(col("d").between("1995-01-01", "1995-03-31"))
      st.commit("t", v1Facts, overwrite = true, statsCols = Seq("k"))
      def drain(): Unit = {
        val q = s.readStream.format("graft-table")
          .option("root", root).option("view", "t")
          .option("changeFeed", "true").option("keyColumns", "k")
          .load().writeStream
          .option("checkpointLocation", s"$root/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, id: Long) =>
            if (!st.appliedTxns("mv").contains(id)) {
              val ops = graft.operators.Changelog.cdcToOps(
                batch, Seq("d", "cents"))
              graft.operators.IncrementalAgg.refreshWithRetractions(st,
                "mv", ops, "d", Seq("cents"), txn = Some(id))
            }
            ()
          }.start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      drain() // batch 0: the initial snapshot as inserts
      val src = v1Facts.where(col("k") % 5 === 0 && col("k") % 7 =!= 0)
        .withColumn("cents", col("cents") * 2).withColumn("_del", lit(false))
        .unionByName(v1Facts.where(col("k") % 7 === 0)
          .withColumn("_del", lit(true)))
        .unionByName(f.where(col("d").between("1995-04-01", "1995-04-30"))
          .withColumn("_del", lit(false)))
      st.mergeInto("t", src, "k", deleteCol = Some("_del"),
        statsCols = Seq("k"))
      drain() // batch 1: the merge's diff maintains the MV
      val vAfter = st.versions("mv").max
      drain() // replay: nothing may move
      require(st.versions("mv").max == vAfter,
        "a drained CDC stream must not re-apply")
      st.read("mv").select(col("d"), col("n"), col("sum_cents"))
    }),

    // DELETE without rewrite — deletion vectors
    // (SnapshotStore.deleteWhere): 10% of the table deletes as one
    // small parquet key vector (in-query require: data dirs BYTE-
    // IDENTICAL by name, vector present), readers anti-join it
    // broadcast; a later MERGE re-inserts a third of the deleted keys
    // at doubled price and SUBTRACTS them from the carried vector —
    // upsert-after-delete resurrects. At 100 TB: deleting 0.1% costs
    // key IO, not a file rewrite.
    // Secondary index: exact (value -> dir) membership for point
    // lookups on a column the LAYOUT does not correlate with — where
    // min/max stats keep every dir and blooms still false-positive,
    // the index answers with NO false positives. Built once, extended
    // INCREMENTALLY (only never-seen dirs scan on refresh), consulted
    // at O(dirs) driver cost. The in-query requires pin the pruning:
    // per-priority commits make dirs value-pure, so the urgent lookup
    // must keep exactly 1 of 5 dirs before the mixed append, and
    // 2 of 6 after (urgent dir + the new mixed dir) — while rows stay
    // layout-invisibly equal to the flat filter.
    "q252_secondary_index" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q252_snap", dir)
      Seq("t", "t__idx__pri").foreach(d =>
        graft.sources.Scratch.deleteRecursively(new java.io.File(root, d)))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pri"), col("o_totalprice").as("p"))
      val half = o.where(col("k") % 2 === 0)
      val pris = half.select(col("pri")).distinct()
        .collect().map(_.getString(0)).sorted
      pris.zipWithIndex.foreach { case (pv, i) =>
        st.commit("t", half.where(col("pri") === pv),
          overwrite = i == 0, statsCols = Seq("k"))
      }
      st.indexRefresh("t", "pri")
      val (keep1, skip1) = st.indexedDirsEq("t", "pri", "1-URGENT")
      require(keep1.size == 1 && skip1.size == pris.length - 1,
        s"index must keep exactly the urgent dir, got $keep1 / $skip1")
      st.commit("t", o.where(col("k") % 2 === 1), overwrite = false,
        statsCols = Seq("k")) // mixed dir: uncovered until refresh
      val (keep2, _) = st.indexedDirsEq("t", "pri", "1-URGENT")
      require(keep2.size == 2, "uncovered dir must be kept conservatively")
      st.indexRefresh("t", "pri") // incremental: scans ONLY the new dir
      val (keep3, skip3) = st.indexedDirsEq("t", "pri", "1-URGENT")
      require(keep3.size == 2 && skip3.size == pris.length - 1,
        "after refresh the mixed dir is indexed, urgent keeps 2 dirs")
      st.readIndexedEq("t", "pri", "1-URGENT")
    }),

    // DEEP CLONE across store roots: byte-copied data dirs (stats
    // sidecars and deletion vectors included) + a fresh v1 manifest —
    // fully independent of the source (later source commits invisible,
    // required), with data SKIPPING intact at the target (the pruning
    // split must still skip dirs, required — the sidecars traveled).
    "q264_deep_clone" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q264_snap", dir)
      Seq("a", "b").foreach(d =>
        graft.sources.Scratch.deleteRecursively(new java.io.File(root, d)))
      val src = new graft.sources.SnapshotStore(s, s"$root/a")
      val dst = new graft.sources.SnapshotStore(s, s"$root/b")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_totalprice").as("p"))
      src.commit("t", o.where(col("d") < "1998-01-01"), overwrite = true,
        statsCols = Seq("k", "d"))
      src.commit("t", o.where(col("d") >= "1998-01-01"), overwrite = false,
        statsCols = Seq("k", "d"))
      src.deleteWhere("t", "k", col("k") % 10 === 0)
      src.deepClone(dst, "t", "t")
      // independence: the source moves on (fresh keys — a re-insert of
      // deleted keys would stay DV-suppressed), the clone must not
      src.commit("t", o.where(col("k") % 97 === 0)
        .withColumn("k", -col("k")), overwrite = false,
        statsCols = Seq("k", "d"))
      require(dst.read("t").count() < src.read("t").count(),
        "clone must be pinned, not a live reference")
      // the copied sidecars still prune at the target
      val (keep, skip) = dst.pruneDirs("t", "d", "1999-01-01", "2099-12-31")
      require(skip.nonEmpty && keep.nonEmpty,
        "data skipping must survive the clone (sidecars traveled)")
      dst.read("t")
    }),

    // Retention expiry at partition-drop cost: three range commits
    // (stats sidecars on the date), DELETE WHERE d < cutoff — the
    // all-before dir leaves the manifest with ZERO data IO, the
    // straddling dir contributes a residual deletion vector scanned
    // from itself alone, the future dir is untouched; one atomic
    // publish. The in-query requires pin the structure (exactly one
    // dir dropped, exactly one vector added, live dirs carried by
    // name); the oracle pins the surviving rows.
    "q263_retention_expiry" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q263_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_totalprice").as("p"))
      st.commit("t", o.where(col("d") < "1997-01-01"), overwrite = true,
        statsCols = Seq("k", "d"))
      st.commit("t", o.where(col("d") >= "1997-01-01" && col("d") < "1999-01-01"),
        overwrite = false, statsCols = Seq("k", "d"))
      st.commit("t", o.where(col("d") >= "1999-01-01"), overwrite = false,
        statsCols = Seq("k", "d"))
      val before = st.manifestDirs("t")
      val v = st.expireBefore("t", "d", "1998-01-01", keyCol = "k")
      val after = st.manifestDirs("t", Some(v))
      require(after.size == before.size - 1 && after.forall(before.contains),
        "exactly the all-before dir must leave; live dirs carry by name")
      require(st.manifestDels("t", v).size == 1,
        "the straddling dir contributes exactly one residual vector")
      st.read("t")
    }),

    // WAP with a REBASE: main moves while the branch is loading, the
    // fast-forward refuses (q245's OCC), and rebaseBranch recovers —
    // re-pointing the branch onto main's new head while keeping the
    // branch's appends (O(files) metadata; branch-side deletes refuse
    // — only a re-audit can prove them against rows main rewrote).
    // Audit re-runs on the rebased branch, publish lands atomically.
    "q261_wap_rebase" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q261_snap", dir)
      Seq("t", "t@load").foreach(d =>
        graft.sources.Scratch.deleteRecursively(new java.io.File(root, d)))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 3 === 0), overwrite = true,
        statsCols = Seq("k"))
      st.branchCreate("t", "load")
      val b = st.branchView("t", "load")
      st.commit(b, o.where(col("k") % 3 === 1), overwrite = false,
        statsCols = Seq("k")) // branch work
      st.commit("t", o.where(col("k") % 3 === 2), overwrite = false,
        statsCols = Seq("k")) // concurrent main writer
      val refused =
        try { st.fastForward("t", "load"); false }
        catch { case _: st.SnapshotConflict => true }
      require(refused, "diverged branch must refuse fast-forward")
      st.rebaseBranch("t", "load")
      require(st.read(b).count() == o.count(),
        "rebased branch must see main's new rows plus its own")
      st.fastForward("t", "load")
      st.read("t")
    }),

    // WAP — write, audit, publish: the deployment workflow that keeps
    // unaudited data out of the serving table. Branch = zero-copy
    // shallow clone (branchCreate); writes land on the branch with the
    // store's NORMAL commit API while main stays pinned (verified);
    // the audit is the declarative Expectations gate over the branch
    // read; publish = fastForward — an O(files) atomic manifest swing,
    // no data copied. The OCC half is exercised too: after main moves,
    // fast-forwarding a stale branch must throw (publishing an audit
    // of a stale base is the lost update WAP exists to prevent).
    // Graded output = main after the cycle.
    "q245_wap_publish" -> ((s, dir) => {
      import graft.operators.Expectations
      val root = graft.sources.Scratch.processScoped("q245_snap", dir)
      Seq("t", "t@load", "t@stale").foreach(d =>
        graft.sources.Scratch.deleteRecursively(new java.io.File(root, d)))
      val st = new graft.sources.SnapshotStore(s, root)
      val c = t(s, dir, "customer").select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
      st.commit("t", c.where(col("k") % 4 === 0), overwrite = true,
        statsCols = Seq("k"))
      val mainBase = st.versions("t").max
      // W: two commits on the branch, main never sees them
      st.branchCreate("t", "load")
      val b = st.branchView("t", "load")
      st.commit(b, c.where(col("k") % 4 === 1), overwrite = false,
        statsCols = Seq("k"))
      st.commit(b, c.where(col("k") % 4 === 2), overwrite = false,
        statsCols = Seq("k"))
      require(st.versions("t").max == mainBase,
        "branch writes must not advance main")
      // A: the declarative gate runs against the BRANCH
      val audit = Expectations.validate(st.read(b),
        Seq(Expectations.NotNull("k"), Expectations.Unique(Seq("k"))))
      require(audit.agg(sum(col("n_violations"))).head.getLong(0) == 0L,
        "audit must pass before publish")
      // P: atomic fast-forward
      st.fastForward("t", "load")
      // OCC: a stale branch (main advanced underneath) must NOT publish
      st.branchCreate("t", "stale")
      st.commit(st.branchView("t", "stale"), c.where(col("k") % 8 === 3),
        overwrite = false, statsCols = Seq("k"))
      st.commit("t", c.where(col("k") % 4 === 3), overwrite = false,
        statsCols = Seq("k")) // concurrent writer on main
      val conflicted =
        try { st.fastForward("t", "stale"); false }
        catch { case _: st.SnapshotConflict => true }
      require(conflicted, "fast-forward of a diverged branch must throw")
      st.read("t")
    }),

    // Table maintenance in PURE SQL — the injectParser tier's command
    // statements (Delta's spellings): `OPTIMIZE t` parses to a
    // RunnableCommand that compacts the registered store view (three
    // commit dirs → one, metrics row back), and `VACUUM t RETAIN 1
    // VERSIONS` GC's the unreferenced dirs + old manifests (removed
    // count back). In-query requires pin the command effects (one dir,
    // ≥3 dirs GC'd, only the compacted version retained); the graded
    // frame is the post-maintenance read — byte-identical to the
    // union of the three commits.
    "q267_sql_maintenance" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q267_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 3 === 0), overwrite = true,
        statsCols = Seq("k"))
      st.commit("t", o.where(col("k") % 3 === 1), overwrite = false,
        statsCols = Seq("k"))
      st.commit("t", o.where(col("k") % 3 === 2), overwrite = false,
        statsCols = Seq("k"))
      graft.plans.GraftTableRegistry.register("t267", st, "t")
      val ov = s.sql("OPTIMIZE t267").head()
      require(ov.getLong(1) == 4L && st.manifestDirs("t").size == 1,
        "OPTIMIZE must compact to one dir at v4")
      val rv = s.sql("VACUUM t267 RETAIN 1 VERSIONS").head()
      require(rv.getLong(1) >= 3L,
        s"pre-compaction dirs must be GC'd, removed=${rv.getLong(1)}")
      require(st.versions("t") == Seq(4L), "older manifests dropped")
      st.read("t")
    }),

    // DELETE FROM in PURE SQL — the GDPR statement end to end: two
    // `DELETE FROM t WHERE <pred>` statements run deletion-vector
    // deletes through the registry's recorded key column (zero data
    // rewrite — in-query requires pin untouched dirs and the carried
    // vectors), composing with the rest of the SQL surface: the graded
    // frame itself reads back through `VERSION AS OF` the post-delete
    // version. Oracle replays both predicates declaratively.
    "q269_sql_delete" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q269_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.repartition(3), overwrite = true, statsCols = Seq("k"))
      val dirs1 = st.manifestDirs("t").toSet
      graft.plans.GraftTableRegistry.register("t269", st, "t", keyCol = "k")
      val d1 = s.sql("DELETE FROM t269 WHERE k % 11 = 0").head()
      val d2 = s.sql("DELETE FROM t269 WHERE cust % 13 = 0 AND k % 11 <> 0").head()
      require(d1.getLong(1) == 2L && d2.getLong(1) == 3L,
        "each DELETE must publish one version")
      require(st.manifestDirs("t").toSet == dirs1,
        "vector deletes must not rewrite data dirs")
      require(st.manifestDels("t", 3L).size == 2, "two carried vectors")
      s.sql("SELECT k, cust, p FROM t269 VERSION AS OF 3")
    }),

    // INSERT INTO + UPDATE in PURE SQL — the rest of the DML family:
    // the INSERT payload is itself full session SQL (here reading the
    // odd half from a temp view), lands as ONE append commit; UPDATE
    // compiles to the keyed copy-on-write MERGE (only key-overlapping
    // dirs rewrite) with the rows_updated count back. The graded frame
    // is the post-DML table; the oracle replays both statements
    // declaratively.
    "q270_sql_dml" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q270_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      o.createOrReplaceTempView("q270_orders")
      st.commit("t", o.where(col("k") % 2 === 0), overwrite = true,
        statsCols = Seq("k"))
      graft.plans.GraftTableRegistry.register("t270", st, "t", keyCol = "k")
      val ins = s.sql(
        "INSERT INTO t270 SELECT k, cust, p FROM q270_orders WHERE k % 2 = 1")
        .head()
      require(ins.getLong(1) == 2L && ins.getLong(2) > 0,
        s"insert must land as v2 with rows: $ins")
      val up = s.sql("UPDATE t270 SET p = p * 2 WHERE cust % 10 = 0").head()
      require(up.getLong(1) == 3L && up.getLong(2) > 0,
        s"update must land as ONE commit with rows: $up")
      require(st.versions("t") == Seq(1L, 2L, 3L), "exactly three versions")
      st.read("t")
    }),

    // MERGE INTO in PURE SQL — the lakehouse statement: the upsert-all
    // shape with a matched-DELETE clause compiles to the store's keyed
    // copy-on-write merge (one atomic commit, file skipping, tombstone
    // deletes). Matched rows replace whole, del-flagged matches drop,
    // unmatched insert; the oracle replays all three outcomes
    // declaratively.
    "q271_sql_merge" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q271_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 2 === 0), overwrite = true,
        statsCols = Seq("k"))
      o.where(col("k") % 3 === 0)
        .select(col("k"), col("cust"), (col("p") * 2).as("p"),
          (col("k") % 10 === 0).as("del"))
        .createOrReplaceTempView("q271_src")
      graft.plans.GraftTableRegistry.register("t271", st, "t", keyCol = "k")
      val r = s.sql(
        """MERGE INTO t271 AS t USING q271_src AS s ON t.k = s.k
           WHEN MATCHED AND del THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""").head()
      require(r.getLong(1) == 2L, "one atomic commit")
      st.read("t")
    }),

    // The SQL-ONLY lifecycle capstone: after the seed commit, EVERY
    // mutation and read runs through spark.sql over the registered
    // name — INSERT (payload = session SQL), UPDATE (simultaneous SET
    // via keyed merge), DELETE (deletion vector), MERGE (upsert-all,
    // including resurrect-by-reinsert of previously deleted keys),
    // OPTIMIZE (compact), VACUUM (GC to 2 versions), DESCRIBE HISTORY
    // (pinned to the retained count), and the graded frame itself is a
    // VERSION AS OF read. One oracle replays the whole composition
    // declaratively — a user of this engine can live entirely in SQL.
    "q272_sql_lifecycle" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q272_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      o.createOrReplaceTempView("q272_orders")
      o.where(col("k") % 6 === 0)
        .select(col("k"), col("cust"), (col("p") * 3).as("p"))
        .createOrReplaceTempView("q272_src")
      st.commit("t", o.where(col("k") % 4 === 0), overwrite = true,
        statsCols = Seq("k"))
      graft.plans.GraftTableRegistry.register("t272", st, "t", keyCol = "k")
      s.sql("INSERT INTO t272 SELECT k, cust, p FROM q272_orders WHERE k % 4 = 1")
      s.sql("UPDATE t272 SET p = p + 1000 WHERE cust % 7 = 0")
      s.sql("DELETE FROM t272 WHERE k % 20 = 0")
      s.sql("""MERGE INTO t272 AS t USING q272_src AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("OPTIMIZE t272")
      s.sql("VACUUM t272 RETAIN 2 VERSIONS")
      require(s.sql("DESCRIBE HISTORY t272").count() == 2L,
        "vacuum must leave exactly the 2 retained versions")
      require(st.versions("t") == Seq(5L, 6L), st.versions("t").toString)
      s.sql("SELECT k, cust, p FROM t272 VERSION AS OF 6")
    }),

    // q272's composition with ZERO Scala setup — the table itself is
    // BORN in SQL: CREATE TABLE ... USING graft ... AS SELECT seeds v1
    // and records the registry binding (PRIMARY KEY k enables the
    // keyed DML), then the same INSERT/UPDATE/DELETE/MERGE/OPTIMIZE/
    // VACUUM flow runs, then DROP TABLE unbinds the name (in-query
    // require: DML stops resolving) and CREATE TABLE IF NOT EXISTS
    // re-ADOPTS the on-disk view at its current version — the full
    // catalog story: create, mutate, maintain, drop, re-attach, all
    // from SQL. Oracle = q272's declarative replay (same composition).
    "q273_sql_create_table" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q273_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t273"))
      graft.plans.GraftTableRegistry.unregister("t273")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q273_orders")
      s.sql("CREATE OR REPLACE TEMP VIEW q273_src AS " +
        "SELECT k, cust, p * 3 AS p FROM q273_orders WHERE k % 6 = 0")
      val created = s.sql(s"CREATE TABLE t273 USING graft PRIMARY KEY k " +
        s"LOCATION '$root' AS SELECT k, cust, p FROM q273_orders " +
        "WHERE k % 4 = 0").head()
      require(created.getLong(1) == 1L, created.toString)
      s.sql("INSERT INTO t273 SELECT k, cust, p FROM q273_orders WHERE k % 4 = 1")
      s.sql("UPDATE t273 SET p = p + 1000 WHERE cust % 7 = 0")
      s.sql("DELETE FROM t273 WHERE k % 20 = 0")
      s.sql("""MERGE INTO t273 AS t USING q273_src AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("OPTIMIZE t273")
      s.sql("VACUUM t273 RETAIN 2 VERSIONS")
      require(s.sql("DESCRIBE HISTORY t273").count() == 2L,
        "vacuum must leave exactly the 2 retained versions")
      s.sql("DROP TABLE t273")
      require(scala.util.Try(
        s.sql("DELETE FROM t273 WHERE k = 0").collect()).isFailure,
        "after DROP the name must fall through to the stock parser")
      require(s.sql("CREATE TABLE IF NOT EXISTS t273 " +
        "(k BIGINT, cust BIGINT, p DOUBLE) USING graft PRIMARY KEY k " +
        s"LOCATION '$root'").head().getLong(1) == 6L,
        "IF NOT EXISTS must adopt the on-disk view at its current version")
      s.sql("SELECT k, cust, p FROM t273 VERSION AS OF 6")
    }),

    // COLUMN-LEVEL SQL MERGE — the migration shape (`UPDATE SET c =
    // expr` over BOTH sides, `INSERT (cols) VALUES (exprs)`), compiled
    // to the keyed copy-on-write mergeInto with a projected source.
    // Three statements grade all three clause shapes on one table:
    // both-clause (matched rows get p += bonus, unmatched insert with
    // a literal segment), update-only (unmatched source rows must NOT
    // insert), insert-only (matched source rows must NOT touch the
    // target). The oracle replays the composition declaratively; all
    // arithmetic is identical per-row double math on both engines.
    "q274_sql_merge_columns" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q274_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t274"))
      graft.plans.GraftTableRegistry.unregister("t274")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q274_orders")
      s.sql(s"CREATE TABLE t274 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, CAST('base' AS STRING) AS seg, p " +
        "FROM q274_orders WHERE k % 2 = 0")
      s.sql("CREATE OR REPLACE TEMP VIEW q274_src AS " +
        "SELECT k, cust, p * 0.5 AS bonus FROM q274_orders WHERE k % 3 = 0")
      s.sql("""MERGE INTO t274 AS t USING q274_src AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET p = t.p + s.bonus, seg = 'boosted'
               WHEN NOT MATCHED THEN INSERT (k, cust, seg, p)
               VALUES (s.k, s.cust, 'inserted', s.bonus)""")
      // update-only: k%5=0 source rows bump p; the k%2<>0, %3<>0 ones
      // must not insert
      s.sql("CREATE OR REPLACE TEMP VIEW q274_src2 AS " +
        "SELECT k, 100.0 AS bump FROM q274_orders WHERE k % 5 = 0")
      s.sql("""MERGE INTO t274 AS t USING q274_src2 AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET p = t.p + s.bump""")
      // insert-only: k%7=0 rows insert only where absent (NULL cust)
      s.sql("CREATE OR REPLACE TEMP VIEW q274_src3 AS " +
        "SELECT k, p FROM q274_orders WHERE k % 7 = 0")
      s.sql("""MERGE INTO t274 AS t USING q274_src3 AS s ON t.k = s.k
               WHEN NOT MATCHED THEN INSERT (k, seg, p)
               VALUES (s.k, 'lateinsert', s.p)""")
      s.sql("SELECT k, cust, seg, p FROM t274 VERSION AS OF 4")
    }),

    // The DV-vs-REWRITE escalation graded end-to-end through SQL:
    // with the probe forced on (rewriteMinBytes=0 — at production
    // defaults it arms past 1 GB of table data) a DELETE matching ~1/3
    // of the table crosses rewriteFraction=0.3 and escalates to
    // copy-on-write instead of publishing an unbounded deletion
    // vector. Structure pinned in-query: NO vector exists after the
    // delete, the key-disjoint second dir is carried BY NAME (zero
    // IO), the matched dir is gone. The oracle replays the delete
    // declaratively; the half-split threshold is expressed as
    // k*2 <= max(k) on both engines so integer flooring agrees.
    "q275_dv_rewrite" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q275_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t275"))
      graft.plans.GraftTableRegistry.unregister("t275")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      o.createOrReplaceTempView("q275_orders")
      val h = o.agg(max(col("k"))).head().getLong(0) / 2
      s.sql(s"CREATE TABLE t275 USING graft PRIMARY KEY k LOCATION '$root' " +
        s"AS SELECT k, cust, p FROM q275_orders WHERE k <= $h")
      s.sql(s"INSERT INTO t275 SELECT k, cust, p FROM q275_orders WHERE k > $h")
      val st = graft.plans.GraftTableRegistry.lookup("t275").get._1
      val dirsBefore = st.manifestDirs("t275")
      try {
        s.conf.set("spark.graft.dv.rewriteMinBytes", "0")
        s.conf.set("spark.graft.dv.rewriteFraction", "0.3")
        s.sql(s"DELETE FROM t275 WHERE k % 3 <> 0 AND k <= $h")
      } finally {
        s.conf.unset("spark.graft.dv.rewriteMinBytes")
        s.conf.unset("spark.graft.dv.rewriteFraction")
      }
      val v = st.versions("t275").max
      require(v == 3L, s"CTAS + INSERT + rewrite-delete = v3, got v$v")
      require(st.manifestDels("t275", v).isEmpty,
        "a wide delete must escalate to rewrite — no deletion vector")
      val dirsAfter = st.manifestDirs("t275", Some(v))
      require(dirsAfter.contains(dirsBefore(1)),
        s"the key-disjoint dir must carry by name: $dirsBefore -> $dirsAfter")
      require(!dirsAfter.contains(dirsBefore.head),
        s"the matched dir must be rewritten away: $dirsBefore -> $dirsAfter")
      s.sql("SELECT k, cust, p FROM t275 VERSION AS OF 3")
    }),

    // SQL schema evolution: ALTER TABLE ADD COLUMN is ONE empty append
    // dir carrying the widened schema (zero data IO — the store's
    // per-dir-schema merge makes existing rows surface NULL), then the
    // evolved column round-trips through INSERT (positional, 4-wide)
    // and a keyed UPDATE that backfills a slice of the OLD rows. The
    // graded read proves old dirs (no such column on disk), the empty
    // schema dir, and post-evolution data all merge to one frame.
    "q276_sql_alter_schema" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q276_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t276"))
      graft.plans.GraftTableRegistry.unregister("t276")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q276_orders")
      s.sql(s"CREATE TABLE t276 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q276_orders WHERE k % 2 = 0")
      val av = s.sql("ALTER TABLE t276 ADD COLUMN note STRING").head()
      require(av.getLong(1) == 2L, av.toString)
      s.sql("INSERT INTO t276 SELECT k, cust, p, " +
        "concat('n', CAST(k AS STRING)) FROM q276_orders WHERE k % 2 <> 0")
      s.sql("UPDATE t276 SET note = 'old' WHERE k % 10 = 0")
      s.sql("SELECT k, cust, p, note FROM t276 VERSION AS OF 4")
    }),

    // The CHANGE DATA FEED as a SQL relation: `t CHANGES FROM a TO b`
    // rewrites (quote-masked, like VERSION AS OF) to the registry-
    // bound snapshot diff — typed insert/update/delete rows with full
    // pre/post payloads, composable into any statement. The graded
    // frame diffs v1 -> v4 across INSERT + UPDATE + DV-DELETE run
    // through SQL; the oracle constructs the same typed rows
    // declaratively (note: the deleted rows' pre-payload is their v1
    // value — the intermediate update is invisible to a v1-v4 diff,
    // exactly snapshot-diff semantics).
    "q278_sql_changes" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q278_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t278"))
      graft.plans.GraftTableRegistry.unregister("t278")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q278_orders")
      s.sql(s"CREATE TABLE t278 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q278_orders WHERE k % 4 = 0")
      s.sql("INSERT INTO t278 SELECT k, cust, p FROM q278_orders WHERE k % 4 = 1")
      s.sql("UPDATE t278 SET p = p + 1000 WHERE cust % 7 = 0")
      s.sql("DELETE FROM t278 WHERE k % 20 = 0")
      s.sql("SELECT change_type, k, p_pre, p_post FROM t278 CHANGES FROM 1 TO 4")
    }),

    // ANALYZE TABLE in SQL — Spark's own statement spelling over a
    // registered store view: the exact long-format column profile
    // (rows / non-null / NDV / min / max) in ONE aggregation pass,
    // graded against the declarative per-column replay. Profiled
    // columns are integer/string (exact cross-engine string casts —
    // float repr is engine-dependent and belongs to the numeric
    // profilers).
    "q279_sql_analyze" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q279_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t279"))
      graft.plans.GraftTableRegistry.unregister("t279")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_orderpriority").as("prio"))
        .createOrReplaceTempView("q279_orders")
      s.sql(s"CREATE TABLE t279 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, prio FROM q279_orders WHERE k % 3 = 0")
      s.sql("ANALYZE TABLE t279 COMPUTE STATISTICS FOR COLUMNS k, cust, prio")
    }),

    // The DURABLE catalog: CREATE TABLE persists its (name -> root,
    // view, key) binding as an atomically-published catalog file under
    // the store root, so the binding survives a JVM restart — graded
    // by WIPING the in-memory registry between every statement (the
    // restart simulation) and running INSERT/UPDATE/DELETE/SHOW/SELECT
    // purely off the re-materialized disk binding, including the
    // PLAIN-NAME read (no VERSION AS OF — the restarted-session
    // SELECT). The oracle replays the composition declaratively.
    "q280_sql_durable_catalog" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q280_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t280"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "_catalog"))
      graft.plans.GraftTableRegistry.unregister("t280")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q280_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t280 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t280 SELECT k, cust, p FROM q280_orders WHERE k % 3 = 0")
        graft.plans.GraftTableRegistry.clearInMemory() // "restart" #1
        s.sql("INSERT INTO t280 SELECT k, cust, p FROM q280_orders WHERE k % 3 = 1")
        graft.plans.GraftTableRegistry.clearInMemory() // "restart" #2
        s.sql("UPDATE t280 SET p = p + 1000 WHERE cust % 5 = 0")
        s.sql("DELETE FROM t280 WHERE k % 30 = 0")
        graft.plans.GraftTableRegistry.clearInMemory() // "restart" #3
        require(s.sql("SHOW GRAFT TABLES").collect()
          .exists(r => r.getString(0) == "t280" && r.getString(3) == "k"),
          "SHOW must list the disk-backed binding with its key")
        s.sql("SELECT k, cust, p FROM t280")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // The GENERAL conditional MERGE: four WHEN clauses with
    // FIRST-MATCH-WINS precedence (SQL:2003 / Delta) — a matched row
    // satisfying both the update and the delete condition takes the
    // UPDATE (clause order), the conditional DELETE fires only on its
    // residue, unconditional fall-through updates the rest, and a
    // conditional NOT-MATCHED INSERT filters the strays. One atomic
    // copy-on-write commit (in-query require). The oracle replays all
    // four outcomes declaratively with identical per-row double
    // arithmetic in the same association order.
    "q281_sql_merge_when" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q281_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 2 === 0), overwrite = true,
        statsCols = Seq("k"))
      o.where(col("k") % 3 === 0)
        .select(col("k"), (col("p") * 0.5).as("np"))
        .createOrReplaceTempView("q281_src")
      graft.plans.GraftTableRegistry.register("t281", st, "t", keyCol = "k")
      val r = s.sql(
        """MERGE INTO t281 AS t USING q281_src AS s ON t.k = s.k
           WHEN MATCHED AND t.cust % 10 = 0 THEN UPDATE SET p = t.p + s.np
           WHEN MATCHED AND t.cust % 5 = 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET p = t.p + 1
           WHEN NOT MATCHED AND s.np < 20000 THEN INSERT (k, cust, p)
             VALUES (s.k, -1, s.np)""").head()
      require(r.getLong(1) == 2L, "one atomic commit")
      st.read("t")
    }),

    // CLUSTER BY at CREATE TABLE: the DDL-declared layout routes every
    // INSERT through the Hilbert range-dir writer, so a 2-D box query
    // prunes dirs on a table that has NEVER run OPTIMIZE — skipping as
    // the table's DEFAULT, not a maintenance action. In-query requires
    // pin the multi-dir layout and that the box prune actually skips;
    // the graded frame is the exact pruned read.
    "q282_sql_cluster_create" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q282_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t282"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "_catalog"))
      graft.plans.GraftTableRegistry.unregister("t282")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q282_orders")
      s.sql("CREATE TABLE t282 (k BIGINT, a BIGINT, b BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k CLUSTER BY (a, b) LOCATION '$root'")
      s.sql("INSERT INTO t282 SELECT k, cust % 64, k % 64, p " +
        "FROM q282_orders WHERE k % 2 = 0")
      s.sql("INSERT INTO t282 SELECT k, cust % 64, k % 64, p " +
        "FROM q282_orders WHERE k % 2 = 1")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t282").get
      require(st.manifestDirs(view).size >= 6,
        s"clustered inserts must land range dirs: ${st.manifestDirs(view)}")
      val preds = Seq(("a", "0", "15"), ("b", "0", "15"))
      val (_, skipped) = st.pruneDirsBox(view, preds)
      require(skipped.nonEmpty,
        "the 2-D box prune must skip dirs on a never-OPTIMIZEd table")
      st.readPrunedBox(view, preds)
    }),

    // Wall-clock TIME TRAVEL: commit timestamps are recorded in the
    // manifests (monotonic-guarded, Delta's in-commit-timestamp rule)
    // and `TIMESTAMP AS OF '<instant>'` resolves to the snapshot a
    // reader AT that instant saw. The graded frame reads BETWEEN two
    // commits (the v1 content); in-query requires pin the at-v2
    // resolution and the too-early refusal. Oracle = v1 declaratively.
    "q283_sql_timestamp_travel" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q283_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 2 === 0), overwrite = true,
        statsCols = Seq("k"))
      st.commit("t", o.where(col("k") % 2 =!= 0), overwrite = false,
        statsCols = Seq("k"))
      graft.plans.GraftTableRegistry.register("t283", st, "t", keyCol = "k")
      val t1 = st.commitTimestamp("t", 1L)
      val t2 = st.commitTimestamp("t", 2L)
      require(t2 > t1, "commit timestamps must strictly ascend")
      require(s.sql(s"SELECT * FROM t283 TIMESTAMP AS OF '$t2'").count() >
        s.sql(s"SELECT * FROM t283 TIMESTAMP AS OF '$t1'").count(),
        "the v2 instant must see the appended rows")
      require(scala.util.Try(s.sql(
        s"SELECT * FROM t283 TIMESTAMP AS OF '${t1 - 10}'").collect()).isFailure,
        "an instant before the first commit must refuse loudly")
      // between the two commits (t2 - 1 >= t1 by the monotonic guard):
      // the snapshot a reader at that instant saw is exactly v1
      s.sql(s"SELECT k, cust, p FROM t283 TIMESTAMP AS OF '${t2 - 1}'")
    }),

    // Opt-in PRIMARY KEY enforcement: with
    // spark.graft.sql.enforcePrimaryKey=true an INSERT that would
    // duplicate the recorded key — against the table OR within its own
    // payload — refuses BEFORE any write, naming the key (in-query
    // requires); clean inserts land. Default stays informational like
    // Delta (the scaladoc/README contract). Oracle = the two admitted
    // slices declaratively.
    "q284_sql_pk_enforce" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q284_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t284"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "_catalog"))
      graft.plans.GraftTableRegistry.unregister("t284")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q284_orders")
      s.sql("CREATE TABLE t284 (k BIGINT, cust BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k LOCATION '$root'")
      s.sql("INSERT INTO t284 SELECT k, cust, p FROM q284_orders WHERE k % 4 = 0")
      s.conf.set("spark.graft.sql.enforcePrimaryKey", "true")
      try {
        val dup = scala.util.Try(s.sql(
          "INSERT INTO t284 SELECT k, cust, p FROM q284_orders WHERE k % 8 = 0"))
        require(dup.isFailure &&
          dup.failed.get.getMessage.contains("already exists"),
          s"an existing-key INSERT must refuse naming the key: $dup")
        val intra = scala.util.Try(s.sql(
          "INSERT INTO t284 SELECT k, cust, p FROM q284_orders WHERE k % 4 = 1 " +
            "UNION ALL SELECT k, cust, p FROM q284_orders WHERE k % 4 = 1"))
        require(intra.isFailure &&
          intra.failed.get.getMessage.contains("repeats PRIMARY KEY"),
          s"an intra-batch duplicate must refuse: $intra")
        s.sql("INSERT INTO t284 SELECT k, cust, p FROM q284_orders WHERE k % 4 = 1")
      } finally s.conf.unset("spark.graft.sql.enforcePrimaryKey")
      s.sql("SELECT k, cust, p FROM t284 VERSION AS OF 3")
    }),

    // CHANGES ... TO LATEST + timestamp bounds: the poller's form — no
    // history query needed to name the head version, and a wall-clock
    // FROM bound resolves through the commit timestamps to the same
    // feed (in-query require pins the equivalence). Same typed-diff
    // oracle shape as q278.
    "q285_sql_changes_latest" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q285_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t285"))
      graft.plans.GraftTableRegistry.unregister("t285")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q285_orders")
      s.sql(s"CREATE TABLE t285 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q285_orders WHERE k % 4 = 0")
      s.sql("INSERT INTO t285 SELECT k, cust, p FROM q285_orders WHERE k % 4 = 1")
      s.sql("UPDATE t285 SET p = p + 1000 WHERE cust % 7 = 0")
      s.sql("DELETE FROM t285 WHERE k % 20 = 0")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t285").get
      val t1 = st.commitTimestamp(view, 1L)
      val viaLatest = s.sql(
        "SELECT change_type, k, p_pre, p_post FROM t285 CHANGES FROM 1 TO LATEST")
      val viaTs = s.sql("SELECT change_type, k, p_pre, p_post FROM t285 " +
        s"CHANGES FROM TIMESTAMP '$t1' TO LATEST")
      require(viaTs.exceptAll(viaLatest).isEmpty &&
        viaLatest.exceptAll(viaTs).isEmpty,
        "the timestamp FROM bound must resolve to the same feed")
      viaLatest
    }),

    // SHOW CREATE TABLE — the porting / disaster-recovery statement:
    // its rows (the CREATE plus one ALTER … ADD CONSTRAINT per
    // recorded constraint) replayed VERBATIM on a wiped session must
    // rebuild the whole binding — schema, key, constraint — against
    // the surviving data (adoption: DROP unbinds, data stays). Graded
    // by doing exactly that, then proving keyed DML works and the
    // replayed constraint still refuses (in-query requires). Oracle =
    // the surviving composition declaratively.
    "q286_sql_show_create" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q286_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t286"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "_catalog"))
      graft.plans.GraftTableRegistry.unregister("t286")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q286_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t286 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("ALTER TABLE t286 ADD CONSTRAINT p_pos CHECK (p > 0)")
        s.sql("INSERT INTO t286 SELECT k, cust, p FROM q286_orders WHERE k % 3 = 0")
        val stmts = s.sql("SHOW CREATE TABLE t286").collect()
          .map(_.getString(0)).toSeq
        require(stmts.size == 2 &&
          stmts.head.startsWith("CREATE TABLE IF NOT EXISTS t286 (") &&
          stmts(1).startsWith("ALTER TABLE t286 ADD CONSTRAINT p_pos"),
          s"re-executable DDL rows: $stmts")
        s.sql("DROP TABLE t286")
        graft.plans.GraftTableRegistry.clearInMemory() // the DR "restart"
        stmts.foreach(s.sql(_))
        // the key carried: keyed DML works on the replayed binding
        s.sql("UPDATE t286 SET p = p + 1000 WHERE cust % 5 = 0")
        // the constraint carried: a violating INSERT still refuses
        require(scala.util.Try(s.sql(
          "INSERT INTO t286 VALUES (999999999, 1, -5.0)").collect()).isFailure,
          "the replayed constraint must enforce")
        s.sql("SELECT k, cust, p FROM t286")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // REPLACE WHERE — the atomic region swap ("reload one day's
    // partition"): one commit = (rows NOT matching the predicate) ∪
    // (payload), with partition-overwrite cost — the in-query requires
    // pin that the dir whose stats PROVE the predicate misses carries
    // into the new manifest BY NAME (zero IO at 100 TB: every
    // unmatched partition) and that a payload row OUTSIDE the region
    // refuses without publishing. Oracle replays the swap
    // declaratively.
    "q287_sql_replace_where" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q287_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t287"))
      graft.plans.GraftTableRegistry.unregister("t287")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q287_orders")
      s.sql(s"CREATE TABLE t287 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q287_orders WHERE k < 300")
      s.sql("INSERT INTO t287 SELECT k, cust, p FROM q287_orders WHERE k >= 600")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t287").get
      val highDir = st.manifestDirs(view).last // k >= 600 — provably unmatched
      val r = s.sql("INSERT INTO t287 REPLACE WHERE k < 300 " +
        "SELECT k, cust, p * 2 FROM q287_orders WHERE k < 300 AND k % 3 = 0")
        .head()
      require(r.getLong(1) == 3L, s"one atomic commit: $r")
      require(st.manifestDirs(view).contains(highDir),
        "the provably-unmatched dir must carry by name — partition-" +
          "overwrite cost, not a table rewrite")
      // a payload row outside the region refuses in the write job,
      // before any publish
      val stray = scala.util.Try(s.sql(
        "INSERT INTO t287 REPLACE WHERE k < 300 VALUES (5000, 1, 1.0)")
        .collect())
      require(stray.isFailure && st.versions(view).max == 3L,
        s"stray payload rows must refuse without publishing: $stray")
      s.sql("SELECT k, cust, p FROM t287")
    }),

    // INSERT OVERWRITE + the CHECK-constraint lifecycle: a violating
    // ADD refuses (existing rows are the proof), recorded constraints
    // refuse violating INSERT/UPDATE in the write job itself (no
    // publish — in-query requires), NULL passes (the SQL CHECK
    // contract), and the invariant SURVIVES an INSERT OVERWRITE that
    // rebuilds the table from its own content. Oracle replays the
    // admitted composition declaratively.
    "q288_sql_check_overwrite" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q288_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t288"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "_catalog"))
      graft.plans.GraftTableRegistry.unregister("t288")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q288_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t288 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t288 SELECT k, cust, p FROM q288_orders WHERE k % 5 = 0")
        // an ADD whose expression an existing row violates refuses —
        // a recorded constraint is an invariant, never an aspiration
        require(scala.util.Try(s.sql(
          "ALTER TABLE t288 ADD CONSTRAINT p_big CHECK (p >= 100000)")
          .collect()).isFailure, "a violated ADD CONSTRAINT must refuse")
        s.sql("ALTER TABLE t288 ADD CONSTRAINT p_pos CHECK (p > 0)")
        val (st, view) = graft.plans.GraftTableRegistry.lookup("t288").get
        val vBefore = st.versions(view).max
        require(scala.util.Try(s.sql(
          "INSERT INTO t288 VALUES (999999991, 1, -1.0)").collect()).isFailure
          && st.versions(view).max == vBefore,
          "a violating INSERT must refuse without publishing")
        require(scala.util.Try(s.sql(
          "UPDATE t288 SET p = -p WHERE cust % 3 = 0").collect()).isFailure,
          "a violating UPDATE must refuse")
        s.sql("INSERT INTO t288 SELECT k, cust, p FROM q288_orders WHERE k % 5 = 1")
        s.sql("UPDATE t288 SET p = p + 1000 WHERE cust % 9 = 0")
        // the overwrite rebuilds the table from its own snapshot (the
        // payload query reads the manifest-pinned current version
        // while the commit writes the next — safe by construction)
        s.sql("INSERT OVERWRITE t288 SELECT k, cust, p FROM t288 WHERE k % 2 = 0")
        // the constraint survives the overwrite and still enforces
        require(scala.util.Try(s.sql(
          "INSERT INTO t288 VALUES (999999992, 1, -2.0)").collect()).isFailure,
          "constraints must survive INSERT OVERWRITE")
        s.sql("SELECT k, cust, p FROM t288")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // SUBQUERY predicates in DML — the compliance-by-attribute shape:
    // `DELETE FROM t WHERE cust IN (SELECT … GROUP BY … HAVING …)`
    // resolves the subquery through the full session SQL and deletes
    // by the matched KEY SET (SnapshotStore.deleteKeys — one
    // deletion-vector commit, the list never touches the driver); a
    // subquery UPDATE routes its predicate the same way. In-query
    // requires pin that the delete was vector-only (data dirs carried
    // by name). Oracle replays both statements declaratively.
    "q289_sql_subquery_dml" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q289_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t289"))
      graft.plans.GraftTableRegistry.unregister("t289")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q289_orders")
      s.sql(s"CREATE TABLE t289 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q289_orders WHERE k % 2 = 0")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t289").get
      val dataDirs = st.manifestDirs(view)
      // delete every "hot" customer — the subquery is a grouped HAVING
      // over the source feed, not a per-row predicate
      s.sql("DELETE FROM t289 WHERE cust IN " +
        "(SELECT cust FROM q289_orders GROUP BY cust HAVING count(*) >= 14)")
      require(st.manifestDirs(view) == dataDirs,
        "a subquery DELETE must be vector-only — data dirs carried by name")
      // subquery UPDATE: bump exactly the keys the feed marks
      s.sql("UPDATE t289 SET p = p + 1000 WHERE k IN " +
        "(SELECT k FROM q289_orders WHERE k % 10 = 0)")
      s.sql("SELECT k, cust, p FROM t289")
    }),

    // COPY INTO — idempotent landing-zone ingestion (the shard-loading
    // statement a training-data pipeline runs on a schedule): each
    // file's fence lands in the manifest txn set ATOMICALLY with its
    // commit, so a re-run loads nothing (in-query require: zero files,
    // zero publishes) and a GROWN landing dir loads only the new
    // files. Oracle = both batches declaratively.
    "q290_sql_copy_into" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q290_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t290"))
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "land"))
      graft.plans.GraftTableRegistry.unregister("t290")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      val land = s"$root/land"
      o.where(col("k") % 3 === 0).repartition(2).write.parquet(land)
      s.sql(s"CREATE TABLE t290 (k BIGINT, cust BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k LOCATION '$root/t290'")
      val r1 = s.sql(s"COPY INTO t290 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r1.getLong(2) == 2L && r1.getLong(3) > 0L,
        s"first COPY must load both shard files: $r1")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t290").get
      val v1 = st.versions(view).max
      val r2 = s.sql(s"COPY INTO t290 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r2.getLong(2) == 0L && st.versions(view).max == v1,
        s"a re-run must load nothing and publish nothing: $r2")
      // the landing dir grows — only the NEW files load
      o.where(col("k") % 3 === 1).repartition(2).write.mode("append")
        .parquet(land)
      val r3 = s.sql(s"COPY INTO t290 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r3.getLong(2) == 2L,
        s"the grown dir must load exactly the new files: $r3")
      s.sql("SELECT k, cust, p FROM t290")
    }),

    // OPTIMIZE WHERE — partition-scoped maintenance: only the dirs the
    // predicate may touch rewrite (two fragmented high-region commits
    // compact into one; the deletion vector's rows materialize out of
    // them), the provably-unmatched dir and the vector carry with zero
    // IO. Content is identical before and after — which is exactly
    // what the oracle grades; the requires pin the layout effects.
    "q291_sql_optimize_where" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q291_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t291"))
      graft.plans.GraftTableRegistry.unregister("t291")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q291_orders")
      s.sql(s"CREATE TABLE t291 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, cust, p FROM q291_orders WHERE k < 300")
      s.sql("INSERT INTO t291 SELECT k, cust, p FROM q291_orders " +
        "WHERE k >= 600 AND k % 2 = 0")
      s.sql("INSERT INTO t291 SELECT k, cust, p FROM q291_orders " +
        "WHERE k >= 600 AND k % 2 = 1")
      s.sql("DELETE FROM t291 WHERE k % 40 = 0")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t291").get
      val before = st.manifestDirs(view)
      val lowDir = before.head // k < 300 — provably unmatched
      s.sql("OPTIMIZE t291 WHERE k >= 600")
      val after = st.manifestDirs(view)
      require(after.contains(lowDir) && after.size < before.size,
        s"scoped optimize must carry the unmatched dir and compact the " +
          s"touched ones: $before -> $after")
      require(st.manifestDels(view, st.versions(view).max).nonEmpty,
        "the vector must carry — its keys may live in the carried dir")
      s.sql("SELECT k, cust, p FROM t291")
    }),

    // COLUMN-LIST INSERT + inline-subquery MERGE — the two statement
    // shapes real migrations write first: `INSERT INTO t (k, p)
    // SELECT …` (unnamed columns NULL, the key mandatory) and
    // `MERGE INTO t USING (SELECT …) AS s` (the source hoisted by the
    // mask walk, materialized once, cardinality-probed). Oracle
    // replays the composition declaratively.
    "q292_sql_insert_cols_merge_sub" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q292_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t292"))
      graft.plans.GraftTableRegistry.unregister("t292")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q292_orders")
      s.sql(s"CREATE TABLE t292 (k BIGINT, cust BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k LOCATION '$root'")
      // cust is deliberately unnamed — it must land NULL
      s.sql("INSERT INTO t292 (k, p) " +
        "SELECT k, p FROM q292_orders WHERE k % 3 = 0")
      s.sql("""MERGE INTO t292 AS t USING
        (SELECT k, cust, p * 2 AS np FROM q292_orders WHERE k % 2 = 0) AS s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET cust = s.cust, p = s.np
        WHEN NOT MATCHED THEN INSERT (k, cust, p) VALUES (s.k, s.cust, s.np)""")
      s.sql("SELECT k, cust, p FROM t292")
    }),

    // CREATE OR REPLACE TABLE — redefine schema + content + key in ONE
    // overwrite commit, every prior snapshot still time-travelable
    // (in-query require reads the pre-replace version), keyed DML
    // working on the new shape immediately. Oracle replays the
    // replaced definition + the follow-up update declaratively.
    "q293_sql_create_or_replace" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q293_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t293"))
      graft.plans.GraftTableRegistry.unregister("t293")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q293_orders")
      s.sql(s"CREATE TABLE t293 USING graft PRIMARY KEY k LOCATION '$root' " +
        "AS SELECT k, p FROM q293_orders WHERE k % 4 = 0")
      val oldCount = s.sql("SELECT * FROM t293").count()
      // redefine: new column set (cust joins, p tripled), new content
      s.sql("CREATE OR REPLACE TABLE t293 USING graft PRIMARY KEY k " +
        "AS SELECT k, cust, p * 3 AS p FROM q293_orders WHERE k % 5 = 0")
      require(s.sql("SELECT * FROM t293 VERSION AS OF 1").count() == oldCount,
        "the pre-replace snapshot must stay time-travelable")
      // the key survived the redefinition: keyed DML on the new shape
      s.sql("UPDATE t293 SET p = p + 1 WHERE cust % 6 = 0")
      s.sql("SELECT k, cust, p FROM t293")
    }),

    // QUOTED identifiers end-to-end: a hyphenated backtick-quoted
    // table name routes through CREATE / INSERT / UPDATE / DELETE /
    // time travel exactly like a plain name (round 15 it silently fell
    // through to a stock resolution error). The registry keys on the
    // canonical unquoted spelling (in-query require); the oracle
    // replays the DML declaratively.
    "q294_sql_quoted_ident" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q294_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("q294-tbl")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q294_orders")
      s.sql("CREATE TABLE `q294-tbl` (k BIGINT, cust BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k LOCATION '$root/q294-tbl'")
      require(graft.plans.GraftTableRegistry.lookup("q294-tbl").nonEmpty,
        "the registry must key on the canonical (unquoted) name")
      s.sql("INSERT INTO `q294-tbl` SELECT k, cust, p FROM q294_orders " +
        "WHERE k % 3 = 0")
      s.sql("UPDATE `q294-tbl` SET p = p + 1000 WHERE cust % 5 = 0")
      s.sql("DELETE FROM `q294-tbl` WHERE k % 30 = 0")
      require(s.sql("SELECT * FROM `q294-tbl` VERSION AS OF 2").count() ==
        s.sql("SELECT * FROM q294_orders WHERE k % 3 = 0").count(),
        "time travel must work on the quoted spelling")
      s.sql("SELECT k, cust, p FROM `q294-tbl`")
    }),

    // RENAME TO + DROP COLUMN — the two schema-migration statements:
    // rename is a pure catalog-binding move (same store version after,
    // in-query require), drop is metadata-only (the read projection
    // hides the column NOW, time travel to the pre-drop version still
    // carries it — both required in-query). Post-migration DML runs
    // under the NEW name against the NARROWED schema; the oracle
    // replays both inserts declaratively.
    "q295_sql_rename_drop_column" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q295_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t295_old")
      graft.plans.GraftTableRegistry.unregister("t295")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"),
        (col("o_custkey") % 3).as("junk"))
        .createOrReplaceTempView("q295_orders")
      s.sql(s"CREATE TABLE t295_old USING graft PRIMARY KEY k " +
        s"LOCATION '$root' " +
        "AS SELECT k, cust, p, junk FROM q295_orders WHERE k % 4 = 0")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t295_old").get
      val vBefore = st.versions(view).max
      s.sql("ALTER TABLE t295_old RENAME TO t295")
      require(st.versions(view).max == vBefore &&
        graft.plans.GraftTableRegistry.lookup("t295_old").isEmpty,
        "rename must be a zero-IO catalog move that unbinds the old name")
      val preDrop = st.versions(view).max
      s.sql("ALTER TABLE t295 DROP COLUMN junk")
      require(!s.sql("SELECT * FROM t295").columns.contains("junk") &&
        s.sql(s"SELECT * FROM t295 VERSION AS OF $preDrop")
          .columns.contains("junk"),
        "the drop must hide the column NOW and keep it time-travelable")
      // post-migration life continues: keyed DML on the new shape
      s.sql("INSERT INTO t295 SELECT k, cust, p FROM q295_orders " +
        "WHERE k % 4 = 1")
      s.sql("UPDATE t295 SET p = p + 1000 WHERE cust % 7 = 0")
      require(!s.sql("SHOW CREATE TABLE t295").collect()
        .exists(_.getString(0).contains("junk")),
        "SHOW CREATE must reflect the post-drop schema")
      s.sql("SELECT k, cust, p FROM t295")
    }),

    // The SQL syncpoint: PUBLISH SYNCPOINT pins both lambda views'
    // versions atomically; `SYNC AS OF LATEST` reads the PUBLISHED
    // cycle even while the next cycle is half-landed (the reference's
    // splice-anomaly window — batchPipeline.py:169-180 vs
    // twitterConsumerStream.py:110-127 write independently). Graded
    // frame = the sync read of the batch view (the mid-cycle commit
    // must be invisible — exactly what the oracle's cycle-1 slice
    // checks); the sync JOIN of both views rides an in-query require.
    "q296_sql_syncpoint" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q296_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t296b")
      graft.plans.GraftTableRegistry.unregister("t296s")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q296_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t296b USING graft PRIMARY KEY k " +
          "AS SELECT k, cust, p FROM q296_orders WHERE k % 4 = 0")
        s.sql("CREATE TABLE t296s USING graft PRIMARY KEY k " +
          "AS SELECT k, p * 2 AS live FROM q296_orders WHERE k % 8 = 0")
        s.sql("PUBLISH SYNCPOINT (t296b, t296s)")
        // cycle 2 half-lands: the batch view advances, the speed view
        // does not — the torn window a plain reader would splice
        s.sql("INSERT INTO t296b SELECT k, cust, p FROM q296_orders " +
          "WHERE k % 4 = 2")
        require(s.sql("SELECT * FROM t296b").count() >
          s.sql("SELECT * FROM t296b SYNC AS OF LATEST").count(),
          "the plain read sees the torn state; the sync read must not")
        // the sync read composes: one splice-free join of both views
        val joined = s.sql(
          """SELECT b.k FROM t296b SYNC AS OF LATEST b
             JOIN t296s SYNC AS OF LATEST s ON b.k = s.k""").count()
        require(joined ==
          s.sql("SELECT * FROM q296_orders WHERE k % 8 = 0").count(),
          "the sync join must cover exactly the published cycle")
        s.sql("SELECT k, cust, p FROM t296b SYNC AS OF LATEST")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // The graft-table SINK honors a DDL-declared CLUSTER BY: a stream
    // into a `CREATE TABLE … CLUSTER BY (a, b)` table lands every
    // micro-batch through the Hilbert range-dir writer — the in-query
    // requires pin >1 range dirs and a real 2-D box-prune skip (the
    // r15 gap: streams silently degraded the declared layout until the
    // next OPTIMIZE). Content is layout-invisible — exactly what the
    // oracle grades.
    "q297_stream_cluster_sink" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q297_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t297")
      val st = new graft.sources.SnapshotStore(s, root)
      st.commit("src297", t(s, dir, "orders").select(
        col("o_orderkey").as("k"), (col("o_custkey") % 16).as("a"),
        (col("o_orderkey") % 16).as("b"), col("o_totalprice").as("p"))
        .where(col("k") % 5 === 0), overwrite = true)
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t297 (k BIGINT, a BIGINT, b BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k CLUSTER BY (a, b)")
        val q = s.readStream.format("graft-table")
          .option("root", root).option("view", "src297")
          .load().writeStream.format("graft-table")
          .option("root", root).option("view", "t297")
          .option("checkpointLocation", s"$root/_cp297")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
        val dirs = st.manifestDirs("t297")
        require(dirs.size > 1,
          s"the micro-batch must land Hilbert range dirs: $dirs")
        val (_, skip) = st.pruneDirsBox("t297",
          Seq(("a", "2", "3"), ("b", "2", "3")))
        require(skip.nonEmpty,
          "the stream-fed declared layout must box-prune")
        s.sql("SELECT k, a, b, p FROM t297")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // RENAME COLUMN — metadata-only, spanning BOTH column eras: the
    // seed lands under the old name, the rename republished the same
    // dirs (zero IO, in-query require), the post-rename insert lands
    // the new name physically, and the read projection coalesces the
    // two eras under the new name. The renamed column IS the PRIMARY
    // KEY's sibling value column and a later UPDATE addresses it by
    // its new spelling; time travel keeps the old spelling. Oracle
    // replays both eras declaratively.
    "q299_sql_rename_column" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q299_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t299")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("price_usd"))
        .createOrReplaceTempView("q299_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        // CLUSTER BY the soon-renamed column: the created dirs carry
        // range stats under `price_usd`, so the rename's sidecar
        // rebind is observable as UNCHANGED skip tightness
        s.sql("CREATE TABLE t299 USING graft PRIMARY KEY k " +
          "CLUSTER BY (price_usd) " +
          "AS SELECT k, cust, price_usd FROM q299_orders WHERE k % 4 = 0")
        val (st, view) = graft.plans.GraftTableRegistry.lookup("t299").get
        val dirsBefore = st.manifestDirs(view)
        val preRename = st.versions(view).max
        val (_, skipBefore) = st.pruneDirs(view, "price_usd", "0", "2000")
        require(skipBefore.nonEmpty,
          "setup: the price range prune must skip dirs pre-rename")
        s.sql("ALTER TABLE t299 RENAME COLUMN price_usd TO p")
        require(st.manifestDirs(view) == dirsBefore,
          "the rename must republish the same dirs — zero data IO")
        val (_, skipAfter) = st.pruneDirs(view, "p", "0", "2000")
        require(skipAfter.toSet == skipBefore.toSet,
          "the sidecar rebind must keep data skipping TIGHT across the " +
            s"rename: before=$skipBefore after=$skipAfter")
        require(s.sql(s"SELECT * FROM t299 VERSION AS OF $preRename")
          .columns.contains("price_usd"),
          "time travel must keep the pre-rename spelling")
        // the new name is live for reads AND writes across both eras
        s.sql("INSERT INTO t299 SELECT k, cust, price_usd AS p " +
          "FROM q299_orders WHERE k % 4 = 2")
        s.sql("UPDATE t299 SET p = p + 1000 WHERE cust % 9 = 0")
        require(!s.sql("SELECT * FROM t299").columns.contains("price_usd"))
        s.sql("SELECT k, cust, p FROM t299")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // SQL CLONE — Delta's statement over the zero-copy shallow clone:
    // the clone's v1 is pure foreign-ref metadata (in-query require:
    // every manifest dir is a relative ref, no data dir exists under
    // the clone), pinned AS OF the pre-update version, DML-able
    // immediately (keyed UPDATE on the clone), and DIVERGENT from the
    // source (the source's later update is invisible — require).
    // Oracle replays the pinned snapshot + the clone-side bump.
    "q300_sql_clone" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q300_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t300")
      graft.plans.GraftTableRegistry.unregister("t300c")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q300_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t300 USING graft PRIMARY KEY k " +
          "AS SELECT k, cust, p FROM q300_orders WHERE k % 4 = 0")
        val (st, _) = graft.plans.GraftTableRegistry.lookup("t300").get
        val pinned = st.versions("t300").max
        // the source moves on AFTER the pin — the clone must not see it
        s.sql("INSERT INTO t300 SELECT k, cust, p FROM q300_orders " +
          "WHERE k % 4 = 1")
        s.sql(s"CREATE TABLE t300c SHALLOW CLONE t300 VERSION AS OF $pinned")
        require(st.manifestDirs("t300c").forall(_.startsWith("../../")),
          "a shallow clone's v1 must be pure foreign-ref metadata")
        // diverge BOTH sides; neither sees the other
        s.sql("UPDATE t300c SET p = p + 1000 WHERE cust % 5 = 0")
        s.sql("UPDATE t300 SET p = 0 WHERE k % 4 = 1")
        require(s.sql("SELECT * FROM t300c").count() ==
          s.sql("SELECT * FROM q300_orders WHERE k % 4 = 0").count(),
          "the clone reads the pinned snapshot, not the moved-on source")
        s.sql("SELECT k, cust, p FROM t300c")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // The WAP lifecycle in PURE SQL: cut a branch (zero-copy clone of
    // main's head, registered as the DML-able `t301@audit`), land the
    // day's writes + a keyed fix on the BRANCH, audit it while main is
    // provably untouched (in-query require), then FAST FORWARD — one
    // atomic publish moves main to the audited head. Oracle replays
    // the branch composition declaratively against main's final state.
    "q301_sql_wap" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q301_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t301")
      graft.plans.GraftTableRegistry.unregister("t301@audit")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q301_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t301 USING graft PRIMARY KEY k " +
          "AS SELECT k, cust, p FROM q301_orders WHERE k % 3 = 0")
        s.sql("ALTER TABLE t301 CREATE BRANCH audit")
        // the whole statement surface works on the branch, isolated
        s.sql("INSERT INTO `t301@audit` SELECT k, cust, p " +
          "FROM q301_orders WHERE k % 3 = 1")
        s.sql("UPDATE `t301@audit` SET p = p + 1000 WHERE cust % 6 = 0")
        val mainCount =
          s.sql("SELECT * FROM q301_orders WHERE k % 3 = 0").count()
        require(s.sql("SELECT * FROM t301").count() == mainCount,
          "main must be untouched while the branch is audited")
        // the audit: the branch must hold both slices, no NULL keys
        require(s.sql("SELECT * FROM `t301@audit` WHERE k IS NULL")
          .count() == 0L, "audit failed")
        val ff = s.sql("ALTER TABLE t301 FAST FORWARD BRANCH audit").head()
        require(ff.getLong(2) > 1L, s"fast forward must publish: $ff")
        require(s.sql("SELECT * FROM t301").count() > mainCount,
          "main must move to the audited head atomically")
        s.sql("ALTER TABLE t301 DROP BRANCH audit")
        s.sql("SELECT k, cust, p FROM t301")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // ALTER COLUMN TYPE widening graded END-TO-END, completing the
    // metadata-only schema-migration triad (add/rename/drop + WIDEN):
    // an INT column widens to BIGINT with the SAME dirs republished
    // (zero data IO — in-query require), a post-widen INSERT lands
    // values beyond the int range physically BIGINT, keyed DML then
    // spans BOTH physical eras through the one wide scan schema
    // (parquet reader type promotion), and time travel keeps each
    // version's own type (require: the pre-widen snapshot still reads
    // INT). Oracle replays the arithmetic declaratively.
    "q303_sql_widen_type" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q303_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t303")
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q303_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t303 (k BIGINT, cust BIGINT, qty INT) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t303 SELECT k, cust, CAST(k % 1000 AS INT) " +
          "FROM q303_orders WHERE k % 2 = 0")
        val (st, view) = graft.plans.GraftTableRegistry.lookup("t303").get
        val dirsBefore = st.manifestDirs(view)
        val preWiden = st.versions(view).max
        s.sql("ALTER TABLE t303 ALTER COLUMN qty TYPE BIGINT")
        require(st.manifestDirs(view) == dirsBefore,
          "the widen must republish the same dirs — zero data IO")
        require(s.sql(s"SELECT * FROM t303 VERSION AS OF $preWiden")
          .schema("qty").dataType ==
            org.apache.spark.sql.types.IntegerType,
          "time travel must keep the pre-widen INT type")
        require(s.sql("SELECT * FROM t303").schema("qty").dataType ==
          org.apache.spark.sql.types.LongType,
          "the live schema must be BIGINT after the widen")
        // new-era rows exceed the int range — physically BIGINT
        s.sql("INSERT INTO t303 SELECT k, cust, k + 5000000000 " +
          "FROM q303_orders WHERE k % 2 = 1")
        // keyed DML across BOTH physical eras through one wide scan
        s.sql("UPDATE t303 SET qty = qty + 6000000000 WHERE cust % 7 = 0")
        s.sql("SELECT k, cust, qty FROM t303")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // OCC logical conflict detection graded END-TO-END: a real
    // streaming sink (AvailableNow, one exactly-once appendOnce per
    // micro-batch, key stats recorded) lands TWO commits on the table
    // while a batch MERGE is provably mid-flight — the merge's source
    // is gated on a latch the stream's completion releases, so the
    // interleaving is deterministic, never timing-dependent. The merge
    // loses the version race and REBASES: interleaved commits are
    // classified (blind appends, key-disjoint by the stats sidecars),
    // and the already-written rewrite dir — named for v2 — publishes at
    // v4 with zero re-run and NO retry wrapper anywhere. In-query
    // requires pin the contiguous version chain, the rebased b2- dir
    // at the head, and both streamed txn fences. At 100 TB this is the
    // write-throughput ceiling item: a stream + batch DML sharing one
    // table serialize through manifest-only rebases instead of
    // re-running whole jobs on every lost race.
    "q302_occ_rebase" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q302_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      val maxK = o.agg(max("k")).head().getLong(0)
      val (k1, mid, k3) = (maxK / 4, maxK / 2, maxK * 3 / 4)
      val st = new graft.sources.SnapshotStore(s, s"$root/store")
      st.commit("t", o.where(col("k") < mid), overwrite = true,
        statsCols = Seq("k"))
      // stage the upper half as two parquet files -> two micro-batches
      val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
      Seq(("b0", col("k") >= mid && col("k") < k3),
          ("b1", col("k") >= k3)).foreach { case (nm, pred) =>
        val tmp = s"$root/tmp_$nm"
        o.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(inDir, s"$nm.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.sources.Scratch.deleteRecursively(new java.io.File(tmp))
      }
      OccRebaseGate.reset()
      val streamer = new Thread(() => {
        OccRebaseGate.gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
        val q = s.readStream.schema(st.read("t").schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .writeStream
          .option("checkpointLocation", s"$root/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            st.appendOnce("t", b, txnId = id, statsCols = Seq("k")); ()
          }.start()
        try q.awaitTermination()
        finally {
          if (q.isActive) q.stop()
          OccRebaseGate.released.countDown()
        }
      })
      streamer.start()
      val gated = udf { k: Long => OccRebaseGate.pass(k) }
      // the batch MERGE, mid-flight while the stream lands: its first
      // job (the skipping probe) opens the gate and parks until both
      // micro-batches have committed, then the merge proceeds straight
      // into the lost version race
      st.mergeInto("t",
        o.where(col("k") < k1)
          .select(gated(col("k")).as("k"), col("cust"), lit(2.0).as("p"))
          .coalesce(1),
        "k", statsCols = Seq("k"))
      streamer.join(180000)
      require(st.versions("t") == Seq(1L, 2L, 3L, 4L),
        s"seed + 2 stream batches + 1 rebased merge, no holes, no retries: ${st.versions("t")}")
      require(st.manifestDirs("t")
        .exists(d => d.startsWith("b2-") && !d.contains("tx")),
        "the merge must have REBASED its v2-written dir to the head — not re-run")
      require(st.appliedTxns("t") == Set(0L, 1L),
        s"both streamed batch fences must survive the rebase: ${st.appliedTxns("t")}")
      st.read("t")
    }),

    // STREAMING WAP — continuous ingestion through write-audit-publish:
    // a real streaming sink lands its micro-batches on a BRANCH
    // (`t304@audit` — the branch IS a registered DML-able table, so
    // the exactly-once `graft-table` sink addresses it like any view)
    // while MAIN stays provably untouched (in-query require per
    // drain); the audit passes, ONE atomic FAST FORWARD publishes the
    // streamed work to main, and a checkpoint REPLAY after the publish
    // appends nothing (the txn fences carried through the FF — require
    // pins main's version). The 100 TB shape: a continuous pipe lands
    // unaudited data all day, readers of main never see a row until
    // the publish, and the publish is O(files) metadata.
    "q304_stream_wap" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q304_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t304")
      graft.plans.GraftTableRegistry.unregister("t304@audit")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      o.createOrReplaceTempView("q304_orders")
      // stage two micro-batch files (k%3=1 and k%3=2)
      val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
      Seq(("b1", 1), ("b2", 2)).foreach { case (nm, m) =>
        val tmp = s"$root/tmp_$nm"
        o.where(col("k") % 3 === m).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(inDir, s"$nm.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.sources.Scratch.deleteRecursively(new java.io.File(tmp))
      }
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t304 USING graft PRIMARY KEY k " +
          "AS SELECT k, cust, p FROM q304_orders WHERE k % 3 = 0")
        s.sql("ALTER TABLE t304 CREATE BRANCH audit")
        val (st, bView) =
          graft.plans.GraftTableRegistry.lookup("t304@audit").get
        val (_, mView) = graft.plans.GraftTableRegistry.lookup("t304").get
        val mainCount = s.sql("SELECT * FROM t304").count()
        def drain(): Unit = {
          val q = s.readStream.schema(st.read(mView).schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
            .writeStream.format("graft-table")
            .option("root", st.root).option("view", bView)
            .option("statsColumns", "k")
            .option("checkpointLocation", s"$root/_cp")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          try q.awaitTermination() finally if (q.isActive) q.stop()
        }
        drain()
        require(s.sql("SELECT * FROM t304").count() == mainCount,
          "main must be untouched while the stream lands on the branch")
        require(st.versions(bView).max >= 3L,
          s"two micro-batches must have committed on the branch: " +
            s"${st.versions(bView)}")
        // the audit over the streamed branch
        require(s.sql("SELECT * FROM `t304@audit` WHERE k IS NULL")
          .count() == 0L, "audit failed")
        // ONE atomic publish moves main to the audited head
        s.sql("ALTER TABLE t304 FAST FORWARD BRANCH audit")
        val mainV = st.versions(mView).max
        require(s.sql("SELECT * FROM t304").count() > mainCount,
          "the fast forward must publish the streamed work to main")
        // checkpoint replay AFTER the publish: every batch is fenced
        // (the txn history rode the FF), nothing lands anywhere
        drain()
        require(st.versions(mView).max == mainV,
          "a checkpoint replay after FF must append nothing to main")
        s.sql("ALTER TABLE t304 DROP BRANCH audit")
        s.sql("SELECT k, cust, p FROM t304")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // MAINTENANCE-vs-STREAM OCC, graded: a live streaming sink lands
    // SIX exactly-once micro-batches while OPTIMIZE WHERE and
    // compactSmall run UNWRAPPED against the same table — any
    // SnapshotConflict escaping either maintenance op fails the query,
    // so the graded invariant is "maintenance never costs anyone a
    // retry while a stream writes": the maintenance rebase carries
    // interleaved appended dirs verbatim (compact-then-append
    // serialization). The version chain is pinned EXACT (seed + 6
    // batches + 2 maintenance publishes, no holes — a retry-loop
    // implementation would burn versions), all six stream fences
    // survive, and content is the declarative union.
    "q305_occ_maintenance_stream" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q305_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      val maxK = o.agg(max("k")).head().getLong(0)
      val mid = maxK / 2
      val q1 = mid / 2
      val st = new graft.sources.SnapshotStore(s, s"$root/store")
      // two seed dirs split at q1: the scoped OPTIMIZE provably touches
      // only the first (stats boundary), so compactSmall always has at
      // least two dirs to consolidate — the version arithmetic below is
      // deterministic under every interleaving
      st.commit("t", o.where(col("k") < q1), overwrite = true,
        statsCols = Seq("k"))
      st.commit("t", o.where(col("k") >= q1 && col("k") < mid),
        overwrite = false, statsCols = Seq("k"))
      // stage six upper-half micro-batch files
      val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
      val span = math.max(1L, (maxK - mid) / 6 + 1)
      (0 until 6).foreach { i =>
        val lo = mid + i * span
        val hi = math.min(maxK + 1, mid + (i + 1) * span)
        val tmp = s"$root/tmp_$i"
        o.where(col("k") >= lo && col("k") < hi).coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(inDir, s"b$i.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.sources.Scratch.deleteRecursively(new java.io.File(tmp))
      }
      val q = s.readStream.schema(st.read("t").schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
        .writeStream
        .option("checkpointLocation", s"$root/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          st.appendOnce("t", b, txnId = id, statsCols = Seq("k")); ()
        }.start()
      // maintenance mid-stream, NO retry wrapper on either op: a
      // single lost race that did not rebase would throw and fail the
      // graded run
      st.optimizeWhere("t", col("k") <= q1 - 1, clusterCols = Nil,
        statsCols = Seq("k"))
      st.compactSmall("t", smallBytes = 1L << 30, statsCols = Seq("k"))
      try q.awaitTermination() finally if (q.isActive) q.stop()
      require(st.versions("t").max == 10L,
        s"2 seeds + 6 stream batches + 2 maintenance publishes, exact, " +
          s"no holes, no retry-burned versions: ${st.versions("t")}")
      require((0L until 6L).forall(st.appliedTxns("t").contains),
        s"all six stream fences must survive maintenance: ${st.appliedTxns("t")}")
      st.read("t")
    }),

    // Declarative MATERIALIZED VIEW, the aggregate shape — the batch
    // layer of the reference's lambda architecture as ONE SQL object:
    // CREATE classifies the defining query (`agg`), REFRESH maintains
    // it from the source's commit delta (affected-group recompute over
    // SnapshotStore.signedDelta — added/removed dirs + DV keys, never a
    // full-snapshot diff), and a second REFRESH is a no-op.
    // The mixed DML deliberately includes min() — the aggregate delta
    // arithmetic cannot maintain under deletes, but group recompute
    // can. In-query requires pin the incremental mode, the bounded
    // affected-group count, the exact MV version chain (a recompute-
    // per-refresh implementation would still pass content, but not
    // the single-merge version arithmetic), and the no-op. The oracle
    // replays the final aggregate declaratively.
    "q306_sql_mv_incremental_agg" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q306_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      Seq("t306", "mv306").foreach(graft.plans.GraftTableRegistry.unregister)
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q306_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t306 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t306 SELECT k, cust, p FROM q306_orders " +
          "WHERE k % 2 = 0")
        val created = s.sql("CREATE MATERIALIZED VIEW mv306 AS " +
          "SELECT cust % 100 AS cg, count(*) AS n, " +
          "sum(CAST(floor(p * 100) AS BIGINT)) AS sc, min(p) AS mp " +
          "FROM t306 GROUP BY cust % 100").head()
        require(created.getString(1) == "agg",
          s"the defining query must classify as incrementally " +
            s"maintainable: $created")
        // mixed source DML: inserts (new rows AND brand-new groups),
        // keyed updates, and a delete that can take a group's min
        s.sql("INSERT INTO t306 SELECT k, cust, p FROM q306_orders " +
          "WHERE k % 2 = 1")
        s.sql("UPDATE t306 SET p = p + 10 WHERE cust % 13 = 0")
        s.sql("DELETE FROM t306 WHERE k % 9 = 0")
        val r = s.sql("REFRESH MATERIALIZED VIEW mv306").head()
        require(r.getString(1) == "incremental_agg",
          s"three bounded DMLs must refresh incrementally: $r")
        require(r.getLong(4) > 0 && r.getLong(4) <= 100,
          s"affected groups are bounded by the group space: $r")
        val (mvSt, mvView) = graft.plans.GraftTableRegistry.lookup("mv306").get
        require(mvSt.versions(mvView) == Seq(1L, 2L),
          "seed + ONE keyed merge — not a recompute chain: " +
            mvSt.versions(mvView))
        val r2 = s.sql("REFRESH MATERIALIZED VIEW mv306").head()
        require(r2.getString(1) == "noop" && r2.getLong(5) == 2L,
          s"an idle source must refresh as a no-op: $r2")
        s.sql("SELECT cg, n, sc, mp FROM mv306")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // MATERIALIZED VIEW, the select-project-filter shape: keyed row
    // maintenance with tombstones. Updates move rows INTO and OUT OF
    // the defining WHERE, a delete removes projected rows outright —
    // the refresh merges recomputed rows and tombstones the vanished
    // keys through the file-pruned keyed merge, exactly once. The
    // oracle replays the update/delete sequence declaratively.
    "q307_sql_mv_spj" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q307_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      Seq("t307", "mv307").foreach(graft.plans.GraftTableRegistry.unregister)
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q307_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t307 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t307 SELECT k, cust, p FROM q307_orders")
        val created = s.sql("CREATE MATERIALIZED VIEW mv307 AS " +
          "SELECT k, p * 2 AS p2 FROM t307 WHERE cust % 4 = 0").head()
        require(created.getString(1) == "spj",
          s"keyed select-project-filter must classify spj: $created")
        // filter-crossing updates + a delete
        s.sql("UPDATE t307 SET cust = cust + 1 WHERE k % 10 = 0")
        s.sql("UPDATE t307 SET p = p + 5 WHERE cust % 4 = 0 AND k % 3 = 0")
        s.sql("DELETE FROM t307 WHERE k % 17 = 0")
        val r = s.sql("REFRESH MATERIALIZED VIEW mv307").head()
        require(r.getString(1) == "incremental_spj" && r.getLong(4) > 0,
          s"the keyed shape must refresh incrementally: $r")
        val (mvSt, mvView) = graft.plans.GraftTableRegistry.lookup("mv307").get
        require(mvSt.versions(mvView) == Seq(1L, 2L),
          "seed + ONE keyed merge: " + mvSt.versions(mvView))
        require(s.sql("REFRESH MATERIALIZED VIEW mv307").head()
          .getString(1) == "noop", "idle source must no-op")
        s.sql("SELECT k, p2 FROM mv307")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // The lambda loop end-to-end in SQL: a REAL streaming sink lands
    // exactly-once micro-batches on the fact table, and ONE
    // REFRESH MATERIALIZED VIEW maintains the batch view incrementally
    // from those commits — blind appends are pure added-dirs in
    // signedDelta, so the refresh reads the two streamed dirs plus
    // the dirty groups' recompute, never the seeded table. In-query
    // requires pin both stream fences, the incremental mode, the
    // bounded affected-group count, and the MV's exact version chain.
    "q308_sql_mv_stream" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q308_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      Seq("t308", "mv308").foreach(graft.plans.GraftTableRegistry.unregister)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      o.createOrReplaceTempView("q308_orders")
      val maxK = o.agg(max("k")).head().getLong(0)
      val (mid, k3) = (maxK / 2, maxK * 3 / 4)
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t308 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql(s"INSERT INTO t308 SELECT k, cust, p FROM q308_orders " +
          s"WHERE k < $mid")
        val created = s.sql("CREATE MATERIALIZED VIEW mv308 AS " +
          "SELECT cust % 50 AS cg, count(*) AS n, " +
          "sum(CAST(floor(p * 100) AS BIGINT)) AS sc, " +
          "min(p) AS lo, max(p) AS hi " +
          "FROM t308 GROUP BY cust % 50").head()
        require(created.getString(1) == "agg", created.toString)
        // stage the upper half as two files -> two micro-batches
        val inDir = new java.io.File(s"$root/in"); inDir.mkdirs()
        Seq(("b0", col("k") >= mid && col("k") < k3),
            ("b1", col("k") >= k3)).foreach { case (nm, pred) =>
          val tmp = s"$root/tmp_$nm"
          o.where(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            new java.io.File(inDir, s"$nm.parquet").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          graft.sources.Scratch.deleteRecursively(new java.io.File(tmp))
        }
        val (st, view) = graft.plans.GraftTableRegistry.lookup("t308").get
        val q = s.readStream.schema(st.read(view).schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
          .writeStream
          .option("checkpointLocation", s"$root/_cp")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            st.appendOnce(view, b, txnId = id, statsCols = Seq("k")); ()
          }.start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
        require(st.appliedTxns(view) == Set(0L, 1L),
          s"both stream fences must land: ${st.appliedTxns(view)}")
        val r = s.sql("REFRESH MATERIALIZED VIEW mv308").head()
        // count(*)+sum(BIGINT)+min/max is the ADDITIVE family over an
        // insert-only window: the refresh folds the signed commit delta
        // (incl. the per-group daily low/high) straight into the stored
        // aggregates — zero base-table reads, not even a group re-scan
        require(r.getString(1) == "incremental_add",
          s"streamed blind appends must refresh additively: $r")
        require(r.getLong(4) > 0 && r.getLong(4) <= 50,
          s"affected groups bounded by the group space: $r")
        val (mvSt, mvView) = graft.plans.GraftTableRegistry.lookup("mv308").get
        require(mvSt.versions(mvView) == Seq(1L, 2L),
          "seed + ONE keyed merge: " + mvSt.versions(mvView))
        s.sql("SELECT cg, n, sc, lo, hi FROM mv308")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // MATERIALIZED VIEW vs time travel: a vector-only SQL DELETE folds
    // into the additive MV (count/sum family — zero base re-scan),
    // then RESTORE rolls the delete back: the vectors vanish while
    // every data dir stays, and the refresh must fold the RESURRECTED
    // rows back in (the signed delta's +1 resurrection leg) — not
    // miss them, not degrade to a recompute. In-query requires pin the
    // vector-only precondition on both sides, both additive modes, and
    // the MV's exact three-fold version chain. The oracle is the seed
    // aggregate (the restore makes the delete invisible).
    "q309_sql_mv_restore" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q309_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      Seq("t309", "mv309").foreach(graft.plans.GraftTableRegistry.unregister)
      t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
        .createOrReplaceTempView("q309_orders")
      s.conf.set("spark.graft.store.root", root)
      try {
        s.sql("CREATE TABLE t309 (k BIGINT, cust BIGINT, p DOUBLE) " +
          "USING graft PRIMARY KEY k")
        s.sql("INSERT INTO t309 SELECT k, cust, p FROM q309_orders")
        val created = s.sql("CREATE MATERIALIZED VIEW mv309 AS " +
          "SELECT cust % 40 AS cg, count(*) AS n, " +
          "sum(CAST(floor(p * 100) AS BIGINT)) AS sc " +
          "FROM t309 GROUP BY cust % 40").head()
        require(created.getString(1) == "agg", created.toString)
        val (st, view) = graft.plans.GraftTableRegistry.lookup("t309").get
        val dirsBefore = st.manifestDirs(view).toSet
        val vSeed = st.versions(view).max
        s.sql("DELETE FROM t309 WHERE k IN " +
          "(SELECT k FROM t309 WHERE k % 7 = 3)")
        require(st.manifestDirs(view).toSet == dirsBefore,
          "precondition: the subquery delete must land as a deletion " +
            "vector, no dir rewrite")
        val r1 = s.sql("REFRESH MATERIALIZED VIEW mv309").head()
        require(r1.getString(1) == "incremental_add",
          s"a vector-only delete must fold additively: $r1")
        s.sql(s"RESTORE TABLE t309 TO VERSION AS OF $vSeed")
        require(st.manifestDirs(view).toSet == dirsBefore,
          "the restore must keep every data dir (vectors-only rollback)")
        val r2 = s.sql("REFRESH MATERIALIZED VIEW mv309").head()
        require(r2.getString(1) == "incremental_add",
          s"resurrected rows must fold additively, not recompute: $r2")
        val (mvSt, mvView) = graft.plans.GraftTableRegistry.lookup("mv309").get
        require(mvSt.versions(mvView) == Seq(1L, 2L, 3L),
          "seed + delete fold + resurrection fold, one commit each: " +
            mvSt.versions(mvView))
        require(s.sql("REFRESH MATERIALIZED VIEW mv309").head()
          .getString(1) == "noop", "idle after restore must no-op")
        s.sql("SELECT cg, n, sc FROM mv309")
      } finally s.conf.unset("spark.graft.store.root")
    }),

    // COPY INTO observability + the namespaced file fence: the re-run
    // SKIP is counted (files_skipped — a silent skip is now
    // observable), a user txn id equal to a file's fence hash no
    // longer fences the file out (disjoint manifest fields, in-query
    // require), and a file REWRITTEN in place re-loads (identity is
    // path+size+mtime — the modified-file contract). The oracle
    // replays the final content declaratively.
    "q298_sql_copy_skip_fence" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q298_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root))
      graft.plans.GraftTableRegistry.unregister("t298")
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      val land = s"$root/land"
      o.where(col("k") % 3 === 0).repartition(2).write.parquet(land)
      s.sql("CREATE TABLE t298 (k BIGINT, cust BIGINT, p DOUBLE) " +
        s"USING graft PRIMARY KEY k LOCATION '$root/t298'")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("t298").get
      // adversarial txn-id collision: a user txn under a file's OWN
      // fence hash must not make COPY INTO skip that file
      val aFile = {
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(land))
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toSeq.sorted.head
        } finally l.close()
      }
      st.appendOnce(view, o.where(col("k") % 3 === 1), // the k%3=1 batch
        txnId = st.fileFence(aFile))
      val r1 = s.sql(s"COPY INTO t298 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r1.getLong(2) == 2L && r1.getLong(4) == 0L,
        s"the colliding user txn must not fence any file out: $r1")
      val r2 = s.sql(s"COPY INTO t298 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r2.getLong(2) == 0L && r2.getLong(4) == 2L,
        s"a re-run loads nothing and COUNTS the skips: $r2")
      s.sql("SELECT k, cust, p FROM t298")
    }),

    // RESTORE in PURE SQL — the bad-deploy rollback statement: v1 is
    // the good snapshot, v2 an erroneous overwrite, v3 a deleteWhere
    // on top of it; `RESTORE TABLE t TO VERSION AS OF 1` republishes
    // v1's manifest (dirs AND its empty vector set) as v4, history
    // intact (in-query requires pin v4, the still-travelable v2, and
    // the carried txn fence). Graded frame = the restored read; the
    // oracle is simply v1's content.
    "q268_sql_restore" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q268_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 2 === 0), overwrite = true,
        statsCols = Seq("k"), txn = Some(11L))
      st.commit("t", o.where(col("k") % 7 === 0), overwrite = true,
        statsCols = Seq("k")) // the bad deploy
      st.deleteWhere("t", "k", col("k") % 14 === 0)
      graft.plans.GraftTableRegistry.register("t268", st, "t")
      val r = s.sql("RESTORE TABLE t268 TO VERSION AS OF 1").head()
      require(r.getLong(2) == 4L, "restore must publish a NEW version")
      require(st.read("t", Some(3L)).count() ==
        st.read("t", Some(2L)).count() - st.read("t", Some(2L))
          .where(col("k") % 14 === 0).count(),
        "the bad versions must stay time-travelable")
      require(st.appliedTxns("t").contains(11L),
        "txn fences must carry across the restore")
      st.read("t")
    }),

    // Deletion-vector FOLD lifecycle — the q243 GDPR loop run 15
    // cycles, one exactly-once deleteWhereOnce per batch: past
    // spark.graft.dv.maxVectors (default 8) the carried vectors
    // auto-merge into ONE distinct key list at publish, so the
    // read-side broadcast and the per-read vector-dir listing stay
    // bounded by the threshold FOREVER (in-query require) instead of
    // growing one dir per compliance batch until a full OPTIMIZE. Data
    // dirs are untouched (key-list IO only, second require), txn
    // fences survive across folds (third), and the content stays
    // hash-exact — the oracle replays all 15 deletes declaratively.
    "q265_dv_fold" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q265_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"), col("o_totalprice").as("p"))
      st.commit("t", o.repartition(4), overwrite = true, statsCols = Seq("k"))
      val dirs1 = st.manifestDirs("t").toSet
      for (i <- 0 until 15)
        st.deleteWhereOnce("t", "k", pmod(col("k"), lit(97)) === i,
          txnId = 500L + i)
      val v = st.versions("t").max
      require(st.manifestDels("t", v).size <= 8,
        s"vectors must fold: ${st.manifestDels("t", v).size} after 15 deletes")
      require(st.manifestDirs("t", Some(v)).toSet == dirs1,
        "fold is key-list IO only — data dirs must be untouched")
      require(st.deleteWhereOnce("t", "k", pmod(col("k"), lit(97)) === 0,
        txnId = 500L).isEmpty, "txn fence must survive folds")
      st.read("t")
    }),

    "q240_deletion_vectors" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q240_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      st.commit("t", o.repartition(4), overwrite = true, statsCols = Seq("k"))
      val dirs1 = st.manifestDirs("t").toSet
      val v2 = st.deleteWhere("t", "k", col("k") % 10 === 0)
      require(st.manifestDirs("t", Some(v2)).toSet == dirs1,
        "deletion vector must not rewrite data dirs")
      require(st.manifestDels("t", v2).nonEmpty, "vector missing")
      st.mergeInto("t",
        o.where(col("k") % 30 === 0).withColumn("p", col("p") * 2), "k",
        statsCols = Seq("k"))
      st.read("t")
    }),

    // Incremental CUBE maintenance: every rollup granularity of
    // (month, order priority) — the OLAP pre-aggregation lattice, 2^2
    // grouping sets — maintained in ONE view through additive
    // refreshes (IncrementalAgg.refreshCube): the second delta's
    // cube partials merge onto the stored lattice via the file-pruned
    // MERGE, the fact table is never re-read for any granularity.
    // Rollup rows carry NULL in the rolled-up keys, exactly the
    // GROUP BY CUBE shape the oracle computes one-shot.
    "q238_cube_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q238_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val facts = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("d"),
          col("o_orderpriority").as("p"),
          col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).as("cents"))
      graft.operators.IncrementalAgg.refreshCube(st, "mv",
        facts.where(col("k") % 2 === 0).drop("k"), Seq("d", "p"), Seq("cents"))
      graft.operators.IncrementalAgg.refreshCube(st, "mv",
        facts.where(col("k") % 2 =!= 0).drop("k"), Seq("d", "p"), Seq("cents"))
      st.read("mv").select(col("d"), col("p"), col("n"), col("sum_cents"))
    }),

    // Partial compaction — OPTIMIZE ... WHERE small
    // (SnapshotStore.compactSmall): only the dirs below the size
    // threshold rewrite into one consolidated dir; the settled big dir
    // is carried into the new manifest BY NAME (zero IO) — what
    // OPTIMIZE must mean at 100 TB, where full-table compaction costs
    // the table. Threshold derived size-relative (the big dir's own
    // bytes) so the shape holds at any sf; in-query requires pin the
    // carried-dir and consolidation structure, the oracle pins content.
    "q239_partial_compaction" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q239_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      st.commit("t", o.where(col("k") % 4 =!= 0).coalesce(2), overwrite = true)
      val bigDirs = st.manifestDirs("t").toSet
      (0 until 4).foreach { i =>
        st.commit("t", o.where(col("k") % 4 === 0 &&
          pmod(expr("k div 4"), lit(4)) === i).coalesce(1), overwrite = false)
      }
      val threshold = bigDirs.map(st.dirBytes("t", _)).min
      val v = st.compactSmall("t", smallBytes = threshold)
      val after = st.manifestDirs("t", Some(v))
      require(bigDirs.subsetOf(after.toSet),
        s"settled dirs must carry by name: $bigDirs vs $after")
      require(after.size == bigDirs.size + 1,
        s"small dirs must consolidate to ONE: $after")
      st.read("t")
    }),

    // Incremental JOIN-view maintenance — both IVM directions on one
    // enriched MV (orders ⋈ customer): fact APPENDS refresh as
    // ΔMV = Δfacts ⋈ dim (only the delta joins, dim broadcasts), and
    // a DIM UPDATE (SCD-1: every 10th customer re-segmented) refreshes
    // as an O(affected) semi-probe + rejoin through the fact-id-keyed
    // file-pruned merge — the fact table is never re-read in either
    // direction. Maintenance-invisible oracle: the one-shot join of
    // ALL facts against the UPDATED dimension.
    "q236_join_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q236_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("ck"), floor(col("o_totalprice") * 100).as("cents"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
      graft.operators.IncrementalAgg.refreshJoinFacts(st, "mv",
        o.where(col("k") % 3 =!= 0), dim, "k", "ck")
      graft.operators.IncrementalAgg.refreshJoinFacts(st, "mv",
        o.where(col("k") % 3 === 0), dim, "k", "ck")
      graft.operators.IncrementalAgg.refreshJoinDim(st, "mv",
        dim.where(col("ck") % 10 === 0).withColumn("seg", lit("MOVED")),
        "k", "ck")
      st.read("mv").select(col("k"), col("ck"), col("cents"), col("seg"))
    }),

    // Retraction-capable aggregate MV — the IVM "counting algorithm":
    // the delta carries op = +1/-1, partials are sum(op)/sum(op·c),
    // merges stay additive, and keys whose count reaches zero DELETE
    // from the view (the mergeInto tombstone path). Batch 2 both
    // retracts a slice of batch 1 and inserts new facts; the MV must
    // equal the one-shot aggregate over the surviving multiset.
    "q237_mv_retractions" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q237_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_custkey").as("ck"),
        col("o_orderkey").as("k"), floor(col("o_totalprice") * 100).as("cents"))
      val a = o.where(col("k") % 3 =!= 0)
      graft.operators.IncrementalAgg.refreshWithRetractions(st, "mv",
        a.withColumn("op", lit(1)), "ck", Seq("cents"))
      graft.operators.IncrementalAgg.refreshWithRetractions(st, "mv",
        a.where(col("k") % 7 === 0).withColumn("op", lit(-1))
          .unionByName(o.where(col("k") % 3 === 0).withColumn("op", lit(1))),
        "ck", Seq("cents"))
      st.read("mv").select(col("ck"), col("n"), col("sum_cents"))
    }),

    // q154's NON-additive sibling: per-day COUNT(DISTINCT customer)
    // maintained incrementally as a mergeable HLL sketch column in the
    // MV — a distinct count can't refresh from old+delta scalars, but
    // the sketch state can (hll_union_agg), same touched-dirs-only
    // copy-on-write, facts read once ever. Graded with the q88 device:
    // exact distinct from the oracle, estimate gated within 5%.
    "q213_sketch_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q213_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val facts = t(s, dir, "orders")
        .withColumn("d", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .where(col("d").between("1995-01-01", "1995-06-30"))
        .select(col("d"), col("o_orderkey").as("k"), col("o_custkey").as("c"))
      val initial = facts.where(col("d") <= "1995-05-31" && col("k") % 7 =!= 0)
      val late = facts.where(col("d") <= "1995-05-31" && col("k") % 7 === 0)
      val june = facts.where(col("d") >= "1995-06-01")
      graft.operators.IncrementalAgg.refreshDistinctSketch(
        st, "mv", initial, "d", "c")
      graft.operators.IncrementalAgg.refreshDistinctSketch(
        st, "mv", june.unionByName(late), "d", "c")
      val mv = st.read("mv").select(col("d"), col("n"),
        hll_sketch_estimate(col("sk")).as("_est"))
      val exact = facts.groupBy(col("d"))
        .agg(countDistinct(col("c")).as("n_exact"))
      mv.join(exact, Seq("d"))
        .select(col("d"), col("n"), col("n_exact"),
          (abs(col("_est") - col("n_exact")) <= col("n_exact") * 0.05)
            .as("est_ok"))
    }),

    // The quantile-sketch MV capstone: Stats.relBucket counts are
    // ADDITIVE state, so per-(day, bucket) counts maintain through the
    // same touched-dirs-only copy-on-write refresh as q154's sums, and
    // per-day p50/p90/p99 serve from the MV alone
    // (Stats.relQuantilesFromCounts) — facts read once ever, quantiles
    // at any time, with the whole sketch integer-exact so the oracle
    // replays maintenance + serve hash-identically against the raw
    // facts (maintenance-invisible AND approximation-exact).
    "q215_quantile_mv" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q215_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "mv"))
      val st = new graft.sources.SnapshotStore(s, root)
      val facts = t(s, dir, "orders")
        .withColumn("d", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .where(col("d").between("1995-01-01", "1995-06-30"))
        .select(col("d"), col("o_orderkey").as("k"),
          floor(col("o_totalprice") * 100).as("cents"))
        .where(col("cents") >= 1)
      val initial = facts.where(col("d") <= "1995-05-31" && col("k") % 7 =!= 0)
      val late = facts.where(col("d") <= "1995-05-31" && col("k") % 7 === 0)
      val june = facts.where(col("d") >= "1995-06-01")
      def refresh(delta: org.apache.spark.sql.DataFrame): Unit = {
        val partial = delta
          .withColumn("b", graft.operators.Stats.relBucket(col("cents"), 7))
          .withColumn("kb", concat_ws("|", col("d"), col("b")))
          .groupBy(col("kb"), col("d"), col("b"))
          .agg(count(lit(1)).as("c"))
        if (st.versions("mv").isEmpty)
          st.commit("mv", partial, overwrite = true, statsCols = Seq("kb")): Unit
        else {
          val touched = st.read("mv")
            .join(partial.select(col("kb")), Seq("kb"), "left_semi")
          val upserts = touched.unionByName(partial)
            .groupBy(col("kb"), col("d"), col("b")).agg(sum(col("c")).as("c"))
          st.mergeInto("mv", upserts, "kb", statsCols = Seq("kb")): Unit
        }
      }
      refresh(initial)
      refresh(june.unionByName(late))
      graft.operators.Stats.relQuantilesFromCounts(
        st.read("mv"), "d", "b", "c", qs = Seq(0.5, 0.9, 0.99), subBits = 7)
    }),

    // Change data feed: two overwrite snapshots of a rolling window
    // (Jan..Mar then Feb..Apr with every 5th key repriced), diffed as
    // ONE manifest-resolved full-outer join — inserts (Apr), deletes
    // (Jan), updates (repriced Feb..Mar) with full pre/post payloads.
    // No log replay, no per-version scan chain; the p*2 update is an
    // exact FP op so both engines compare payloads bit-identically.
    "q135_snapshot_diff" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q135_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      store.commit("t", o.where(col("d").between("1995-01-01", "1995-03-31")),
        overwrite = true)
      store.commit("t",
        o.where(col("d").between("1995-02-01", "1995-04-30"))
          .withColumn("p", when(col("k") % 5 === 0, col("p") * 2).otherwise(col("p"))),
        overwrite = true)
      store.diff("t", 1L, 2L, Seq("k"))
    }),

    // Deterministic train/val/test split (80/10/10): LCG-hash
    // assignment, partitioning-invariant and stable under corpus
    // growth (a doc keeps its split forever — the anti-leakage
    // property), zero shuffles. The oracle replays the integer LCG
    // and the cumulative-boundary CASE exactly.
    "q160_train_split" -> ((s, dir) =>
      graft.operators.Mixer.assignSplits(
        t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")),

    // DESCRIBE HISTORY of a lifecycle: create, two exactly-once
    // appends, a plain append, OPTIMIZE, RESTORE — the manifest-only
    // audit listing (O(commits) driver work, zero data IO). Every row
    // is determined by the commit sequence alone, so the oracle is the
    // literal expected table.
    "q159_table_history" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q159_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val st = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      st.commit("t", o.where(col("k") % 4 === 0), overwrite = true)
      st.appendOnce("t", o.where(col("k") % 4 === 1), txnId = 10L)
      st.appendOnce("t", o.where(col("k") % 4 === 2), txnId = 11L)
      st.commit("t", o.where(col("k") % 4 === 3), overwrite = false)
      st.compact("t")
      st.restore("t", 4L)
      st.history("t")
    }),

    // Distribution-drift monitor between two TABLE VERSIONS: the CDF
    // setup (q135's rolling-window snapshots with every 5th key
    // repriced) feeds Stats.psiDrift — per-bin population-stability
    // contributions of the price column, base-version bin edges,
    // Laplace smoothing. The production "did retraining inputs move"
    // check, run against time travel instead of ad-hoc exports: both
    // sides are manifest-resolved reads of the SAME table.
    "q156_snapshot_drift_psi" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q156_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      store.commit("t", o.where(col("d").between("1995-01-01", "1995-03-31")),
        overwrite = true)
      store.commit("t",
        o.where(col("d").between("1995-02-01", "1995-04-30"))
          .withColumn("p", when(col("k") % 5 === 0, col("p") * 2).otherwise(col("p"))),
        overwrite = true)
      graft.operators.Stats.psiDrift(
        store.read("t", Some(1L)), store.read("t", Some(2L)), "p", bins = 10)
    }),

    // MERGE INTO with copy-on-write file skipping: the table is six
    // contiguous key-range shards (per-dir [min,max] key stats); the
    // source reprices/deletes keys confined to shard 2 and inserts
    // brand-new keys beyond every range. Only shard 2's dir is read
    // and rewritten — the other five ride into the new manifest by
    // name (spec-pinned) — which is why a 1 GB upsert into a 100 TB
    // table costs ~1 shard of IO, not a table rewrite. The graded
    // read proves the merge semantics (update/delete/insert) exactly.
    "q136_merge_into" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q136_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"))
      val maxK = o.agg(max(col("k"))).head().getLong(0)
      val b = maxK / 6 + 1
      for (i <- 0 until 6)
        store.commit("t", o.where(col("k") >= i * b && col("k") < (i + 1) * b),
          overwrite = i == 0, statsCols = Seq("k"))
      val src = o.where(col("k").between(2 * b + 10, 2 * b + 500))
        .select(col("k"), col("d"), (col("p") * 2).as("p"),
          (col("k") % 7 === 0).as("del"))
        .unionByName(o.where(col("k").between(1, 200))
          .select((col("k") + maxK + 1).as("k"), col("d"), col("p"),
            lit(false).as("del")))
      store.mergeInto("t", src, "k", deleteCol = Some("del"), statsCols = Seq("k"))
      store.read("t")
        .groupBy(expr(s"k div $b").as("bucket"))
        .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
    }),

    // Schema evolution: an append commit carries a column the base
    // snapshot lacks; the read merges schemas and old rows surface
    // NULL — no table rewrite, no migration job. The grouped read
    // proves both the NULL backfill and that the new column's values
    // survive intact.
    "q137_schema_evolution" -> ((s, dir) => {
      val root = graft.sources.Scratch.processScoped("q137_snap", dir)
      graft.sources.Scratch.deleteRecursively(new java.io.File(root, "t"))
      val store = new graft.sources.SnapshotStore(s, root)
      val o = t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
          col("o_totalprice").as("p"), col("o_orderpriority").as("prio"))
      store.commit("t", o.where(col("d").between("1995-01-01", "1995-01-31"))
        .drop("prio"), overwrite = true)
      store.commit("t", o.where(col("d").between("1995-02-01", "1995-02-28")),
        overwrite = false)
      store.read("t")
        .groupBy(coalesce(col("prio"), lit("<none>")).as("prio"))
        .agg(count(lit(1)).as("n"), NumFns.stableRound(sum(col("p")), 2).as("total"))
    }),

    // Exactly-once streaming sink into the ACID table: foreachBatch →
    // SnapshotStore.appendOnce(batchId) — each micro-batch commits
    // atomically, and a redelivered batch id (the failure-retry every
    // foreachBatch sink must survive) is recognized in the live
    // manifest and SKIPPED, so replays converge instead of
    // double-appending. The retry is simulated explicitly each run
    // with different rows under txn 0; the graded read hash-matching
    // the source proves single delivery end-to-end.
    "q138_stream_snapshot_sink" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val root = graft.sources.Scratch.processScoped("q138_sink", dir)
      val store = new graft.sources.SnapshotStore(s, root)
      val parsed = graft.Tables.eventsStream(s, dir, Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType)))
        .select(col("event_id"), to_date(col("ts")).cast("string").as("d"),
          col("event_type"), col("value"))
      val q = parsed.writeStream
        .option("checkpointLocation", s"$root/_cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          store.appendOnce("ev", batch, id): Unit
        }
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      store.appendOnce("ev", store.read("ev").limit(1), 0L): Unit
      store.read("ev").select(col("event_id"), col("d").cast("string").as("d"),
        col("event_type"), col("value"))
    }),

    // Streaming expectations with a QUARANTINE sink — the DLT-style
    // contract gate as a real streaming query: each micro-batch splits
    // on the declarative row-level violation predicate
    // (Expectations.violationGate — range + accepted-values checks),
    // and BOTH routes land exactly-once in their own ACID views under
    // the same batch id. Bad rows are never dropped silently (they
    // stay queryable for triage) and never pollute the clean table —
    // the ingest contract a 100 TB pipeline runs at the front door.
    "q163_stream_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val root = graft.sources.Scratch.processScoped("q163_sink", dir)
      val store = new graft.sources.SnapshotStore(s, root)
      // ts deliberately absent from the declared schema: the query
      // never reads it, and declaring it with a physical type the
      // current testdata generation doesn't match would fail analysis
      // the moment pruning stops saving us (use Tables.eventsStream
      // when a streaming read DOES need ts)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType)))
      val gate = graft.operators.Expectations.violationGate(Seq(
        graft.operators.Expectations.InRange("value", 0.0, 300.0),
        graft.operators.Expectations.AcceptedValues("event_type",
          Seq("click", "purchase", "signup", "view"))))
      val parsed = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
        .select(col("event_id"), col("event_type"), col("value"))
      val q = parsed.writeStream
        .option("checkpointLocation", s"$root/_cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          store.appendOnce("clean", batch.where(!gate), id): Unit
          store.appendOnce("quarantine", batch.where(gate), id): Unit
        }
        .start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      store.read("clean").withColumn("route", lit("clean"))
        .unionByName(store.read("quarantine").withColumn("route", lit("quarantine")))
    }),

    // Sequence packing: documents assigned to ~500-token training bins
    // per language shard (overflow-bin policy, never splitting a doc).
    // Packing is inherently sequential, so it runs per shard — one
    // keyed window, every shard streaming independently; the oracle
    // replays the identical running sum.
    "q89_sequence_packing" -> ((s, dir) => {
      graft.operators.Curation.packSequences(
        t(s, dir, "documents"), "doc_id", "text", "lang", capacity = 500L)
    }),

    // Exactly-k-per-language sample: deterministic LCG rank inside each
    // group, first 20 kept — exact output size per stratum (what eval
    // sets and per-domain caps need; Bernoulli rates only hit the size
    // in expectation). The oracle replays the identical LCG rank.
    "q75_exact_k_sample" -> ((s, dir) => {
      graft.operators.Mixer.exactKPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          keyCol = "lang", idCol = "doc_id", k = 20)
        .select(col("doc_id"), col("lang"))
    }),

    // Percentile-gated quality filter: keep documents whose uniqueness
    // score sits inside the exact [P05, P95] band. The thresholds come
    // from Stats.exactPercentiles — the two-pass count/offset shape, no
    // group buffering, both quantiles from ONE pass — broadcast back as
    // a 1-row join. r15 on the thresholds makes the band edges
    // bit-identical across engines (the q51 device), so the boundary
    // rows filter identically.
    "q120_percentile_gate" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .withColumn("_toks", graft.functions.TextFns.tokens(col("text")))
        .where(size(col("_toks")) > 0)
        .select(col("doc_id"), size(col("_toks")).cast("long").as("n_toks"),
          (size(array_distinct(col("_toks"))).cast("double") / size(col("_toks")))
            .as("score"))
      val thr = graft.operators.Stats.exactPercentiles(
          scored.select(lit(1).as("_k"), col("score")), "_k", "score",
          ps = Seq(0.05, 0.95))
        .groupBy(col("_k"))
        .agg(NumFns.stableRound(min(when(col("p") === 0.05, col("pct"))), 6).as("lo"),
          NumFns.stableRound(max(when(col("p") === 0.95, col("pct"))), 6).as("hi"))
        .drop("_k")
      scored.crossJoin(broadcast(thr))
        .where(col("score").between(col("lo"), col("hi")))
        .select(col("doc_id"), col("n_toks"), col("score"), col("lo"), col("hi"))
    }),

    // Stratified sample with an exact total budget: largest-remainder
    // apportionment over event_type strata (pure integer arithmetic),
    // then exactly alloc_k rows per stratum in LCG order. Output is
    // exactly 1000 rows — eval-set construction, not Bernoulli rates.
    "q110_stratified_sample" -> ((s, dir) => {
      graft.operators.Mixer.stratifiedSample(
        t(s, dir, "events").select(col("event_type"), col("event_id")),
        keyCol = "event_type", idCol = "event_id", budget = 1000L)
    }),

    // Weighted sample without replacement (Efraimidis–Spirakis): 200
    // orders drawn proportional-to-price, priority ln(u)/w with a
    // deterministic LCG uniform — corpus-shuffle-free top-k, the
    // importance-sampling shape for training-mix construction.
    "q123_weighted_sample" -> ((s, dir) => {
      graft.operators.Mixer.weightedSample(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        idCol = "o_orderkey", weightCol = "o_totalprice", k = 200)
    }),

    // q123 stratified: exact 50 per order-priority, proportional to
    // price — the per-domain weighted subsample of training-mix
    // construction; WindowGroupLimit keeps only per-partition top-k
    // per key ahead of the shuffle.
    "q221_weighted_sample_per_key" -> ((s, dir) => {
      graft.operators.Mixer.weightedSamplePerKey(
        t(s, dir, "orders").select(col("o_orderpriority"),
          col("o_orderkey"), col("o_totalprice")),
        keyCol = "o_orderpriority", idCol = "o_orderkey",
        weightCol = "o_totalprice", k = 50)
    })
  )

  val oracle: Map[String, String] = Map(

    // Same add-one-smoothed log-ratio per feature (bit-equal arithmetic
    // order), r15 on the order-dependent per-doc sum only.
    "q164_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, ${SqlFragments.toksExpr} AS toks
                     FROM documents WHERE text IS NOT NULL),
          f AS (SELECT doc_id, lang,
                  unnest(${SqlFragments.bigramsExpr("toks")}) AS b FROM t),
          raw AS (SELECT b, COUNT(*) AS rc,
                    COUNT(*) FILTER (WHERE lang = 'en') AS tc
                  FROM f GROUP BY b),
          tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS rt,
                    CAST(SUM(tc) AS BIGINT) AS tt,
                    CAST(COUNT(*) AS BIGINT) AS v FROM raw),
          lr AS (SELECT b, ln((tc + 1.0) / (tt + v)) - ln((rc + 1.0) / (rt + v)) AS lr
                 FROM raw CROSS JOIN tot),
          sc AS (SELECT doc_id, lr FROM f JOIN lr USING (b))
          SELECT doc_id, ${SqlFragments.r15("SUM(lr)", 6)} AS logw,
            COUNT(*) AS n_feats
          FROM sc GROUP BY doc_id""",

    // Same segmentation arithmetic (ceil(n/10) slices), same >= 3
    // distinct-doc rule, same in-order reassembly; list() FILTER can
    // yield NULL for an all-dropped doc, coalesced to the empty list
    // to match Spark's empty collect_list.
    "q168_line_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                     FROM documents WHERE text IS NOT NULL),
          nz AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
                 FROM t WHERE len(toks) > 0),
          sg AS (SELECT doc_id, i AS pos,
                   array_to_string(toks[CAST(i * 10 + 1 AS BIGINT):
                                        CAST(i * 10 + 10 AS BIGINT)], ' ') AS seg
                 FROM nz, unnest(range(0, CAST(ceil(n / 10.0) AS BIGINT))) AS u(i)),
          freq AS (SELECT seg FROM sg GROUP BY seg
                   HAVING COUNT(DISTINCT doc_id) >= 3),
          fl AS (SELECT s.doc_id, s.pos, s.seg, f.seg IS NOT NULL AS dropped
                 FROM sg s LEFT JOIN freq f USING (seg))
          SELECT doc_id, COUNT(*) AS n_segs,
            CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
            array_to_string(list_transform(list_sort(COALESCE(
              list({'pos': pos, 'seg': seg}) FILTER (WHERE NOT dropped),
              CAST([] AS STRUCT(pos BIGINT, seg VARCHAR)[]))),
              x -> x.seg), ' ') AS clean_text
          FROM fl GROUP BY doc_id""",

    // Identical LCG rank per domain (the q110 device), cap as a flag.
    "q169_domain_cap" ->
      """WITH r AS (SELECT source, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                      / 2147483648.0, doc_id) AS BIGINT) AS pick_rank
           FROM documents)
         SELECT source, doc_id, pick_rank, pick_rank <= 15 AS kept FROM r""",

    // quantile_cont matches exactPercentiles' interpolation (the q120
    // device); identical searchsorted rule on the r15'd cutpoints.
    "q170_equalfreq_bins" ->
      s"""WITH v AS (SELECT l_returnflag AS flag,
                  CAST(l_quantity AS DOUBLE) AS qty FROM lineitem),
          c AS (SELECT flag,
                  ${SqlFragments.r15("quantile_cont(qty, 0.25)", 6)} AS c1,
                  ${SqlFragments.r15("quantile_cont(qty, 0.50)", 6)} AS c2,
                  ${SqlFragments.r15("quantile_cont(qty, 0.75)", 6)} AS c3
                FROM v GROUP BY flag),
          b AS (SELECT flag, qty,
                  CAST(CASE WHEN qty > c1 THEN 1 ELSE 0 END
                     + CASE WHEN qty > c2 THEN 1 ELSE 0 END
                     + CASE WHEN qty > c3 THEN 1 ELSE 0 END AS BIGINT) AS bin
                FROM v JOIN c USING (flag))
          SELECT flag, bin, COUNT(*) AS n, MIN(qty) AS lo, MAX(qty) AS hi
          FROM b GROUP BY flag, bin""",

    // Same bucket arithmetic (integer DIV), same LCG order, same
    // padded-cost divisions.
    "q173_length_batches" ->
      s"""WITH d AS (SELECT doc_id,
                  CAST(len(${SqlFragments.toksExpr}) AS BIGINT) AS n_tok
                FROM documents WHERE text IS NOT NULL),
          r AS (SELECT doc_id, n_tok, n_tok // 16 AS bucket,
                  CAST(ROW_NUMBER() OVER (PARTITION BY n_tok // 16
                    ORDER BY CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0, doc_id) AS BIGINT) AS rk
                FROM d),
          g AS (SELECT bucket, (rk - 1) // 8 AS batch, COUNT(*) AS n_docs,
                  MAX(n_tok) AS seq_len, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
                FROM r GROUP BY bucket, batch)
          SELECT bucket, batch, n_docs, seq_len, sum_tokens,
            1.0 - CAST(sum_tokens AS DOUBLE)
                  / CAST(seq_len * n_docs AS DOUBLE) AS padding_frac
          FROM g""",

    // Clone = source v2 content plus the clone's own July append;
    // source = all three of its commits, unchanged by the clone.
    "q177_shallow_clone" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
                  o_totalprice AS p FROM orders),
          cl AS (SELECT d, COUNT(*) AS n,
                  ${SqlFragments.r15("SUM(p)", 2)} AS total, 'clone' AS side
                 FROM o WHERE d BETWEEN '1995-01-01' AND '1995-04-30'
                    OR d BETWEEN '1995-07-01' AND '1995-07-31'
                 GROUP BY d),
          sr AS (SELECT d, COUNT(*) AS n,
                  ${SqlFragments.r15("SUM(p)", 2)} AS total, 'src' AS side
                 FROM o WHERE d BETWEEN '1995-01-01' AND '1995-06-30'
                 GROUP BY d)
          SELECT * FROM cl UNION ALL SELECT * FROM sr""",

    // Both cycles replay as pure date splits of the daily aggregate;
    // the isolation property IS the hash match (a leaked mid-cycle
    // speed version would surface 01-24/25 rows under cycle1).
    "q188_sync_splice" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
                  o_totalprice AS p FROM orders),
          daily AS (SELECT d, COUNT(*) AS n,
                  ${SqlFragments.r15("SUM(p)", 2)} AS total
                 FROM o GROUP BY d),
          c1 AS (SELECT d, n, total, 'batch' AS side, 'cycle1' AS phase
                 FROM daily WHERE d BETWEEN '1995-01-01' AND '1995-01-20'
                 UNION ALL
                 SELECT d, n, total, 'speed', 'cycle1' FROM daily
                 WHERE d BETWEEN '1995-01-21' AND '1995-01-23'),
          c2 AS (SELECT d, n, total, 'batch' AS side, 'cycle2' AS phase
                 FROM daily WHERE d BETWEEN '1995-01-01' AND '1995-01-23'
                 UNION ALL
                 SELECT d, n, total, 'speed', 'cycle2' FROM daily
                 WHERE d BETWEEN '1995-01-24' AND '1995-01-26')
          SELECT * FROM c1 UNION ALL SELECT * FROM c2""",

    // Identical LCG fold, identical exact decimal sums, identical
    // smoothing arithmetic; r15 on the final encoding only.
    "q178_target_encoding" ->
      s"""WITH r AS (SELECT l_returnflag AS cat,
                  ((l_orderkey * 8 + l_linenumber) * 1103515245 + 12345)
                    % 2147483648 % 5 AS fold,
                  CAST(l_quantity AS BIGINT) AS y
                FROM lineitem),
          cell AS (SELECT cat, fold, COUNT(*) AS n_in, SUM(y) AS s_in
                   FROM r GROUP BY cat, fold),
          w AS (SELECT cat, fold, n_in, s_in,
                  SUM(s_in) OVER (PARTITION BY cat) AS s_cat,
                  SUM(n_in) OVER (PARTITION BY cat) AS n_cat,
                  CAST(SUM(s_in) OVER () AS DOUBLE)
                    / CAST(SUM(n_in) OVER () AS DOUBLE) AS mu
                FROM cell)
          SELECT cat, CAST(fold AS BIGINT) AS fold, n_in,
            CAST(n_cat - n_in AS BIGINT) AS n_out,
            ${SqlFragments.r15(
              "(CAST(s_cat - s_in AS DOUBLE) + 10.0 * mu)" +
                " / (CAST(n_cat - n_in AS DOUBLE) + 10.0)", 6)} AS oof_mean
          FROM w""",

    // Identical polynomial char hash (exact BIGINT arithmetic), slot
    // and sign derivation, and signed-count agg.
    "q179_feature_hash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(${SqlFragments.toksExpr}) AS w
                       FROM documents WHERE text IS NOT NULL),
          h AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(w) + 1),
                      i -> CAST(unicode(substring(w, i, 1)) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 2147483648) AS hh
                FROM tok)
          SELECT doc_id, hh % 64 AS slot,
            CAST(SUM(1 - 2 * ((hh // 64) % 2)) AS BIGINT) AS value,
            COUNT(*) AS n_terms
          FROM h GROUP BY doc_id, hh % 64""",

    // Vacuum is content-preserving for the retained snapshot: the read
    // equals the filtered base table; the deterministic post-GC layout
    // is one compacted dir, one retained version.
    "q174_vacuum" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, COUNT(*) AS n,
            ${SqlFragments.r15("SUM(o_totalprice)", 2)} AS total,
            CAST(1 AS BIGINT) AS n_live_dirs, CAST(1 AS BIGINT) AS n_versions
          FROM orders
          WHERE strftime(o_orderdate, '%Y-%m-%d')
                BETWEEN '1995-01-01' AND '1995-06-30'
          GROUP BY d""",

    // Same −p·ln p terms (bit-equal), r15 on the per-doc sum; keep
    // compares the ROUNDED entropy, mirroring the Spark gate.
    "q166_char_entropy" ->
      s"""WITH d AS (SELECT doc_id, text,
                  CAST(length(text) AS BIGINT) AS n_chars
                FROM documents WHERE text IS NOT NULL AND length(text) > 0),
          ch AS (SELECT doc_id, n_chars,
                  unnest(list_transform(range(1, length(text) + 1),
                    i -> substring(text, i, 1))) AS c FROM d),
          cnt AS (SELECT doc_id, n_chars, c, COUNT(*) AS k
                  FROM ch GROUP BY 1, 2, 3),
          term AS (SELECT doc_id, n_chars,
                  -(CAST(k AS DOUBLE) / n_chars)
                    * ln(CAST(k AS DOUBLE) / n_chars) AS t
                  FROM cnt),
          e AS (SELECT doc_id, n_chars,
                  ${SqlFragments.r15("SUM(t)", 6)} AS entropy
                FROM term GROUP BY doc_id, n_chars)
          SELECT doc_id, n_chars, entropy, entropy >= 2.82 AS keep FROM e""",

    "q66_pii_redact" ->
      s"""WITH aug AS (SELECT doc_id,
            text ||
            CASE WHEN doc_id % 3 = 0
                 THEN ' reach user' || doc_id || '@' || source || '.org' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
                 THEN ' ip 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) || '.4'
                 ELSE '' END ||
            CASE WHEN doc_id % 5 = 0
                 THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
            FROM documents WHERE text IS NOT NULL)
          SELECT doc_id,
            CAST(len(regexp_extract_all(text, '${PiiFns.EmailRe}')) AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(text, '${PiiFns.PhoneRe}')) AS BIGINT) AS n_phones,
            CAST(len(regexp_extract_all(text, '${PiiFns.Ipv4Re}')) AS BIGINT) AS n_ips,
            regexp_replace(regexp_replace(regexp_replace(text,
              '${PiiFns.EmailRe}', '<EMAIL>', 'g'),
              '${PiiFns.Ipv4Re}', '<IP>', 'g'),
              '${PiiFns.PhoneRe}', '<PHONE>', 'g') AS redacted
          FROM aug""",

    "q67_quality_rules" ->
      s"""WITH t AS (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                     FROM documents WHERE text IS NOT NULL),
          b AS (SELECT doc_id, toks, len(toks) AS n_words,
                       ${SqlFragments.bigramsExpr("toks")} AS bi
                FROM t WHERE len(toks) >= 2),
          m AS (SELECT doc_id, MAX(c) AS top_cnt
                FROM (SELECT doc_id, x, COUNT(*) AS c
                      FROM (SELECT doc_id, unnest(toks) AS x FROM b)
                      GROUP BY doc_id, x)
                GROUP BY doc_id),
          s AS (SELECT doc_id, n_words,
                       len(bi) AS n_bi, len(list_distinct(bi)) AS n_dbi,
                       list_reduce(list_transform(toks, x -> CAST(length(x) AS BIGINT)),
                                   (a, v) -> a + v) AS n_chars
                FROM b)
          SELECT s.doc_id, s.n_words,
            CAST(top_cnt AS DOUBLE) / s.n_words AS top_unigram_frac,
            1.0 - CAST(n_dbi AS DOUBLE) / n_bi AS dup_bigram_frac,
            CAST(n_chars AS DOUBLE) / s.n_words AS mean_word_len,
            (s.n_words >= 30
             AND CAST(top_cnt AS DOUBLE) / s.n_words <= 0.11
             AND 1.0 - CAST(n_dbi AS DOUBLE) / n_bi <= 0.05) AS keep
          FROM s JOIN m ON s.doc_id = m.doc_id""",

    "q68_contamination" ->
      s"""WITH d AS (SELECT doc_id,
                     list_distinct(${SqlFragments.bigramsExpr(SqlFragments.toksExpr)}) AS grams
                     FROM documents WHERE text IS NOT NULL),
          bench AS (SELECT DISTINCT unnest(grams) AS g FROM d WHERE doc_id % 97 = 0),
          corpus AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
                     FROM d WHERE doc_id % 97 <> 0)
          SELECT doc_id, n_grams, COUNT(*) AS n_hit,
            CAST(COUNT(*) AS DOUBLE) / n_grams AS contam_frac,
            (CAST(COUNT(*) AS DOUBLE) / n_grams >= 0.2) AS contaminated
          FROM corpus JOIN bench USING (g)
          GROUP BY doc_id, n_grams""",

    // Full replay of the repeated-span pipeline (shared CTE with q99).
    "q91_repeated_spans" ->
      s"""${SqlFragments.repeatedSpansCte(k = 5, minSpan = 8, maxBucket = 64)}
          SELECT a_doc, b_doc, a_start, b_start, span_toks FROM spans""",

    // Span-removal replay: b-side intervals merge per doc (running-max
    // islands), then covered 0-based token positions drop.
    "q99_span_removal" ->
      s"""${SqlFragments.repeatedSpansCte(k = 5, minSpan = 8, maxBucket = 64)},
          iv0 AS (SELECT b_doc AS rid, b_start AS s, b_start + span_toks AS e
                  FROM spans),
          r2 AS (SELECT rid, s, e,
                 MAX(e) OVER (PARTITION BY rid ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
                 FROM iv0),
          r3 AS (SELECT rid, s, e,
                 SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY rid ORDER BY s, e) AS island
                 FROM r2),
          mg AS (SELECT rid, MIN(s) AS s, MAX(e) AS e FROM r3 GROUP BY rid, island),
          ivs AS (SELECT rid, list(struct_pack(s := s, e := e)) AS ivs
                  FROM mg GROUP BY rid),
          o AS (SELECT t.doc_id,
                CASE WHEN v.rid IS NULL THEN t.toks
                     ELSE list_filter(
                       list_transform(range(1, len(t.toks) + 1), i ->
                         CASE WHEN len(list_filter(v.ivs,
                                iv -> (i - 1) >= iv.s AND (i - 1) < iv.e)) = 0
                              THEN t.toks[i] ELSE NULL END),
                       x -> x IS NOT NULL)
                END AS kept,
                len(t.toks) AS n FROM t LEFT JOIN ivs v ON t.doc_id = v.rid)
          SELECT doc_id,
                 -- DuckDB array_to_string([]) is NULL; Spark array_join
                 -- of an empty array is '' (a fully-covered doc)
                 COALESCE(array_to_string(kept, ' '), '') AS clean_text,
                 CAST(n - len(kept) AS BIGINT) AS n_removed
          FROM o""",

    // Exact-Jaccard truth replay of the incremental dedup decision
    // (valid under q23's bimodal data contract — see the query comment):
    // final store = hist + batch survivors, where a batch doc drops iff
    // its digest exists in hist or some hist doc has shingle J >= 0.4.
    "q92_incremental_dedup" ->
      s"""WITH d AS (SELECT doc_id, text, md5(text) AS digest,
                     list_distinct(${SqlFragments.bigramsExpr(SqlFragments.toksExpr)}) AS sh
                     FROM documents WHERE text IS NOT NULL),
          hist AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
          newb AS (SELECT doc_id, digest, sh FROM d WHERE doc_id % 5 = 0
                   UNION ALL
                   SELECT doc_id + 100000, digest, sh FROM hist WHERE doc_id % 97 = 3),
          exs AS (SELECT n.* FROM newb n
                  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.digest = n.digest)),
          drops AS (SELECT DISTINCT n.doc_id FROM exs n JOIN hist h
                    ON len(list_concat(n.sh, h.sh)) > 0
                    AND CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE) /
                        len(list_distinct(list_concat(n.sh, h.sh))) >= 0.4)
          SELECT doc_id, digest, FALSE AS is_new FROM hist
          UNION ALL
          SELECT doc_id, digest, TRUE AS is_new FROM exs
          WHERE doc_id NOT IN (SELECT doc_id FROM drops)""",

    // Two chained store states: batch 1 decides vs hist, batch 2 vs
    // hist + batch-1 survivors (the exact-Jaccard truth under the
    // bimodal contract, as in q92).
    "q155_stream_incremental_dedup" ->
      s"""WITH d AS (SELECT doc_id, text, md5(text) AS digest,
                     list_distinct(${SqlFragments.bigramsExpr(SqlFragments.toksExpr)}) AS sh
                     FROM documents WHERE text IS NOT NULL),
          hist AS (SELECT * FROM d WHERE doc_id % 5 NOT IN (0, 1)),
          b1 AS (SELECT doc_id, digest, sh FROM d WHERE doc_id % 5 = 0
                 UNION ALL
                 SELECT doc_id + 100000, digest, sh FROM hist WHERE doc_id % 97 = 3),
          ex1 AS (SELECT n.* FROM b1 n
                  WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.digest = n.digest)),
          dr1 AS (SELECT DISTINCT n.doc_id FROM ex1 n JOIN hist h
                  ON len(list_concat(n.sh, h.sh)) > 0
                  AND CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE) /
                      len(list_distinct(list_concat(n.sh, h.sh))) >= 0.4),
          s1 AS (SELECT * FROM ex1 WHERE doc_id NOT IN (SELECT doc_id FROM dr1)),
          st1 AS (SELECT digest, sh FROM hist UNION ALL SELECT digest, sh FROM s1),
          b2 AS (SELECT doc_id, digest, sh FROM d WHERE doc_id % 5 = 1
                 UNION ALL
                 SELECT doc_id + 200000, digest, sh FROM d
                 WHERE doc_id % 5 = 0 AND doc_id % 89 = 7),
          ex2 AS (SELECT n.* FROM b2 n
                  WHERE NOT EXISTS (SELECT 1 FROM st1 h WHERE h.digest = n.digest)),
          dr2 AS (SELECT DISTINCT n.doc_id FROM ex2 n JOIN st1 h
                  ON len(list_concat(n.sh, h.sh)) > 0
                  AND CAST(len(list_intersect(n.sh, h.sh)) AS DOUBLE) /
                      len(list_distinct(list_concat(n.sh, h.sh))) >= 0.4),
          s2 AS (SELECT * FROM ex2 WHERE doc_id NOT IN (SELECT doc_id FROM dr2))
          SELECT doc_id, digest, CAST(0 AS BIGINT) AS batch FROM hist
          UNION ALL
          SELECT doc_id, digest, CAST(1 AS BIGINT) AS batch FROM s1
          UNION ALL
          SELECT doc_id, digest, CAST(2 AS BIGINT) AS batch FROM s2""",

    "q69_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
          mx AS (SELECT MAX(n) AS nmax FROM c),
          r AS (SELECT lang, sqrt(CAST(nmax AS DOUBLE) / n) AS rate FROM c, mx),
          d AS (SELECT doc_id, d0.lang, rate,
                  CAST(floor(rate) AS BIGINT) +
                  CASE WHEN CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                            / 2147483648.0 < rate - floor(rate)
                       THEN 1 ELSE 0 END AS copies
                FROM documents d0 JOIN r USING (lang))
          SELECT doc_id, lang, CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_id
          FROM d""",

    // WITH RECURSIVE prefixes the shared shingle-pair CTE chain; the
    // closure walks the symmetric verified-pair edges, then each node's
    // component label is the min reachable id (LEAST with itself).
    "q70_dup_clusters" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u)
          SELECT comp AS rep, COUNT(*) AS cluster_size FROM comp GROUP BY comp"""),

    // Same closure as q70, then the q160 LCG keyed on the cluster rep.
    "q189_cluster_split" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          g AS (SELECT d.doc_id, d.lang, COALESCE(c.comp, d.doc_id) AS group_id
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
                WHERE d.text IS NOT NULL)
          SELECT doc_id, lang, group_id,
            CASE WHEN u < 0.8 THEN 'train'
                 WHEN u < 0.9 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, lang, group_id,
                CAST((group_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                  / 2147483648.0 AS u
                FROM g)"""),

    // Full one-shot closure — the incremental path must reproduce it.
    "q192_incremental_clusters" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u)
          SELECT u AS doc_id, comp AS cluster FROM comp"""),

    // Identical closure: the bucketed stored-side layout must be
    // semantically invisible.
    "q193_bucketed_incremental_clusters" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u)
          SELECT u AS doc_id, comp AS cluster FROM comp"""),

    // Sequential-gate replay: quality keep set, digest min-id among
    // passers, verified-pair closure over the exact survivors, then
    // the first-failing-stage case over the full documents table.
    "q198_curation_ledger" ->
      s"""WITH RECURSIVE
          t AS (SELECT doc_id, text, ${SqlFragments.toksExpr} AS toks
                FROM documents WHERE text IS NOT NULL),
          b AS (SELECT doc_id, text, toks, len(toks) AS n_words,
                       ${SqlFragments.bigramsExpr("toks")} AS bi
                FROM t WHERE len(toks) >= 2),
          m AS (SELECT doc_id, MAX(c) AS top_cnt
                FROM (SELECT doc_id, x, COUNT(*) AS c
                      FROM (SELECT doc_id, unnest(toks) AS x FROM b)
                      GROUP BY doc_id, x)
                GROUP BY doc_id),
          q AS (SELECT b.doc_id FROM b JOIN m ON b.doc_id = m.doc_id
                WHERE b.n_words >= 30
                  AND CAST(m.top_cnt AS DOUBLE) / b.n_words <= 0.11
                  AND 1.0 - CAST(len(list_distinct(b.bi)) AS DOUBLE)
                        / len(b.bi) <= 0.05),
          qp AS (SELECT b.doc_id, b.text FROM b JOIN q ON b.doc_id = q.doc_id),
          et AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text))
                        AS exact_canon
                 FROM qp),
          surv AS (SELECT qp.doc_id, qp.text FROM qp JOIN et
                   ON qp.doc_id = et.doc_id AND et.doc_id = et.exact_canon),
          ${SqlFragments.shinglePairsBody(0.4, "surv")},
          e AS (SELECT a_id AS u, b_id AS v FROM verified
                UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          led AS (SELECT d.doc_id, q2.doc_id AS qid, et.exact_canon, c.comp
                  FROM documents d
                  LEFT JOIN q q2 ON d.doc_id = q2.doc_id
                  LEFT JOIN et ON d.doc_id = et.doc_id
                  LEFT JOIN comp c ON d.doc_id = c.u)
          SELECT doc_id,
            CASE WHEN qid IS NULL THEN 'quality'
                 WHEN doc_id <> exact_canon THEN 'exact_dup'
                 WHEN comp IS NOT NULL AND doc_id <> comp THEN 'near_dup'
                 ELSE 'kept' END AS stage,
            CASE WHEN qid IS NULL THEN NULL
                 WHEN doc_id <> exact_canon THEN exact_canon
                 WHEN comp IS NOT NULL AND doc_id <> comp THEN comp
                 ELSE NULL END AS canonical_id,
            (CASE WHEN qid IS NULL THEN 'quality'
                  WHEN doc_id <> exact_canon THEN 'exact_dup'
                  WHEN comp IS NOT NULL AND doc_id <> comp THEN 'near_dup'
                  ELSE 'kept' END) = 'kept' AS kept
          FROM led""",

    // Whole-chain replay: closure → cluster-keyed split → sqrt-rate
    // temperature copies → composite-id shard hash + in-shard rank.
    "q200_train_data_order" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          g AS (SELECT d.doc_id, d.lang, COALESCE(c.comp, d.doc_id) AS group_id
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
                WHERE d.text IS NOT NULL),
          train AS (SELECT doc_id, lang FROM g
                    WHERE CAST((group_id * 1103515245 + 12345) % 2147483648
                               AS DOUBLE) / 2147483648.0 < 0.8),
          cnts AS (SELECT lang, COUNT(*) AS n FROM train GROUP BY lang),
          mx AS (SELECT MAX(n) AS nmax FROM cnts),
          rates AS (SELECT lang, sqrt(CAST(nmax AS DOUBLE) / n) AS rate
                    FROM cnts, mx),
          cp AS (SELECT doc_id, t.lang, rate,
                   CAST(floor(rate) AS BIGINT) +
                   CASE WHEN CAST((doc_id * 1103515245 + 12345) % 2147483648
                              AS DOUBLE) / 2147483648.0 < rate - floor(rate)
                        THEN 1 ELSE 0 END AS copies
                 FROM train t JOIN rates USING (lang)),
          mixed AS (SELECT doc_id,
                      CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy_id
                    FROM cp),
          u AS (SELECT doc_id, copy_id, doc_id * 1024 + copy_id AS uid
                FROM mixed),
          h AS (SELECT doc_id, copy_id, uid,
                  (uid * 1103515245 + 12345) % 2147483648 AS h1 FROM u),
          h2 AS (SELECT doc_id, copy_id, uid, h1 % 8 AS shard,
                  (h1 * 1103515245 + 12345) % 2147483648 AS hh FROM h)
          SELECT doc_id, copy_id, shard,
            CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, uid)
              AS BIGINT) AS shard_pos
          FROM h2"""),

    // Two from-scratch labelings (pre-b2 = edges among %5!=1 docs,
    // post = all edges) over ONE shared verified-pair stage; the feed
    // is their keyed difference.
    "q199_cluster_cdc" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e2 AS (SELECT a_id AS u, b_id AS v FROM verified
                  UNION SELECT b_id, a_id FROM verified),
          e1 AS (SELECT u, v FROM e2 WHERE u % 5 <> 1 AND v % 5 <> 1),
          reach1 AS (SELECT u, v FROM e1
                     UNION
                     SELECT r.u, e1.v FROM reach1 r JOIN e1 ON r.v = e1.u),
          comp1 AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach1 GROUP BY u),
          reach2 AS (SELECT u, v FROM e2
                     UNION
                     SELECT r.u, e2.v FROM reach2 r JOIN e2 ON r.v = e2.u),
          comp2 AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach2 GROUP BY u),
          l1 AS (SELECT d.doc_id, COALESCE(c1.c, d.doc_id) AS comp
                 FROM documents d LEFT JOIN comp1 c1 ON d.doc_id = c1.u
                 WHERE d.text IS NOT NULL AND d.doc_id % 5 <> 1),
          l2 AS (SELECT d.doc_id, COALESCE(c2.c, d.doc_id) AS comp
                 FROM documents d LEFT JOIN comp2 c2 ON d.doc_id = c2.u
                 WHERE d.text IS NOT NULL)
          SELECT l2.doc_id,
            CASE WHEN l1.doc_id IS NULL THEN 'insert' ELSE 'update' END
              AS change_type,
            l1.comp AS comp_pre, l2.comp AS comp_post
          FROM l2 LEFT JOIN l1 ON l2.doc_id = l1.doc_id
          WHERE l1.doc_id IS NULL OR l1.comp <> l2.comp"""),

    // Same truth through the real stream.
    "q197_stream_continuous_clustering" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          g AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
                WHERE d.text IS NOT NULL)
          SELECT doc_id, group_id,
            CASE WHEN u < 0.8 THEN 'train'
                 WHEN u < 0.9 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, group_id,
                CAST((group_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                  / 2147483648.0 AS u
                FROM g)"""),

    // One-shot truth for the whole loop: full closure over the union
    // corpus, then the q189 cluster-keyed LCG split — the incremental
    // three-store path must land on exactly this.
    "q194_continuous_clustering" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          g AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS group_id
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
                WHERE d.text IS NOT NULL)
          SELECT doc_id, group_id,
            CASE WHEN u < 0.8 THEN 'train'
                 WHEN u < 0.9 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, group_id,
                CAST((group_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                  / 2147483648.0 AS u
                FROM g)"""),

    // Closure + both LCG splits; the cluster column must come out 0.
    "q190_split_leakage" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, e AS (SELECT a_id AS u, b_id AS v FROM verified
                 UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          asg AS (SELECT d.doc_id,
                    CAST((d.doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                      / 2147483648.0 AS ud,
                    CAST((COALESCE(c.comp, d.doc_id) * 1103515245 + 12345)
                      % 2147483648 AS DOUBLE) / 2147483648.0 AS uc
                  FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
                  WHERE d.text IS NOT NULL),
          s AS (SELECT doc_id,
                  CASE WHEN ud < 0.8 THEN 'train' WHEN ud < 0.9 THEN 'val'
                       ELSE 'test' END AS ds,
                  CASE WHEN uc < 0.8 THEN 'train' WHEN uc < 0.9 THEN 'val'
                       ELSE 'test' END AS cs
                FROM asg)
          SELECT COUNT(*) AS n_pairs,
            CAST(SUM(CASE WHEN a.ds <> b.ds THEN 1 ELSE 0 END) AS BIGINT)
              AS cross_doc_split,
            CAST(SUM(CASE WHEN a.cs <> b.cs THEN 1 ELSE 0 END) AS BIGINT)
              AS cross_cluster_split
          FROM verified v JOIN s a ON v.a_id = a.doc_id
                          JOIN s b ON v.b_id = b.doc_id"""),

    "q73_jsonl_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MIN(text) AS min_text,
           MAX(doc_id) AS max_id
         FROM documents GROUP BY lang""",

    "q78_profile" ->
      """SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           MIN(CAST(o_orderkey AS DOUBLE)) AS min_num, MAX(CAST(o_orderkey AS DOUBLE)) AS max_num
         FROM orders
         UNION ALL
         SELECT 'o_custkey', COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           MIN(CAST(o_custkey AS DOUBLE)), MAX(CAST(o_custkey AS DOUBLE))
         FROM orders
         UNION ALL
         SELECT 'o_totalprice', COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           MIN(o_totalprice), MAX(o_totalprice)
         FROM orders
         UNION ALL
         SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           NULL, NULL
         FROM orders""",

    "q79_viewstore_merge" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, o_totalprice AS p
                     FROM orders),
          b1 AS (SELECT d, p FROM o WHERE d BETWEEN '1995-01-01' AND '1995-01-31'),
          b2 AS (SELECT d, p * 2 AS p FROM o WHERE d BETWEEN '1995-01-15' AND '1995-02-05'),
          v AS (SELECT * FROM b1 WHERE d < '1995-01-15' UNION ALL SELECT * FROM b2)
          SELECT d, COUNT(*) AS n, ${SqlFragments.r15("SUM(p)", 2)} AS total
          FROM v GROUP BY d""",

    // Time-travel splice: v1 = Jan, v2 = v1 + doubled Feb, v3 = Mar only
    "q96_snapshot_store" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, o_totalprice AS p
                     FROM orders),
          v1 AS (SELECT d, p FROM o WHERE d BETWEEN '1995-01-01' AND '1995-01-31'),
          v2 AS (SELECT * FROM v1
                 UNION ALL
                 SELECT d, p * 2 AS p FROM o WHERE d BETWEEN '1995-02-01' AND '1995-02-28'),
          v3 AS (SELECT d, p FROM o WHERE d BETWEEN '1995-03-01' AND '1995-03-31')
          SELECT CAST(1 AS BIGINT) AS version, d, COUNT(*) AS n,
                 ${SqlFragments.r15("SUM(p)", 2)} AS total FROM v1 GROUP BY d
          UNION ALL
          SELECT CAST(2 AS BIGINT), d, COUNT(*), ${SqlFragments.r15("SUM(p)", 2)}
          FROM v2 GROUP BY d
          UNION ALL
          SELECT CAST(3 AS BIGINT), d, COUNT(*), ${SqlFragments.r15("SUM(p)", 2)}
          FROM v3 GROUP BY d""",

    // Same corruption, same predicates — all-integer counts.
    "q133_expectations" ->
      """WITH fact AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 997 = 0 THEN NULL
                  WHEN o_orderkey % 389 = 0 THEN o_custkey + 1000000
                  ELSE o_custkey END AS k,
             CASE WHEN o_orderkey % 983 = 0 THEN 'X' ELSE o_orderstatus END AS st,
             CASE WHEN o_orderkey % 991 = 0 THEN -o_totalprice
                  ELSE o_totalprice END AS p
           FROM orders
           UNION ALL
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 379 = 0),
         rep AS (
           SELECT 'not_null:o_custkey' AS c,
             CAST(COUNT(*) FILTER (WHERE k IS NULL) AS BIGINT) AS n FROM fact
           UNION ALL
           SELECT 'in_range:o_totalprice',
             CAST(COUNT(*) FILTER (WHERE p IS NULL OR p < 0.0 OR p > 10000000.0)
                  AS BIGINT) FROM fact
           UNION ALL
           SELECT 'accepted_values:o_orderstatus',
             CAST(COUNT(*) FILTER (WHERE st IS NULL OR st NOT IN ('O','F','P'))
                  AS BIGINT) FROM fact
           UNION ALL
           SELECT 'unique:o_orderkey',
             CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
           FROM (SELECT COUNT(*) AS n FROM fact GROUP BY o_orderkey
                 HAVING COUNT(*) > 1)
           UNION ALL
           SELECT 'foreign_key:o_custkey',
             CAST(COUNT(*) FILTER (WHERE k IS NOT NULL
               AND k NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) FROM fact)
         SELECT c AS "check", n AS n_violations, n = 0 AS ok FROM rep""",

    // Same exact-long token sums, same double arithmetic chain.
    "q145_epoch_plan" ->
      s"""WITH d AS (SELECT lang, CAST(len(${SqlFragments.toksExpr}) AS BIGINT) AS nt
                     FROM documents WHERE text IS NOT NULL),
          a AS (SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(nt) AS BIGINT) AS n_tokens
                FROM d GROUP BY lang),
          w AS (SELECT lang, CAST(weight AS DOUBLE) AS weight
                FROM (VALUES ('en', 0.3), ('zh', 0.15), ('es', 0.15),
                ('de', 0.1), ('fr', 0.3)) AS t(lang, weight))
          SELECT a.lang, a.n_docs, a.n_tokens, w.weight,
            40000.0 * w.weight AS planned_tokens,
            40000.0 * w.weight / a.n_tokens AS epochs_raw,
            LEAST(40000.0 * w.weight / a.n_tokens, 4.0) AS epochs,
            (40000.0 * w.weight / a.n_tokens) > 4.0 AS clamped,
            LEAST(40000.0 * w.weight / a.n_tokens, 4.0) * a.n_tokens
              AS effective_tokens
          FROM a JOIN w USING (lang)""",

    // Identical regexes (RE2∩Java subset), identical sort + rejoin.
    "q146_url_canonical" ->
      """WITH u AS (SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
            (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
            'Src' || (doc_id % 7) || '.Example.org' ||
            (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
            '/doc/' || (doc_id % 50) ||
            (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
            (CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
                  ELSE '?a=1&b=2' END) ||
            (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
            FROM documents),
          c AS (SELECT doc_id, url,
            list_sort(list_filter(
              string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
              p -> p <> '' AND NOT regexp_matches(p,
                '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))) AS prt
            FROM u),
          k AS (SELECT doc_id, url,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) ||
            '://' ||
            regexp_replace(regexp_replace(
              lower(regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
              '^www\.', ''), ':(443|80)$', '') ||
            regexp_replace(regexp_extract(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') ||
            (CASE WHEN len(prt) > 0 THEN '?' || array_to_string(prt, '&')
                  ELSE '' END) AS canon_url
            FROM c)
          SELECT doc_id, url, canon_url,
            COUNT(*) OVER (PARTITION BY canon_url) AS n_same
          FROM k""",

    // Same tokenizer, same list, same long/long division.
    "q139_blocklist_filter" ->
      s"""WITH t AS (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                     FROM documents WHERE text IS NOT NULL),
          c AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(toks, x -> list_contains(
                  ${SqlFragments.sqlList(graft.functions.SentimentFns.DefaultNegative)},
                  x))) AS BIGINT) AS n_blocked
                FROM t WHERE len(toks) > 0)
          SELECT doc_id, n_tokens, n_blocked,
            CAST(n_blocked AS DOUBLE) / n_tokens AS blocked_frac,
            CAST(n_blocked AS DOUBLE) / n_tokens <= 0.05 AS keep
          FROM c""",

    // Exact-Jaccard closure (complete above the verify threshold per
    // q23's contract) + the identical quality argmax.
    "q142_dedup_canonical" -> (
      SqlFragments.shinglePairsCte(0.4).replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", e AS (SELECT a_id AS u, b_id AS v FROM verified
                  UNION SELECT b_id, a_id FROM verified),
          reach AS (SELECT u, v FROM e
                    UNION
                    SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
          comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u),
          qual AS (SELECT doc_id,
                   CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS q
                   FROM (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                         FROM documents WHERE text IS NOT NULL)
                   WHERE len(toks) > 0),
          m AS (SELECT c.id, c.comp, qual.q FROM comp c
                JOIN qual ON c.id = qual.doc_id),
          canon AS (SELECT comp, id AS canonical_id FROM
                    (SELECT comp, id,
                     ROW_NUMBER() OVER (PARTITION BY comp ORDER BY q DESC, id) AS rn
                     FROM m) WHERE rn = 1)
          SELECT m.id AS doc_id, m.comp AS cluster, canon.canonical_id,
            m.id = canon.canonical_id AS is_canonical
          FROM m JOIN canon USING (comp)"""),

    // Pruned dirs or not, the surviving read == the plain range scan.
    "q134_skipping_read" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, COUNT(*) AS n,
            ${SqlFragments.r15("SUM(o_totalprice)", 2)} AS total
          FROM orders
          WHERE strftime(o_orderdate, '%Y-%m-%d')
                BETWEEN '1995-02-01' AND '1995-03-31'
          GROUP BY d""",

    // Bloom pruning is invisible to results: the lookup == the plain
    // point query (the bloom only decides which dirs get opened).
    "q151_bloom_point_lookup" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders
         WHERE o_orderkey = (SELECT MAX(o_orderkey) FROM orders)""",

    // Layout-invisible semantics: the box read == the plain 2-D range
    // query with the same integer-derived bounds.
    // ONE shared layout-invisible box oracle (SqlFragments
    // .ordersBoxOracle) for every orders-layout query: the layout —
    // z-order file sort, Hilbert code-range dirs, store OPTIMIZE —
    // must only change WHICH dirs/files the read skips, never content.
    "q153_zorder_skipping" -> SqlFragments.ordersBoxOracle,
    "q220_optimize_clustered" -> SqlFragments.ordersBoxOracle,
    "q209_hilbert_skipping" -> SqlFragments.ordersBoxOracle,

    // The 3-D layout-invisible box: same content whatever the layout;
    // the layout only changes which dirs the read skips.
    "q229_optimize_clustered_3d" ->
      """WITH b AS (SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax,
                    MIN(o_orderkey) AS kmin, MAX(o_orderkey) AS kmax,
                    MIN(o_totalprice) AS pmin, MAX(o_totalprice) AS pmax
                    FROM orders),
          r AS (SELECT cmin + (cmax - cmin) // 4 AS clo,
                cmin + (cmax - cmin) * 2 // 5 AS chi,
                kmin + (kmax - kmin) // 4 AS klo,
                kmin + (kmax - kmin) * 2 // 5 AS khi,
                pmin + (pmax - pmin) / 4 AS plo,
                pmin + (pmax - pmin) * 2 / 5 AS phi FROM b)
          SELECT o_custkey AS cust, o_orderkey AS k, o_totalprice AS p
          FROM orders, r
          WHERE o_custkey BETWEEN clo AND chi
            AND o_orderkey BETWEEN klo AND khi
            AND o_totalprice BETWEEN plo AND phi""",

    // The one-shot aggregate over the FINAL table state: Jan-Mar
    // minus the k%7=0 deletes, k%5=0 survivors at doubled price, plus
    // the April inserts.
    "q241_cdc_to_mv" ->
      """WITH f AS (SELECT o_orderkey AS k,
              strftime(o_orderdate, '%Y-%m-%d') AS d,
              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
          fin AS (
            SELECT d, CASE WHEN k % 5 = 0 THEN cents * 2 ELSE cents END
              AS cents
            FROM f WHERE d BETWEEN '1995-01-01' AND '1995-03-31'
              AND k % 7 <> 0
            UNION ALL
            SELECT d, cents FROM f
            WHERE d BETWEEN '1995-04-01' AND '1995-04-30')
          SELECT d, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM fin GROUP BY d""",

    // same final state as q241 — the streaming loop must be
    // indistinguishable from the batch one
    "q247_stream_cdc_to_mv" ->
      """WITH f AS (SELECT o_orderkey AS k,
              strftime(o_orderdate, '%Y-%m-%d') AS d,
              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
          fin AS (
            SELECT d, CASE WHEN k % 5 = 0 THEN cents * 2 ELSE cents END
              AS cents
            FROM f WHERE d BETWEEN '1995-01-01' AND '1995-03-31'
              AND k % 7 <> 0
            UNION ALL
            SELECT d, cents FROM f
            WHERE d BETWEEN '1995-04-01' AND '1995-04-30')
          SELECT d, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM fin GROUP BY d""",

    // Survivors + resurrected-at-double: the delete keyed out k%10=0,
    // the merge re-inserted exactly the k%30=0 slice at 2x price.
    // the index path must be layout-invisible: same rows as the flat
    // filter over everything committed
    "q252_secondary_index" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS p
         FROM orders WHERE o_orderpriority = '1-URGENT'""",

    // the clone pins the pre-divergence state: both commits, the
    // delete applied, the source's later insert invisible
    "q264_deep_clone" ->
      """SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
                o_totalprice AS p
         FROM orders WHERE o_orderkey % 10 <> 0""",

    // retention semantics: everything at-or-after the cutoff survives
    "q263_retention_expiry" ->
      """SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
                o_totalprice AS p
         FROM orders WHERE strftime(o_orderdate, '%Y-%m-%d') >= '1998-01-01'""",

    // after refuse -> rebase -> publish, main holds every slice once
    "q261_wap_rebase" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders""",

    // base + two audited branch commits + the concurrent main append =
    // every customer exactly once; the stale branch's commit must NOT
    // be in here (its fast-forward was refused)
    "q245_wap_publish" ->
      """SELECT c_custkey AS k, c_mktsegment AS seg, c_acctbal AS bal
         FROM customer""",

    "q240_deletion_vectors" ->
      """SELECT o_orderkey AS k, o_totalprice AS p
         FROM orders WHERE o_orderkey % 10 <> 0
         UNION ALL
         SELECT o_orderkey AS k, o_totalprice * 2 AS p
         FROM orders WHERE o_orderkey % 30 = 0""",

    // All 15 folded deletes replayed declaratively.
    "q265_dv_fold" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE (o_orderkey % 97) >= 15""",

    // Maintenance must be content-neutral: the post-OPTIMIZE+VACUUM
    // read is the plain union of the three commits.
    "q267_sql_maintenance" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders""",

    // The restored table IS v1's content.
    "q268_sql_restore" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 2 = 0""",

    // INSERT(odd half) + UPDATE(p doubles where cust % 10 = 0),
    // replayed declaratively over the full table.
    "q270_sql_dml" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
                CASE WHEN o_custkey % 10 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS p
         FROM orders""",

    // MERGE outcomes replayed: carried target-only rows, doubled
    // upserts (matched or inserted), del-flagged matches gone (no odd
    // k has k % 10 = 0, so unmatched tombstones don't arise).
    "q271_sql_merge" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 2
         FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 <> 0""",

    // The whole SQL lifecycle replayed: seed(k%4=0) + insert(k%4=1),
    // +1000 where cust%7=0, delete k%20=0, then the merge REPLACES
    // every k%6=0 row whole (p*3 — including resurrecting deleted
    // k%20=0∧k%6=0 keys) and inserts the unmatched ones.
    "q272_sql_lifecycle" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_custkey AS cust,
                  CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
                       ELSE o_totalprice END AS p
           FROM orders WHERE o_orderkey % 4 IN (0, 1))
         SELECT k, cust, p FROM base WHERE k % 20 <> 0 AND k % 6 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 3
         FROM orders WHERE o_orderkey % 6 = 0""",

    // The three clause shapes replayed declaratively: base rows boost
    // (+p/2 when k%3=0) then bump (+100 when k%5=0); k%3 strays insert
    // with halved p (then bump); k%7 strays insert untouched (the
    // insert-only statement ran last). Identical per-row double
    // arithmetic in the same association order on both engines.
    "q274_sql_merge_columns" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_orderkey % 3 = 0 THEN 'boosted' ELSE 'base' END AS seg,
            o_totalprice
              + CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 0.5 ELSE 0 END
              + CASE WHEN o_orderkey % 5 = 0 THEN 100.0 ELSE 0 END AS p
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, 'inserted',
            o_totalprice * 0.5
              + CASE WHEN o_orderkey % 5 = 0 THEN 100.0 ELSE 0 END
         FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
         UNION ALL
         SELECT o_orderkey, NULL, 'lateinsert', o_totalprice
         FROM orders WHERE o_orderkey % 7 = 0
           AND o_orderkey % 2 <> 0 AND o_orderkey % 3 <> 0""",

    // Survivors of the wide delete: keep k%3=0 in the lower half, all
    // of the upper half. k*2 <= max expresses the integer half-split
    // identically on both engines.
    "q275_dv_rewrite" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders
         WHERE NOT (o_orderkey % 3 <> 0 AND
                    o_orderkey * 2 <= (SELECT max(o_orderkey) FROM orders))""",

    // Evolution replayed declaratively: even keys predate the column
    // (NULL unless the k%10 backfill hit them), odd keys inserted with
    // the concatenated note.
    "q276_sql_alter_schema" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p,
            CASE WHEN o_orderkey % 10 = 0 THEN 'old' ELSE NULL END AS note
         FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice,
            'n' || CAST(o_orderkey AS VARCHAR)
         FROM orders WHERE o_orderkey % 2 <> 0""",

    // The typed diff rows constructed declaratively. Updates surface
    // only where the payload actually changed (cust%7 rows not yet
    // deleted); deletes carry their v1 pre-payload.
    "q278_sql_changes" ->
      """SELECT 'insert' AS change_type, o_orderkey AS k,
            CAST(NULL AS DOUBLE) AS p_pre,
            CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p_post
         FROM orders WHERE o_orderkey % 4 = 1
         UNION ALL
         SELECT 'update', o_orderkey, o_totalprice, o_totalprice + 1000
         FROM orders WHERE o_orderkey % 4 = 0 AND o_custkey % 7 = 0
           AND o_orderkey % 20 <> 0
         UNION ALL
         SELECT 'delete', o_orderkey, o_totalprice, NULL
         FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 20 = 0""",

    // The exact profile of the k%3 subset, one UNION branch per column.
    "q279_sql_analyze" ->
      """WITH t AS (SELECT o_orderkey AS k, o_custkey AS cust,
                           o_orderpriority AS prio
                    FROM orders WHERE o_orderkey % 3 = 0)
         SELECT 'k' AS "column", COUNT(*) AS n_rows, COUNT(k) AS n_nonnull,
                COUNT(*) - COUNT(k) AS n_null, COUNT(DISTINCT k) AS ndv,
                CAST(MIN(k) AS VARCHAR) AS min_s, CAST(MAX(k) AS VARCHAR) AS max_s
         FROM t
         UNION ALL
         SELECT 'cust', COUNT(*), COUNT(cust), COUNT(*) - COUNT(cust),
                COUNT(DISTINCT cust), CAST(MIN(cust) AS VARCHAR),
                CAST(MAX(cust) AS VARCHAR)
         FROM t
         UNION ALL
         SELECT 'prio', COUNT(*), COUNT(prio), COUNT(*) - COUNT(prio),
                COUNT(DISTINCT prio), CAST(MIN(prio) AS VARCHAR),
                CAST(MAX(prio) AS VARCHAR)
         FROM t""",

    // The restart-surviving composition replayed declaratively: both
    // inserted slices, the cust%5 bump, minus the k%30 deletes.
    "q280_sql_durable_catalog" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 5 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders
         WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 30 <> 0""",

    // First-match-wins replay: cust%10 rows take the FIRST clause
    // (update, NOT the delete they also match); the delete fires only
    // on its residue (cust%5 minus cust%10); everything else matched
    // falls through to +1; unmatched targets carry; qualifying strays
    // insert. Same association order on both engines.
    "q281_sql_merge_when" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 10 = 0
                 THEN o_totalprice + o_totalprice * 0.5
                 ELSE o_totalprice + 1 END AS p
         FROM orders WHERE o_orderkey % 6 = 0
           AND NOT (o_custkey % 10 <> 0 AND o_custkey % 5 = 0)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
         UNION ALL
         SELECT o_orderkey, -1, o_totalprice * 0.5
         FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
           AND o_totalprice * 0.5 < 20000""",

    // The exact box content — dir pruning is layout-invisible.
    "q282_sql_cluster_create" ->
      """SELECT o_orderkey AS k, o_custkey % 64 AS a, o_orderkey % 64 AS b,
            o_totalprice AS p
         FROM orders
         WHERE o_custkey % 64 BETWEEN 0 AND 15
           AND o_orderkey % 64 BETWEEN 0 AND 15""",

    // The snapshot a reader between the two commits saw: exactly v1.
    "q283_sql_timestamp_travel" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 2 = 0""",

    // The two ADMITTED slices — the refused inserts left no trace.
    "q284_sql_pk_enforce" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 4 IN (0, 1)""",

    // q278's typed-diff construction, unchanged by the LATEST /
    // timestamp spelling of the bounds.
    "q285_sql_changes_latest" ->
      """SELECT 'insert' AS change_type, o_orderkey AS k,
            CAST(NULL AS DOUBLE) AS p_pre,
            CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p_post
         FROM orders WHERE o_orderkey % 4 = 1
         UNION ALL
         SELECT 'update', o_orderkey, o_totalprice, o_totalprice + 1000
         FROM orders WHERE o_orderkey % 4 = 0 AND o_custkey % 7 = 0
           AND o_orderkey % 20 <> 0
         UNION ALL
         SELECT 'delete', o_orderkey, o_totalprice, NULL
         FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 20 = 0""",

    // The DR-replayed composition: the k%3=0 slice with the cust%5
    // bump — the refused post-replay insert left no trace.
    "q286_sql_show_create" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 5 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders WHERE o_orderkey % 3 = 0""",

    // The region swap replayed declaratively: the low region replaced
    // by its doubled k%3=0 subset, the high region untouched; the
    // refused stray left no trace.
    "q287_sql_replace_where" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice * 2 AS p
         FROM orders WHERE o_orderkey < 300 AND o_orderkey % 3 = 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey >= 600""",

    // The admitted composition: both inserted slices, the cust%9 bump,
    // halved by the self-rebuilding overwrite — every refused write
    // left no trace.
    "q288_sql_check_overwrite" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 9 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders
         WHERE o_orderkey % 5 IN (0, 1) AND o_orderkey % 2 = 0""",

    // Both subquery statements replayed declaratively: drop the hot
    // customers, bump the flagged keys among the survivors.
    "q289_sql_subquery_dml" ->
      """WITH hot AS (SELECT o_custkey AS c FROM orders
                      GROUP BY o_custkey HAVING count(*) >= 14)
         SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders
         WHERE o_orderkey % 2 = 0
           AND o_custkey NOT IN (SELECT c FROM hot)""",

    // Both landed batches — the re-run and the already-loaded files
    // left no duplicates.
    "q290_sql_copy_into" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 3 IN (0, 1)""",

    // Layout-invisible: the scoped optimize must not change content
    // (the q239 stance, scoped) — both regions minus the deletes.
    "q291_sql_optimize_where" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders
         WHERE (o_orderkey < 300 OR o_orderkey >= 600)
           AND o_orderkey % 40 <> 0""",

    // The partial insert (NULL cust) surviving only where the merge
    // missed; every k%2=0 row ends as the doubled upsert.
    "q292_sql_insert_cols_merge_sub" ->
      """SELECT o_orderkey AS k, CAST(NULL AS BIGINT) AS cust,
            o_totalprice AS p
         FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 2
         FROM orders WHERE o_orderkey % 2 = 0""",

    // The replaced definition + the keyed follow-up, declaratively.
    "q293_sql_create_or_replace" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 6 = 0 THEN o_totalprice * 3 + 1
                 ELSE o_totalprice * 3 END AS p
         FROM orders WHERE o_orderkey % 5 = 0""",

    // The quoted-name DML lifecycle replayed declaratively: the k%3=0
    // load, the cust%5 bump, the k%30 delete.
    "q294_sql_quoted_ident" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 5 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders
         WHERE o_orderkey % 3 = 0 AND o_orderkey % 30 <> 0""",

    // Rename is content-invisible and the dropped column simply leaves
    // the projection: both inserts' k/cust/p with the cust%7 bump.
    "q295_sql_rename_drop_column" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders WHERE o_orderkey % 4 IN (0, 1)""",

    // The sync read pins cycle 1 — the half-landed cycle 2 insert
    // (k%4=2) must be invisible.
    "q296_sql_syncpoint" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 4 = 0""",

    // Layout is content-invisible: the streamed clustered table holds
    // exactly the source slice.
    "q297_stream_cluster_sink" ->
      """SELECT o_orderkey AS k, o_custkey % 16 AS a,
            o_orderkey % 16 AS b, o_totalprice AS p
         FROM orders WHERE o_orderkey % 5 = 0""",

    // The fenced COPY loads each file exactly once beside the
    // colliding-txn batch: both slices, no duplicates.
    "q298_sql_copy_skip_fence" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders WHERE o_orderkey % 3 IN (0, 1)""",

    // Main's final state after the streamed WAP cycle = the seed plus
    // both streamed micro-batches, i.e. every order exactly once.
    "q304_stream_wap" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders""",

    // Maintenance is content-neutral and no stream batch was lost:
    // the final table is every order exactly once.
    "q305_occ_maintenance_stream" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders""",

    // Maintenance-invisible MV semantics: the incrementally-refreshed
    // aggregate == the one-shot recompute over the final base state
    // (all orders, the cust%13 bump applied, k%9 deleted).
    "q306_sql_mv_incremental_agg" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_custkey AS cust,
                  CASE WHEN o_custkey % 13 = 0 THEN o_totalprice + 10
                       ELSE o_totalprice END AS p
           FROM orders WHERE o_orderkey % 9 <> 0)
         SELECT cust % 100 AS cg, count(*) AS n,
                CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT) AS sc,
                min(p) AS mp
         FROM base GROUP BY cust % 100""",

    // The streamed lambda loop is maintenance-invisible too: the MV
    // over seed + both streamed batches == the one-shot aggregate over
    // all orders.
    "q308_sql_mv_stream" ->
      """SELECT o_custkey % 50 AS cg, count(*) AS n,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS sc,
            min(o_totalprice) AS lo, max(o_totalprice) AS hi
         FROM orders GROUP BY o_custkey % 50""",

    // The restore rolls the delete back, so the maintained MV equals
    // the plain seed aggregate — resurrection is maintenance-invisible.
    "q309_sql_mv_restore" ->
      """SELECT o_custkey % 40 AS cg, count(*) AS n,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS sc
         FROM orders GROUP BY o_custkey % 40""",

    // The SPJ MV after filter-crossing updates and a delete: rows of
    // the final base that pass the defining WHERE, projected.
    "q307_sql_mv_spj" ->
      """WITH u1 AS (
           SELECT o_orderkey AS k,
                  CASE WHEN o_orderkey % 10 = 0 THEN o_custkey + 1
                       ELSE o_custkey END AS cust,
                  o_totalprice AS p
           FROM orders),
         u2 AS (
           SELECT k, cust,
                  CASE WHEN cust % 4 = 0 AND k % 3 = 0 THEN p + 5
                       ELSE p END AS p
           FROM u1)
         SELECT k, p * 2 AS p2 FROM u2
         WHERE k % 17 <> 0 AND cust % 4 = 0""",

    // Widen is content-exact across both eras: old-era ints surface
    // as BIGINT, new-era rows carry the beyond-int values, the keyed
    // bump applied era-blind.
    "q303_sql_widen_type" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CAST(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 1000
                      ELSE o_orderkey + 5000000000 END
              + CASE WHEN o_custkey % 7 = 0 THEN 6000000000 ELSE 0 END
              AS BIGINT) AS qty
         FROM orders""",

    // The rebased merge + both streamed appends, every key exactly
    // once: lower quartile upserted to 2.0, everything else original.
    "q302_occ_rebase" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_orderkey < (SELECT MAX(o_orderkey) // 4 FROM orders)
                 THEN 2.0 ELSE o_totalprice END AS p
         FROM orders""",

    // Main's final state = the audited branch composition: both
    // slices, the cust%6 bump applied branch-wide before publish.
    "q301_sql_wap" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 6 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders WHERE o_orderkey % 3 IN (0, 1)""",

    // The pinned snapshot (k%4=0 only) with the clone-side bump; the
    // source's post-pin insert and update are invisible to the clone.
    "q300_sql_clone" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 5 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders WHERE o_orderkey % 4 = 0""",

    // Rename is content-invisible across both column eras: the old-era
    // and new-era rows surface under the new name, plus the keyed bump.
    "q299_sql_rename_column" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
            CASE WHEN o_custkey % 9 = 0 THEN o_totalprice + 1000
                 ELSE o_totalprice END AS p
         FROM orders WHERE o_orderkey % 4 IN (0, 2)""",

    // Same composition as q272, born and closed entirely in SQL.
    "q273_sql_create_table" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_custkey AS cust,
                  CASE WHEN o_custkey % 7 = 0 THEN o_totalprice + 1000
                       ELSE o_totalprice END AS p
           FROM orders WHERE o_orderkey % 4 IN (0, 1))
         SELECT k, cust, p FROM base WHERE k % 20 <> 0 AND k % 6 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice * 3
         FROM orders WHERE o_orderkey % 6 = 0""",

    // Both DELETE predicates replayed declaratively.
    "q269_sql_delete" ->
      """SELECT o_orderkey AS k, o_custkey AS cust, o_totalprice AS p
         FROM orders
         WHERE o_orderkey % 11 <> 0
           AND NOT (o_custkey % 13 = 0 AND o_orderkey % 11 <> 0)""",

    // The one-shot lattice: GROUP BY CUBE over all facts.
    "q238_cube_mv" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS d, o_orderpriority AS p,
            COUNT(*) AS n,
            CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS sum_cents
         FROM orders GROUP BY CUBE (d, p)""",

    // Layout-invisible: compaction must not change content.
    "q239_partial_compaction" ->
      "SELECT o_orderkey AS k, o_totalprice AS p FROM orders",

    // One-shot join of ALL facts against the UPDATED dimension.
    "q236_join_mv" ->
      """SELECT o_orderkey AS k, o_custkey AS ck,
            CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
            CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                 ELSE c_mktsegment END AS seg
         FROM orders JOIN customer ON o_custkey = c_custkey""",

    // One-shot aggregate over the surviving multiset:
    // inserted = (k%3<>0) then (k%3=0); retracted = (k%3<>0 AND k%7=0)
    // => survivors are k%3=0 OR k%7<>0.
    "q237_mv_retractions" ->
      """SELECT o_custkey AS ck, COUNT(*) AS n,
            CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS sum_cents
         FROM orders
         WHERE o_orderkey % 3 = 0 OR o_orderkey % 7 <> 0
         GROUP BY o_custkey""",

    // Maintenance-invisible semantics: the incrementally-refreshed MV
    // == the one-shot recompute over all facts.
    "q154_incremental_mv" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
            COUNT(*) AS n,
            CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%d')
               BETWEEN '1995-01-01' AND '1995-06-30'
         GROUP BY d""",

    // Maintenance-invisible + estimate gated: the incrementally-merged
    // sketch MV must carry the exact row count and an estimate within
    // 5% of the true distinct (HLL lgK=12 is exact in sparse mode at
    // these per-day cardinalities).
    "q213_sketch_mv" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
            COUNT(*) AS n,
            COUNT(DISTINCT o_custkey) AS n_exact,
            TRUE AS est_ok
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m-%d')
               BETWEEN '1995-01-01' AND '1995-06-30'
         GROUP BY d""",

    // Maintenance-invisible AND approximation-exact: the incrementally
    // maintained bucket counts must serve the IDENTICAL integer sketch
    // walk (the shared SqlFragments.relQuantileWalk fragment) a
    // one-shot pass over the raw facts computes.
    "q215_quantile_mv" ->
      s"""WITH src AS (
           SELECT strftime(o_orderdate, '%Y-%m-%d') AS k,
                  CAST(floor(o_totalprice * 100) AS BIGINT) AS v
           FROM orders
           WHERE strftime(o_orderdate, '%Y-%m-%d')
                 BETWEEN '1995-01-01' AND '1995-06-30'
             AND floor(o_totalprice * 100) >= 1),
         ${SqlFragments.relQuantileWalk("src", "d")}""",

    // The CDF replay: full-outer join of the two window snapshots on k.
    "q135_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
                    o_totalprice AS p FROM orders),
          v1 AS (SELECT * FROM o WHERE d BETWEEN '1995-01-01' AND '1995-03-31'),
          v2 AS (SELECT k, d, CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p
                 FROM o WHERE d BETWEEN '1995-02-01' AND '1995-04-30')
          SELECT COALESCE(v1.k, v2.k) AS k,
            CASE WHEN v1.k IS NULL THEN 'insert'
                 WHEN v2.k IS NULL THEN 'delete'
                 ELSE 'update' END AS change_type,
            v1.d AS d_pre, v1.p AS p_pre, v2.d AS d_post, v2.p AS p_post
          FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
          WHERE v1.k IS NULL OR v2.k IS NULL
             OR v1.d IS DISTINCT FROM v2.d OR v1.p IS DISTINCT FROM v2.p""",

    // LCG + cumulative boundaries replayed in integer/double SQL.
    "q160_train_split" ->
      """SELECT doc_id, lang,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, lang,
               CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                 / 2147483648.0 AS u
               FROM documents)""",

    // The commit sequence fully determines the listing.
    "q159_table_history" ->
      """SELECT * FROM (VALUES
           (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE),
           (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), FALSE),
           (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT), FALSE),
           (CAST(4 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT), FALSE),
           (CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), TRUE),
           (CAST(6 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT), TRUE)
         ) t(version, n_dirs, n_txns, overwrite)""",

    // PSI replay: same two window snapshots, base-frame equal-width
    // bins, Laplace-smoothed proportions, (p-q)ln(p/q) per bin.
    "q156_snapshot_drift_psi" ->
      s"""WITH o AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
                     o_totalprice AS p FROM orders),
          v1 AS (SELECT * FROM o WHERE d BETWEEN '1995-01-01' AND '1995-03-31'),
          v2 AS (SELECT k, d, CASE WHEN k % 5 = 0 THEN p * 2 ELSE p END AS p
                 FROM o WHERE d BETWEEN '1995-02-01' AND '1995-04-30'),
          prm AS (SELECT CAST(MIN(p) AS DOUBLE) AS mn,
                  (CAST(MAX(p) AS DOUBLE) - CAST(MIN(p) AS DOUBLE)) / 10 AS w
                  FROM v1),
          n1 AS (SELECT COUNT(*) AS n FROM v1),
          n2 AS (SELECT COUNT(*) AS n FROM v2),
          b1 AS (SELECT CAST(LEAST(GREATEST(floor((p - mn) / w), 0), 9) AS BIGINT) AS bin,
                 COUNT(*) AS n FROM v1, prm GROUP BY 1),
          b2 AS (SELECT CAST(LEAST(GREATEST(floor((p - mn) / w), 0), 9) AS BIGINT) AS bin,
                 COUNT(*) AS n FROM v2, prm GROUP BY 1),
          spine AS (SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bin),
          j AS (SELECT s.bin, COALESCE(b1.n, 0) AS n_base, COALESCE(b2.n, 0) AS n_cur
                FROM spine s LEFT JOIN b1 USING (bin) LEFT JOIN b2 USING (bin)),
          c AS (SELECT bin, n_base, n_cur,
                CAST(n_base + 1 AS DOUBLE) / (n1.n + 10) AS pp,
                CAST(n_cur + 1 AS DOUBLE) / (n2.n + 10) AS qq
                FROM j, n1, n2)
          SELECT bin, CAST(n_base AS BIGINT) AS n_base,
            CAST(n_cur AS BIGINT) AS n_cur,
            ${SqlFragments.r15("(pp - qq) * ln(pp / qq)", 8)} AS contrib
          FROM c""",

    // Merge semantics replay: matched keys drop out of the base, the
    // non-tombstone source rows come back in, inserts land beyond mx.
    "q136_merge_into" ->
      s"""WITH o AS (SELECT o_orderkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
                     o_totalprice AS p FROM orders),
          prm AS (SELECT MAX(k) // 6 + 1 AS b, MAX(k) AS mx FROM o),
          srckeys AS (SELECT k FROM o, prm WHERE k BETWEEN 2*b+10 AND 2*b+500),
          upd AS (SELECT k, d, p * 2 AS p FROM o, prm
                  WHERE k BETWEEN 2*b+10 AND 2*b+500 AND k % 7 <> 0),
          ins AS (SELECT k + mx + 1 AS k, d, p FROM o, prm WHERE k BETWEEN 1 AND 200),
          merged AS (
            SELECT k, d, p FROM o WHERE k NOT IN (SELECT k FROM srckeys)
            UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins)
          SELECT k // b AS bucket, COUNT(*) AS n,
            ${SqlFragments.r15("SUM(p)", 2)} AS total
          FROM merged, prm GROUP BY 1""",

    // Old rows surface NULL for the appended column.
    "q137_schema_evolution" ->
      s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, o_totalprice AS p,
                     o_orderpriority AS prio FROM orders),
          v AS (SELECT d, p, NULL AS prio FROM o
                WHERE d BETWEEN '1995-01-01' AND '1995-01-31'
                UNION ALL
                SELECT d, p, prio FROM o
                WHERE d BETWEEN '1995-02-01' AND '1995-02-28')
          SELECT COALESCE(prio, '<none>') AS prio, COUNT(*) AS n,
            ${SqlFragments.r15("SUM(p)", 2)} AS total
          FROM v GROUP BY 1""",

    // Single delivery end-to-end: table == source despite the txn-0 retry.
    "q138_stream_snapshot_sink" ->
      """SELECT event_id,
           strftime(CAST(CAST(ts AS TIMESTAMP) AS DATE), '%Y-%m-%d') AS d,
           event_type, value
         FROM events""",

    // The routing predicate replayed per row; sink mechanics are
    // invisible to the final content.
    "q163_stream_quarantine" ->
      """SELECT event_id, event_type, value,
           CASE WHEN value IS NULL OR value < 0.0 OR value > 300.0
                  OR event_type IS NULL
                  OR event_type NOT IN ('click', 'purchase', 'signup', 'view')
                THEN 'quarantine' ELSE 'clean' END AS route
         FROM events""",

    // Compaction is lossless: the compacted snapshot == the union of
    // the three committed slices == the filtered base table.
    "q130_compaction" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, COUNT(*) AS n,
            ${SqlFragments.r15("SUM(o_totalprice)", 2)} AS total
          FROM orders
          WHERE strftime(o_orderdate, '%Y-%m-%d')
                BETWEEN '1995-01-01' AND '1995-06-30'
          GROUP BY d""",

    "q89_sequence_packing" ->
      s"""WITH t AS (SELECT doc_id, lang,
              CAST(len(${SqlFragments.toksExpr}) AS BIGINT) AS n_tokens
            FROM documents WHERE text IS NOT NULL)
          SELECT doc_id, lang, n_tokens,
            CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500.0)
                 AS BIGINT) AS bin
          FROM t""",

    "q100_shard_shuffle" ->
      """WITH h AS (SELECT doc_id,
             (doc_id * 1103515245 + 12345) % 2147483648 AS h1
           FROM documents),
         h2 AS (SELECT doc_id, h1 % 8 AS shard,
                (h1 * 1103515245 + 12345) % 2147483648 AS hh
                FROM h)
         SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT)
             AS shard_pos
         FROM h2""",

    // Chunk replay: identical start arithmetic, slices and tail lengths.
    "q98_chunking" ->
      s"""WITH t AS (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                     FROM documents WHERE text IS NOT NULL),
          nz AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
                 FROM t WHERE len(toks) > 0),
          st AS (SELECT doc_id, toks, n,
                 unnest(range(0, CAST(1 + greatest(0,
                   floor((n - 50 + 40 - 1) / CAST(40 AS DOUBLE))) AS BIGINT))) AS cid
                 FROM nz)
          SELECT doc_id, cid AS chunk_id,
            array_to_string(list_slice(toks, cid * 40 + 1, cid * 40 + 50), ' ')
              AS chunk_text,
            least(CAST(50 AS BIGINT), n - cid * 40) AS n_tokens
          FROM st""",

    "q93_domain_curation" ->
      """WITH u AS (SELECT doc_id,
             'https://' || source || '-' || (doc_id % 3) ||
             '.example.org/doc/' || doc_id AS url
           FROM documents),
         h AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)', 1) AS host
               FROM u),
         f AS (SELECT * FROM h WHERE host NOT IN
               ('src3-0.example.org', 'src7-1.example.org', 'src13-2.example.org')),
         r AS (SELECT doc_id, host,
               ROW_NUMBER() OVER (PARTITION BY host
                 ORDER BY CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0, doc_id) AS rk
               FROM f)
         SELECT doc_id, host FROM r WHERE rk <= 5""",

    "q75_exact_k_sample" ->
      """WITH r AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY CAST((doc_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                        / 2147483648.0, doc_id) AS rk
           FROM documents)
         SELECT doc_id, lang FROM r WHERE rk <= 20""",

    // quantile_cont matches exactPercentiles' interpolation rule; r15
    // on the band edges (the q51 device) pins the boundary rows.
    "q120_percentile_gate" ->
      s"""WITH scored AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
              CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS score
            FROM (SELECT doc_id, ${SqlFragments.toksExpr} AS toks
                  FROM documents WHERE text IS NOT NULL)
            WHERE len(toks) > 0),
          thr AS (SELECT ${SqlFragments.r15("quantile_cont(score, 0.05)", 6)} AS lo,
                  ${SqlFragments.r15("quantile_cont(score, 0.95)", 6)} AS hi
                  FROM scored)
          SELECT doc_id, n_toks, score, lo, hi
          FROM scored, thr WHERE score BETWEEN lo AND hi""",

    // Largest-remainder apportionment in integer arithmetic, then the
    // identical LCG rank per stratum. alloc sums to exactly 1000.
    "q110_stratified_sample" ->
      """WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
         t AS (SELECT SUM(n) AS tot FROM c),
         a0 AS (SELECT event_type, n,
                (1000 * n) // tot AS base, (1000 * n) % tot AS rem
                FROM c, t),
         a1 AS (SELECT event_type, base, rem,
                SUM(base) OVER () AS sumbase,
                ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rrk
                FROM a0),
         alloc AS (SELECT event_type,
                   CAST(base + CASE WHEN rrk <= 1000 - sumbase THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc
                   FROM a1),
         r AS (SELECT event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY CAST((event_id * 1103515245 + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0, event_id) AS pick_rank
               FROM events)
         SELECT r.event_type, r.event_id, r.pick_rank, alloc.alloc
         FROM r JOIN alloc USING (event_type)
         WHERE r.pick_rank <= alloc.alloc""",

    // Identical LCG uniform, identical ln — both engines' ln agree
    // bit-for-bit (the q58/q108 device), and the key is r15'd anyway.
    "q123_weighted_sample" ->
      s"""WITH w AS (SELECT o_orderkey, o_totalprice,
            ${SqlFragments.r15(
              "ln((CAST((o_orderkey * 1103515245 + 12345) % 2147483648 AS DOUBLE)" +
                " + 0.5) / 2147483648.0) / o_totalprice", 12)} AS es_key
            FROM orders WHERE o_totalprice > 0)
          SELECT o_orderkey, o_totalprice, es_key FROM w
          ORDER BY es_key DESC, o_orderkey LIMIT 200""",

    // Same decimal-pinned ES priority, ranked per priority group.
    "q221_weighted_sample_per_key" ->
      s"""WITH w AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
            ${SqlFragments.r15(
              "ln((CAST((o_orderkey * 1103515245 + 12345) % 2147483648 AS DOUBLE)" +
                " + 0.5) / 2147483648.0) / o_totalprice", 12)} AS es_key
            FROM orders WHERE o_totalprice > 0),
          rk AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY es_key DESC, o_orderkey) AS r FROM w)
          SELECT o_orderpriority, o_orderkey, o_totalprice, es_key
          FROM rk WHERE r <= 50"""
  )
}

/** Driver-coordinated latch pair for q302's DETERMINISTIC concurrent
  * schedule: the merge source's gate UDF parks its first evaluation
  * until the streaming sink has landed both micro-batches, forcing the
  * exact interleaving the rebase classifier must absorb. Local-mode
  * test orchestration (the UDF reaches the JVM-static holder), not an
  * engine component.
  */
private[queries] object OccRebaseGate {
  @volatile var gate: java.util.concurrent.CountDownLatch = _
  @volatile var released: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    gate = new java.util.concurrent.CountDownLatch(1)
    released = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(k: Long): Long = {
    gate.countDown()
    released.await(150, java.util.concurrent.TimeUnit.SECONDS)
    k
  }
}
