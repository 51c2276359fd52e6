package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Logical conflict detection (auto-rebase) at the OCC publish:
  * blind appends and unpinned overwrites never conflict — losing the
  * version race re-publishes the already-written immutable dir at the
  * new head (manifest-only, zero re-run); MERGE rebases over provably
  * disjoint interleaved commits and throws only on genuine overlap
  * (Delta ConflictChecker semantics at dir granularity).
  */
class OccRebaseSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshStore(): SnapshotStore = {
    n += 1
    val root = Scratch.processScoped("occ_rebase_spec", "spec") + s"/case$n"
    new SnapshotStore(spark, root)
  }

  private def pooled[T](width: Int)(work: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        work.map(w => scala.concurrent.Future(w()))),
      scala.concurrent.duration.Duration(180, "s"))
    finally pool.shutdown()
  }

  test("hammered concurrent appendOnce: zero conflicts, every append lands exactly once") {
    val st = freshStore()
    st.commit("t", Seq((0, "seed")).toDF("k", "v"), overwrite = true)
    // 4 writers x 4 appends, NO retry wrapper anywhere: the rebase path
    // must absorb every lost version race. A single escaping
    // SnapshotConflict fails the future and the test.
    val results = pooled(4)((1 to 4).flatMap { w =>
      (1 to 4).map { i => () =>
        st.appendOnce("t", Seq((w * 100 + i, s"w$w-$i")).toDF("k", "v"),
          txnId = (w * 100 + i).toLong)
      }
    })
    assert(results.forall(_.nonEmpty), "every appendOnce must land first-try")
    assert(st.versions("t") == (1L to 17L), st.versions("t").toString)
    val ks = st.read("t").select("k").as[Int].collect()
    assert(ks.length == 17)
    assert(ks.toSet ==
      Set(0) ++ (for (w <- 1 to 4; i <- 1 to 4) yield w * 100 + i))
    // all 16 txn fences carried to the head manifest
    assert(st.appliedTxns("t").size == 16)
  }

  test("hammered mergeIntoOnce on disjoint key ranges: zero conflicts, no lost update") {
    val st = freshStore()
    // 4 dirs with disjoint recorded key ranges — each writer's merge
    // reads (and rewrites) exactly one of them
    (0 until 4).foreach { w =>
      st.commit("t",
        (w * 100 until w * 100 + 100).map(k => (k.toLong, 1.0)).toDF("k", "p"),
        overwrite = w == -1, statsCols = Seq("k"))
    }
    val results = pooled(4)((0 until 4).map { w => () =>
      st.mergeIntoOnce("t",
        (w * 100 until w * 100 + 50).map(k => (k.toLong, 2.0)).toDF("k", "p"),
        "k", txnId = 1000L + w, statsCols = Seq("k"))
    })
    assert(results.forall(_.nonEmpty), "every merge must land first-try")
    assert(st.versions("t").max == 8L, "4 seeds + 4 merges, no holes")
    val rows = st.read("t").as[(Long, Double)].collect().toMap
    assert(rows.size == 400, "no duplicate or lost keys")
    (0 until 400).foreach { k =>
      val want = if (k % 100 < 50) 2.0 else 1.0
      assert(rows(k.toLong) == want, s"key $k")
    }
  }

  test("hammered same-key merges: genuine overlap serializes, key stays unique") {
    val st = freshStore()
    st.commit("t", Seq((1L, 0.0)).toDF("k", "p"), overwrite = true,
      statsCols = Seq("k"))
    // every merge upserts THE SAME key: rebase must refuse (interleaved
    // adds overlap the source key range), retryOnConflict serializes.
    // A wrong rebase would carry two dirs both holding k=1.
    pooled(4)((1 to 4).map { w => () =>
      st.retryOnConflict(attempts = 30) {
        st.mergeInto("t", Seq((1L, w.toDouble)).toDF("k", "p"), "k",
          statsCols = Seq("k"))
      }
    })
    val rows = st.read("t").as[(Long, Double)].collect()
    assert(rows.length == 1, s"key must stay unique: ${rows.mkString(",")}")
    assert((1 to 4).map(_.toDouble).contains(rows.head._2))
    assert(st.versions("t").max == 5L, "all four merges landed")
  }

  test("hammered appendOnce with ONE txn id: exactly-once survives the rebase path") {
    val st = freshStore()
    st.commit("t", Seq((0, "seed")).toDF("k", "v"), overwrite = true)
    val landed = pooled(4)((1 to 4).map { _ => () =>
      st.retryOnConflict(attempts = 30) {
        st.appendOnce("t", Seq((7, "dup")).toDF("k", "v"), txnId = 7L)
      }
    })
    assert(landed.count(_.nonEmpty) == 1,
      s"exactly one duplicate append may land: $landed")
    assert(st.read("t").where(col("k") === 7).count() == 1L)
  }

  // Deterministic race: `op` places the gate (an identity UDF on a
  // Long column) in the frame it computes AFTER reading its base; the
  // first row through releases `interleave` on another thread and
  // waits for it to land, then lets `op` proceed to publish — forcing
  // the exact interleaving the rebase guard must judge.
  private def raced[T](interleave: => Unit)(op: (Column => Column) => T): T = {
    val gate = new java.util.concurrent.CountDownLatch(1)
    val appended = new java.util.concurrent.CountDownLatch(1)
    OccRebaseSpec.gate = gate
    OccRebaseSpec.appended = appended
    val block = udf { k: Long =>
      OccRebaseSpec.gate.countDown()
      OccRebaseSpec.appended.await(60, java.util.concurrent.TimeUnit.SECONDS)
      k
    }
    val appender = new Thread(() => {
      gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
      interleave
      appended.countDown()
    })
    appender.start()
    try op(block(_))
    finally {
      appender.join(60000)
      // an Error, not a RuntimeException: a conflict case's intercept
      // must not swallow an unforced race
      if (gate.getCount != 0)
        throw new AssertionError("the gate never opened: race not forced")
    }
  }

  private def racedMerge(st: SnapshotStore, appendRows: => Unit): Unit =
    raced(appendRows) { gated =>
      st.mergeInto("t", Seq(5L, 6L).toDF("k0")
        .select(gated(col("k0")).as("k"), lit(9.0).as("p")),
        "k", statsCols = Seq("k"))
    }

  private def racedDelete(st: SnapshotStore, appendRows: => Unit): Unit =
    raced(appendRows)(gated => st.deleteWhere("t", "k", gated(col("k")) < 5L))

  test("raced merge vs disjoint append: rebases, nothing re-runs, nothing lost") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    racedMerge(st, st.commit("t",
      Seq((100L, 1.0)).toDF("k", "p"), overwrite = false,
      statsCols = Seq("k")))
    // merge (upserting k=5,6) rebased over the k=100 append: both land
    assert(st.versions("t").max == 3L)
    val rows = st.read("t").as[(Long, Double)].collect().toMap
    assert(rows.size == 11)
    assert(rows(5L) == 9.0 && rows(6L) == 9.0 && rows(100L) == 1.0)
    // the smoking gun of a rebase: the merge's dir was written for v2
    // (named b2-...) but published at v3 — a re-run would have written
    // a fresh b3- dir instead
    assert(st.manifestDirs("t").exists(_.startsWith("b2-")),
      st.manifestDirs("t").toString)
  }

  test("raced merge vs key-overlapping append: genuine conflict still throws") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    // the interleaved append lands k=6 — INSIDE the merge's source key
    // range, so the merge's insert decision for k=6 is stale: must throw
    intercept[RuntimeException] {
      racedMerge(st, st.commit("t",
        Seq((6L, 3.0)).toDF("k", "p"), overwrite = false,
        statsCols = Seq("k")))
    }
    // the append won; the merge left only an orphan dir (vacuumable) —
    // none of its payload (p=9.0) ever became visible
    assert(st.versions("t").max == 2L)
    assert(st.read("t").where(col("p") === 9.0).count() == 0L)
    assert(st.read("t").where(col("k") === 6L).as[(Long, Double)]
      .collect().toSet == Set((6L, 1.0), (6L, 3.0))) // blind append duplicates; the merge that would have reconciled them refused
  }

  test("raced merge vs statless append: conservative conflict (no stats, no proof)") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    intercept[RuntimeException] {
      // disjoint in truth (k=100) but written WITHOUT stats — the
      // classifier cannot prove disjointness and must refuse
      racedMerge(st, st.commit("t",
        Seq((100L, 1.0)).toDF("k", "p"), overwrite = false))
    }
  }

  test("raced merge vs interleaved DELETE (DV change): conservative conflict") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    intercept[RuntimeException] {
      racedMerge(st, st.deleteWhere("t", "k", col("k") === 0L))
    }
  }

  test("concurrent clustered sink + batch append: both land, zero conflicts") {
    val st = freshStore()
    st.commit("t", Seq((0L, 0L, "seed")).toDF("a", "b", "v"),
      overwrite = true, statsCols = Seq("a", "b"))
    pooled(4)((1 to 4).map { w => () =>
      if (w % 2 == 0)
        st.commitClustered("t",
          (0 until 50).map(i => ((w * 1000 + i).toLong, i.toLong, s"c$w"))
            .toDF("a", "b", "v"),
          clusterCols = Seq("a", "b"), txn = Some(w.toLong))
      else
        st.commit("t",
          (0 until 50).map(i => ((w * 1000 + i).toLong, i.toLong, s"p$w"))
            .toDF("a", "b", "v"),
          overwrite = false, statsCols = Seq("a", "b"), txn = Some(w.toLong))
    })
    assert(st.versions("t").max == 5L)
    assert(st.read("t").count() == 201L)
    assert(st.appliedTxns("t") == Set(1L, 2L, 3L, 4L))
  }

  test("hammered DV deletes + key-disjoint appends: zero conflicts, all effects land") {
    val st = freshStore()
    st.commit("t", (0L until 400L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    // 2 vector deletes + 2 appends, NO retry wrapper: DV-vs-DV commutes
    // (vector additions), DV-vs-append rebases when the appended dirs'
    // stats are disjoint from the vector keys, appends never conflict
    val results = pooled(4)((0 until 4).map { w => () =>
      if (w % 2 == 0)
        st.deleteWhereOnce("t", "k",
          col("k") >= w * 100L && col("k") < w * 100L + 10L,
          txnId = 600L + w)
      else
        st.appendOnce("t", Seq((1000L + w, 2.0)).toDF("k", "p"),
          txnId = 600L + w, statsCols = Seq("k"))
    })
    assert(results.forall(_.nonEmpty), "every op must land first-try")
    assert(st.versions("t").max == 5L, st.versions("t").toString)
    val ks = st.read("t").select("k").as[Long].collect().toSet
    val deleted = ((0L until 10L) ++ (200L until 210L)).toSet
    assert(ks == ((0L until 400L).toSet -- deleted) + 1001L + 1003L)
  }

  test("raced DV delete vs key-disjoint append: rebases, both effects land") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    racedDelete(st, st.commit("t", Seq((100L, 1.0)).toDF("k", "p"),
      overwrite = false, statsCols = Seq("k")))
    assert(st.versions("t").max == 3L)
    val ks = st.read("t").select("k").as[Long].collect().toSet
    assert(ks == (5L until 10L).toSet + 100L,
      s"delete (k<5) and append (k=100) must both land: $ks")
  }

  test("raced DV delete vs append INSIDE the vector's key range: conflict (lost-insert guard)") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    // the concurrent append lands k=3 — a key the vector holds; a
    // rebase would silently suppress the appended row, so it must throw
    intercept[RuntimeException] {
      racedDelete(st, st.commit("t", Seq((3L, 9.0)).toDF("k", "p"),
        overwrite = false, statsCols = Seq("k")))
    }
    // the append won; the delete never applied
    assert(st.versions("t").max == 2L)
    assert(st.read("t").count() == 11L)
  }

  test("raced FIRST-EVER DV deletes with DIFFERENT key columns: conflict (one vector key per view)") {
    val st = freshStore()
    st.commit("t", (0L until 10L).map(k => (k, k + 100.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    // both writers see an EMPTY vector set, so both pass the
    // existing-key check; a rebased union would be a mixed-key vector
    // set whose anti-join silently drops one side's deletes — the
    // rebase guard must refuse the foreign-keyed addition
    intercept[RuntimeException] {
      racedDelete(st, st.deleteWhere("t", "p", col("p") >= 109.0))
    }
    // the p-keyed delete won; the k-keyed one refused — no mixed set
    assert(st.manifestDels("t", st.versions("t").max).size == 1)
    assert(st.read("t").count() == 9L)
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A =
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally pairs.foreach { case (k, _) => spark.conf.unset(k) }

  // one data file, so the single gated scan task never starves the
  // interleaved writer of executor slots
  private def seedTen(st: SnapshotStore): Unit =
    st.commit("t", (0L until 10L).map(k => (k, 1.0)).toDF("k", "p")
      .coalesce(1), overwrite = true, statsCols = Seq("k"))

  private def racedDeleteKeys(st: SnapshotStore, interleave: => Unit): Unit =
    raced(interleave) { gated =>
      st.deleteKeys("t", "k",
        Seq(1L, 2L).toDF("k0").select(gated(col("k0")).as("k")))
    }

  test("raced deleteKeys vs key-disjoint append: rebases, both effects land") {
    val st = freshStore()
    seedTen(st)
    racedDeleteKeys(st, st.commit("t", Seq((100L, 1.0)).toDF("k", "p"),
      overwrite = false, statsCols = Seq("k")))
    assert(st.versions("t").max == 3L)
    // the append won v2; the vector republished over it at v3
    assert(st.manifestDels("t", 2L).isEmpty && st.manifestDels("t", 3L).nonEmpty)
    assert(st.read("t").select("k").as[Long].collect().toSet ==
      (0L until 10L).toSet -- Set(1L, 2L) + 100L)
  }

  test("raced deleteKeys vs append of a vector key: conflict (lost-insert guard)") {
    val st = freshStore()
    seedTen(st)
    intercept[RuntimeException] {
      racedDeleteKeys(st, st.commit("t", Seq((2L, 9.0)).toDF("k", "p"),
        overwrite = false, statsCols = Seq("k")))
    }
    assert(st.versions("t").max == 2L)
    assert(st.manifestDels("t", 2L).isEmpty)
    assert(st.read("t").count() == 11L)
  }

  private def escalated[A](body: => A): A =
    withConf("spark.graft.dv.rewriteMinBytes" -> "0",
             "spark.graft.dv.rewriteFraction" -> "0.3")(body)

  test("raced copy-on-write delete vs blind append: rebases, no vector, both land") {
    val st = freshStore()
    seedTen(st)
    val seedDir = st.manifestDirs("t").head
    escalated {
      racedDelete(st, st.commit("t", Seq((100L, 1.0)).toDF("k", "p"),
        overwrite = false, statsCols = Seq("k")))
    }
    assert(st.versions("t").max == 3L)
    assert(st.manifestDirs("t", Some(2L)).contains(seedDir), "v2 is the append")
    assert(st.manifestDels("t", 3L).isEmpty, "the wide delete rewrites")
    assert(!st.manifestDirs("t").contains(seedDir))
    assert(st.read("t").select("k").as[Long].collect().toSet ==
      (5L until 10L).toSet + 100L)
  }

  test("raced copy-on-write delete vs interleaved vector delete: conflict (lost delete)") {
    val st = freshStore()
    seedTen(st)
    // the rewrite publishes its BASE's vector list, so the interleaved
    // (narrow, DV-path) delete of k=9 would be dropped by a rebase
    escalated {
      intercept[RuntimeException] {
        racedDelete(st, st.deleteWhere("t", "k", col("k") === 9L))
      }
    }
    assert(st.versions("t").max == 2L)
    assert(st.manifestDels("t", 2L).nonEmpty)
    assert(st.read("t").select("k").as[Long].collect().toSet ==
      (0L until 9L).toSet)
  }

  private def racedReplace(st: SnapshotStore, interleave: => Unit): Unit =
    raced(interleave) { gated =>
      st.replaceWhere("t", col("k") < 5L,
        Seq(1L, 2L).toDF("k0").select(gated(col("k0")).as("k"),
          lit(9.0).as("p")), statsCols = Seq("k"))
    }

  test("raced unpinned replaceWhere vs out-of-region append: rebases") {
    val st = freshStore()
    seedTen(st)
    racedReplace(st, st.commit("t", Seq((100L, 1.0)).toDF("k", "p"),
      overwrite = false, statsCols = Seq("k")))
    assert(st.versions("t").max == 3L)
    assert(st.read("t", Some(2L)).count() == 11L, "v2 is the append")
    assert(st.read("t").as[(Long, Double)].collect().toMap ==
      (Map(1L -> 9.0, 2L -> 9.0, 100L -> 1.0) ++
        (5L until 10L).map(_ -> 1.0)))
  }

  test("raced unpinned replaceWhere vs in-region append: conflict (region miss unproven)") {
    val st = freshStore()
    seedTen(st)
    // k=3 lands INSIDE the replaced region: it would survive beside the
    // payload, breaking the region-equals-payload contract
    intercept[RuntimeException] {
      racedReplace(st, st.commit("t", Seq((3L, 7.0)).toDF("k", "p"),
        overwrite = false, statsCols = Seq("k")))
    }
    assert(st.versions("t").max == 2L)
    assert(st.read("t").where(col("p") === 9.0).isEmpty)
    assert(st.read("t").count() == 11L)
  }

  private def racedEmptyDelete(st: SnapshotStore, interleave: => Unit): Unit =
    raced(interleave) { gated =>
      st.deleteWhere("t", "k", gated(col("k")) < 0L, txn = Some(7L))
    }

  test("raced zero-match delete under a txn: the fence-only publish rebases") {
    val st = freshStore()
    seedTen(st)
    racedEmptyDelete(st, st.commit("t", Seq((3L, 2.0)).toDF("k", "p"),
      overwrite = false, statsCols = Seq("k")))
    // content-free: it rebases even over an append inside the table's
    // key range, and records its fence at the head
    assert(st.versions("t").max == 3L)
    assert(st.read("t", Some(2L)).count() == 11L, "v2 is the append")
    assert(st.appliedTxns("t") == Set(7L))
    assert(st.manifestDels("t", 3L).isEmpty)
    assert(st.read("t").count() == 11L)
  }

  test("raced zero-match delete vs the same txn landing first: conflict, no double fence") {
    val st = freshStore()
    seedTen(st)
    intercept[RuntimeException] {
      racedEmptyDelete(st, st.appendOnce("t",
        Seq((100L, 1.0)).toDF("k", "p"), txnId = 7L))
    }
    assert(st.versions("t").max == 2L)
    assert(st.appliedTxns("t") == Set(7L))
    assert(st.deleteWhereOnce("t", "k", col("k") < 0L, txnId = 7L).isEmpty)
  }

  test("retention expiry vs stream appends: expire-then-append, zero conflicts") {
    val st = freshStore()
    // dir1 provably dead below the cutoff, dir2 straddling (residual
    // vector for its sub-cutoff keys)
    st.commit("t", (0L until 50L).map(k => (k, k)).toDF("k", "d"),
      overwrite = false, statsCols = Seq("k", "d"))
    st.commit("t", (50L until 150L).map(k => (k, k)).toDF("k", "d"),
      overwrite = false, statsCols = Seq("k", "d"))
    val results = pooled(3)(Seq[() => Any](
      () => st.appendOnce("t", Seq((1000L, 1000L)).toDF("k", "d"),
        txnId = 1L, statsCols = Seq("k", "d")),
      () => st.appendOnce("t", Seq((1001L, 1001L)).toDF("k", "d"),
        txnId = 2L, statsCols = Seq("k", "d")),
      () => st.expireBefore("t", "d", "100", "k")))
    assert(results.size == 3)
    assert(st.versions("t").max == 5L,
      s"2 seeds + 2 appends + 1 expiry, no holes: ${st.versions("t")}")
    val ks = st.read("t").select("k").as[Long].collect().toSet
    assert(ks == (100L until 150L).toSet + 1000L + 1001L,
      "the dead dir dropped, the residual suppressed, late appends survive")
  }

  test("hammered OPTIMIZE/compactSmall vs appends: maintenance never costs anyone a retry") {
    val st = freshStore()
    (0 until 4).foreach { i =>
      st.commit("t", (i * 50L until i * 50L + 50L).map(k => (k, 1.0))
        .toDF("k", "p").repartition(2), overwrite = i == -1,
        statsCols = Seq("k"))
    }
    // 2 appenders with NO retry wrapper (blind appends never conflict,
    // and both maintenance shapes rebase over them — appended dirs
    // carried verbatim, compact-then-append) + 1 compactor + 1 scoped
    // optimizer; the two maintenance ops CAN genuinely conflict with
    // EACH OTHER (both rewrite overlapping dirs), so only they wrap
    val results = pooled(4)(Seq[() => Any](
      () => st.appendOnce("t", Seq((900L, 2.0)).toDF("k", "p"),
        txnId = 901L, statsCols = Seq("k")),
      () => st.appendOnce("t", Seq((901L, 2.0)).toDF("k", "p"),
        txnId = 902L, statsCols = Seq("k")),
      () => st.retryOnConflict(attempts = 30)(
        st.compactSmall("t", smallBytes = 1L << 30, statsCols = Seq("k"))),
      () => st.retryOnConflict(attempts = 30)(
        st.optimizeWhere("t", col("k") < 50L, clusterCols = Nil,
          statsCols = Seq("k")))))
    assert(results.size == 4)
    assert(st.versions("t").max == 8L,
      s"4 seeds + 2 appends + 2 maintenance ops, no holes, no retries: ${st.versions("t")}")
    val ks = st.read("t").select("k").as[Long].collect().toSet
    assert(ks == (0L until 200L).toSet + 900L + 901L,
      "maintenance is content-neutral and no append was lost")
    assert(st.appliedTxns("t").contains(901L) &&
      st.appliedTxns("t").contains(902L))
  }

  test("unpinned overwrite rebases over a concurrent append (last write wins)") {
    val st = freshStore()
    st.commit("t", Seq((1, "a")).toDF("k", "v"), overwrite = true)
    // deterministic: pre-advance the head between versions() and
    // publish is not hookable for commit, so hammer instead — an
    // overwrite racing appends must land WITHOUT a conflict and define
    // the final content when it lands last
    val results = pooled(3)(Seq(
      () => { st.commit("t", Seq((2, "b")).toDF("k", "v"), overwrite = false); "a1" },
      () => { st.commit("t", Seq((3, "c")).toDF("k", "v"), overwrite = false); "a2" },
      () => { st.commit("t", Seq((9, "z")).toDF("k", "v"), overwrite = true); "ow" }))
    assert(results.size == 3)
    assert(st.versions("t").max == 4L)
    // whichever order the race resolved, the snapshot at the
    // overwrite's version is exactly the overwrite's content
    val owV = st.versions("t").filter(_ > 1L).find(v =>
      st.manifestDirs("t", Some(v)).size == 1).get
    assert(st.read("t", Some(owV)).select("k").as[Int].collect().toSet ==
      Set(9))
  }

  test("pinned commits keep strict semantics: expectedBase still throws") {
    val st = freshStore()
    st.commit("t", Seq((1, "a")).toDF("k", "v"), overwrite = true)
    st.commit("t", Seq((2, "b")).toDF("k", "v"), overwrite = false)
    intercept[RuntimeException] {
      st.commit("t", Seq((3, "c")).toDF("k", "v"), overwrite = false,
        expectedBase = Some(1L))
    }
  }
}

object OccRebaseSpec {
  // latches the gate UDF reaches from executor threads (local JVM)
  @volatile var gate: java.util.concurrent.CountDownLatch = _
  @volatile var appended: java.util.concurrent.CountDownLatch = _
}
