package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Incremental materialized-view maintenance
  * ([[MaterializedView]] — change feed → signed delta fold → MERGE).
  * The laws:
  *
  *  - refresh(v₁→v₂) equals the full recompute at v₂, across appends,
  *    MoR deletes, and updates — including groups whose row count
  *    reaches zero (their MV rows DELETE);
  *  - a fresh MV refreshes to a no-op (no MV commit);
  *  - the MERGE writes only CHANGED groups;
  *  - min/max recompute from the source only for a group whose
  *    extremum was retracted — a refresh whose retractions miss every
  *    extremum reads no source snapshot;
  *  - staging temp views are private to each call: concurrent MVs in
  *    one session never mix rows, and a caller's views survive;
  *  - two-phase torn-refresh recovery: merge-landed → finalize
  *    without re-applying (no double counting); merge-lost → redo. */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-mv-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"mvc$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
      spark.conf.unset(MorDeletes.ModeConf)
    }
  }

  private def mkSource(cat: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $cat.m.src (k BIGINT, grp STRING, x BIGINT)
         |PARTITIONED BY (bucket(4, k))
         |TBLPROPERTIES ('versioned'='true')""".stripMargin)
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "c", 7L))
      .toDF("k", "grp", "x").write.mode("append")
      .insertInto(s"$cat.m.src") // v1
  }

  private def mv(cat: String): Seq[(String, Long, Long, Long)] =
    spark.table(s"$cat.m.agg")
      .select("grp", "sum_x", "count_x", "mv_rows")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq

  private def recompute(cat: String): Seq[(String, Long, Long, Long)] =
    spark.sql(s"SELECT grp, sum(x), count(x), count(*) FROM $cat.m.src GROUP BY grp")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq

  test("refresh equals full recompute across append / MoR delete / update; zero-groups drop") {
    withLake("a") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        keys = Seq("k"), groupBy = Seq("grp"),
        aggs = Seq("x" -> "sum", "x" -> "count"))
      assert(mv(cat) == Seq(("a", 30L, 2L, 2L), ("b", 5L, 1L, 1L),
        ("c", 7L, 1L, 1L)))

      // source DML: append a new group + grow a, MoR-delete group c
      // entirely, update one a row
      Seq((5L, "d", 100L), (6L, "a", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v2
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try {
        spark.sql(s"DELETE FROM $cat.m.src WHERE grp = 'c'") // v3
        spark.sql(s"UPDATE $cat.m.src SET x = x + 9 WHERE k = 1") // v4
      } finally spark.conf.unset(MorDeletes.ModeConf)

      val (from, to) = MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(from == 1L && to == 4L)
      assert(mv(cat) == recompute(cat))
      assert(mv(cat) == Seq(("a", 40L, 3L, 3L), ("b", 5L, 1L, 1L),
        ("d", 100L, 1L, 1L)), "group c (zero rows) deleted")

      // fresh MV: no-op, no MV commit
      val mvDir = lake.resolve("m/agg.parquet")
      val vBefore = Snapshots.latest(mvDir).get.version
      assert(MaterializedView.refresh(spark, s"$cat.m.agg") == ((4L, 4L)))
      assert(Snapshots.latest(mvDir).get.version == vBefore)
    }
  }

  test("refresh under an active write-branch conf fails loudly (watermark/branch divergence)") {
    withLake("d") { (cat, _) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      Seq((9L, "b", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src")
      // an EXISTING branch on the MV: without the guard the merge
      // would stage there while the watermark advanced globally
      spark.sql(s"CALL $cat.system.branch('m.agg', 'staging')")
      spark.conf.set("graft.write.branch", "staging")
      try {
        val e = intercept[IllegalArgumentException](
          MaterializedView.refresh(spark, s"$cat.m.agg"))
        assert(e.getMessage.contains("write branch"), e.getMessage)
      } finally spark.conf.unset("graft.write.branch")
      // and the watermark never moved: a clean refresh still applies
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq ==
        Seq(("a", 30L), ("b", 6L), ("c", 7L)))
    }
  }

  test("the watermark is manifest-stamped (r16): maintenance commits never masquerade as the merge, and a crashed refresh leaves NOTHING to recover") {
    withLake("e") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      val mvDir = lake.resolve("m/agg.parquet")
      // the CTAS data commit carries the initial stamp
      assert(Snapshots.latest(mvDir).get.summary
        .get(MaterializedView.SourceVersionKey).contains(1L))
      // sanctioned engine maintenance advances the MV with NO stamp —
      // the walk skips it, never mistaking it for the merge
      spark.sql(s"CALL $cat.system.compact('m.agg', 1)")
      val mvAfterCompact = Snapshots.latest(mvDir).get.version
      // a refresh that dies BEFORE its merge: force the crash with a
      // TAG-PINNED retention hole on the source — the change feed
      // throws while computing the delta
      Seq((7L, "a", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v2
      Seq((8L, "a", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v3
      spark.sql(s"CALL $cat.system.tag('m.src', 'pin', 1)")
      spark.sql(s"CALL $cat.system.expire_snapshots('m.src', 1)")
      intercept[Exception](MaterializedView.refresh(spark, s"$cat.m.agg"))
      // the crash left NO commit, NO intent, NO torn state — and the
      // range is never silently skipped: a retry hits the SAME hole
      // loudly (the old stale-sidecar bug would have read compact's
      // commit as "merge landed" and skipped the range forever)
      assert(Snapshots.latest(mvDir).get.version == mvAfterCompact)
      assert(MaterializedView.readDef(mvDir).pendingTo.isEmpty)
      intercept[Exception](MaterializedView.refresh(spark, s"$cat.m.agg"))
    }
  }

  test("the refresh merge CARRIES its watermark; empty deltas bump it with a metadata-only commit; foreign writes fail loudly (r16)") {
    withLake("f") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      val mvDir = lake.resolve("m/agg.parquet")
      Seq((7L, "a", 100L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v2
      MaterializedView.refresh(spark, s"$cat.m.agg")
      // fold + watermark are ONE commit: the merge summary says v2
      val head = Snapshots.latest(mvDir).get
      assert(head.summary.get(MaterializedView.SourceVersionKey)
        .contains(2L), head.summary)
      // net-zero source churn (insert then delete the same key):
      // nothing to merge — a metadata-only commit bumps the watermark
      // so the folded range is never rescanned
      Seq((9L, "zz", 5L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v3
      spark.sql(s"DELETE FROM $cat.m.src WHERE k = 9") // v4
      val before = spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      assert(MaterializedView.refresh(spark, s"$cat.m.agg") == ((2L, 4L)))
      val wm = Snapshots.latest(mvDir).get
      assert(wm.operation == "mv-watermark" &&
        wm.summary.get(MaterializedView.SourceVersionKey).contains(4L),
        s"${wm.operation} ${wm.summary}")
      assert(spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq == before)
      assert(MaterializedView.refresh(spark, s"$cat.m.agg") == ((4L, 4L)))
      // a DIRECT user write to the engine-owned MV table is DETECTED
      Seq(("zz", 1L, 1L)).toDF("grp", "sum_x", "mv_rows")
        .write.mode("append").insertInto(s"$cat.m.agg")
      Seq((10L, "b", 2L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v5
      val e = intercept[IllegalStateException](
        MaterializedView.refresh(spark, s"$cat.m.agg"))
      assert(e.getMessage.contains("did not stamp"), e.getMessage)
    }
  }

  test("the foreign-write RACE is closed at commit time; rollback to a stamped snapshot is sanctioned remediation (r17)") {
    withLake("g") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      val mvDir = lake.resolve("m/agg.parquet")
      Seq((7L, "a", 100L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v2
      MaterializedView.refresh(spark, s"$cat.m.agg")
      val stampedV = Snapshots.latest(mvDir).get.version
      def mvSum(): Seq[(String, Long)] =
        spark.table(s"$cat.m.agg").select("grp", "sum_x")
          .as[(String, Long)].collect().sortBy(_._1).toSeq
      def recomputeSum(): Seq[(String, Long)] =
        spark.sql(s"SELECT grp, sum(x) FROM $cat.m.src GROUP BY grp")
          .as[(String, Long)].collect().sortBy(_._1).toSeq
      val goodState = mvSum()
      // the race window: a foreign commit lands AFTER the refresh read
      // its watermark but BEFORE its stamped merge commits. The merge
      // would land ABOVE the foreign commit, hiding it from the
      // newest-stamp scan forever — so the refresh's commits re-check
      // the window per OCC attempt ([[Snapshots.withCommitCheck]])
      // and conflict instead of stamping over it.
      Seq(("zz", 1L, 1L)).toDF("grp", "sum_x", "mv_rows")
        .write.mode("append").insertInto(s"$cat.m.agg") // foreign
      val guardHits = new java.util.concurrent.atomic.AtomicInteger
      intercept[CommitConflictException] {
        Snapshots.withCommitCheck(mvDir) { prev =>
          guardHits.incrementAndGet()
          val latest = prev.map(_.version).getOrElse(0L)
          val foreign = Snapshots.versions(mvDir)
            .filter(v => v > stampedV && v <= latest)
            .flatMap(v => Snapshots.readMeta(mvDir, v))
            .filterNot(m =>
              m.summary.contains(MaterializedView.SourceVersionKey))
          if (foreign.nonEmpty) throw new CommitConflictException(
            s"foreign commit(s) under the stamp: ${foreign.size}")
        } {
          Snapshots.withSummaryStamp(mvDir,
            Map(MaterializedView.SourceVersionKey -> 99L)) {
            Snapshots.commit(mvDir, "mv-watermark", identity[Seq[String]])
          }
        }
      }
      assert(guardHits.get() >= 1, "the check must run before publish")
      assert(!Snapshots.latest(mvDir).get.summary
        .get(MaterializedView.SourceVersionKey).contains(99L),
        "the guarded commit must NOT have landed")
      // the next refresh detects the foreign commit the classic way
      Seq((11L, "b", 3L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v3
      val e = intercept[IllegalStateException](
        MaterializedView.refresh(spark, s"$cat.m.agg"))
      assert(e.getMessage.contains("did not stamp"), e.getMessage)
      // REMEDIATION: roll the MV back to the last stamped snapshot —
      // the rollback commit CARRIES the target's watermark stamp
      // (content == stamped content, so the claim stays truthful) and
      // the next refresh resumes from it
      spark.sql(s"CALL $cat.system.rollback('m.agg', $stampedV)")
      val rb = Snapshots.latest(mvDir).get
      assert(rb.operation == "rollback" &&
        rb.summary.get(MaterializedView.SourceVersionKey).contains(2L),
        s"${rb.operation} ${rb.summary}")
      assert(mvSum() == goodState, "rolled-back content restored")
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(mvSum() == recomputeSum())
      // rolling back to an UNSTAMPED snapshot stays foreign: compact,
      // then roll back to the compact commit — stale content with no
      // watermark claim, and the next refresh refuses it loudly
      spark.sql(s"CALL $cat.system.compact('m.agg', 1)")
      val compactV = Snapshots.latest(mvDir).get.version
      spark.sql(s"CALL $cat.system.rollback('m.agg', $compactV)")
      Seq((12L, "b", 4L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src")
      val e2 = intercept[IllegalStateException](
        MaterializedView.refresh(spark, s"$cat.m.agg"))
      assert(e2.getMessage.contains("did not stamp"), e2.getMessage)
    }
  }

  test("min/max aggregates: monotonic fast path on inserts, RECOMPUTE on retract, sum-preserving swaps still move the extrema") {
    withLake("mm") { (cat, lake) =>
      mkSource(cat) // (1,a,10),(2,a,20),(3,b,5),(4,c,7)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"),
        Seq("x" -> "sum", "x" -> "min", "x" -> "max"))
      def mvNow() = spark.table(s"$cat.m.agg")
        .select("grp", "sum_x", "min_x", "max_x")
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      def recomputeNow() = spark.sql(
        s"SELECT grp, sum(x), min(x), max(x) FROM $cat.m.src GROUP BY grp")
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // INSERT-only: the monotonic fast path (new max for a, min for b)
      Seq((5L, "a", 99L), (6L, "b", 1L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src")
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(mvNow() == recomputeNow())
      assert(mvNow().find(_._1 == "a").get._4 == 99L)
      // RETRACT the current max of a — only recomputation can fix it
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try spark.sql(s"DELETE FROM $cat.m.src WHERE k = 5")
      finally spark.conf.unset(MorDeletes.ModeConf)
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(mvNow() == recomputeNow())
      assert(mvNow().find(_._1 == "a").get._4 == 20L, "max retracted back")
      // SUM-PRESERVING swap inside one refresh window: a = {10, 20} →
      // {25, 5} — net sum delta ZERO, extrema both move (the
      // zero-delta group filter must not skip it)
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try {
        spark.sql(s"UPDATE $cat.m.src SET x = 25 WHERE k = 1")
        spark.sql(s"UPDATE $cat.m.src SET x = 5 WHERE k = 2")
      } finally spark.conf.unset(MorDeletes.ModeConf)
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(mvNow() == recomputeNow())
      assert(mvNow().find(_._1 == "a").get == (("a", 30L, 5L, 25L)))
      // group death still deletes the MV row
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try spark.sql(s"DELETE FROM $cat.m.src WHERE grp = 'c'")
      finally spark.conf.unset(MorDeletes.ModeConf)
      MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(mvNow() == recomputeNow())
      assert(!mvNow().exists(_._1 == "c"))
    }
  }

  test("extremal recompute-on-retract: refresh equals recompute past the IN-pushdown cap (300 retracted groups) and below it with a NULL group key") {
    withLake("inp") { (cat, _) =>
      spark.sql(
        s"""CREATE TABLE $cat.m.src2 (k BIGINT, grp STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true')""".stripMargin)
      // 300 groups (past the 256-key IN cap), one of them NULL-keyed
      spark.range(0, 1200).selectExpr("id AS k",
          "CASE WHEN id % 300 = 299 THEN NULL " +
            "ELSE concat('g', id % 300) END AS grp",
          "id AS x")
        .write.mode("append").insertInto(s"$cat.m.src2")
      MaterializedView.create(spark, s"$cat.m.agg2", s"$cat.m.src2",
        Seq("k"), Seq("grp"), Seq("x" -> "min", "x" -> "max"))
      def mvNow() = spark.table(s"$cat.m.agg2")
        .select("grp", "min_x", "max_x")
        .as[(Option[String], Long, Long)].collect().sortBy(_._1).toSeq
      def recomputeNow() = spark.sql(
        s"SELECT grp, min(x), max(x) FROM $cat.m.src2 GROUP BY grp")
        .as[(Option[String], Long, Long)].collect().sortBy(_._1).toSeq
      // retract the MAX of every group — 300 retracted groups exceed
      // the IN cap, the recompute must fall back to semi-join-only
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try spark.sql(s"DELETE FROM $cat.m.src2 WHERE x >= 900")
      finally spark.conf.unset(MorDeletes.ModeConf)
      MaterializedView.refresh(spark, s"$cat.m.agg2")
      assert(mvNow() == recomputeNow(), "past-cap fallback recompute")
      // a SMALL retraction (IN-pruned scan) hitting a named group AND
      // the NULL group — the pushed predicate must keep NULL keys
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try spark.sql(s"DELETE FROM $cat.m.src2 WHERE k IN (0, 299)")
      finally spark.conf.unset(MorDeletes.ModeConf)
      MaterializedView.refresh(spark, s"$cat.m.agg2")
      assert(mvNow() == recomputeNow(), "IN-pruned recompute (incl. NULL group)")
      assert(mvNow().find(_._1.isEmpty).get._2 == 599L,
        "NULL group's min recomputed (k=299 retracted)")
    }
  }

  /** How many query executions `body` runs whose analyzed plan reads
    * the catalog table `table` (as `db.name`). Listener events arrive
    * asynchronously on the listener bus, in order: only the events
    * between a marked probe query run before `body` and one run after
    * it are counted. */
  private def tableReads(table: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val (start, end) = (s"start_$tag", s"end_$tag")
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var counting = false
    val started = new java.util.concurrent.CountDownLatch(1)
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def seen(qe: QueryExecution): Unit = {
        val out = qe.analyzed.output.map(_.name)
        if (out.contains(start)) { counting = true; started.countDown() }
        else if (out.contains(end)) { counting = false; ended.countDown() }
        else if (counting && qe.analyzed.exists {
          case r: DataSourceV2Relation => r.table.name() == table
          case _ => false
        }) { reads.incrementAndGet(); () }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = seen(qe)
    }
    def probe(name: String, latch: java.util.concurrent.CountDownLatch) = {
      spark.range(1).toDF(name).collect()
      assert(latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    spark.listenerManager.register(listener)
    try {
      probe(start, started)
      body
      probe(end, ended)
    } finally spark.listenerManager.unregister(listener)
    reads.get()
  }

  test("a refresh whose retractions miss every extremum reads no source snapshot; retracting an extremum recomputes only then") {
    withLake("nr") { (cat, _) =>
      // changelog-producer source: the feed is served from the
      // persisted changelog files, so any read of the table itself is
      // the extremal recompute's time-travel read
      spark.sql(
        s"""CREATE TABLE $cat.m.nrsrc (k BIGINT NOT NULL, grp STRING, x BIGINT)
           |PARTITIONED BY (bucket(4, k))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='k',
           |  '${PkTables.ChangelogProducerProp}'='input')""".stripMargin)
      // g0 = {30, 60, 90, 120}, g1 = {10, 40, 70, 100}, g2 = {20, 50, 80, 110}
      (1L to 12L).map(k => (k, s"g${k % 3}", k * 10L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.nrsrc")
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.nrsrc",
        Seq("k"), Seq("grp"), Seq("x" -> "sum", "x" -> "min", "x" -> "max"))
      def mvNow() = spark.table(s"$cat.m.agg")
        .select("grp", "sum_x", "min_x", "max_x", "mv_rows")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      def recomputeNow() = spark.sql(
        s"SELECT grp, sum(x), min(x), max(x), count(*) FROM $cat.m.nrsrc GROUP BY grp")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // interior retractions in every group: a delete per group and an
      // update that moves an interior value
      spark.sql(s"DELETE FROM $cat.m.nrsrc WHERE k IN (5, 6, 7)")
      spark.sql(s"UPDATE $cat.m.nrsrc SET x = 65 WHERE k = 4")
      assert(tableReads("m.nrsrc")(
        MaterializedView.refresh(spark, s"$cat.m.agg")) == 0,
        "no group lost its extremum: the source is never read")
      assert(mvNow() == recomputeNow())
      // retract g1's minimum (k=1, x=10): that group recomputes
      spark.sql(s"DELETE FROM $cat.m.nrsrc WHERE k = 1")
      assert(tableReads("m.nrsrc")(
        MaterializedView.refresh(spark, s"$cat.m.agg")) > 0,
        "a retracted extremum recomputes from the source")
      assert(mvNow() == recomputeNow())
      assert(mvNow().find(_._1 == "g1").get._3 == 65L)
    }
  }

  test("two MVs built and refreshed at once from two threads of one session never see each other's staged rows") {
    withLake("cc") { (cat, _) =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def both[A](f: String => A): Seq[A] = {
        val fs = Seq("a", "b").map(t => scala.concurrent.Future(f(t)))
        fs.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration(300, "s")))
      }
      // same schema, disjoint values: a row staged for the other MV
      // shows in every aggregate
      def rows(t: String, ks: Seq[Long]) = ks.map(k =>
        (k, s"g${k % 4}", if (t == "a") k else 1000L + 3L * k))
        .toDF("k", "grp", "x")
      def mvNow(t: String) = spark.table(s"$cat.m.mv$t")
        .select("grp", "sum_x", "min_x", "max_x", "mv_rows")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      def recomputeNow(t: String) = spark.sql(
        s"SELECT grp, sum(x), min(x), max(x), count(*) FROM $cat.m.s$t GROUP BY grp")
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      try {
        Seq("a", "b").foreach { t =>
          spark.sql(
            s"""CREATE TABLE $cat.m.s$t (k BIGINT, grp STRING, x BIGINT)
               |PARTITIONED BY (bucket(4, k))
               |TBLPROPERTIES ('versioned'='true')""".stripMargin)
          rows(t, 1L to 16L).write.mode("append").insertInto(s"$cat.m.s$t")
        }
        both(t => MaterializedView.create(spark, s"$cat.m.mv$t",
          s"$cat.m.s$t", Seq("k"), Seq("grp"),
          Seq("x" -> "sum", "x" -> "min", "x" -> "max")))
        Seq("a", "b").foreach(t => assert(mvNow(t) == recomputeNow(t), s"create mv$t"))
        (1 to 4).foreach { round =>
          Seq("a", "b").foreach { t =>
            rows(t, (1L to 3L).map(_ + 16L * round)).write.mode("append")
              .insertInto(s"$cat.m.s$t")
            spark.sql(s"DELETE FROM $cat.m.s$t WHERE k = ${round * 2}")
          }
          both(t => MaterializedView.refresh(spark, s"$cat.m.mv$t"))
          Seq("a", "b").foreach(t =>
            assert(mvNow(t) == recomputeNow(t), s"round $round mv$t"))
        }
      } finally pool.shutdown()
    }
  }

  test("a caller's temp views named like the MV staging views survive create and refresh unchanged") {
    withLake("tv") { (cat, _) =>
      mkSource(cat)
      Seq(42L).toDF("answer").createOrReplaceTempView("__mv_deltas")
      Seq(7L).toDF("answer").createOrReplaceTempView("__mv_full")
      try {
        MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
          Seq("k"), Seq("grp"), Seq("x" -> "sum", "x" -> "count", "x" -> "max"))
        Seq((5L, "a", 3L), (6L, "d", 8L)).toDF("k", "grp", "x")
          .write.mode("append").insertInto(s"$cat.m.src")
        MaterializedView.refresh(spark, s"$cat.m.agg")
        assert(mv(cat) == recompute(cat))
        assert(spark.table("__mv_deltas").as[Long].collect().toSeq == Seq(42L))
        assert(spark.table("__mv_full").as[Long].collect().toSeq == Seq(7L))
        val staging = spark.catalog.listTables().collect()
          .filter(t => t.isTemporary && t.name.startsWith("__mv_"))
          .map(_.name).toSet
        assert(staging == Set("__mv_deltas", "__mv_full"),
          s"staging views must be dropped after use: $staging")
      } finally {
        spark.catalog.dropTempView("__mv_deltas")
        spark.catalog.dropTempView("__mv_full")
      }
    }
  }

  test("the refresh MERGE touches only changed groups") {
    withLake("b") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      // change ONLY group b
      Seq((9L, "b", 50L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src")
      // merge-on-read on the MV: the refresh commit is a position
      // delta, and its delete coordinates address only group b's row
      spark.conf.set(MorDeletes.ModeConf, MorDeletes.MergeOnRead)
      try MaterializedView.refresh(spark, s"$cat.m.agg")
      finally spark.conf.unset(MorDeletes.ModeConf)
      assert(spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq ==
        Seq(("a", 30L), ("b", 55L), ("c", 7L)))
      val mvDir = lake.resolve("m/agg.parquet")
      val dels = Snapshots.deleteFiles(Snapshots.latest(mvDir).get.files)
      assert(dels.nonEmpty)
      val coords = spark.read.schema(MorDeletes.DeleteSchema)
        .parquet(dels.map(f => mvDir.resolve(f).toString): _*)
      assert(coords.count() == 1L, "exactly the one changed group rewrote")
    }
  }

  test("torn refresh recovers: merge-landed finalizes without double counting; merge-lost redoes") {
    withLake("c") { (cat, lake) =>
      mkSource(cat)
      MaterializedView.create(spark, s"$cat.m.agg", s"$cat.m.src",
        Seq("k"), Seq("grp"), Seq("x" -> "sum"))
      Seq((7L, "a", 100L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v2
      val mvDir = lake.resolve("m/agg.parquet")

      // normal refresh, then REWIND the sidecar to the pre-merge
      // intent state — exactly what a crash after the MERGE leaves
      val preMergeMv = Snapshots.latest(mvDir).get.version
      MaterializedView.refresh(spark, s"$cat.m.agg")
      val good = spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      def mvNow() = spark.table(s"$cat.m.agg").select("grp", "sum_x")
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val d = MaterializedView.readDef(mvDir)
      val torn = d.copy(version = 1L, mvVersion = preMergeMv,
        pendingTo = Some(2L))
      // (writeDef is private; reproduce the torn file directly)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.createObjectNode()
      root.put("source", torn.source)
      val ks = root.putArray("keys"); torn.keys.foreach(ks.add)
      val gs = root.putArray("group_by"); torn.groupBy.foreach(gs.add)
      val as = root.putArray("aggs")
      torn.aggs.foreach { case (c, fn) =>
        val o = as.addObject(); o.put("col", c); o.put("fn", fn); ()
      }
      root.put("version", torn.version)
      root.put("mv_version", torn.mvVersion)
      root.put("pending_to", 2L)
      Files.writeString(mvDir.resolve(MaterializedView.Sidecar),
        om.writeValueAsString(root))

      // recovery: the MV advanced past mvVersion → finalize, never
      // re-apply (a redo would double the +100 delta)
      assert(MaterializedView.refresh(spark, s"$cat.m.agg") == ((2L, 2L)))
      assert(mvNow() == good)
      assert(MaterializedView.readDef(mvDir).pendingTo.isEmpty)

      // merge-LOST shape: intent present, MV never advanced → redo
      Seq((8L, "b", 11L)).toDF("k", "grp", "x")
        .write.mode("append").insertInto(s"$cat.m.src") // v3
      val d2 = MaterializedView.readDef(mvDir)
      root.put("version", d2.version)
      root.put("mv_version", d2.mvVersion) // MV has NOT advanced
      root.put("pending_to", 3L)
      Files.writeString(mvDir.resolve(MaterializedView.Sidecar),
        om.writeValueAsString(root))
      val (f2, t2) = MaterializedView.refresh(spark, s"$cat.m.agg")
      assert(f2 == 2L && t2 == 3L)
      assert(mvNow() == spark.sql(
        s"SELECT grp, sum(x) FROM $cat.m.src GROUP BY grp")
        .as[(String, Long)].collect().sortBy(_._1).toSeq)
    }
  }
}
