package graft.catalog

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Incremental MV over a JOIN ([[MaterializedView.createJoin]] — the
  * reference's actual MV shape: `tickets JOIN movies ON movie_id
  * GROUP BY movie_id, m.title, …`, dimension attributes IN the MV
  * key, updates from EITHER side). The laws:
  *
  *  - refresh equals the full recompute of the join+aggregate across
  *    fact upserts, fact deletes, dim attribute updates (rows move
  *    between MV groups EXACTLY), dim deletes (inner-join rows drop),
  *    and dim inserts (previously-dangling fact rows attach);
  *  - a fact row whose join key moves re-homes to the new dim row;
  *  - BOTH watermarks stamp the SAME commit — no torn half-advanced
  *    pair exists, and net-zero churn bumps them metadata-only;
  *  - a fact row changed more than once inside a range whose dim row
  *    also changed contributes only its endpoint images;
  *  - extremal (min/max) aggregates recompute on dim-side retraction;
  *  - racing refreshes SERIALIZE: one folds, the other conflicts —
  *    a shared range never folds twice;
  *  - declaration is validated (join cols both-sided, dim PK = join
  *    key, no ambiguous shared columns). */
class JoinMaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  private def withLake(tag: String)(body: (String, Path) => Unit): Unit = {
    val lake = Files.createTempDirectory(s"graft-jmv-$tag")
    Files.createDirectories(lake.resolve("m"))
    val cat = s"jmv$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
    try body(cat, lake)
    finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.path")
    }
  }

  /** Fact (PK k) + dim (PK jk, the join key) — the reference staging
    * topology in miniature. */
  private def mkSources(cat: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $cat.m.fact (k BIGINT NOT NULL, jk STRING,
         |  x BIGINT)
         |PARTITIONED BY (bucket(4, k))
         |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')"""
        .stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.m.dim (jk STRING NOT NULL, label STRING,
         |  boost BIGINT)
         |PARTITIONED BY (bucket(2, jk))
         |TBLPROPERTIES ('versioned'='true', 'primary-key'='jk')"""
        .stripMargin)
    Seq((1L, "m1", 10L), (2L, "m1", 20L), (3L, "m2", 5L),
      (4L, "m3", 7L), (5L, "mX", 100L)) // mX dangles (no dim row)
      .toDF("k", "jk", "x").write.mode("append")
      .insertInto(s"$cat.m.fact")
    Seq(("m1", "gold", 1L), ("m2", "silver", 2L), ("m3", "gold", 3L))
      .toDF("jk", "label", "boost").write.mode("append")
      .insertInto(s"$cat.m.dim")
  }

  private def mv(cat: String): Seq[(String, String, Long, Long, Long)] =
    spark.table(s"$cat.m.jv")
      .select("jk", "label", "sum_x", "count_x", "mv_rows")
      .as[(String, String, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  private def recompute(cat: String): Seq[(String, String, Long, Long, Long)] =
    spark.sql(
      s"""SELECT f.jk, d.label, sum(f.x), count(f.x), count(*)
         |FROM $cat.m.fact f JOIN $cat.m.dim d ON f.jk = d.jk
         |GROUP BY f.jk, d.label""".stripMargin)
      .as[(String, String, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq

  private def mkMv(cat: String): Unit = {
    MaterializedView.createJoin(spark, s"$cat.m.jv",
      s"$cat.m.fact", s"$cat.m.dim", factKeys = Seq("k"),
      joinCols = Seq("jk"), groupBy = Seq("jk", "label"),
      aggs = Seq("x" -> "sum", "x" -> "count"), buckets = 4)
    ()
  }

  test("refresh equals full recompute: fact upserts, join-key moves, dim relabel, fact delete, dim delete, dim insert attaches dangling rows") {
    withLake("a") { (cat, lake) =>
      mkSources(cat)
      mkMv(cat)
      assert(mv(cat) == recompute(cat))
      assert(mv(cat).map(_._1).toSet == Set("m1", "m2", "m3"),
        "dangling fact rows (mX) contribute nothing — inner join")

      // fact upserts: a new key, a value change, and a JOIN-KEY MOVE
      // (k=3 re-homes m2 → m3: its row must leave m2's group exactly)
      Seq((6L, "m2", 50L), (1L, "m1", 11L), (3L, "m3", 5L))
        .toDF("k", "jk", "x").write.mode("append")
        .insertInto(s"$cat.m.fact")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "fact upserts + key move")
      assert(!mv(cat).exists(_._1 == "m2") ||
        mv(cat).find(_._1 == "m2").get._5 == 1L)

      // dim UPDATE relabels m1: every m1 fact row moves between MV
      // groups EXACTLY (the (m1, gold) row disappears, (m1, platinum)
      // appears with the same aggregates)
      val beforeRelabel = mv(cat).find(_._1 == "m1").get
      spark.sql(
        s"UPDATE $cat.m.dim SET label = 'platinum' WHERE jk = 'm1'")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "dim relabel")
      val afterRelabel = mv(cat).find(_._1 == "m1").get
      assert(afterRelabel._2 == "platinum" &&
        afterRelabel.copy(_2 = beforeRelabel._2) == beforeRelabel,
        "the group moved with IDENTICAL aggregates")

      // fact delete
      spark.sql(s"DELETE FROM $cat.m.fact WHERE k = 2")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "fact delete")

      // dim delete: m3's rows drop out of the view (inner join)
      spark.sql(s"DELETE FROM $cat.m.dim WHERE jk = 'm3'")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "dim delete")
      assert(!mv(cat).exists(_._1 == "m3"))

      // dim insert: the dangling mX rows ATTACH
      Seq(("mX", "bronze", 9L)).toDF("jk", "label", "boost")
        .write.mode("append").insertInto(s"$cat.m.dim")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "dim insert attaches dangling")
      assert(mv(cat).find(_._1 == "mX").exists(_._3 == 100L))

      // fresh MV: refresh is a no-op, no commit
      val mvDir = lake.resolve("m/jv.parquet")
      val v0 = Snapshots.latest(mvDir).get.version
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(Snapshots.latest(mvDir).get.version == v0)
    }
  }

  test("both watermarks ride ONE stamped commit; net-zero churn bumps metadata-only; simultaneous fact+dim churn folds once") {
    withLake("b") { (cat, lake) =>
      mkSources(cat)
      mkMv(cat)
      val mvDir = lake.resolve("m/jv.parquet")
      val ctas = Snapshots.latest(mvDir).get
      assert(ctas.summary.get(MaterializedView.SourceVersionKey)
        .contains(1L) &&
        ctas.summary.get(MaterializedView.DimVersionKey).contains(1L),
        s"CTAS stamps BOTH watermarks: ${ctas.summary}")
      // fact AND dim change in one range — including a fact row whose
      // dim ALSO changed (the ΔA⋈ΔB overlap: must fold exactly once)
      Seq((1L, "m1", 40L)).toDF("k", "jk", "x")
        .write.mode("append").insertInto(s"$cat.m.fact") // fact v2
      spark.sql(
        s"UPDATE $cat.m.dim SET label = 'hot' WHERE jk = 'm1'") // dim v2
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat), "overlap folds exactly once")
      val merged = Snapshots.latest(mvDir).get
      assert(merged.summary.get(MaterializedView.SourceVersionKey)
        .contains(2L) &&
        merged.summary.get(MaterializedView.DimVersionKey).contains(2L))
      // net-zero churn on BOTH sides: insert+delete the same keys —
      // the watermark pair bumps with a metadata-only commit
      Seq((99L, "m2", 1L)).toDF("k", "jk", "x")
        .write.mode("append").insertInto(s"$cat.m.fact")
      spark.sql(s"DELETE FROM $cat.m.fact WHERE k = 99")
      Seq(("mx9", "tmp", 0L)).toDF("jk", "label", "boost")
        .write.mode("append").insertInto(s"$cat.m.dim")
      spark.sql(s"DELETE FROM $cat.m.dim WHERE jk = 'mx9'")
      val before = mv(cat)
      MaterializedView.refresh(spark, s"$cat.m.jv")
      val wm = Snapshots.latest(mvDir).get
      assert(wm.operation == "mv-watermark" &&
        wm.summary.get(MaterializedView.SourceVersionKey).contains(4L) &&
        wm.summary.get(MaterializedView.DimVersionKey).contains(4L),
        s"${wm.operation} ${wm.summary}")
      assert(mv(cat) == before)
    }
  }

  test("extremal aggregates over the join: dim-side retraction recomputes the moved groups") {
    withLake("c") { (cat, _) =>
      mkSources(cat)
      MaterializedView.createJoin(spark, s"$cat.m.jv",
        s"$cat.m.fact", s"$cat.m.dim", Seq("k"), Seq("jk"),
        groupBy = Seq("label"),
        aggs = Seq("x" -> "sum", "x" -> "min", "x" -> "max"), buckets = 2)
      def rc(): Seq[(String, Long, Long, Long)] = spark.sql(
        s"""SELECT d.label, sum(f.x), min(f.x), max(f.x)
           |FROM $cat.m.fact f JOIN $cat.m.dim d ON f.jk = d.jk
           |GROUP BY d.label""".stripMargin)
        .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      def got(): Seq[(String, Long, Long, Long)] =
        spark.table(s"$cat.m.jv")
          .select("label", "sum_x", "min_x", "max_x")
          .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got() == rc())
      // relabel m1 gold→silver: gold loses its min (k=1, x=10) — the
      // gold group's extrema must RECOMPUTE, not fast-path
      spark.sql(
        s"UPDATE $cat.m.dim SET label = 'silver' WHERE jk = 'm1'")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(got() == rc(), "dim retraction recomputes extrema")
      // and a fact delete that removes a group's max
      spark.sql(s"DELETE FROM $cat.m.fact WHERE k = 2")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(got() == rc())
    }
  }

  test("a fact row inserted and deleted inside one range while its dim row is relabeled contributes nothing") {
    withLake("g") { (cat, _) =>
      mkSources(cat)
      mkMv(cat)
      // one refresh range: k=17 joins m2 (silver), m2 turns bronze,
      // k=17 is deleted — it exists at neither end of the range, so
      // neither silver nor bronze may keep any of it
      Seq((17L, "m2", 27L), (18L, "m1", 12L)).toDF("k", "jk", "x")
        .write.mode("append").insertInto(s"$cat.m.fact")
      spark.sql(s"UPDATE $cat.m.dim SET label = 'bronze' WHERE jk = 'm2'")
      spark.sql(s"DELETE FROM $cat.m.fact WHERE k = 17")
      MaterializedView.refresh(spark, s"$cat.m.jv")
      assert(mv(cat) == recompute(cat))
      assert(mv(cat).find(_._1 == "m2").map(_._2).contains("bronze"))
    }
  }

  test("racing refreshes serialize: a shared range never folds twice") {
    withLake("d") { (cat, _) =>
      mkSources(cat)
      mkMv(cat)
      Seq((7L, "m1", 1000L)).toDF("k", "jk", "x")
        .write.mode("append").insertInto(s"$cat.m.fact")
      spark.sql(s"UPDATE $cat.m.dim SET label = 'w' WHERE jk = 'm2'")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val fs = (1 to 2).map(_ => scala.concurrent.Future(
          try Right(MaterializedView.refresh(spark, s"$cat.m.jv"))
          catch { case e: CommitConflictException => Left(e) }))
        val rs = fs.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration(180, "s")))
        assert(rs.exists(_.isRight), s"at least one refresh lands: $rs")
        // whichever raced either folded the remaining (empty) range or
        // conflicted — the folded state NEVER double-counts
        assert(mv(cat) == recompute(cat), s"race outcome: $rs")
      } finally pool.shutdown()
    }
  }

  test("declaration validation: join cols both-sided, dim PK = join key, no ambiguous shared columns") {
    withLake("e") { (cat, _) =>
      mkSources(cat)
      def fails(frag: String)(body: => Any): Unit = {
        val e = intercept[Exception](body)
        assert(Option(e.getMessage).exists(_.contains(frag)),
          s"expected '$frag' in: ${e.getMessage}")
      }
      fails("must exist same-named")(
        MaterializedView.createJoin(spark, s"$cat.m.bad1",
          s"$cat.m.fact", s"$cat.m.dim", Seq("k"), Seq("nope"),
          Seq("label"), Seq("x" -> "sum")))
      // a dim declaring PK dk but joined on k: the join key is not the
      // dim's row identity — one fact row could match many dim rows
      spark.sql(
        s"""CREATE TABLE $cat.m.dimpk (dk STRING NOT NULL, k BIGINT)
           |PARTITIONED BY (bucket(2, dk))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='dk')"""
          .stripMargin)
      Seq(("d1", 1L)).toDF("dk", "k").write.mode("append")
        .insertInto(s"$cat.m.dimpk")
      fails("row identity")(
        MaterializedView.createJoin(spark, s"$cat.m.bad2",
          s"$cat.m.fact", s"$cat.m.dimpk", Seq("k"), Seq("k"),
          Seq("dk"), Seq("x" -> "sum")))
      // a dim with a non-join column named like a fact column
      spark.sql(
        s"""CREATE TABLE $cat.m.dimclash (jk STRING NOT NULL, x BIGINT)
           |PARTITIONED BY (bucket(2, jk))
           |TBLPROPERTIES ('versioned'='true', 'primary-key'='jk')"""
          .stripMargin)
      Seq(("m1", 1L)).toDF("jk", "x").write.mode("append")
        .insertInto(s"$cat.m.dimclash")
      fails("ambiguous")(
        MaterializedView.createJoin(spark, s"$cat.m.bad3",
          s"$cat.m.fact", s"$cat.m.dimclash", Seq("k"), Seq("jk"),
          Seq("jk"), Seq("x" -> "sum")))
    }
  }
}
