package graft.catalog

import graft.SparkSpec
import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Model-based property spec for incremental MV refresh: REFRESH
  * EQUALS RECOMPUTE over random histories.
  *
  * Each history runs random insert / upsert / UPDATE / DELETE / MERGE
  * statements on a PRIMARY-KEY fact table plus relabels and inserts on
  * its dimension, refreshes a single-source MV (over the fact) and a
  * join MV (over fact ⋈ dim) after every 1–3 statements, and after
  * each refresh asserts that both equal the full (join+)aggregate
  * recompute. The MVs carry min/max over a BIGINT with NULLs and over
  * a DOUBLE with NaN — the extremal recompute rule is what is under
  * test — plus count, a sum and the row count.
  *
  * Generation is stateful: an in-memory model of both tables lets the
  * generators aim at the edge cases of the rule — retracting a group's
  * current min or max, retracting one of two rows tied at it, emptying
  * a group, inserting and deleting a new group inside one range, NULL
  * values, NULL group keys (fact `jk` and dim `label`), NaN, and a
  * single range that retracts the extremum of more than 256 groups
  * (past the IN-pushdown cap). The seeds are fixed; the spec asserts
  * at the end that every edge case was reached. The sum is taken over
  * a NOT NULL column: the MV folds a sum through `coalesce(_, 0)`, so
  * a group whose summed values are all NULL reads 0 after a refresh
  * where SQL reads NULL (a separate, pre-existing behaviour). */
class MvRefreshPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Histories = 4
  private val StepsPerHistory = 14
  private val WideGroups = 300

  /** A fact row: (jk, x, q, y) keyed by k. */
  private final case class Fact(jk: Option[String], x: Option[Long],
                                q: Long, y: Option[Double])

  private final class Model {
    val fact = scala.collection.mutable.LinkedHashMap.empty[Long, Fact]
    val dim = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    var nextK = 1L
    var nextGroup = 0
    def groups: Seq[Option[String]] = fact.values.map(_.jk).toSeq.distinct
    def rowsOf(g: Option[String]): Seq[(Long, Fact)] =
      fact.toSeq.filter(_._2.jk == g)
  }

  private sealed trait Op
  private final case class Upsert(rows: Seq[(Long, Fact)]) extends Op
  private final case class Update(k: Long, x: Option[Long], y: Option[Double]) extends Op
  private final case class Delete(ks: Seq[Long], label: String) extends Op
  private final case class EmptyGroup(g: Option[String]) extends Op
  private final case class Merge(rows: Seq[(Long, Fact)]) extends Op
  private final case class InsertThenDelete(rows: Seq[(Long, Fact)]) extends Op
  private final case class Relabel(jk: String, label: Option[String]) extends Op
  private final case class DimInsert(jk: String, label: Option[String]) extends Op
  private final case class WideInsert(rows: Seq[(Long, Fact)]) extends Op {
    override def toString: String = s"WideInsert(${rows.size} rows)"
  }

  private val baseJks = Seq("a", "b", "c", "d", "e") // "e" starts dangling
  private val labels = Seq("L1", "L2", "L3")

  private val genX: Gen[Option[Long]] =
    Gen.frequency(1 -> Gen.const(None), 9 -> Gen.choose(0L, 12L).map(Some(_)))
  private val genY: Gen[Option[Double]] = Gen.frequency(
    1 -> Gen.const(None), 1 -> Gen.const(Some(Double.NaN)),
    6 -> Gen.choose(0, 8).map(i => Some(i * 0.5)))
  private val genLabel: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> Gen.oneOf(labels).map(Some(_)))

  private def genFact(jks: Seq[Option[String]]): Gen[Fact] = for {
    jk <- Gen.frequency(1 -> Gen.const(None), 9 -> Gen.oneOf(jks))
    x <- genX
    q <- Gen.choose(1L, 50L)
    y <- genY
  } yield Fact(jk, x, q, y)

  private def freshRows(m: Model, n: Int, jks: Seq[Option[String]]): Gen[Seq[(Long, Fact)]] =
    Gen.listOfN(n, genFact(jks)).map(_.zipWithIndex.map { case (f, i) =>
      (m.nextK + i, f) })

  /** The row holding group `g`'s min (or max) of x, picking among ties. */
  private def extremumRow(m: Model, g: Option[String], isMin: Boolean): Gen[Option[Long]] = {
    val xs = m.rowsOf(g).flatMap { case (k, f) => f.x.map(k -> _) }
    if (xs.isEmpty) Gen.const(None)
    else {
      val best = if (isMin) xs.map(_._2).min else xs.map(_._2).max
      Gen.oneOf(xs.filter(_._2 == best).map(_._1)).map(Some(_))
    }
  }

  private def genOp(m: Model): Gen[Op] = {
    val jks = baseJks.map(Some(_))
    val keys = m.fact.keys.toSeq
    val groups = m.groups
    val narrow = groups.filterNot(_.exists(_.startsWith("w")))
    val wideLive = groups.exists(_.exists(_.startsWith("w")))
    def some[A](cond: Boolean, w: Int, g: => Gen[A]) =
      if (cond) Seq(w -> g) else Seq.empty
    Gen.frequency(Seq[(Int, Gen[Op])](
      3 -> Gen.choose(1, 4).flatMap(n => freshRows(m, n, jks)).map(Upsert(_)),
      // a second row tied at an existing value of the same group
      2 -> (if (keys.isEmpty) freshRows(m, 1, jks).map(Upsert(_))
            else Gen.oneOf(keys).map { k =>
              Upsert(Seq(m.nextK -> m.fact(k).copy(q = 7L))) })) ++
      some(keys.nonEmpty, 2, for {
        k <- Gen.oneOf(keys); x <- genX; y <- genY } yield Update(k, x, y)) ++
      some(keys.nonEmpty, 2, for {
        k <- Gen.oneOf(keys); f <- genFact(jks) } yield
        Upsert(Seq(k -> f))) ++
      some(narrow.nonEmpty, 6, for {
        g <- Gen.oneOf(narrow); isMin <- Gen.oneOf(true, false)
        k <- extremumRow(m, g, isMin)
      } yield k.fold[Op](Upsert(Nil))(k => Delete(Seq(k),
        if (isMin) "retract-min" else "retract-max"))) ++
      some(keys.nonEmpty, 1, Gen.someOf(keys).map(ks =>
        Delete(ks.toSeq.take(3), "delete"))) ++
      some(narrow.nonEmpty, 2, Gen.oneOf(narrow).map(EmptyGroup(_))) ++
      some(keys.nonEmpty, 2, for {
        ks <- Gen.someOf(keys).map(_.toSeq.take(2))
        fs <- Gen.listOfN(ks.size + 1, genFact(jks))
      } yield Merge((ks :+ m.nextK).zip(fs))) ++
      Seq(1 -> Gen.choose(1, 2).flatMap(n =>
        freshRows(m, n, Seq(Some(s"n${m.nextGroup}")))).map(InsertThenDelete(_))) ++
      Seq(2 -> (for {
        jk <- Gen.oneOf(m.dim.keys.toSeq.filterNot(_.startsWith("w")))
        l <- genLabel } yield Relabel(jk, l))) ++
      some(!m.dim.contains("e"), 1, genLabel.map(DimInsert("e", _))) ++
      // past the IN-pushdown cap: 300 new groups now, their minima
      // retracted in one statement later
      some(!wideLive, 2, Gen.const(WideInsert((0 until WideGroups * 2).map { i =>
        val g = s"w${i % WideGroups}"
        (m.nextK + i, Fact(Some(g), Some((i / WideGroups).toLong), 1L, Some(0.5)))
      }))) ++
      some(wideLive, 4, Gen.const(Delete(groups.filter(_.exists(_.startsWith("w")))
        .flatMap(g => m.rowsOf(g).filter(_._2.x.isDefined)
          .minByOption(_._2.x.get).map(_._1)), "wide"))): _*)
  }

  private def lit(v: Option[Any]): String = v match {
    case None => "NULL"
    case Some(s: String) => s"'$s'"
    case Some(d: Double) if d.isNaN => "CAST('NaN' AS DOUBLE)"
    case Some(d: Double) => s"CAST($d AS DOUBLE)"
    case Some(x) => x.toString
  }

  private def factDf(rows: Seq[(Long, Fact)]) =
    rows.map { case (k, f) => (k, f.jk, f.x, f.q, f.y) }
      .toDF("k", "jk", "x", "q", "y")

  private def upsert(cat: String, m: Model, rows: Seq[(Long, Fact)]): Unit =
    if (rows.nonEmpty) {
      factDf(rows).write.mode("append").insertInto(s"$cat.m.fact")
      rows.foreach { case (k, f) => m.fact(k) = f }
      m.nextK = math.max(m.nextK, rows.map(_._1).max + 1)
    }

  private def delete(cat: String, m: Model, ks: Seq[Long]): Unit =
    if (ks.nonEmpty) {
      spark.sql(s"DELETE FROM $cat.m.fact WHERE k IN (${ks.mkString(", ")})")
      ks.foreach(m.fact.remove)
    }

  /** Runs `op`; returns the edge cases it exercised. */
  private def run(cat: String, m: Model, op: Op): Set[String] = {
    def valueCases(rows: Seq[Fact]): Set[String] =
      (if (rows.exists(_.x.isEmpty)) Set("null-x") else Set.empty[String]) ++
        (if (rows.exists(_.jk.isEmpty)) Set("null-group") else Set.empty) ++
        (if (rows.exists(_.y.exists(_.isNaN))) Set("nan") else Set.empty)
    op match {
      case Upsert(rows) =>
        upsert(cat, m, rows); valueCases(rows.map(_._2))
      case WideInsert(rows) =>
        upsert(cat, m, rows)
        val dims = rows.flatMap(_._2.jk).distinct
        dims.map(g => (g, g)).toDF("jk", "label").write.mode("append")
          .insertInto(s"$cat.m.dim")
        dims.foreach(g => m.dim(g) = Some(g))
        Set.empty
      case Update(k, x, y) =>
        spark.sql(s"UPDATE $cat.m.fact SET x = ${lit(x)}, y = ${lit(y)} " +
          s"WHERE k = $k")
        m.fact(k) = m.fact(k).copy(x = x, y = y)
        valueCases(Seq(m.fact(k)))
      case Delete(ks, label) =>
        val tied = ks.exists { k =>
          val f = m.fact(k)
          f.x.isDefined && m.rowsOf(f.jk).count(_._2.x == f.x) > 1
        }
        delete(cat, m, ks)
        val tie = label.startsWith("retract") && tied
        val wide = label == "wide" && ks.size > 256
        Set(label) ++ (if (tie) Set("tie-retract") else Set.empty) ++
          (if (wide) Set("wide-retract") else Set.empty)
      case EmptyGroup(g) =>
        val n = m.rowsOf(g).size
        spark.sql(s"DELETE FROM $cat.m.fact WHERE " +
          g.fold("jk IS NULL")(j => s"jk = '$j'"))
        m.rowsOf(g).foreach(r => m.fact.remove(r._1))
        if (n > 0) Set("empty-group") else Set.empty
      case Merge(rows) =>
        val src = rows.map { case (k, f) =>
          s"(CAST($k AS BIGINT), CAST(${lit(f.jk)} AS STRING), " +
            s"CAST(${lit(f.x)} AS BIGINT), CAST(${f.q} AS BIGINT), " +
            s"CAST(${lit(f.y)} AS DOUBLE))" }.mkString(", ")
        spark.sql(
          s"""MERGE INTO $cat.m.fact t
             |USING (SELECT * FROM VALUES $src AS v(k, jk, x, q, y)) s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET jk = s.jk, x = s.x, q = s.q, y = s.y
             |WHEN NOT MATCHED THEN INSERT (k, jk, x, q, y)
             |  VALUES (s.k, s.jk, s.x, s.q, s.y)""".stripMargin)
        rows.foreach { case (k, f) => m.fact(k) = f }
        m.nextK = math.max(m.nextK, rows.map(_._1).max + 1)
        valueCases(rows.map(_._2)) + "merge"
      case InsertThenDelete(rows) =>
        m.nextGroup += 1
        upsert(cat, m, rows)
        delete(cat, m, rows.map(_._1))
        Set("insert-then-delete")
      case Relabel(jk, l) =>
        spark.sql(s"UPDATE $cat.m.dim SET label = ${lit(l)} WHERE jk = '$jk'")
        m.dim(jk) = l
        if (l.isEmpty) Set("relabel", "null-group") else Set("relabel")
      case DimInsert(jk, l) =>
        Seq((jk, l)).toDF("jk", "label").write.mode("append")
          .insertInto(s"$cat.m.dim")
        m.dim(jk) = l
        Set("dim-insert")
    }
  }

  private def rows(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).sorted.toSeq

  private def check(cat: String, history: Int, m: Model, trail: Seq[Op]): Unit = {
    MaterializedView.refresh(spark, s"$cat.m.sv")
    MaterializedView.refresh(spark, s"$cat.m.jv")
    def fail(mv: String, got: Seq[String], want: Seq[String]) =
      s"history $history: $mv != recompute after ${trail.size} ops\n" +
        s"  only in MV: ${got.diff(want)}\n  only in recompute: " +
        s"${want.diff(got)}\n  MV: $got\n  dim labels: ${m.dim}\n" +
        s"  ops: ${trail.mkString("\n       ")}"
    val sv = rows(s"SELECT jk, sum_q, count_x, min_x, max_x, min_y, max_y, " +
      s"mv_rows FROM $cat.m.sv")
    val svWant = rows(s"SELECT jk, sum(q), count(x), min(x), max(x), " +
      s"min(y), max(y), count(*) FROM $cat.m.fact GROUP BY jk")
    assert(sv == svWant, fail("sv", sv, svWant))
    val jv = rows(s"SELECT label, sum_q, count_x, min_x, max_x, max_y, " +
      s"mv_rows FROM $cat.m.jv")
    val jvWant = rows(
      s"""SELECT d.label, sum(f.q), count(f.x), min(f.x), max(f.x),
         |  max(f.y), count(*)
         |FROM $cat.m.fact f JOIN $cat.m.dim d ON f.jk = d.jk
         |GROUP BY d.label""".stripMargin)
    assert(jv == jvWant, fail("jv", jv, jvWant))
  }

  test("refresh equals recompute over random fact/dim histories, single-source and join MVs alike") {
    val covered = scala.collection.mutable.Set.empty[String]
    (0 until Histories).foreach { h =>
      val lake = Files.createTempDirectory(s"graft-mvprop-$h")
      Files.createDirectories(lake.resolve("m"))
      val cat = s"mvprop$h"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftLakeCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.path", lake.toString)
      try {
        spark.sql(
          s"""CREATE TABLE $cat.m.fact (k BIGINT NOT NULL, jk STRING,
             |  x BIGINT, q BIGINT, y DOUBLE)
             |PARTITIONED BY (bucket(4, k))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='k')"""
            .stripMargin)
        spark.sql(
          s"""CREATE TABLE $cat.m.dim (jk STRING NOT NULL, label STRING)
             |PARTITIONED BY (bucket(2, jk))
             |TBLPROPERTIES ('versioned'='true', 'primary-key'='jk')"""
            .stripMargin)
        val m = new Model
        val seeds = new scala.util.Random(7919L * (h + 1))
        def draw[A](g: Gen[A]): A =
          g.pureApply(Gen.Parameters.default, Seed(seeds.nextLong()))
        val dims = baseJks.init.map(j => j -> draw(genLabel))
        dims.toDF("jk", "label").write.mode("append").insertInto(s"$cat.m.dim")
        dims.foreach { case (j, l) => m.dim(j) = l }
        upsert(cat, m, draw(freshRows(m, 16, baseJks.map(Some(_)))))
        MaterializedView.create(spark, s"$cat.m.sv", s"$cat.m.fact",
          Seq("k"), Seq("jk"), Seq("q" -> "sum", "x" -> "count",
            "x" -> "min", "x" -> "max", "y" -> "min", "y" -> "max"),
          buckets = 4)
        MaterializedView.createJoin(spark, s"$cat.m.jv", s"$cat.m.fact",
          s"$cat.m.dim", Seq("k"), Seq("jk"), Seq("label"),
          Seq("q" -> "sum", "x" -> "count", "x" -> "min", "x" -> "max",
            "y" -> "max"), buckets = 4)
        val trail = scala.collection.mutable.ArrayBuffer.empty[Op]
        var step = 0
        while (step < StepsPerHistory) {
          val n = draw(Gen.choose(1, 3))
          (1 to n).foreach { _ =>
            val op = draw(genOp(m))
            trail += op
            covered ++= run(cat, m, op)
          }
          check(cat, h, m, trail.toSeq)
          step += n
        }
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.path")
      }
    }
    val wanted = Set("retract-min", "retract-max", "tie-retract",
      "empty-group", "insert-then-delete", "null-x", "null-group", "nan",
      "wide-retract", "merge", "relabel")
    assert(wanted.subsetOf(covered),
      s"edge cases never generated: ${wanted.diff(covered)}")
  }
}
