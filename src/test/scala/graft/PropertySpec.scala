package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.functions.{MinHashImpl, StringDistanceImpls}
import org.apache.spark.unsafe.types.UTF8String

/** Property-based differential tests (SURVEY.md §5 — mirroring the
  * reference's random-query fuzzer `tests/comparison/` and decimal fuzz):
  * random inputs, Spark result vs an independent in-JVM computation.
  */
class PropertySpec extends SparkSpecBase {

  /** Deterministic property loop (seeded; the ScalaCheck-style fuzz of
    * SURVEY §5 without the scalatestplus bridge, absent offline).
    */
  private def forAllSeeded[A](n: Int)(gen: Random => A)(body: A => Unit): Unit = {
    val rnd = new Random(42)
    (0 until n).foreach { _ => body(gen(rnd)) }
  }
  import spark.implicits._

  private lazy val rows: Seq[(Long, Double, String)] =
    GraftSession.table(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

  private lazy val df = rows.toDF("k", "q", "f").cache()

  test("random range filters: Spark count == Scala count") {
    forAllSeeded(12)(r => (r.nextDouble() * 55, r.nextDouble() * 55)) { case (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      val sparkN = df.filter($"q" >= lo && $"q" < hi).count()
      val scalaN = rows.count(r => r._2 >= lo && r._2 < hi).toLong
      assert(sparkN == scalaN)
    }
  }

  test("random modulus group-bys: per-group decimal sums match BigDecimal") {
    forAllSeeded(8)(r => 2 + r.nextInt(49)) { m =>
      val sparkMap = df.groupBy(pmod($"k", lit(m)).as("g"))
        .agg(sum($"q".cast("decimal(12,2)")).as("s"))
        .collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      val scalaMap = rows.groupBy(r => math.floorMod(r._1, m.toLong))
        .view.mapValues(_.map(r => BigDecimal(r._2).setScale(2)).sum).toMap
      assert(sparkMap.keySet == scalaMap.keySet)
      sparkMap.foreach { case (g, s) =>
        assert(BigDecimal(s) == scalaMap(g), s"group $g")
      }
    }
  }

  test("sort stability property: orderBy(q, k) is totally ordered") {
    val sorted = df.orderBy(asc_nulls_last("q"), asc_nulls_last("k"))
      .collect().map(r => (r.getDouble(1), r.getLong(0)))
    sorted.sliding(2).foreach {
      case Array((q1, k1), (q2, k2)) =>
        assert(q1 < q2 || (q1 == q2 && k1 <= k2))
      case _ =>
    }
  }

  test("minhash agreement estimates Jaccard (LSH soundness)") {
    def lst(r: Random) = List.fill(80)(r.nextLong(500L)).distinct
    forAllSeeded(15)(r => (lst(r), lst(r))) { case (a, b) =>
      if (a.nonEmpty && b.nonEmpty) {
        val (as, bs) = MinHashImpl.coeffs(128, 42L)
        val sa = MinHashImpl.signature(a.toArray, as, bs)
        val sb = MinHashImpl.signature(b.toArray, as, bs)
        val agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
        val inter = a.toSet.intersect(b.toSet).size.toDouble
        val jac = inter / a.toSet.union(b.toSet).size
        assert(math.abs(agree - jac) < 0.35) // 128 perms → ~4.4% σ; 8σ bound
      }
    }
  }

  test("string distance properties: symmetry, identity, triangle-ish bounds") {
    def str(r: Random) = List.fill(r.nextInt(9))(('a' + r.nextInt(26)).toChar).mkString
    forAllSeeded(40)(r => (str(r), str(r))) { case (s, t) =>
      val u = UTF8String.fromString(s)
      val v = UTF8String.fromString(t)
      val d = StringDistanceImpls.damerauLevenshtein(u, v)
      assert(d == StringDistanceImpls.damerauLevenshtein(v, u))
      assert((d == 0) == (s == t))
      assert(d <= math.max(s.length, t.length))
      val j = StringDistanceImpls.jaroSimilarity(u, v)
      assert(j >= 0.0 && j <= 1.0)
      assert(j == StringDistanceImpls.jaroSimilarity(v, u))
    }
  }

  test("HLL estimate error bounded over random cardinalities") {
    forAllSeeded(8)(r => 100 + r.nextInt(19900)) { n =>
      val reg = graft.functions.Hll.create()
      (0 until n).foreach(i => graft.functions.Hll.update(reg, graft.functions.HashImpls.hllHash(i.toLong, org.apache.spark.sql.types.LongType)))
      val est = graft.functions.Hll.estimate(reg)
      // p=10 → σ ≈ 3.25%; allow 5σ
      assert(math.abs(est - n).toDouble / n < 0.17, s"n=$n est=$est")
    }
  }

  test("collect_capped + sorted_pairs match a brute-force reference (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.util.Pretty
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.LongType
    import graft.functions.{CollectCapped, SortedPairs}

    // a posting list of (id, payload) entries with repeated ids (ids
    // drawn from 0..9), a cap below, at or above its length, and cut
    // points splitting it into partial buffers
    case class Case(width: Int, entries: Seq[(Long, Long)], cap: Int, cuts: Seq[Int])
    val cases = for {
      width <- Gen.oneOf(1, 2)
      n <- Gen.choose(0, 20)
      entries <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 9L), Gen.choose(-99L, 99L)))
      cap <- Gen.oneOf(Gen.choose(0, n), Gen.const(n), Gen.choose(n, n + 4))
      cuts <- Gen.listOf(Gen.choose(0, n))
    } yield Case(width, entries, cap, cuts.sorted)

    // update each slice into its own buffer, ship it through the shuffle
    // serializer, merge the buffers in order; the buffer never holds
    // more than cap+1 entries
    def kernels(c: Case): (Option[Seq[Seq[Long]]], Option[Seq[Seq[Long]]], Boolean) = {
      val agg = CollectCapped(
        (0 until c.width).map(i => BoundReference(i, LongType, nullable = false)), c.cap)
      val bound = c.width * (c.cap + 1)
      var bounded = true
      val bufs = (0 +: c.cuts :+ c.entries.length).sliding(2).map { case Seq(a, b) =>
        var buf = agg.createAggregationBuffer()
        c.entries.slice(a, b).foreach { case (id, p) =>
          buf = agg.update(buf, if (c.width == 1) InternalRow(id) else InternalRow(id, p))
          bounded &&= buf.length <= bound
        }
        agg.deserialize(agg.serialize(buf))
      }.toList
      val merged = bufs.reduce { (a, b) =>
        val m = agg.merge(a, b); bounded &&= m.length <= bound; m
      }
      def rows(a: ArrayData, w: Int): Seq[Seq[Long]] =
        (0 until a.numElements()).map(i =>
          if (w == 1) Seq(a.getLong(i)) else { val r = a.getStruct(i, w); (0 until w).map(r.getLong) })
      Option(agg.eval(merged)).map(_.asInstanceOf[ArrayData]) match {
        case None => (None, None, bounded)
        case Some(list) =>
          val pairs = SortedPairs(Literal(null, agg.dataType)).pairsFor(list)
          (Some(rows(list, c.width)), Some(rows(pairs, 2 * c.width)), bounded)
      }
    }

    def reference(c: Case): (Option[Seq[Seq[Long]]], Option[Seq[Seq[Long]]]) =
      if (c.entries.length > c.cap) (None, None)
      else {
        def entry(e: (Long, Long)) = if (c.width == 1) Seq(e._1) else Seq(e._1, e._2)
        val pairs = for {
          i <- c.entries.indices
          j <- i + 1 until c.entries.length
          (x, y) = (c.entries(i), c.entries(j))
          if x._1 != y._1
        } yield if (x._1 < y._1) entry(x) ++ entry(y) else entry(y) ++ entry(x)
        (Some(c.entries.map(entry)), Some(pairs))
      }

    val prop = Prop.forAllNoShrink(cases) { c =>
      val (list, pairs, bounded) = kernels(c)
      val (wantList, wantPairs) = reference(c)
      (bounded :| "buffer past cap+1 entries") &&
        ((list == wantList) :| s"collect_capped $list, want $wantList") &&
        ((pairs == wantPairs) :| s"sorted_pairs $pairs, want $wantPairs")
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(500).withInitialSeed(42L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}
