package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact set-similarity join (Dedup.setSimJoin): completeness against an
  * in-Scala brute force on a synthetic corpus whose Jaccard values
  * straddle the thresholds — the unit-level guard for the prefix theorem
  * and the PPJoin positional filter (q128's oracle re-proves the same on
  * real documents).
  */
class SetSimJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 40 docs of overlapping token ranges: sizes 5..15, starts cycling 0..6,
  // so pair similarity spans [0, 1) and both thresholds get real work
  private val docs: Seq[(Long, Seq[String])] = (0 until 40).map { i =>
    val start = i % 7
    val len = 5 + (i % 11)
    (i.toLong, (start until start + len).map(j => s"w$j"))
  }

  private def brute(tPct: Int): Set[(Long, Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, ws) => id -> ws.toSet }.toMap
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong
      if 100 * inter >= tPct * (sa.size + sb.size - inter)
    } yield (a, b, inter, sa.size.toLong, sb.size.toLong)).toSet
  }

  test("setSimJoin equals brute force at t=0.8 and t=0.5") {
    import spark.implicits._
    val df = docs.toDF("id", "toks")
    for (t <- Seq(80, 50)) {
      val got = Dedup.setSimJoin(df, t)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = brute(t)
      assert(got == want,
        s"t=$t: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)} " +
          s"(got ${got.size}, want ${want.size})")
      assert(want.nonEmpty, s"t=$t fixture degenerate: no qualifying pairs")
    }
    // and a threshold high enough that only identical sets pair: docs
    // 7 apart with equal length share start AND length -> J = 1.0
    import spark.implicits._
    val exact = Dedup.setSimJoin(docs.toDF("id", "toks"), 100)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(exact == brute(100))
    assert(exact.forall { case (_, _, i, na, nb) => i == na && i == nb })
  }

  test("setSimJoin under the exact-set collapse equals brute force (replica-heavy corpus)") {
    import spark.implicits._
    // replicate docs 0 and 3's token sets 18x each with fresh ids —
    // max clique 19 >= CollapseCliqueMin (16), so the collapse ENGAGES
    // (the non-collapse path is covered by the test above); replicas
    // interleave arbitrary ids so the expansion's a<b re-ordering and
    // na/nb swap both get real work
    val reps = (0 until 36).map { j =>
      val src = docs(if (j % 2 == 0) 0 else 3)
      (1000L + j, src._2)
    }
    val heavy = docs ++ reps
    val sets = heavy.map { case (id, ws) => id -> ws.toSet }.toMap
    def bruteH(tPct: Int): Set[(Long, Long, Long, Long, Long)] =
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size.toLong
        if 100 * inter >= tPct * (sa.size + sb.size - inter)
      } yield (a, b, inter, sa.size.toLong, sb.size.toLong)).toSet
    for (t <- Seq(80, 50)) {
      val got = Dedup.setSimJoin(heavy.toDF("id", "toks"), t)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = bruteH(t)
      assert(got == want,
        s"collapse t=$t: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)} " +
          s"(got ${got.size}, want ${want.size})")
      // the fixture must actually exercise the expansion: intra-group
      // (J=1.0 cliques) AND cross-group inherited pairs must both appear
      assert(want.exists { case (_, _, i, na, nb) => i == na && i == nb })
      assert(want.exists { case (_, _, i, na, nb) => i < na || i < nb })
    }
  }

  test("containmentJoin equals brute force on both corpora and both verify paths") {
    import spark.implicits._
    // plain corpus: no identical sets, so the collapse stays off; the
    // replica-heavy one (docs 0 and 3 replicated 18x, clique 19 >=
    // CollapseCliqueMin) engages it and its member expansion. Budget 0
    // forces the narrow-row verify, the default the broadcast-array one.
    val heavy = docs ++ (0 until 36).map { j =>
      (1000L + j, docs(if (j % 2 == 0) 0 else 3)._2)
    }
    for (corpus <- Seq(docs, heavy); t <- Seq(80, 50);
         budget <- Seq(Dedup.ContainmentBroadcastTokens, 0L)) {
      val sets = corpus.map { case (id, ws) => id -> ws.toSet }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        inter = (sa & sb).size.toLong
        if 100 * inter >= t * sa.size
      } yield (a, b, inter, sa.size.toLong)).toSet
      val got = Dedup.containmentJoin(corpus.toDF("id", "toks"), t, budget)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == want,
        s"n=${corpus.size} t=$t budget=$budget: missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)} (got ${got.size}, want ${want.size})")
      // each corpus exercises strict (partial) containment too
      assert(want.exists { case (_, _, i, na) => i < na })
    }
  }

  test("clique summary reconciles with the enumerated join (arithmetic ≡ counting)") {
    import spark.implicits._
    // the q128b contract, unit-level: setSimCliqueSummary's per-clique
    // organic_pairs are computed ARITHMETICALLY (intra m(m-1)/2, cross
    // m·m' per representative pair) — reconcile them against actually
    // counting setSimJoin's enumerated pairs per touched clique, on the
    // replica-heavy corpus where both intra and cross terms are live.
    // An intra pair (both endpoints one clique) counts once; a cross
    // pair counts once per side — so Σ organic_pairs = intra + 2·cross.
    val reps = (0 until 36).map { j =>
      val src = docs(if (j % 2 == 0) 0 else 3)
      (1000L + j, src._2)
    }
    val heavy = docs ++ reps
    val setOf = heavy.map { case (id, ws) => id -> ws.toSet }.toMap
    val repOf = heavy.map { case (id, ws) =>
      id -> heavy.filter(_._2.toSet == ws.toSet).map(_._1).min }.toMap
    for (t <- Seq(80, 50)) {
      val pairs = Dedup.setSimJoin(heavy.toDF("id", "toks"), t)
        .select(col("a"), col("b")).as[(Long, Long)].collect()
      val counted = scala.collection.mutable.Map.empty[Long, Long]
      pairs.foreach { case (a, b) =>
        counted(repOf(a)) = counted.getOrElse(repOf(a), 0L) + 1
        if (repOf(b) != repOf(a))
          counted(repOf(b)) = counted.getOrElse(repOf(b), 0L) + 1
      }
      val got = Dedup.setSimCliqueSummary(heavy.toDF("id", "toks"), t)
        .as[(Long, Long, Long)].collect()
        .map { case (rep, m, p) => rep -> (m, p) }.toMap
      assert(got.keySet == counted.keySet,
        s"t=$t cliques diverge: only-summary=${(got.keySet -- counted.keySet).take(5)} " +
          s"only-counted=${(counted.keySet -- got.keySet).take(5)}")
      counted.foreach { case (rep, n) =>
        assert(got(rep)._2 == n, s"t=$t clique $rep: arithmetic ${got(rep)._2} vs counted $n")
        assert(got(rep)._1 == heavy.count(d => setOf(d._1) == setOf(rep)),
          s"t=$t clique $rep member count")
      }
    }
  }
}
