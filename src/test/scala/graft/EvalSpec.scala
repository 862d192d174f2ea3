package graft

import org.apache.spark.sql.functions._
import graft.llmops.Eval

/** Hand-computed cases for the eval/drift metrics — the integer-exact
  * rank/CDF arithmetic is easy to get subtly wrong (tie blocks, doubled
  * ranks, cross-multiplied CDFs), so every branch gets a case small
  * enough to verify on paper. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def auc(rows: Seq[(Double, Boolean)]): Option[Double] = {
    val df = rows.map { case (s, y) => ("g", s, y) }.toDF("g", "s", "y")
    Eval.aucByGroup(df, Seq("g"), col("s"), col("y"))
      .select("auc").as[Option[Double]].head()
  }

  test("AUC: separable=1, anti-separable=0, all-tied=0.5, mixed=0.25") {
    assert(auc(Seq((3.0, true), (4.0, true), (1.0, false), (2.0, false))) == Some(1.0))
    assert(auc(Seq((1.0, true), (2.0, true), (3.0, false), (4.0, false))) == Some(0.0))
    assert(auc(Seq((7.0, true), (7.0, true), (7.0, false), (7.0, false))) == Some(0.5))
    // pos {1,3}, neg {2,4}: only (3 > 2) of the 4 pairs → 0.25
    assert(auc(Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))) == Some(0.25))
  }

  test("AUC: single-class group is NULL; tie straddling classes counts half") {
    assert(auc(Seq((1.0, true), (2.0, true))).isEmpty)
    // pos {2}, neg {2}: one tied pair → 0.5
    assert(auc(Seq((2.0, true), (2.0, false))) == Some(0.5))
  }

  private def ks(a: Seq[Double], b: Seq[Double]): (Long, Option[Double]) = {
    val df = (a.map(("g", _, "a")) ++ b.map(("g", _, "b")))
      .toDF("g", "v", "side")
    Eval.ksByGroup(df, Seq("g"), col("v"),
        col("side") === "a", col("side") === "b")
      .select("ks_scaled", "ks").as[(Long, Option[Double])].head()
  }

  test("KS: identical=0, disjoint=1, interleaved=0.5, exact numerator") {
    assert(ks(Seq(1, 2, 3), Seq(1, 2, 3)) == ((0L, Some(0.0))))
    assert(ks(Seq(1, 2), Seq(3, 4)) == ((4L, Some(1.0))))
    // a={1,2}, b={2,3}: max |cumA·nB − cumB·nA| = 2 at v∈{1,2} → 2/4
    assert(ks(Seq(1, 2), Seq(2, 3)) == ((2L, Some(0.5))))
  }

  test("kappa: perfect=1, independent=0, degenerate single label=NULL") {
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    assert(Eval.kappa(perfect, col("a"), col("b"))
      .select("kappa").as[Option[Double]].head() == Some(1.0))
    // uniform 2x2 confusion: po = pe = 0.5 → kappa = 0
    val indep = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")).toDF("a", "b")
    val r = Eval.kappa(indep, col("a"), col("b"))
      .select("po", "pe", "kappa").as[(Double, Double, Option[Double])].head()
    assert(r == ((0.5, 0.5, Some(0.0))))
    val degen = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Eval.kappa(degen, col("a"), col("b"))
      .select("kappa").as[Option[Double]].head().isEmpty)
  }

  test("keySkew: uniform gini=0; 97-1-1-1 gini=0.72, top shares exact") {
    val uniform = (1 to 4).flatMap(k => Seq.fill(5)(("g", k.toLong))).toDF("g", "k")
    val u = Eval.keySkew(uniform, Seq("g"), "k")
      .select("n_keys", "n_rows", "gini", "top1_share")
      .as[(Long, Long, Double, Double)].head()
    assert(u == ((4L, 20L, 0.0, 0.25)))
    val skewed = (Seq.fill(97)(("g", 4L)) ++ Seq(("g", 1L), ("g", 2L), ("g", 3L)))
      .toDF("g", "k")
    val s = Eval.keySkew(skewed, Seq("g"), "k")
      .select("gini", "top1_share", "top10_share")
      .as[(Double, Double, Double)].head()
    // sorted asc x=(1,1,1,97), coeffs (2i−n−1)=(−3,−1,1,3) → 288/(4·100)
    assert(s == ((0.72, 0.97, 1.0)))
  }

  test("AUC and KS exclude NULL scores/values (the cross-engine null-order trap)") {
    val df = Seq(("g", Some(3.0), true), ("g", Some(1.0), false),
      ("g", None, true), ("g", None, false)).toDF("g", "s", "y")
    val a = Eval.aucByGroup(df, Seq("g"), col("s"), col("y"))
      .select("n", "auc").as[(Long, Option[Double])].head()
    assert(a == ((2L, Some(1.0))))
    val kdf = Seq(("g", Some(1.0), "a"), ("g", Some(1.0), "b"),
      ("g", None, "a")).toDF("g", "v", "side")
    val k = Eval.ksByGroup(kdf, Seq("g"), col("v"),
        col("side") === "a", col("side") === "b")
      .select("n_a", "ks").as[(Long, Option[Double])].head()
    assert(k == ((1L, Some(0.0))))
  }

  test("AUC excludes NULL labels instead of coercing them to negatives") {
    // Without the guard, the NULL-label row counts as a negative ranked
    // above the positive and drags a perfect AUC to 0.5.
    val df = Seq(("g", 3.0, Some(true)), ("g", 1.0, Some(false)),
      ("g", 5.0, None)).toDF("g", "s", "y")
    val a = Eval.aucByGroup(df, Seq("g"), col("s"), col("y"))
      .select("n", "auc").as[(Long, Option[Double])].head()
    assert(a == ((2L, Some(1.0))))
  }

  test("CUSUM: accumulation, alarm, post-alarm reset — hand-computed") {
    import graft.streaming.ChangePoint
    // k=5, h=6: xs = 8,7,4,9,3 → s = 3, 5, 4, 8(ALARM→reset), 0
    val df = Seq((1L, 1L, 8.0), (1L, 2L, 7.0), (1L, 3L, 4.0),
      (1L, 4L, 9.0), (1L, 5L, 3.0)).toDF("u", "i", "x")
    val out = ChangePoint.cusum(df, "u", Seq("i"), "x", k = 5.0, h = 6.0)
      .orderBy("idx").select("s", "alarm")
      .as[(Double, Boolean)].collect().toSeq
    assert(out == Seq((3.0, false), (5.0, false), (4.0, false),
      (8.0, true), (0.0, false)))
  }

  test("keySkew: null keys excluded") {
    val df = Seq(("g", Some(1L)), ("g", Some(1L)), ("g", None)).toDF("g", "k")
    assert(Eval.keySkew(df, Seq("g"), "k")
      .select("n_rows").as[Long].head() == 2L)
  }

  private def chi2Rows(cells: Seq[(String, Long, Long)]) =
    cells.flatMap { case (cat, a, b) =>
      Seq.fill(a.toInt)(("g", cat, "A")) ++ Seq.fill(b.toInt)(("g", cat, "B"))
    }.toDF("g", "cat", "slice")

  private def chi2(cells: Seq[(String, Long, Long)]) =
    Eval.chi2ByGroup(chi2Rows(cells), Seq("g"), col("cat"),
        col("slice") === "A", col("slice") === "B")
      .select("n_a", "n_b", "n_cats", "chi2", "cramers_v")
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()

  test("chi2 drift: textbook 2x2 value, zero on identical mixes") {
    // cells (a,b): X=(10,30), Y=(20,40) → χ² = N(ad−bc)²/(r₁r₂c₁c₂)
    //   = 100·(10·40 − 20·30)² / (30·70·40·60) = 0.793650…
    val (na, nb, k, c2, v) = chi2(Seq(("X", 10L, 30L), ("Y", 20L, 40L)))
    assert((na, nb, k) == (30L, 70L, 2L))
    assert(math.abs(c2.get - 100.0 * 200.0 * 200.0 / (30.0 * 70.0 * 40.0 * 60.0)) < 1e-9)
    assert(math.abs(v.get - math.sqrt(c2.get / 100.0)) < 1e-12)
    // proportional slices → every cell term is exactly 0
    val same = chi2(Seq(("X", 10L, 20L), ("Y", 30L, 60L)))
    assert(same._4 == Some(0.0) && same._5 == Some(0.0))
  }

  test("chi2 drift: empty slice yields NULL, not zero") {
    val (na, nb, _, c2, v) = chi2(Seq(("X", 10L, 0L), ("Y", 20L, 0L)))
    assert(na == 30L && nb == 0L && c2.isEmpty && v.isEmpty)
  }

  private def rho(xs: Seq[Long], ys: Seq[Long]): Option[Double] = {
    val df = xs.zip(ys).map { case (a, b) => ("g", a, b) }.toDF("g", "x", "y")
    Eval.spearmanByGroup(df, Seq("g"), col("x"), col("y"))
      .select("rho").as[Option[Double]].head()
  }

  test("spearman: monotone=1, inverse=-1, tie case matches hand arithmetic") {
    // any monotone map is ρ = 1 regardless of spacing
    assert(rho(Seq(1L, 2L, 3L, 4L), Seq(1L, 4L, 9L, 16L)) == Some(1.0))
    assert(rho(Seq(1L, 2L, 3L, 4L), Seq(8L, 6L, 4L, 2L)) == Some(-1.0))
    // x = [1,2,2,3] (avg ranks 1, 2.5, 2.5, 4), y = [1,3,2,4]:
    // Pearson on ranks = 4.5/√(4.5·5) = √0.9
    val got = rho(Seq(1L, 2L, 2L, 3L), Seq(1L, 3L, 2L, 4L)).get
    assert(math.abs(got - math.sqrt(0.9)) < 1e-12, got.toString)
  }

  test("spearman: constant column is NULL (no ordering), not zero") {
    assert(rho(Seq(1L, 2L, 3L), Seq(7L, 7L, 7L)).isEmpty)
  }

  test("welch t: hand-computed statistic and dof, degenerate cases NULL") {
    def welch(a: Seq[Double], b: Seq[Double]) = {
      val df = (a.map(("g", _, "A")) ++ b.map(("g", _, "B"))).toDF("g", "v", "s")
      Eval.welchTByGroup(df, Seq("g"), col("v"),
          col("s") === "A", col("s") === "B")
        .select("t", "dof").as[(Option[Double], Option[Double])].head()
    }
    // A=[1,2,3] (mean 2, s²=1), B=[5,7] (mean 6, s²=2):
    // t = (2−6)/√(1/3 + 1) = −2√3; ν = (4/3)²/((1/9)/2 + 1) = 32/19
    val (t, dof) = welch(Seq(1, 2, 3), Seq(5, 7))
    assert(math.abs(t.get - (-2.0 * math.sqrt(3.0))) < 1e-11, t.toString)
    assert(math.abs(dof.get - 32.0 / 19.0) < 1e-11, dof.toString)
    // both slices constant → no spread to test against
    assert(welch(Seq(4, 4, 4), Seq(9, 9))._1.isEmpty)
    // a 1-element slice has no sample variance
    assert(welch(Seq(1, 2, 3), Seq(5))._1.isEmpty)
  }

  test("rank normalize: tie-average quantiles, identity columns kept, NULLs dropped") {
    val df = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, Some(20L)),
      (4L, Some(30L)), (5L, None)).toDF("id", "v")
      .withColumn("g", lit("g"))
    val got = Eval.rankNormalize(df, Seq("g"), col("v"))
      .select("id", "pct").as[(Long, Double)].collect().toMap
    // ranks (avg): 1, 2.5, 2.5, 4 over n=4 → pct = 2r̄/(2n)
    assert(got == Map(1L -> 0.25, 2L -> 0.625, 3L -> 0.625, 4L -> 1.0), got.toString)
    assert(!got.contains(5L)) // NULL score has no rank
  }

  test("benford: digit extraction, sub-1 exclusion, dense 9-digit report") {
    // digits: 1.0→1, 19.0→1, -25.5→2, 3.5→3, 9.0→9; 0.5 excluded → n=5
    val df = Seq(1.0, 19.0, -25.5, 3.5, 9.0, 0.5).map(("g", _)).toDF("g", "v")
    val got = Eval.benfordAudit(df, Seq("g"), col("v"))
      .orderBy("digit")
      .select("digit", "n_obs", "n_total", "obs_share", "abs_dev")
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == (1 to 9).map(_.toString)) // dense, ordered
    assert(got.forall(_._3 == 5L))
    val byDigit = got.map(r => r._1 -> r._2).toMap
    val want = Map("1" -> 2L, "2" -> 1L, "3" -> 1L, "9" -> 1L)
    assert(byDigit == (1 to 9).map(d =>
      d.toString -> want.getOrElse(d.toString, 0L)).toMap)
    // a never-occurring digit reads as deviation = its Benford p, not absence
    val d4 = got.find(_._1 == "4").get
    assert(d4._2 == 0L && d4._4 == 0.0 && d4._5 == 0.09691001300805642)
    // an observed digit's share is the exact division
    assert(byDigit("1") == 2L && got.find(_._1 == "1").get._4 == 2.0 / 5.0)
  }
}
