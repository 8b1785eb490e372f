package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Container-similarity correctness: hand-computed pairs, planted forks,
  * distinct-semantics edge cases, a brute-force driver-side oracle over a
  * seeded corpus, the DF-cap contract, the MinHash-path equality vs the
  * exact path, and partition-layout invariance.
  */
class ContainerOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "text", "source")

  /** Driver-side oracle: per-source distinct 3-gram string sets. */
  private def bruteSets(rows: Seq[(Long, String, String)]): Map[String, Set[String]] =
    rows.groupBy(_._3).map { case (src, rs) =>
      src -> rs.flatMap { case (_, text, _) =>
        val t = text.trim.split("\\s+").toSeq
        if (t.size < 3) Nil else t.sliding(3).map(_.mkString(" ")).toSeq
      }.toSet
    }

  private def collectPairs(df: DataFrame): Map[(String, String), (Long, Long, Long, Long, Double, Double, Boolean, Boolean)] =
    df.collect().map { r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_inter"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Long]("n_union"), r.getAs[Double]("jaccard"),
          r.getAs[Double]("containment"), r.getAs[Boolean]("near_dup"),
          r.getAs[Boolean]("fork_like")))
    }.toMap

  test("containerSimilarity: hand-computed two-source overlap") {
    // A: "a b c d" -> {"a b c","b c d"}; B: "a b c e" -> {"a b c","b c e"}
    val d = docs((1L, "a b c d", "A"), (2L, "a b c e", "B"))
    val got = collectPairs(ContainerOps.containerSimilarity(d))
    assert(got.keySet == Set(("A", "B")))
    val (ni, na, nb, nu, j, c, nd, fl) = got(("A", "B"))
    assert(ni == 1L && na == 2L && nb == 2L && nu == 3L)
    assert(j == 1.0 / 3.0 && c == 0.5)
    assert(nd && fl) // 1*20 >= 3; 1*10 >= 2
  }

  test("containerSimilarity: disjoint sources emit no pair row") {
    val d = docs((1L, "a b c", "A"), (2L, "x y z", "B"))
    assert(ContainerOps.containerSimilarity(d).count() == 0L)
  }

  test("containerSimilarity: duplicate docs do not inflate the container set") {
    // A holds the same doc twice; B holds it once -> identical sets.
    val d = docs((1L, "a b c d", "A"), (2L, "a b c d", "A"),
      (3L, "a b c d", "B"))
    val (ni, na, nb, nu, j, c, _, _) = collectPairs(
      ContainerOps.containerSimilarity(d))(("A", "B"))
    assert(ni == 2L && na == 2L && nb == 2L && nu == 2L)
    assert(j == 1.0 && c == 1.0)
  }

  test("containerSimilarity: planted fork trips fork_like but not near_dup") {
    // base: 80 distinct-gram docs; fork: copies of 3 base docs + 1 unique.
    // Containment high (fork signal), Jaccard diluted by base's size
    // (inter=9, union=252: 9*20 < 252 so near_dup stays off).
    def sentence(i: Int): String = s"w${i}a w${i}b w${i}c w${i}d w${i}e"
    val base = (0 until 80).map(i => (i.toLong, sentence(i), "base"))
    val fork = (0 until 3).map(i => (100L + i, sentence(i), "fork")) :+
      ((200L, "unique fork only doc here", "fork"))
    val d = docs((base ++ fork): _*)
    val exp = bruteSets(base ++ fork)
    val inter = (exp("base") intersect exp("fork")).size.toLong
    val (ni, na, nb, nu, _, c, nd, fl) = collectPairs(
      ContainerOps.containerSimilarity(d))(("base", "fork"))
    assert(ni == inter && na == exp("base").size && nb == exp("fork").size)
    assert(nu == na + nb - ni)
    assert(fl, "containment >= 1/10 must flag the fork")
    assert(!nd, s"jaccard $ni/$nu must stay under the mirror threshold")
    assert(c == ni.toDouble / math.min(na, nb))
  }

  test("containerSimilarity: brute-force equality on a seeded corpus") {
    val rnd = new scala.util.Random(56)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val rows = (1L to 120L).map { id =>
      val n = 3 + rnd.nextInt(15)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"s${rnd.nextInt(6)}")
    }
    val exp = bruteSets(rows)
    val got = collectPairs(ContainerOps.containerSimilarity(docs(rows: _*)))
    val expPairs = for {
      a <- exp.keys.toSeq; b <- exp.keys.toSeq if a < b
      inter = (exp(a) intersect exp(b)).size if inter > 0
    } yield (a, b)
    assert(got.keySet == expPairs.toSet)
    expPairs.foreach { case (a, b) =>
      val (ni, na, nb, nu, j, c, nd, fl) = got((a, b))
      val ei = (exp(a) intersect exp(b)).size.toLong
      val (ea, eb) = (exp(a).size.toLong, exp(b).size.toLong)
      assert(ni == ei && na == ea && nb == eb && nu == ea + eb - ei)
      assert(j == ei.toDouble / (ea + eb - ei))
      assert(c == ei.toDouble / math.min(ea, eb))
      assert(nd == (ei * ContainerOps.NearDupDen >= ea + eb - ei))
      assert(fl == (ei * ContainerOps.ForkDen >= math.min(ea, eb)))
    }
  }

  test("containerSimilarity: DF cap drops boilerplate grams from every set") {
    // "h1 h2 h3" lives in 3 containers -> dropped at dfCap=2 everywhere;
    // the remaining per-container grams are disjoint -> no pair rows at
    // all once the shared gram is capped.
    val d = docs(
      (1L, "h1 h2 h3 a1 a2", "A"), // grams: h1h2h3, h2h3a1, h3a1a2
      (2L, "h1 h2 h3 b1 b2", "B"),
      (3L, "h1 h2 h3 c1 c2", "C"))
    val uncapped = ContainerOps.containerSimilarity(d)
    assert(uncapped.count() == 3L) // every pair shares the header gram
    val capped = ContainerOps.containerSimilarity(d, dfCap = 2)
    assert(capped.count() == 0L)
  }

  test("containerMinhashPairs equals the exact path at its threshold") {
    val rnd = new scala.util.Random(57)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val rows = (1L to 150L).map { id =>
      val n = 3 + rnd.nextInt(12)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"s${rnd.nextInt(8)}")
    }
    val d = docs(rows: _*)
    val all = ContainerOps.containerSimilarity(d)
      .select("src_a", "src_b", "n_inter", "n_union", "jaccard")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(all.length > 4, "seeded corpus must produce a pair spread")
    // threshold at the 3rd-highest observed jaccard: >=3 pairs pass,
    // the rest (strictly below) are cut — the test discriminates both ways
    val threshold = all.map(_._5).sorted(Ordering[Double].reverse)(2)
    val exact = all.filter(_._5 >= threshold).toSet
    val mh = ContainerOps.containerMinhashPairs(d, threshold = threshold)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(mh == exact, s"minhash=$mh exact=$exact")
    assert(exact.size < all.length, "threshold must cut some pairs")
    // the size-switch shuffle path must be value-identical
    val mhShuffle = ContainerOps.containerMinhashPairs(d,
        threshold = threshold, broadcastCandidates = false)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(mhShuffle == exact)
  }

  test("containerMinhashPairs runs at its default threshold") {
    // default 0.05 bands as (1, 64): a pair at jaccard 0.3 is missed with
    // probability 0.7^64 < 1e-9, and every emitted pair is verified exactly
    val rnd = new scala.util.Random(91)
    val vocab = Vector("a", "b", "c", "d")
    val d = docs((1L to 60L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "), s"s${rnd.nextInt(6)}")
    }: _*)
    def rows(df: DataFrame) = df
      .select("src_a", "src_b", "n_inter", "n_union", "jaccard")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val exact = rows(ContainerOps.containerSimilarity(d))
      .filter(_._5 >= 0.05)
    val mh = rows(ContainerOps.containerMinhashPairs(d))
    assert(exact.exists(_._5 >= 0.3), "seeded corpus must hold close pairs")
    assert(mh.subsetOf(exact), s"minhash=$mh exact=$exact")
    assert(exact.filter(_._5 >= 0.3).subsetOf(mh), s"minhash=$mh exact=$exact")
  }

  test("containerClusters: keep-the-largest canonical, chains, singletons") {
    // universe: A(3 docs), B(2), C(4), D(1); chain A~B~C (C largest
    // must win despite B being the bridge), D singleton
    val d = docs(
      (1L, "a b c", "A"), (2L, "d e f", "A"), (3L, "g h i", "A"),
      (4L, "j k l", "B"), (5L, "m n o", "B"),
      (6L, "p q r", "C"), (7L, "s t u", "C"), (8L, "v w x", "C"),
      (9L, "y z aa", "C"),
      (10L, "bb cc dd", "D"))
    val pairs = Seq(("A", "B"), ("B", "C")).toDF("src_a", "src_b")
    val got = ContainerOps.containerClusters(d, pairs).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("A") == (("A", 3L, 3L, false)))
    assert(got("B") == (("A", 3L, 2L, false)))
    assert(got("C") == (("A", 3L, 4L, true)), "largest container must win")
    assert(got("D") == (("D", 1L, 1L, true)), "singleton keeps itself")
  }

  test("containerClusters: doc-count tie breaks by container name") {
    val d = docs((1L, "a b c", "A"), (2L, "d e f", "B"))
    val pairs = Seq(("A", "B")).toDF("src_a", "src_b")
    val keep = ContainerOps.containerClusters(d, pairs).collect()
      .map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(keep == Map("A" -> true, "B" -> false))
  }

  test("containerSimilarity: partition-layout invariance") {
    val rnd = new scala.util.Random(58)
    val vocab = Vector("p", "q", "r", "s", "t", "u")
    val rows = (1L to 80L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "), s"s${rnd.nextInt(4)}")
    }
    val d = docs(rows: _*)
    val a = collectPairs(ContainerOps.containerSimilarity(d.repartition(1)))
    val b = collectPairs(ContainerOps.containerSimilarity(d.repartition(7)))
    assert(a == b)
  }
}
