package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BenchData's planted tiers and the sf10 replica-scramble invariants.
  *
  * The planted dedupskew and clusterschain tiers are measured by plain
  * Bench runs, so their planting algebra is pinned here at spec speed:
  * a drifted plant would otherwise only show as a changed wall time.
  *
  * The scramble (BenchData.writeScaled with scramble = true): The whole point of the scramble is the GROUP-SIZE
  * contract: an sf1 near-dup clone family must stay a family within
  * each sf10 replica, while the replicas of one doc must NOT be
  * near-dups of each other under ANY of the engine's similarity bases
  * (3-shingles for minhash/jaccard/containment, unigram multisets for
  * simhash, identical floats for the embedding tiers). The first sf10
  * cut appended a single token per replica and silently compounded
  * group size to ~100 — these tests pin the properties that prevented
  * failure mode from coming back. */
class ScaleDataSpec extends AnyFunSuite with SparkSuite {

  private lazy val chainDir = {
    val out = Files.createTempDirectory("graft_chain_tier").toString
    BenchData.writeClustersChain(spark, SF, out)
    out
  }

  private lazy val dedupSkewDir = {
    val out = Files.createTempDirectory("graft_dedupskew_tier").toString
    BenchData.writeDedupSkew(spark, SF, out)
    out
  }

  test("planted chain: lag-1 shingle jaccard verifies, lag-2 does not, zero corpus collision") {
    val sh = spark.read.parquet(s"$chainDir/documents.parquet")
      .withColumn("sh", expr(
        s"shingles3_h64(${graft.operators.Dedup.toksSpark})"))
      .select(col("doc_id"), col("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val base = BenchData.chainBaseId
    val last = BenchData.ChainLen - 1L
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(base + a), sh(base + b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    // the W=38/S=3 sliding window: 33/39 ≈ 0.846 at lag 1 (>= the 0.8
    // verify threshold), 30/42 ≈ 0.714 at lag 2 (< threshold) — the
    // duplicate graph must be exactly a path
    (0L until last).foreach { i =>
      assert(jac(i, i + 1) >= 0.8 && jac(i, i + 1) < 0.9,
        s"lag-1 jaccard off at $i: ${jac(i, i + 1)}")
    }
    (0L until last - 1).foreach { i =>
      assert(jac(i, i + 2) < 0.8, s"lag-2 must not verify at $i: ${jac(i, i + 2)}")
    }
    // fresh-token isolation: no chain shingle may appear in any base doc
    val chainShingles = (0L to last).flatMap(i => sh(base + i)).toSet
    val collisions = sh.collect {
      case (id, s) if id < base => s.intersect(chainShingles).size
    }.sum
    assert(collisions === 0, "chain tokens must not collide with the corpus")
  }

  test("dedupskew tier: hot template x512, odd-id mega family x1e4, complete layouts") {
    val docs = Tables.load(spark, SF, "documents")
    val template = docs.filter(size(split(col("text"), "\\s+")) >= 12)
      .orderBy("doc_id").limit(1).select("text").head().getString(0)
    val planted = spark.read.parquet(s"$dedupSkewDir/documents.parquet")
    assert(planted.count() === docs.count() + BenchData.HotTemplateMult)
    // the template exactly ×512, plus the original
    val copies = planted
      .filter(col("text") === template || col("text").startsWith(s"$template rep"))
      .select("text").collect().map(_.getString(0))
    assert(copies.count(_ == template) === 1)
    assert(copies.filter(_ != template).toSet ===
      (1 to BenchData.HotTemplateMult).map(i => s"$template rep$i").toSet)
    assert(copies.length === 1 + BenchData.HotTemplateMult)

    // the mega family: exactly ×10⁴ added rows, all odd ids, all the
    // min-vec_id vector
    val emb = Tables.load(spark, SF, "embeddings")
    val family = spark.read.parquet(s"$dedupSkewDir/embeddings.parquet")
      .join(emb.select("vec_id"), Seq("vec_id"), "left_anti")
    assert(family.count() === BenchData.MegaDupMult)
    assert(family.select("vec_id").distinct().count() === BenchData.MegaDupMult)
    assert(family.filter(col("vec_id") % 2 =!= 1).count() === 0)
    val vector = emb.orderBy("vec_id").limit(1).select("embedding").head().getSeq[Float](0)
    assert(family.select("embedding").distinct().collect()
      .map(_.getSeq[Float](0)).toSeq === Seq(vector))

    for (dir <- Seq(dedupSkewDir, chainDir); t <- Tables.names)
      assert(Files.isDirectory(Paths.get(s"$dir/$t.parquet")), s"$dir lacks $t")
  }

  private val baseText =
    "batch part spark line column order small sort column sort fast " +
      "value scan sort a hash sort slow spark group fast batch grid " +
      "window join key stream filter table query agg vector customer"

  /** text × __rep frame with the scramble applied (rep 0 verbatim, as
    * writeScaled does). */
  private def scrambled(texts: Seq[String], reps: Seq[Int]) = {
    import spark.implicits._
    texts.flatMap(t => reps.map(r => (t, r))).toDF("text", "__rep")
      .withColumn("out",
        when(col("__rep") === 0, col("text"))
          .otherwise(expr(BenchData.ScrambledTextSql)))
  }

  private def shingles(s: String): Set[Seq[String]] =
    s.split(" ").toSeq.sliding(3).map(_.toSeq).toSet

  private def jaccard(a: Set[Seq[String]], b: Set[Seq[String]]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("scramble is deterministic and keeps rep 0 verbatim") {
    val out1 = scrambled(Seq(baseText), 0 to 3).select("__rep", "out")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val out2 = scrambled(Seq(baseText), 0 to 3).select("__rep", "out")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out1 === out2, "scramble must be a pure function of (text, __rep)")
    assert(out1(0) === baseText)
    assert((1 to 3).forall(r => out1(r) !== baseText))
  }

  test("one sf1 clone family scrambles into a family per replica") {
    // an sf1 family: the base doc and its ' repN'-suffixed clones
    val family = Seq(baseText, s"$baseText rep1", s"$baseText rep7")
    val rows = scrambled(family, Seq(2)).select("text", "out").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val sh = family.map(t => shingles(rows(t)))
    // members differ by ONE trailing token pre-scramble; position-keyed
    // scrambling must keep them 3-shingle near-dups (the suffix token
    // moves to a seeded position — a 1-token splice, not a reshuffle)
    for (Seq(a, b) <- sh.combinations(2))
      assert(jaccard(a, b) >= 0.8,
        s"family members must stay near-dups within a replica, got ${jaccard(a, b)}")
  }

  test("replicas of one doc are near-dups under NO similarity basis") {
    val perRep = scrambled(Seq(baseText), 0 to 4).select("__rep", "out")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    // 3-shingle basis (minhash/jaccard/containment/clusters edges)
    for (Seq(i, j) <- (0 to 4).combinations(2))
      assert(jaccard(shingles(perRep(i)), shingles(perRep(j))) <= 0.2,
        s"replicas $i/$j still share shingles")
    // unigram basis (simhash is order-invariant — a permutation alone
    // would leave identical signatures): ~30% of tokens must differ
    val base = baseText.split(" ").toSeq
    for (r <- 1 to 4) {
      val kept = perRep(r).split(" ").count(base.contains)
      val frac = kept.toDouble / base.size
      assert(frac > 0.45 && frac < 0.9,
        s"replica $r retains $frac of unigrams — replacement off target")
    }
  }

  test("embedding scramble: one value per (vector, replica), exact-dup groups preserved") {
    import spark.implicits._
    val v = Seq.tabulate(8)(i => 0.1f * i)
    val w = Seq.tabulate(8)(i => -0.2f * i)
    // two sf1 copies of v (distinct ids, same floats) + one of w
    val df = Seq((1L, v), (2L, v), (3L, w))
      .toDF("vec_id", "embedding")
      .withColumn("__rep", explode(expr("sequence(0, 2)")))
      .withColumn("__vh",
        expr("xxhash64(concat_ws(',', transform(embedding, x -> cast(x AS string))))"))
      .withColumn("out",
        when(col("__rep") === 0, col("embedding"))
          .otherwise(expr(BenchData.ScrambledVecSql)))
    val rows = df.select("vec_id", "__rep", "out").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    // copies of the same input vector agree within every replica...
    for (r <- 0 to 2) assert(rows((1L, r)) === rows((2L, r)))
    // ...replicas differ from each other and from the original...
    assert(rows((1L, 0)) === v)
    assert(rows((1L, 1)) !== v)
    assert(rows((1L, 1)) !== rows((1L, 2)))
    // ...distinct input vectors get distinct replacements...
    assert(rows((1L, 1)) !== rows((3L, 1)))
    // ...and components stay in the corpus's [-1, 1] shape
    assert(rows((1L, 1)).forall(x => x >= -1.0f && x <= 1.0f))
  }
}
