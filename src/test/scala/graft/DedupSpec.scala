package graft

import org.apache.spark.sql.functions.{col, expr, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkSuite {

  test("minhash-LSH finds exactly the exact-jaccard pairs (certified recall)") {
    val exact = Dedup.ngramJaccard(spark, SF)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, SF)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data must contain planted near-dups")
    assert(lsh === exact,
      s"LSH missed ${exact.diff(lsh)} / fabricated ${lsh.diff(exact)}")
    spark.catalog.clearCache()
  }

  test("near-dup pairs are also close in simhash space") {
    val jacPairs = Dedup.ngramJaccard(spark, SF)
      .filter("jaccard >= 0.95")
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simPairs = Dedup.simhashPairs(spark, SF)
      .select("doc_i", "doc_j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = jacPairs.count(simPairs.contains)
    // 2*found avoids Int-division vacuity (size/2 == 0 for one pair)
    assert(jacPairs.isEmpty || (found >= 1 && 2 * found >= jacPairs.size),
      s"simhash found $found of ${jacPairs.size} very-near dups at hamming<=3")
    spark.catalog.clearCache()
  }

  test("large-star/small-star closes the past-cap chain min-label cannot, in O(log^2) rounds") {
    import spark.implicits._
    // a 40-node path: label propagation one hop per round would need
    // 39 rounds; the star alternation must close it in a handful
    val docs = (1L to 40L).toDF("doc_id")
    val pairs = (1L to 39L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val (labels, rounds) = Dedup.propagateLabelsStar(spark, docs, pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 40L).forall(got(_) == 1L), s"chain must collapse to min label, got $got")
    assert(rounds <= 12, s"star alternation must be diameter-proof, ran $rounds rounds")
    spark.catalog.clearCache()
  }

  test("componentLabels matches a union-find on random, path and star graphs") {
    import spark.implicits._
    // reference labels: union-find, each root the minimum of its set
    def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to n).map(i => i -> find(i)).toMap
    }
    // 120 nodes, ~90 hash-derived edges among the first 100, so docs
    // 101..120 have no edge and must label themselves
    val random = (1 to 90).map { i =>
      val a = 1L + math.floorMod(i * 7919L, 100L)
      val b = 1L + math.floorMod(i * 104729L + 13L, 100L)
      (a, b)
    }.filter { case (a, b) => a != b }
    val graphs = Seq(
      ("random", 120L, random),
      ("12-node path", 12L, (1L to 11L).map(i => (i, i + 1))),
      ("40-node path", 40L, (1L to 39L).map(i => (i, i + 1))),
      // hub 31 above its leaves: every leaf's label must move to 1
      ("30-leaf star", 31L, (1L to 30L).map(i => (31L, i))))
    graphs.foreach { case (name, n, edges) =>
      val got = Dedup.componentLabels(spark, (1L to n).toDF("doc_id"),
        edges.toDF("doc_i", "doc_j"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      assert(got === unionFind(n, edges), s"$name: labels differ from union-find")
    }
  }

  test("clusters: pair endpoints co-clustered, keeper is component min") {
    val labels = Dedup.clusters(spark, SF).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val pairs = Dedup.minhashLsh(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    spark.catalog.clearCache()
    assert(pairs.nonEmpty)
    pairs.foreach { case (i, j) =>
      assert(labels(i) === labels(j), s"pair ($i,$j) split across clusters")
    }
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid === members.keys.min, s"cluster $cid keeper is not the min doc_id")
    }
  }

  test("DF cap: a planted hot shingle stops inflating the candidate join") {
    import spark.implicits._
    // 40 docs that all share one ubiquitous phrase (a hot shingle) but
    // are otherwise pairwise unrelated, plus one genuine near-dup pair.
    val boiler = "terms and conditions apply"
    val unrelated = (1L to 40L).map(i =>
      (i, s"$boiler document number $i speaks about topic${i}a topic${i}b topic${i}c topic${i}d"))
    // the dup pair carries the boilerplate too, so part of its true
    // intersection is HOT shingles — the capped jaccard must re-add
    // that contribution exactly, not just match on cold shingles
    val dup = Seq(
      (100L, s"$boiler the quick brown fox jumps over the lazy dog again and again today"),
      (101L, s"$boiler the quick brown fox jumps over the lazy dog again and again tonight"))
    val docs = Dedup.signatures((unrelated ++ dup).toDF("doc_id", "text"))
    val uncapped = Dedup.ngramCandidates(docs, maxDf = Long.MaxValue).count()
    spark.catalog.clearCache()
    val capped = Dedup.ngramCandidates(docs, maxDf = 8).count()
    spark.catalog.clearCache()
    // every doc shares the boilerplate shingles -> uncapped candidates
    // are quadratic in the corpus; the cap removes exactly that blowup
    assert(uncapped >= 40L * 39 / 2, s"hot shingle should fan out, got $uncapped")
    assert(capped === 1, s"capped candidates should be just the dup pair, got $capped")
    // and the final pair set AND exact jaccard values (incl. the hot
    // shingles' contribution to the intersection) are identical
    val full = Dedup.ngramJaccardCapped(docs, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    spark.catalog.clearCache()
    val withCap = Dedup.ngramJaccardCapped(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full.keySet === Set((100L, 101L)) && withCap === full)
    spark.catalog.clearCache()
  }

  test("containment recall under the DF cap: an all-hot-overlap pair is dropped by design") {
    import spark.implicits._
    // The documented recall trade (Dedup.containmentSql scaladoc): a
    // SHORT doc made entirely of boilerplate shares only HOT shingles
    // with its containing superset, so the capped operator cannot see
    // the pair — and the DuckDB oracle mirrors the same cap, so the two
    // stay in agreement rather than silently diverging on templated
    // corpora. Containment is the axis where this matters: the short
    // doc's denominator makes the uncapped score a full 1.0.
    val boiler = "all rights reserved by the operator"
    val carriers = (1L to 12L).map(i =>
      (i, s"unique lead$i $boiler unique tail${i}a tail${i}b tail${i}c"))
    val short = (100L, boiler)
    val long = (101L, s"$boiler plus a genuinely unique continuation sentence here")
    val docs = Dedup.signatures((carriers :+ short :+ long).toDF("doc_id", "text"))
    def pairs(maxDf: Long): Set[(Long, Long)] =
      try Dedup.containmentCapped(docs, maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally spark.catalog.clearCache()
    // uncapped: short ⊂ long -> containment(100 -> 101) = 1.0 reported
    assert(pairs(Long.MaxValue).contains((100L, 101L)),
      "uncapped containment must report the embedded short doc")
    // capped at 8: every shingle of the short doc has DF 14 > 8, so the
    // pair shares no cold shingle and is invisible — intended recall
    // semantics, matched by the capped oracle
    assert(!pairs(8L).contains((100L, 101L)),
      "capped containment must drop the all-hot-overlap pair by design")
    spark.catalog.clearCache()
  }

  test("simhash banding: 6x10-bit bands find the same hamming<=3 pairs as 4x15") {
    val p4 = Dedup.simhashPairs(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val p6 = Dedup.simhashPairs(spark, SF, nBands = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both band counts are exact for hamming <= 3 by pigeonhole, so the
    // pair sets must agree perfectly
    assert(p4 === p6)
    spark.catalog.clearCache()
  }

  test("wide simhash banding finds exactly the brute-force hamming<=3 pairs") {
    import org.apache.spark.sql.functions._
    val banded = Dedup.simhashWidePairs(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force all-pairs over the same 120-bit signatures (fine at
    // spec scale; the nested-loop here is the point of comparison)
    val sims = Dedup.simhashesWide(spark, SF)
    val brute = sims.as("a").join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo")))
          + bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "test data must contain wide-simhash near-dups")
    // 4 disjoint 30-bit bands are exact for hamming <= 3 by pigeonhole
    assert(banded === brute,
      s"banding missed ${brute.diff(banded)} / fabricated ${banded.diff(brute)}")
    spark.catalog.clearCache()
  }

  test("clusters reliable-checkpoint path matches the local path") {
    val local = Dedup.clusters(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Dedup.clusters(spark, SF).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(reliable === local)
      // the alternating-slot layout keeps exactly one pair of slots
      val slots = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("slot")).count()
      assert(slots === 2, s"expected 2 alternating slots, saw $slots")
    } finally {
      // Option(null) → None inside setCheckpointDir: genuinely clears
      // the dir so later clusters() calls exercise the local path again
      spark.sparkContext.setCheckpointDir(null)
      spark.catalog.clearCache()
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "checkpoint dir must be cleared for later suites")
    }
  }

  test("exact dedup keeps one keeper per distinct text") {
    val docs = Tables.load(spark, SF, "documents").count()
    val dedup = Dedup.exact(spark, SF)
    assert(dedup.count() <= docs)
    assert(dedup.selectExpr("sum(n_copies)").head().getLong(0) === docs)
  }

  test("embedding near-dup join is symmetric-free (i < j) and thresholded") {
    val df = Dedup.embeddingCosine(spark, SF)
    assert(df.filter("vec_i >= vec_j").count() === 0)
    assert(df.filter("cosine < 0.45").count() === 0)
  }

  test("LSH embedding dedup finds every planted near-dup through equi-join banding") {
    val df = Dedup.embeddingLsh(spark, SF)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"LSH dedup must be equi-join banding, not a pair product:\n$plan")
    val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every planted copy (vec_id % 20 == 0 → vec_id + 1e6) must pair
    // with its original at high cosine
    val n = Tables.load(spark, SF, "embeddings").count()
    val planted = (0L until n by Dedup.lshPlantStride)
      .map(v => (v, v + Dedup.lshPlantOffset)).toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found),
      s"banding missed planted pairs: ${planted.diff(found)}")
    assert(pairs.forall(_._3 >= 0.9))
    spark.catalog.clearCache()
  }

  test("LSH band geometry trades work, never results") {
    // the wide (16-bit × 64-band) geometry the corpus-size pick engages
    // past 50k vectors must return the SAME pair set as the small-corpus
    // (8-bit × 16-band) default — both verify candidates exactly, and
    // the band count is sized for narrow-parity miss probability at the
    // 0.9 threshold (0.37% vs 0.42%), so geometry may only change
    // candidate-enumeration cost
    val narrow = Dedup.embeddingLshWith(spark, SF, Some((8, 16)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    val wide = Dedup.embeddingLshWith(spark, SF, Some((16, 64)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(narrow === wide)
    // the 20-bit ultra rung packs 3 bands per signature word (top 4
    // bits unused) — same pair set, same exact verification
    val ultra = Dedup.embeddingLshWith(spark, SF, Some((20, 120)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(narrow === ultra)
    // the 24-bit mega rung: cross-word flat packing, 5440-bit signature
    val mega = Dedup.embeddingLshWith(spark, SF, Some((24, 225)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(narrow === mega)
    // the designed post-8192 rung (RUNBOOK "LSH band ladder past 8192
    // bits", machinery shipped r22): 28-bit × 420 bands off an
    // 11776-bit signature via cross-word band extraction — the pair
    // set must match every other geometry, pinning both the raised
    // vec_sig cap and the straddling bit-slice before the rung is
    // ever engaged by a corpus-size pick
    val huge = Dedup.embeddingLshWith(spark, SF, Some((28, 420)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(narrow === huge)
    assert(Dedup.lshBandGeometry(50000L) === ((8, 16)))
    assert(Dedup.lshBandGeometry(50001L) === ((16, 64)))
    assert(Dedup.lshBandGeometry(1000000L) === ((16, 64)))
    assert(Dedup.lshBandGeometry(1000001L) === ((20, 120)))
    assert(Dedup.lshBandGeometry(2000000L) === ((20, 120)))
    assert(Dedup.lshBandGeometry(2000001L) === ((24, 225)))
  }

  test("LSH exact-duplicate collapse is output-identical to brute force on a dup-rich corpus") {
    // the r20 sf100sub autopsy: scaled corpora carry ~10 EXACT
    // duplicates per distinct vector, and duplicate pairs collide in
    // EVERY band — the collapse (band reps only, expand member pairs)
    // must reproduce the full-corpus result exactly. Fixture: 40
    // well-separated random unit-ish vectors, each duplicated 2–5×
    // with distinct ids, plus a 0.99-near copy of every 4th base —
    // every qualifying pair is ≥ 0.97, where banding miss ≈ 1e-9, so
    // brute force IS the expected output.
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val bases = Seq.tabulate(40)(_ => Array.fill(64)(rnd.nextFloat() * 2f - 1f))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float])]
    var id = 0L
    bases.zipWithIndex.foreach { case (v, bi) =>
      (0 until 2 + bi % 4).foreach { _ =>          // 2–5 exact copies
        rows += ((id, v.toSeq)); id += 1
      }
      if (bi % 4 == 0) {                           // a near-dup: one coord nudged
        val near = v.clone(); near(bi % 64) = near(bi % 64) * 0.7f
        rows += ((id, near.toSeq)); id += 1
      }
    }
    val corpus = rows.toSeq.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Dedup.embeddingLshOver(corpus, forceGeometry = Some((16, 64)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    // brute-force reference via the same native expressions
    val e = corpus.withColumn("norm", expr("vec_norm(embedding)"))
    val expected = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", org.apache.spark.sql.functions.round(
        expr("vec_dot(a.embedding, b.embedding)") / (col("a.norm") * col("b.norm")), 6))
      .filter(col("cosine") >= 0.9)
      .select(col("a.vec_id"), col("b.vec_id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty && expected.exists(_._3 < 1.0),
      "fixture must exercise both within-group (cos 1.0) and cross-group pairs")
    assert(got === expected)
    spark.catalog.clearCache()
  }

  /** Textbook two-row DP — independent of both engines' levenshtein. */
  private def levRef(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    val curr = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      curr(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        curr(j) = math.min(math.min(prev(j) + 1, curr(j - 1) + 1), sub)
      }
      Array.copy(curr, 0, prev, 0, curr.length)
    }
    prev(b.length)
  }

  test("levenshtein pairs == brute-force near-dups reachable by the blocking") {
    val texts = Tables.load(spark, SF, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // brute force with the |len diff| <= maxDist necessary condition as
    // the only prefilter (any pair it skips has distance > maxDist)
    val expected = (for {
      i <- texts.indices.iterator
      j <- (i + 1) until texts.length
      (ida, ta) = texts(i); (idb, tb) = texts(j)
      if math.abs(ta.length - tb.length) <= Dedup.levMaxDist
      d = levRef(ta, tb)
      if d <= Dedup.levMaxDist
    } yield (ida, idb, d)).toVector
    assert(expected.nonEmpty, "test data must contain edit-distance near-dups")
    val reachable = expected.filter { case (ida, idb, _) =>
      val (ta, tb) = (texts.find(_._1 == ida).get._2, texts.find(_._1 == idb).get._2)
      ta.take(Dedup.levBlockChars) == tb.take(Dedup.levBlockChars) ||
        ta.takeRight(Dedup.levBlockChars) == tb.takeRight(Dedup.levBlockChars)
    }
    val got = Dedup.levenshteinPairs(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toVector
    assert(got.toSet === reachable.toSet,
      s"missed ${reachable.toSet.diff(got.toSet)} / fabricated ${got.toSet.diff(reachable.toSet)}")
    // on this corpus the two-key blocking reaches EVERY true pair
    assert(reachable.size === expected.size,
      s"blocking recall ${reachable.size}/${expected.size} regressed on test data")
  }

  test("lev blocking: key-DF cap bounds a templated prefix, S-key recall survives") {
    import spark.implicits._
    // 40 template instances share one 16-char prefix (hot P-key) but
    // diverge immediately after — pairwise edit distance far above the
    // threshold, yet the uncapped P-key block fans them out ~40²/2.
    val tmpl = "TEMPLATE-HEADER " // exactly levBlockChars = 16 chars
    assert(tmpl.length === Dedup.levBlockChars)
    val instances = (1L to 40L).map(i =>
      (i, tmpl + s"wildly divergent body number $i " + ("x" * (i % 7).toInt + i.toString) * 5))
    // a genuine near-dup pair that shares the hot prefix AND an intact
    // suffix: the cap drops its P-key block, but the S-key block must
    // still surface it (the documented two-key recall property)
    val dup = Seq(
      (100L, tmpl + "alpha beta gamma delta epsilon zeta the shared tail is intact"),
      (101L, tmpl + "alpha beta gamma delta epsilonn zeta the shared tail is intact"))
    val docs = (instances ++ dup).toDF("doc_id", "text")
    val uncapped = Dedup.levCandidates(docs, maxKeyDf = Long.MaxValue).count()
    val capped = Dedup.levCandidates(docs, maxKeyDf = 8)
    // the length prune keeps the uncapped count below the raw 42·41/2,
    // but the hot prefix still fans out; the cap removes that blowup
    assert(uncapped > capped.count(), "hot P-key should fan out uncapped")
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedPairs.contains((100L, 101L)),
      "S-key must recover the near-dup pair after its P-key block is capped")
    // end-to-end: the verified pair set under the cap keeps the planted
    // near-dup with the right distance
    val got = capped
      .withColumn("lev_dist", org.apache.spark.sql.functions.levenshtein(
        org.apache.spark.sql.functions.col("text_i"),
        org.apache.spark.sql.functions.col("text_j"), Dedup.levMaxDist))
      .filter(org.apache.spark.sql.functions.col("lev_dist") =!= -1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(got === Set((100L, 101L, 1)), s"got $got")
    spark.catalog.clearCache()
  }

  test("containment catches a quoted subset that jaccard misses, in one direction only") {
    import spark.implicits._
    val quoted = "the quick brown fox jumps over the lazy dog today"
    val padding = (1 to 40).map(i => s"filler$i").mkString(" ")
    // doc 2 fully contains doc 1's text plus 40 unique tokens; doc 3/4
    // are a symmetric near-dup pair that must appear in BOTH directions
    val docs = Dedup.signatures(Seq(
      (1L, quoted),
      (2L, s"$quoted $padding"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text"))
    val got = Dedup.containmentCapped(docs, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) === 1.0, s"doc 1 is fully contained in doc 2: $got")
    assert(!got.contains((2L, 1L)), "the big doc is NOT contained in the small one")
    assert(got.contains((3L, 4L)) && got.contains((4L, 3L)),
      s"symmetric near-dups must surface in both directions: $got")
    spark.catalog.clearCache()
    // jaccard at 0.8 misses the subset pair — that's the operator's point
    val jac = Dedup.ngramJaccardCapped(docs, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), s"jaccard should dilute the subset pair: $jac")
    spark.catalog.clearCache()
  }

  test("paragraph dedup flags cross-doc repeated segments at 8-token boundaries") {
    import spark.implicits._
    val boiler = "terms of service apply to all content here" // exactly 8 tokens
    def uniq(tag: String) = (1 to 16).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${uniq("a")}"), // 3 segments, first shared with doc 2
      (2L, s"$boiler ${uniq("b")}"),
      (3L, uniq("c")),               // 2 segments, fully unique
      (4L, uniq("d")),               // 4/5: exact duplicates -> all dup
      (5L, uniq("d")),
      // 6/7: 9 tokens, unique but for one shared trailing word — the
      // 1-token tail segment is "duplicated", but dup_frac is TOKEN
      // weighted (1/9), so one stop-word must not cross the 0.5 line
      (6L, (1 to 8).map(i => s"f$i").mkString(" ") + " the"),
      (7L, (1 to 8).map(i => s"g$i").mkString(" ") + " the"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedupOver(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    assert(got(1L) === ((3L, 1L, true)), s"doc 1: one of three segments is boilerplate: $got")
    assert(got(2L) === ((3L, 1L, true)))
    assert(got(3L) === ((2L, 0L, true)))
    assert(got(4L) === ((2L, 2L, false)), "a fully-duplicated doc must be dropped")
    assert(got(5L) === ((2L, 2L, false)))
    assert(got(6L) === ((2L, 1L, true)),
      s"a shared 1-token tail weighs 1/9, not 1/2 — doc must survive: $got")
    assert(got(7L) === ((2L, 1L, true)))
    spark.catalog.clearCache()
    // linear plan: inverted count + re-join, never a pair self-join
    val plan = Dedup.paragraphDedup(spark, SF).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("incremental dedup pairs batch docs against the index only, never batch-vs-batch") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again at dawn"
    // ids 7 & 17 are batch (%10==7); 3 & 4 are index. 7≈17 (batch-batch
    // near-dup: must NOT pair), 7≈3 (batch-index: must pair), 4 unique.
    val docs = Seq(
      (7L, s"$base today"),
      (17L, s"$base tonight"),
      (3L, s"$base forever"),
      (4L, (1 to 20).map(i => s"unrelated$i").mkString(" ")))
      .toDF("doc_id", "text")
    // the in-memory index: the same probe dedup_incremental runs
    val sigs = Dedup.signatures(docs)
    val idx = sigs.filter(!Dedup.isBatch)
    val got = Dedup.probe(sigs.filter(Dedup.isBatch), Dedup.bandKeys(idx), idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((7L, 3L), (17L, 3L)),
      s"want batch→index pairs only (no 7↔17 batch-batch pair): $got")
    spark.catalog.clearCache()
  }

  test("normalized dedup collapses case/punctuation/whitespace variants exact dedup misses") {
    val norm = Dedup.normalizedDedup(spark, SF).collect()
    val exact = Dedup.exact(spark, SF).collect()
    // the synthetic corpus is already lowercase/space-separated, so the
    // group structure must match exact dedup's there (nothing collapses
    // beyond byte-identity) — the semantic difference is covered by the
    // crafted variants below. Compare the group structure itself (group
    // count + keeper set): sum(n_copies) is the document count for ANY
    // partition of the corpus and can never fail.
    assert(norm.length === exact.length,
      "on an already-normalized corpus no extra groups may collapse")
    assert(norm.map(_.getLong(0)).toSet === exact.map(_.getLong(0)).toSet,
      "keeper ids must match exact dedup's on an already-normalized corpus")
    import spark.implicits._
    val crafted = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "a different doc"))
      .toDF("doc_id", "text")
    val got = Dedup.normalizedDedupOver(crafted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) === ((3L, 3L)), s"three spellings of one normalized text: $got")
    assert(got(4L) === ((1L, 1L)))
  }

  test("embedding pair scan is a blocked equi-join, not a nested-loop product") {
    val plan = Dedup.embeddingCosine(spark, SF).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"exact pair scan must not plan a nested-loop/cartesian product:\n$plan")
    // blocked generation covers each unordered pair exactly once: the
    // pair count must equal the all-pairs count at a vacuous threshold
    import org.apache.spark.sql.functions._
    val n = Tables.load(spark, SF, "embeddings").count()
    val block = Dedup.embeddingCosineAllPairs(spark, SF, threshold = -1.0).count()
    assert(block === n * (n - 1) / 2,
      s"blocked join generated $block pairs for n=$n (want ${n * (n - 1) / 2})")
    // G-invariance: the adaptive default must return the identical pair
    // set as any explicit block count (every pair meets in exactly one
    // bucket for ANY G)
    val atG3 = Dedup.embeddingCosineAllPairs(spark, SF, threshold = 0.45, nBlocks = 3)
      .collect().map(_.toSeq)
    val atDefault = Dedup.embeddingCosine(spark, SF).collect().map(_.toSeq)
    assert(atDefault.sameElements(atG3), "pair results must be G-invariant")
  }

  test("sampled pair twin is the exact answer on its stratum, stratum applied pre-kernel") {
    val n = Tables.load(spark, SF, "embeddings").count()
    val m = Dedup.pairSampleModFor(n)
    val sampled = Dedup.embeddingCosineSampled(spark, SF)
    assert(sampled.columns.toSeq === Seq("vec_i", "vec_j", "cosine", "sample_mod"),
      "sampled twin must self-describe its stratum")
    assert(sampled.select("sample_mod").distinct().collect().map(_.getInt(0)).toSeq
      === Seq(m), "sample_mod column must carry the corpus-derived mod")
    // exact-on-stratum: identical to the unbounded tool filtered to the
    // same (vec_i + vec_j) % m == 0 stratum
    val expect = Dedup.embeddingCosine(spark, SF)
      .filter(s"(vec_i + vec_j) % $m = 0").collect().map(_.toSeq)
    val got = sampled.drop("sample_mod").collect().map(_.toSeq)
    assert(got.sameElements(expect), "sampled twin must be exact on its stratum")
    // the stratum predicate must sit in the join, not a post-kernel
    // filter: candidate pairs reaching the projection stage drop ~1/m
    // (forced m = 8 here — the adaptive mod is 1 on this tiny corpus)
    val forcedM = 8
    val allPairs = Dedup.embeddingCosineAllPairs(spark, SF, threshold = -1.0).count()
    val stratumPairs = Dedup.embeddingCosineAllPairs(
      spark, SF, threshold = -1.0, pairMod = forcedM).count()
    assert(stratumPairs < allPairs / (forcedM / 2),
      s"stratum kept $stratumPairs of $allPairs pairs — predicate not reducing the pair scan")
  }

  test("sampled stratum mod holds the pair budget ~constant across corpus sizes") {
    val b = Dedup.pairBudgetPairs
    // anchors: degenerate-to-exact below the budget, sf1 parity (the
    // m = 8 the twin always ran at 20k vectors), and sf10
    assert(Dedup.pairSampleModFor(500) === 1)
    assert(Dedup.pairSampleModFor(2000) === 1)
    assert(Dedup.pairSampleModFor(20000) === 8)
    assert(Dedup.pairSampleModFor(200000) === 800)
    // the budget property itself: wherever m > 1, the stratum's
    // expected pair count n²/(2m) stays within a factor of 2 of the
    // budget — i.e. constant WORK across scales, not constant mod
    for (n <- Seq(20000L, 63246L, 200000L, 2000000L, 20000000L)) {
      val m = Dedup.pairSampleModFor(n).toLong
      if (m > 1) {
        val stratumPairs = n * n / (2L * m)
        assert(stratumPairs <= 2L * b && stratumPairs >= b / 2,
          s"n=$n m=$m stratum=$stratumPairs vs budget $b")
      }
    }
  }

  test("sampled twin's stratum is an equi-join KEY, not a residual predicate") {
    // the round-12 find: as a residual the stratum runs after the hash
    // join assembles each candidate (two 64-float arrays copied), so it
    // cut almost nothing (41.7 s vs ~40 s unbounded at sf1); as a join
    // key the probe skips non-stratum candidates (7.2 s). Pin the plan
    // property: the sampled twin's pair join must carry MORE equi-join
    // keys than the unbounded tool's (bp alone), i.e. the residue
    // equality was extracted into the keys by Catalyst.
    import org.apache.spark.sql.execution.joins.{
      SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    def maxJoinKeys(df: org.apache.spark.sql.DataFrame): Int = {
      val keys = df.queryExecution.sparkPlan.collect {
        case j: SortMergeJoinExec     => j.leftKeys.size
        case j: ShuffledHashJoinExec  => j.leftKeys.size
        case j: BroadcastHashJoinExec => j.leftKeys.size
      }
      if (keys.isEmpty) 0 else keys.max
    }
    // forced m = 8: the adaptive mod degenerates to 1 (no stratum, no
    // extra key) on this tiny corpus, so pin the plan property on the
    // explicit-mod path the adaptive twin takes whenever m > 1
    val unbounded = maxJoinKeys(Dedup.embeddingCosine(spark, SF))
    val sampled = maxJoinKeys(Dedup.embeddingCosineAllPairs(
      spark, SF, threshold = 0.45, pairMod = 8))
    assert(unbounded >= 1, "unbounded pair scan must plan a hash-keyed join")
    assert(sampled > unbounded,
      s"stratum must add an equi-join key (unbounded $unbounded, sampled $sampled) " +
        "— a residual-only stratum scans every candidate pair")
  }

  test("bucketed incremental probe: same output, index side never reshuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // same verified pairs as the plain batch-vs-index probe
    val got = Dedup.incrementalBucketed(spark, SF).collect().toSeq
    val want = Dedup.incrementalDedup(spark, SF).collect().toSeq
    spark.catalog.clearCache()
    assert(got === want, "bucketed probe must produce identical verified pairs")

    // the at-rest index must plan WITHOUT an Exchange above its scan,
    // even when the batch side is too big to broadcast — its bucketing
    // IS the join distribution. AQE must be off for the walk: the
    // adaptive root is a LeafExecNode, so collect() over an adaptive
    // plan never reaches any ShuffleExchangeExec and the assertion
    // would pass vacuously.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = spark.range(100).select(
          col("id").as("doc_new"), pmod(col("id") * 7919L, lit(1L << 20)).as("band_key"))
        .join(spark.table(Dedup.bandIdxTable), "band_key")
      val exec = probe.queryExecution.executedPlan
      val allShuffles = exec.collect { case e: ShuffleExchangeExec => e }
      val offenders = allShuffles.filter(
        _.collectLeaves().exists(_.toString.contains(Dedup.bandIdxTable)))
      assert(allShuffles.nonEmpty,
        s"probe side must shuffle to the index's bucketing (walk sanity):\n$exec")
      assert(offenders.isEmpty,
        s"band index must read co-located, got:\n$exec")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("streaming probe of arriving docs equals the batch probe (shared plan)") {
    val batchDocs = Tables.load(spark, SF, "documents")
      .filter(col("doc_id") % Dedup.batchStride === lit(Dedup.batchRes))
    // the drop folder: three parquet slices -> three micro-batches
    val dir = java.nio.file.Files.createTempDirectory("graft_docstream").toString
    (0 until 3).foreach { i =>
      batchDocs.filter(pmod(col("doc_id"), lit(3)) === lit(i.toLong))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val q = graft.streaming.DocDedupStream.run(
      spark, SF, dir, "graft_docdedup_spec", maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val got = spark.table("graft_docdedup_spec").collect().map(key).toSet
    val want = Dedup.incrementalBucketed(spark, SF).collect().map(key).toSet
    spark.catalog.clearCache()
    assert(got === want, "stream-accumulated pairs must equal the batch probe")
    assert(want.nonEmpty, "fixture corpus must contain batch-vs-index near-dups")
    // drop the view BEFORE its backing table — a dangling view in the
    // suite-shared session would break later catalog-wide resolution
    spark.sql("DROP VIEW IF EXISTS graft_docdedup_spec")
    spark.sql("DROP TABLE IF EXISTS graft_docdedup_spec_tbl")
  }

  test("checkpointed probe stream resumes: restart appends only new files' pairs, exactly once") {
    val batchDocs = Tables.load(spark, SF, "documents")
      .filter(col("doc_id") % Dedup.batchStride === lit(Dedup.batchRes))
    def slice(i: Int) = batchDocs.filter(
      expr(s"pmod(doc_id div ${Dedup.batchStride}, 3) = $i"))
    val dir = java.nio.file.Files.createTempDirectory("graft_docstream_ck").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_docstream_ckpt").toString
    // stale-sink edge: an earlier NON-checkpointed run leaves rows in
    // the sink table; the first checkpointed run (fresh checkpoint)
    // must start fresh — keeping them would duplicate slice 0's pairs
    // when the fresh file-source log reprocesses every file
    slice(0).coalesce(1).write.mode("append").parquet(dir)
    graft.streaming.DocDedupStream.run(
      spark, SF, dir, "graft_docdedup_ckpt", Some(1), None).awaitTermination()
    // day 1: a second file arrives, the checkpointed stream drains both
    slice(1).coalesce(1).write.mode("append").parquet(dir)
    graft.streaming.DocDedupStream.run(
      spark, SF, dir, "graft_docdedup_ckpt", Some(1), Some(ckpt)).awaitTermination()
    val afterDay1 = spark.table("graft_docdedup_ckpt").count()
    // day 2: one more file lands; the RESTARTED run must process only it
    slice(2).coalesce(1).write.mode("append").parquet(dir)
    graft.streaming.DocDedupStream.run(
      spark, SF, dir, "graft_docdedup_ckpt", Some(1), Some(ckpt)).awaitTermination()
    val rows = spark.table("graft_docdedup_ckpt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows.size === rows.toSet.size,
      "a restart must not reprocess already-committed files (duplicate pairs)")
    val want = Dedup.incrementalBucketed(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.catalog.clearCache()
    assert(rows.toSet === want, "resumed stream must converge to the batch probe")
    assert(rows.size >= afterDay1.toInt,
      "the day-2 run must keep day 1's committed rows")
    spark.sql("DROP VIEW IF EXISTS graft_docdedup_ckpt")
    spark.sql("DROP TABLE IF EXISTS graft_docdedup_ckpt_tbl")
  }

  test("probe sink is replay-idempotent: re-writing a batch's partition overwrites, never appends") {
    val batchDocs = Tables.load(spark, SF, "documents")
      .filter(col("doc_id") % Dedup.batchStride === lit(Dedup.batchRes))
    val dir = java.nio.file.Files.createTempDirectory("graft_docstream_idem").toString
    (0 until 2).foreach { i =>
      // slice on doc_id DIV stride — the ids are all ≡ batchRes (mod
      // stride), so a plain mod-2 slice would be structurally empty
      batchDocs.filter(expr(s"pmod(doc_id div ${Dedup.batchStride}, 2) = $i"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    graft.streaming.DocDedupStream.run(
      spark, SF, dir, "graft_docdedup_idem", maxFilesPerTrigger = Some(1))
      .awaitTermination()
    val tbl = "graft_docdedup_idem_tbl"
    val full = spark.table(tbl)
    val before = full.count()
    val batchIds = full.select("batch_id").distinct().collect().map(_.getLong(0))
    assert(batchIds.length >= 2, "fixture must span multiple micro-batches")
    // simulate Spark's crash-replay of a committed batch: the SAME
    // rows re-inserted under the same batch_id through the stream's
    // write shape (dynamic partition overwrite) must replace that
    // partition, leaving the pair set unchanged
    val replayId = batchIds.min
    val replay = full.filter(col("batch_id") === replayId).collect().toSeq
    assert(replay.nonEmpty, "replayed batch must carry pairs")
    import scala.jdk.CollectionConverters._
    // the SESSION conf, same as the stream's write path (the per-write
    // option is silently ignored on insertInto — see DocDedupStream)
    val pom = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(pom, "static")
    spark.conf.set(pom, "dynamic")
    try spark.createDataFrame(replay.asJava, full.schema)
      .write.mode("overwrite").insertInto(tbl)
    finally spark.conf.set(pom, prev)
    assert(spark.table(tbl).count() === before,
      "a replayed micro-batch must not double-append its pairs")
    spark.sql("DROP VIEW IF EXISTS graft_docdedup_idem")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
