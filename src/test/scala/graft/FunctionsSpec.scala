package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests: every native kernel expression must be value-equal
  * to the declarative built-in composition it replaced (that is the
  * whole contract that lets the DuckDB oracles stay unchanged). */
class FunctionsSpec extends AnyFunSuite with SparkSuite {

  /** Deterministic property driver (scalatestplus isn't resolvable
    * offline): N samples of `gen` from fixed seeds. */
  private def forAllSeeded[A](gen: Gen[A], n: Int)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      check(gen.pureApply(Gen.Parameters.default, Seed(0xC0FFEE + i)))
    }

  test("vec_sig draws from the same plane stream as vec_sig128") {
    val df = spark.sql(
      """SELECT vec_sig128(v) AS s128, vec_sig(v, 128) AS s, vec_sig(v, 512) AS w
        |FROM VALUES (array(CAST(0.3 AS FLOAT), CAST(-1.2 AS FLOAT),
        |                   CAST(2.5 AS FLOAT), CAST(0.01 AS FLOAT))) AS t(v)"""
        .stripMargin).head()
    val s128 = df.getSeq[Long](0)
    val s = df.getSeq[Long](1)
    val w = df.getSeq[Long](2)
    assert(s === s128, "vec_sig(v, 128) must be byte-identical to vec_sig128(v)")
    assert(w.length === 8)
    assert(w.take(2) === s128.toSeq,
      "widening the signature must extend the plane stream, not reseed it")
    // past the old 8192-bit cap (raised r22 for the (28,420) LSH rung:
    // 184 words = 11776 bits) the same prefix property must hold — the
    // widened stream is an extension, byte-identical over the first
    // 128 planes
    val xw = spark.sql(
      """SELECT vec_sig(v, 11776) AS xw
        |FROM VALUES (array(CAST(0.3 AS FLOAT), CAST(-1.2 AS FLOAT),
        |                   CAST(2.5 AS FLOAT), CAST(0.01 AS FLOAT))) AS t(v)"""
        .stripMargin).head().getSeq[Long](0)
    assert(xw.length === 184)
    assert(xw.take(2) === s128.toSeq,
      "the post-8192 widened signature must keep the 128-bit prefix bit-identical")
    // invalid widths fail loudly, not with a truncated signature
    val err = intercept[Exception] {
      spark.sql("SELECT vec_sig(array(CAST(1.0 AS FLOAT)), 100)").collect()
    }
    assert(err.getMessage.contains("multiple of 64"))
    // a non-integer width is rejected at ANALYSIS with a named error
    // (same typing contract as the text kernels), never deferred to a
    // janino (int)-cast failure at execution
    val typeErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT vec_sig(array(CAST(1.0 AS FLOAT)), array(128))").collect()
    }
    assert(typeErr.getMessage.toLowerCase.contains("vec_sig"))
  }

  test("SQL-registered kernels type-check at ANALYSIS: implicit casts and named errors") {
    // the threshold is declared BIGINT (the expressions are documented
    // as registered for general SQL use); INT literals upcast
    val d = spark.sql(
      "SELECT lev_banded('kitten', 'sitting', CAST(10 AS BIGINT)) AS d")
      .head().getInt(0)
    assert(d === 3)
    // an out-of-int-range threshold behaves as UNBOUNDED — it must not
    // truncate mod 2³² into a narrow band (4294967299 = 2³² + 3 would
    // read as k = 3 under int truncation; distance 5 > 3 exposes that)
    val wide = spark.sql(
      "SELECT lev_banded('aaaaaa', 'bbbbba', 4294967299) AS d")
      .head().getInt(0)
    assert(wide === 5, "BIGINT threshold beyond Int range must not truncate")
    assert(spark.sql("SELECT lev_banded('a', 'b', CAST(-9223372036854775808 AS BIGINT)) AS d")
      .head().getInt(0) === -1, "hugely negative threshold stays the -1 sentinel")
    // a wrong-typed argument fails when the query is ANALYZED, with
    // the function named — not mid-execution on a worker
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT tok_counts('not an array')").queryExecution.analyzed
    }
    assert(e1.getMessage.contains("tok_counts"))
    // (a castable wrong type is coerced instead — e.g. tok_stats'
    // first arg accepts anything stringifiable, standard coercion —
    // so the negative cases use genuinely non-castable types)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT tok_stats('text', 'not an array')")
        .queryExecution.analyzed
    }
    assert(e2.getMessage.contains("tok_stats"))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT lev_banded('a', 'b', array(1))")
        .queryExecution.analyzed
    }
    assert(e3.getMessage.contains("lev_banded"))
  }

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    words <- Gen.listOfN(n, Gen.oneOf(
      "the", "spark", "table", "row", "scan", "join", "12", "x9", "Data,",
      "query!", "стол", "vec", "a", "", "  ", "GROUP"))
  } yield words.mkString(" ")

  private val vecGen: Gen[Seq[Float]] = for {
    n <- Gen.choose(0, 96)
    xs <- Gen.listOfN(n, Gen.chooseNum(-2.0f, 2.0f))
  } yield xs

  test("vec_dot / vec_norm equal the zip_with + aggregate composition") {
    forAllSeeded(Gen.zip(vecGen, vecGen), 30) { case (a: Seq[Float], b: Seq[Float]) =>
      val n = math.min(a.length, b.length)
      val (aa, bb) = (a.take(n), b.take(n))
      val schema = StructType(Seq(
        StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
      val df = spark.createDataFrame(
        java.util.List.of(Row(aa, bb)), schema)
      val r = df.select(
        expr("vec_dot(a, b)").as("kd"),
        expr("aggregate(zip_with(a, b, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (acc, v) -> acc + v)").as("dd"),
        expr("vec_norm(a)").as("kn"),
        expr("sqrt(aggregate(a, 0D, (acc, x) -> acc + cast(x AS double) * cast(x AS double)))").as("dn"))
        .head()
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) === 0)
      assert(java.lang.Double.compare(r.getDouble(2), r.getDouble(3)) === 0)
    }
  }

  test("vec_dot surfaces dimension mismatch as null, not a prefix dot") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      java.util.List.of(Row(Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))), schema)
    assert(df.select(expr("vec_dot(a, b)")).head().isNullAt(0))
  }

  test("shingles3 equals the declarative distinct-3-gram transform") {
    forAllSeeded(textGen, 40) { text: String =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(text)),
        StructType(Seq(StructField("text", StringType))))
        .withColumn("toks", expr(operators.Dedup.toksSpark))
      val r = df.select(
        expr("shingles3(toks)").as("k"),
        expr("""CASE WHEN size(toks) >= 3 THEN
            array_distinct(transform(sequence(1, size(toks) - 2),
              i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))))
          ELSE slice(toks, 1, 0) END""").as("d"))
        .head()
      assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("shingles3_h64 is bit-identical to xxhash64 over the shingle strings") {
    // the hashed-shingle kernel must produce EXACTLY the hash stream
    // the minhash path consumed before it existed — transform(
    // shingles3(toks), s -> xxhash64(s)) — or every at-rest band index
    // built by an older binary would silently stop matching
    forAllSeeded(textGen, 40) { text: String =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(text)),
        StructType(Seq(StructField("text", StringType))))
        .withColumn("toks", expr(operators.Dedup.toksSpark))
      val r = df.select(
        expr("shingles3_h64(toks)").as("k"),
        expr("transform(shingles3(toks), s -> xxhash64(s))").as("d"))
        .head()
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // non-ASCII multi-byte tokens exercise the byte-buffer path (the
    // engine tokenizer strips these, but the kernel must not rely on it)
    val uni = spark.createDataFrame(
      java.util.List.of(Row(Seq("héllo", "wörld", "日本語", "x"))),
      StructType(Seq(StructField("toks", ArrayType(StringType)))))
      .select(
        expr("shingles3_h64(toks)").as("k"),
        expr("transform(shingles3(toks), s -> xxhash64(s))").as("d"))
      .head()
    assert(uni.getSeq[Long](0) === uni.getSeq[Long](1))
  }

  test("inter_count_sorted equals size(array_intersect) on sorted distinct arrays") {
    val setGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    val pairGen = for { a <- setGen; b <- setGen } yield (a, b)
    forAllSeeded(pairGen, 40) { case (a: List[Long], b: List[Long]) =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(a, b)),
        StructType(Seq(StructField("a", ArrayType(LongType)),
          StructField("b", ArrayType(LongType)))))
      val r = df.select(
        expr("inter_count_sorted(a, b)").as("k"),
        expr("size(array_intersect(a, b))").as("d")).head()
      assert(r.getInt(0) === r.getInt(1))
    }
    // empty sides
    val e = spark.createDataFrame(
      java.util.List.of(Row(Seq.empty[Long], Seq(1L, 2L))),
      StructType(Seq(StructField("a", ArrayType(LongType)),
        StructField("b", ArrayType(LongType)))))
      .select(expr("inter_count_sorted(a, b)")).head()
    assert(e.getInt(0) === 0)
  }

  test("simhash60 equals the per-bit majority-vote rule") {
    val hashGen = Gen.listOf(Gen.choose(0L, (1L << 60) - 1))
    forAllSeeded(hashGen, 40) { hs: List[Long] =>
      val expected = {
        var sig = 0L
        for (k <- 0 until 60) {
          val vote = hs.map(h => if (((h >>> k) & 1L) == 1L) 1 else -1).sum
          if (vote > 0) sig |= (1L << k)
        }
        sig
      }
      val df = spark.createDataFrame(
        java.util.List.of(Row(hs)),
        StructType(Seq(StructField("hs", ArrayType(LongType)))))
      assert(df.select(expr("simhash60(hs)")).head().getLong(0) === expected)
    }
  }

  test("the hot paths actually use the native kernels (plan guard)") {
    val sf = "/root/testdata/sf0.001"
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    assert(plan(operators.Dedup.simhashValues(spark, sf)).contains("simhash60"),
      "simhash must run in the kernel, not interpreted lambdas")
    assert(plan(operators.Dedup.embeddingCosine(spark, sf)).contains("vec_dot"))
    assert(plan(operators.Similarity.cosineTopK(spark, sf)).contains("vec_dot"))
    val mh = plan(operators.Dedup.minhashLsh(spark, sf))
    assert(mh.contains("minhash_sig64") && mh.contains("shingles3_h64"),
      "minhash must shingle-hash in-kernel (no shingle strings)")
    assert(mh.contains("inter_count_sorted"),
      "minhash verification must merge-count, not array_intersect")
    val nj = plan(operators.Dedup.ngramJaccard(spark, sf))
    assert(nj.contains("shingles3_h64"),
      "the inverted index must build from in-kernel shingle hashes")
    assert(nj.contains("inter_count_sorted"),
      "jaccard verification must merge-count, not pair-aggregate")
    Seq("incremental" -> operators.Dedup.incrementalDedup(spark, sf),
        "incremental_bucketed" -> operators.Dedup.incrementalBucketed(spark, sf)).foreach {
      case (name, df) =>
        val p = plan(df)
        assert(p.contains("minhash_sig64") && p.contains("inter_count_sorted"),
          s"$name must band in-kernel and merge-count its candidates")
    }
    spark.catalog.clearCache()
    assert(plan(operators.TextAnalysis.tokenStats(spark, sf)).contains("tok_stats"),
      "token stats must run in the one-pass kernel")
    assert(plan(operators.TextAnalysis.quality(spark, sf)).contains("tok_stats"),
      "quality scoring must run in the one-pass kernel")
    assert(plan(operators.Ranking.tfidfTopk(spark, sf)).contains("tok_counts"),
      "per-doc term frequencies must be computed in-row, not via a (doc, term) exchange")
  }

  test("lev_banded equals the built-in threshold levenshtein (incl. -1 edge)") {
    forAllSeeded(Gen.zip(textGen, textGen, Gen.oneOf(0, 1, 3, 10)), 40) {
      case (a: String, b: String, k: Int) =>
        val df = spark.createDataFrame(
          java.util.List.of(Row(a, b)),
          StructType(Seq(StructField("l", StringType), StructField("r", StringType))))
        val row = df.select(
          expr(s"lev_banded(l, r, $k)"),
          expr(s"levenshtein(l, r, $k)")).head()
        assert(row.getInt(0) === row.getInt(1),
          s"lev_banded($k) on <$a> vs <$b>")
    }
  }

  test("tok_counts equals the explode + groupBy term-frequency composition") {
    forAllSeeded(textGen, 30) { s: String =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(s)),
        StructType(Seq(StructField("text", StringType))))
        .selectExpr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '') AS toks")
      val kernel = df.selectExpr("explode(tok_counts(toks)) AS tc")
        .selectExpr("tc.term AS term", "CAST(tc.tf AS LONG) AS tf")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val declarative = df.selectExpr("explode(toks) AS term")
        .groupBy("term").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(kernel === declarative, s"tok_counts mismatch on <$s>")
    }
  }

  test("tok_stats equals the declarative token/regex compositions") {
    val stopArr = "array('the', 'a', 'and', 'of', 'to', 'in', 'is')"
    forAllSeeded(textGen, 40) { s: String =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(s)),
        StructType(Seq(StructField("text", StringType))))
      val r = df.select(
        expr(s"tok_stats(text, $stopArr)").as("k"),
        expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')").as("toks"),
        expr("size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0))").as("nbpe"),
        expr("length(regexp_replace(lower(text), '[a-z0-9 ]', ''))").as("npunct"))
        .select(
          col("k.n_tokens"), col("k.sum_tok_len"), col("k.n_bpe"),
          col("k.n_punct"), col("k.n_stop"),
          size(col("toks")),
          expr("aggregate(toks, 0, (a, x) -> a + length(x))"),
          col("nbpe"), col("npunct"),
          expr(s"size(filter(toks, x -> array_contains($stopArr, x)))"))
        .head()
      assert(r.getInt(0) === r.getInt(5), s"n_tokens on <$s>")
      assert(r.getInt(1) === r.getInt(6), s"sum_tok_len on <$s>")
      assert(r.getInt(2) === r.getInt(7), s"n_bpe on <$s>")
      assert(r.getInt(3) === r.getInt(8), s"n_punct on <$s>")
      assert(r.getInt(4) === r.getInt(9), s"n_stop on <$s>")
    }
  }

  test("minhash_sig64: 64 mins, monotone under union, permutation-invariant") {
    val hashGen = Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    forAllSeeded(hashGen, 30) { hs: List[Long] =>
      val schema = StructType(Seq(StructField("hs", ArrayType(LongType))))
      def sig(xs: Seq[Long]): Seq[Long] =
        spark.createDataFrame(java.util.List.of(Row(xs)), schema)
          .select(expr("minhash_sig64(hs)")).head().getSeq[Long](0)
      val s = sig(hs)
      assert(s.length === 64)
      val shuffled = new scala.util.Random(0xC0FFEE).shuffle(hs) // seeded: replayable
      assert(sig(shuffled) === s) // set semantics
      val superset = sig(hs ++ hs.map(h => h ^ 0x9e3779b97f4a7c15L))
      assert(superset.zip(s).forall { case (sup, base) => sup <= base }) // min over more
    }
  }
}
