package graft

import org.apache.spark.sql.functions._

import graft.functions.TextHash

/** Pins the TextHash spec to known values (cross-checked against the
  * DuckDB oracle fragments during development) so any drift in the
  * Spark expression strings breaks loudly.
  */
class TextHashSpec extends SparkSpec {
  import spark.implicits._

  test("token char hash matches the pinned cross-engine values") {
    val df = Seq(("the scan", 0L)).toDF("text", "id")
      .select(expr(TextHash.sparkTokenHashes("text")).as("th"))
    assert(df.as[Seq[Long]].head() == Seq(114801L, 3524221L))
  }

  test("doc fingerprint is stable and bounded by P") {
    val df = Seq("The  Quick brown fox", "the  quick brown fox")
      .toDF("text")
      .select(expr(TextHash.sparkDocFingerprint("text")).as("f"))
    val fps = df.as[Long].collect()
    assert(fps(0) == fps(1), "normalization: case-insensitive")
    assert(fps.forall(f => f >= 0 && f < TextHash.P))
  }

  test("minhash signature has NumPerms entries, band sigs Bands") {
    val df = Seq("a b c d e f g h i j").toDF("text")
      .select(expr(TextHash.sparkTokenHashes("text")).as("th"))
      .select(expr(TextHash.sparkShingles("th")).as("sh"))
      .select(expr(TextHash.sparkMinHash("sh")).as("mh"))
      .select(col("mh"), expr(TextHash.sparkBandSigs("mh")).as("bands"))
    val (mh, bands) = df.as[(Seq[Long], Seq[Long])].head()
    assert(mh.size == TextHash.NumPerms)
    assert(bands.size == TextHash.Bands)
    assert(mh.forall(m => m >= 0 && m < TextHash.P))
  }

  test("simhash is a 64-bit value, identical for identical text") {
    val df = Seq("alpha beta gamma", "alpha beta gamma", "delta eps zeta")
      .toDF("text")
      .select(expr(TextHash.sparkTokenHashes("text")).as("th"))
      .select(expr(TextHash.sparkSimHash("th")).as("f"))
    val fs = df.as[Long].collect()
    assert(fs(0) == fs(1))
    assert(fs(0) != fs(2))
    // High half must carry real bits (the widened fingerprint is not
    // the old 30-bit value zero-extended).
    assert(fs.exists(f => (f >>> 32) != 0L))
  }
}

/** The compiled kernels must equal the HOF formulation of the spec
  * value-for-value (the oracle SQL is generated from the HOF spec).
  */
class TextHashKernelSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.TextHashExprs._

  private val docs = Seq(
    "the quick brown fox jumps over the lazy dog",
    "a b c d e f g h i j k l m",
    "short",
    "Mixed CASE text With   spacing").toDF("text")
  private val th = expr(TextHash.sparkTokenHashes("text"))
  private val thK = token_hashes(expr(TextHash.sparkTokens("text")))

  test("token_hashes kernel == HOF spec") {
    assert(docs.filter(expr(TextHash.sparkTokenHashes("text")) =!=
      token_hashes(expr(TextHash.sparkTokens("text")))).count() == 0)
  }

  test("shingle/minhash/band/simhash kernels == HOF spec") {
    // MinHash/bands are only defined for docs with >= 3 tokens (the
    // operators filter shorter docs; the oracle drops them) — compare
    // on that domain.
    val both = docs
      .select(th.as("th"), thK.as("thk"))
      .filter(size(col("th")) >= 3)
      .select(col("th"), col("thk"),
        expr(TextHash.sparkShingles("th")).as("sh"),
        shingle_set(col("thk")).as("shk"))
      .select(col("*"),
        expr(TextHash.sparkMinHash("sh")).as("mh"),
        minhash_sig(col("shk")).as("mhk"),
        expr(TextHash.sparkSimHash("th")).as("f"),
        simhash(col("thk")).as("fk"))
      .select(col("*"),
        expr(TextHash.sparkBandSigs("mh")).as("b"),
        band_sigs(col("mhk")).as("bk"))
    assert(both.filter(
      col("sh") =!= col("shk") || col("mh") =!= col("mhk") ||
        col("f") =!= col("fk") || col("b") =!= col("bk")).count() == 0)
    // Out-of-domain hash arrays — negative elements, elements ≥ P,
    // fewer than 3 or than n elements: the kernel folds must equal
    // the spec on every input, not only on token hashes in [0, P).
    // Magnitudes stay ≤ 3·10⁹, so no 64-bit product overflows.
    val P = TextHash.P
    val odd = Seq(Seq(-5L, 3L, -1000000000L, 7L, -5L, 3L),
      Seq(P, P + 1, -100L, 2 * P + 3, 3000000000L), Seq(P + 1, -100L, 5L),
      Seq(-1L, -2L), Seq(P + 7), Seq.empty[Long]).toDF("th")
    // The n-gram fold of the kernels' doc, as a HOF over `th`.
    def grams(n: Int) = expr(s"CASE WHEN size(th) >= $n THEN " +
      s"transform(sequence(0, size(th) - $n), i -> aggregate(" +
      s"slice(th, i + 1, $n), CAST(0 AS BIGINT), (h, t) -> " +
      s"(h * 31 + t) % $P)) ELSE CAST(array() AS array<bigint>) END")
    val oddBoth = odd.select(col("th"),
        expr(TextHash.sparkShingles("th")).as("sh"),
        shingle_set(col("th")).as("shk"),
        expr(TextHash.sparkSimHash("th")).as("f"),
        simhash(col("th")).as("fk"))
      .select(col("*"),
        expr(s"IF(size(th) >= 3, ${TextHash.sparkMinHash("sh")}, NULL)")
          .as("mh"),
        minhash_sig(col("shk")).as("mhk"))
      .select(col("*"),
        expr(s"IF(size(th) >= 3, ${TextHash.sparkBandSigs("mh")}, NULL)")
          .as("b"),
        when(size(col("th")) >= 3, band_sigs(col("mhk"))).as("bk"))
    assert(oddBoth.filter(col("sh") =!= col("shk") ||
      col("f") =!= col("fk") || col("mh") =!= col("mhk") ||
      col("b") =!= col("bk")).count() == 0)
    for (n <- Seq(2, 3, 4))
      assert(odd.filter(ngram_hashes_pos(col("th"), n) =!= grams(n) ||
        ngram_hashes(col("th"), n) =!= array_distinct(grams(n)))
        .count() == 0, s"n-gram kernels != fold at n = $n")
    // Why shingle_set keeps its own formula: at a first hash ≥ P the
    // n = 3 gram fold reduces it first and lands elsewhere.
    assert(odd.filter(size(col("th")) === 3 &&
      shingle_set(col("th")) =!= ngram_hashes(col("th"), 3)).count() == 1)
  }

  test("string_poly_hash == HOF doc fingerprint") {
    assert(docs.filter(
      expr(TextHash.sparkDocFingerprint("text")) =!=
        string_poly_hash(lower(trim(col("text"))))).count() == 0)
  }

  test("text_canon kernel: NFC, nbsp/zw handling, collapse, trim") {
    import graft.functions.TextCanon.text_canon
    val cases = Seq(
      // decomposed E+U+0301 composes to U+00C9, then lowers to U+00E9
      ("E\u0301clair  au\tCAFE\u0301", "\u00E9clair au caf\u00E9"),
      // precomposed input is already NFC: lowered only
      ("D\u00C9J\u00C0 vu", "d\u00E9j\u00E0 vu"),
      // nbsp family maps to space and collapses with its neighbors
      ("a\u00A0 b \u00A0c \u202Fd", "a b c d"),
      // zero-width chars vanish entirely (no space left behind)
      ("a\u200Bb\u200C\u200Dc\uFEFF", "abc"),
      ("  \t leading and trailing \r\n ", "leading and trailing"),
      ("\u200B \u00A0\t", ""), // dirt-only collapses to empty
      ("", ""))
    cases.foreach { case (in, want) =>
      val got = Seq(in).toDF("s")
        .select(text_canon(col("s"))).as[String].head()
      assert(got == want,
        s"canon(${in.map(c => f"\\u${c.toInt}%04x").mkString})")
    }
    // SQL registration path (GraftExtensions): same kernel via SQL
    val sqlIn = "A\u00A0  B\u200B"
    assert(spark.sql(s"SELECT text_canon('$sqlIn') AS c")
      .as[String].head() == "a b")
  }

  test("text_canon fuzz: total and idempotent on arbitrary mixes") {
    import graft.functions.TextCanon.text_canon
    // Unit pool mixes every class the kernel treats specially \u2014
    // decomposed and precomposed accents, stray combining marks,
    // nbsp family, zero-width family, whitespace, case, CJK, an
    // astral emoji (kept as a surrogate PAIR \u2014 lone surrogates are
    // not valid strings) \u2014 seeded for reproducibility.
    val pool = Array("a", "E", "\u0301", "\u00A0", "\u200B", " ", "\t",
      "\n", "\uFEFF", "\u00C9", "\u00DF", "\u4E16", "0", ".", "\u202F",
      "\r", "\uD83D\uDE00", "x\u0301\u0301")
    val rnd = new scala.util.Random(0xCA41)
    val strs = (1 to 300).map(_ => (0 until rnd.nextInt(40))
      .map(_ => pool(rnd.nextInt(pool.length))).mkString)
    // Total (no throw through the whole plan) and IDEMPOTENT: a
    // second canon pass must be the identity \u2014 the property that
    // makes re-running a normalization stage on partially-processed
    // data safe.
    val twice = strs.toDF("s")
      .select(text_canon(col("s")).as("c1"))
      .select(col("c1"), text_canon(col("c1")).as("c2"))
    assert(twice.filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("SQL registration: every kernel is callable from spark.sql") {
    import graft.functions.TextHashExprs._
    import graft.functions.Bpe.bpe_units
    // Each SQL call must equal its Column-API twin on the same input
    // (same Expression class — this pins the GraftExtensions wiring,
    // not the kernels themselves).
    val df = Seq("the quick brown fox jumps over the lazy dog now")
      .toDF("s").select(expr("split(s, ' ')").as("tk"))
    df.createOrReplaceTempView("kreg")
    val sqlRow = spark.sql(
      """SELECT token_hashes(tk) AS th, shingle_set(token_hashes(tk)) AS sh,
        |  ngram_hashes(token_hashes(tk), 3) AS ng,
        |  ngram_hashes_pos(token_hashes(tk), 3) AS np,
        |  minhash_sig(shingle_set(token_hashes(tk))) AS mh,
        |  band_sigs(minhash_sig(shingle_set(token_hashes(tk)))) AS bs,
        |  simhash(token_hashes(tk)) AS f,
        |  string_poly_hash(array_join(tk, ' ')) AS ph,
        |  bpe_units(tk) AS bu
        |FROM kreg""".stripMargin).head()
    val colRow = df.select(
      token_hashes(col("tk")).as("th"),
      shingle_set(token_hashes(col("tk"))).as("sh"),
      ngram_hashes(token_hashes(col("tk")), 3).as("ng"),
      ngram_hashes_pos(token_hashes(col("tk")), 3).as("np"),
      minhash_sig(shingle_set(token_hashes(col("tk")))).as("mh"),
      band_sigs(minhash_sig(shingle_set(token_hashes(col("tk"))))).as("bs"),
      simhash(token_hashes(col("tk"))).as("f"),
      string_poly_hash(expr("array_join(tk, ' ')")).as("ph"),
      bpe_units(col("tk")).as("bu")).head()
    assert(sqlRow == colRow)
    // embed_simhash rides a double array, not tokens.
    val esql = spark.sql(
      "SELECT embed_simhash(array(1.0D, -2.0D, 4.0D, 8.0D)) AS e").head()
    val ecol = Seq(Seq(1.0, -2.0, 4.0, 8.0)).toDF("v")
      .select(embed_simhash(col("v")).as("e")).head()
    assert(esql == ecol)
    // A wrong call fails naming its function: a short call, a long
    // call and a non-literal size.
    Seq("hll_sketch(size(tk))" -> "hll_sketch",
        "token_hashes(tk, tk)" -> "token_hashes",
        "ngram_hashes(token_hashes(tk), size(tk))" -> "ngram_hashes")
      .foreach { case (call, fn) =>
        val e = intercept[Exception](
          spark.sql(s"SELECT $call FROM kreg").collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
          .mkString(" | ")
        assert(msgs.contains(fn), s"$call: $msgs")
      }
  }
}
