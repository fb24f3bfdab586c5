package graft

import graft.functions.NativeExprs
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Equivalence proofs for the native kernels: each must be BIT-IDENTICAL
  * to the interpreted HOF formulation it replaced (which is what the
  * DuckDB oracle mirrors), including edge cases. Inputs include seeded
  * pseudo-random docs/vectors plus hand-picked edges (empty strings,
  * tabs/newlines, repeated tokens, ragged vectors). */
class NativeExprsSpec extends SparkSpec {
  import spark.implicits._

  // --- fixtures ---------------------------------------------------------

  private val rnd = new scala.util.Random(7)
  private val words = Vector("the", "quick", "brown", "fox", "de", "la",
    "und", "spark", "window", "x1", "yy", "zzz")
  private def randDoc(): String =
    Seq.fill(3 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" ")

  private val docStrings = Seq(
    "", " ", "one", "a b", "\ta  leading tab", "trailing space ",
    "line\nbreak and\ttab", "UPPER Case MiXeD",
    // supplementary-plane chars: code-point vs UTF-16-unit traps
    "café naïve 😀 emoji 🤖😀 mix") ++
    Seq.fill(40)(randDoc())
  private lazy val docsDf = docStrings.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def randVec(n: Int): Seq[Float] = Seq.fill(n)(rnd.nextFloat() * 4 - 2)
  private lazy val vecsDf = (0 until 30)
    .map(i => (i.toLong, randVec(16), randVec(16)))
    .toDF("id", "a", "b")

  private def assertSame(actual: Column, expected: Column, df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.select(actual.as("got"), expected.as("want"))
      .where(!(col("got") <=> col("want")))
    assert(bad.count() === 0, s"mismatch rows: ${bad.take(3).mkString(", ")}")
  }

  // --- HOF twins (the oracle-mirrored formulations) ---------------------

  private def hofTokens(text: Column): Column =
    split(graft.operators.TextOps.asciiLower(trim(text)), "\\s+")

  private def hofShingles(t: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(t) - n),
      i => concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*))
    when(size(t) >= n, grams).otherwise(array().cast("array<string>"))
  }

  private def hofSum(arr: Column): Column = aggregate(arr, lit(0.0d), (acc, x) => acc + x)

  private def hofSqEuclidean(a: Column, b: Column): Column =
    hofSum(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }))

  private def hofCosine(a: Column, b: Column): Column = {
    val dot = hofSum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = sqrt(hofSum(transform(a, x => x.cast("double") * x.cast("double"))))
    val nb = sqrt(hofSum(transform(b, x => x.cast("double") * x.cast("double"))))
    lit(1.0d) - dot / (na * nb)
  }

  private def hofShingleHashes(sh: Column): Column =
    transform(sh, s => conv(substring(md5(s), 1, 14), 16, 10).cast("long"))

  // --- equivalence tests ------------------------------------------------

  test("whitespaceTokens == split(lower(trim), \\s+) incl. edge docs") {
    assertSame(NativeExprs.whitespaceTokens(col("text")), hofTokens(col("text")), docsDf)
  }

  test("nfcNormalize: NFD composes to NFC, NFC/ASCII are identity, null stays null") {
    import java.text.Normalizer
    // explicit escapes: composed \u00e9 / \u00fc / precomposed Hangul \uac00
    val nfcText = "caf\u00e9 \u00fcber \uac00"
    val nfdText = Normalizer.normalize(nfcText, Normalizer.Form.NFD)
    assert(nfdText != nfcText) // the fixture really is decomposed
    val rows = Seq(
      (1L, nfdText, nfcText),                      // decomposed -> composed
      (2L, "plain ascii", "plain ascii"),          // fast path identity
      (3L, nfcText, nfcText),                      // already NFC
      (4L, "", ""),                                // empty
      (5L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("id", "text", "want")
    val bad = rows.select(NativeExprs.nfcNormalize(col("text")).as("got"), col("want"))
      .where(!(col("got") <=> col("want")))
    assert(bad.count() === 0, bad.take(5).mkString(", "))
    // the dedup use: the NFC and NFD spellings hash to ONE group
    val merged = Seq((1L, "caf\u00e9 x"), (2L, "cafe\u0301 x")).toDF("doc_id", "text")
      .groupBy(sha2(NativeExprs.nfcNormalize(col("text")), 256)).count().collect()
    assert(merged.length === 1 && merged.head.getLong(1) === 2L)
  }

  test("shingles == transform/concat_ws twin (multiset, short-doc guard)") {
    val withToks = docsDf.withColumn("__t", hofTokens(col("text")))
    for (n <- Seq(2, 3, 5))
      assertSame(NativeExprs.shingles(col("__t"), n), hofShingles(col("__t"), n), withToks)
  }

  test("sqEuclidean / cosineDistance / dot == HOF aggregates, bit-identical") {
    assertSame(NativeExprs.sqEuclidean(col("a"), col("b")),
      hofSqEuclidean(col("a"), col("b")), vecsDf)
    assertSame(NativeExprs.cosineDistance(col("a"), col("b")),
      hofCosine(col("a"), col("b")), vecsDf)
    assertSame(NativeExprs.dot(col("a"), col("b")),
      hofSum(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double"))),
      vecsDf)
  }

  test("householder == left-fold/map HOF twin, bit-identical; ragged → null") {
    val dim = 64
    val w = graft.operators.VectorOps.OpqDirection
    val df = (0 until 25).map(i => (i.toLong, randVec(dim))).toDF("id", "v")
    assertSame(NativeExprs.householder(col("v"), w),
      HofTwins.householderReflectHof(col("v"), w), df)
    // length mismatch fails closed (the HOF's zip would pad instead)
    val short = Seq((1L, randVec(10))).toDF("id", "v")
    assert(short.select(NativeExprs.householder(col("v"), w)).head().isNullAt(0))
  }

  test("vector kernels: ragged lengths yield null (zip_with pad semantics)") {
    val ragged = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    val got = ragged.select(NativeExprs.sqEuclidean(col("a"), col("b")).as("d")).head()
    assert(got.isNullAt(0))
  }

  test("shingleHashes == conv(substring(md5,1,14),16,10) twin") {
    val withSh = docsDf
      .withColumn("__t", hofTokens(col("text")))
      .withColumn("__sh", hofShingles(col("__t"), 3))
    assertSame(NativeExprs.shingleHashes(col("__sh")), hofShingleHashes(col("__sh")), withSh)
  }

  test("minhashSig == Kirsch-Mitzenmacher HOF twin (16 perms)") {
    val withSh = docsDf
      .withColumn("__t", hofTokens(col("text")))
      .withColumn("__sh", hofShingles(col("__t"), 3))
    val h1 = hofShingleHashes(col("__sh"))
    val h2 = transform(col("__sh"), s => conv(substring(md5(s), 17, 14), 16, 10).cast("long"))
    val twin = transform(sequence(lit(0), lit(15)),
      i => when(size(col("__sh")) > 0,
        array_min(zip_with(h1, h2, (a, b) => a + i * b)))
        .otherwise(lit(Long.MaxValue)))
    assertSame(NativeExprs.minhashSig(col("__sh"), 16), twin, withSh)
  }

  test("simhash60 == per-bit ±1 vote twin over conv(substring(md5,1,15))") {
    val withT = docsDf.withColumn("__t", hofTokens(col("text")))
    val powersSql = (0 until 60).map(b => s"${1L << b}L").mkString("array(", ",", ")")
    val votes = expr(
      s"""aggregate(transform(__t, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
         |  array_repeat(0, 60),
         |  (acc, v) -> zip_with(acc, $powersSql, (a, p) -> a + IF((v div p) % 2 = 1, 1, -1)))""".stripMargin)
    val twin = expr(
      s"""aggregate(zip_with($powersSql, __v, (p, v) -> IF(v > 0, p, 0L)),
         |  0L, (acc, x) -> acc + x)""".stripMargin)
    val df = withT.withColumn("__v", votes)
    assertSame(NativeExprs.simhash60(col("__t")), twin, df)
  }

  test("SQL surface: registered kernels usable from spark.sql") {
    graft.functions.SqlFunctions.registerAll(spark)
    val row = spark.sql(
      """SELECT graft_sq_euclidean(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS sq,
        |  graft_simhash60(graft_tokens('hello world hello')) AS sh,
        |  graft_md5_min_window('hello world', 8) AS fp,
        |  size(graft_shingles(graft_tokens('a b c d'), 3)) AS nsh,
        |  size(graft_minhash_sig(graft_shingles(graft_tokens('a b c d'), 3), 16)) AS nsig,
        |  graft_token_stats(graft_tokens('the la of und zzz')).stop_hits AS nstop
        |""".stripMargin).head()
    assert(row.getDouble(0) === 27.0) // reference metric golden
    assert(row.getLong(1) !== 0L)
    assert(row.getString(2).length === 32)
    assert(row.getInt(3) === 2)
    assert(row.getInt(4) === 16)
    assert(row.getLong(5) === 4L) // 'zzz' is the only non-stopword
  }

  test("SQL surface: graft_pq_codes encodes against an inline codebook") {
    graft.functions.SqlFunctions.registerAll(spark)
    // one subspace of two entries: (0.0, 0.0) code 0, (1.0, 1.0) code 1;
    // the vector (0.9, 0.9) is nearer code 1
    val row = spark.sql(
      """SELECT graft_pq_codes(array(0.9F, 0.9F),
        |  array(array(named_struct('code', 0, 'cvec', array(0.0F, 0.0F)),
        |              named_struct('code', 1, 'cvec', array(1.0F, 1.0F))))) AS codes
        |""".stripMargin).head()
    assert(row.getSeq[Int](0) === Seq(1))
  }

  test("SQL surface: registered AGGREGATES usable from spark.sql") {
    graft.functions.SqlFunctions.registerAll(spark)
    Seq((0L, Seq(1f, 3f), 2.0, 7L), (0L, Seq(3f, 5f), 1.0, 8L), (1L, Seq(2f, 2f), 3.0, 9L))
      .toDF("g", "v", "d", "id").createOrReplaceTempView("agg_in")
    val rows = spark.sql(
      """SELECT g, graft_vector_mean(v) AS m, graft_topk_pairs(d, id, 1) AS t
        |FROM agg_in GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Seq[Float], Seq[(Double, Long)])].collect()
    assert(rows(0) === ((0L, Seq(2f, 4f), Seq((1.0, 8L)))))
    assert(rows(1) === ((1L, Seq(2f, 2f), Seq((3.0, 9L)))))
  }

  test("SQL surface: bloom build + probe via scalar subquery; no false negatives") {
    graft.functions.SqlFunctions.registerAll(spark)
    (0L until 100L).toDF("h").createOrReplaceTempView("bloom_keys")
    (0L until 1000L).toDF("h").createOrReplaceTempView("bloom_probe")
    val hits = spark.sql(
      """SELECT h FROM bloom_probe
        |WHERE graft_might_contain(
        |  (SELECT graft_bloom_agg(h, 100, 800) FROM bloom_keys), h)""".stripMargin)
      .as[Long].collect().toSet
    // every true member passes (no false negatives); false positives
    // are bounded by the filter's geometry, not zero
    assert((0L until 100L).toSet.subsetOf(hits))
    assert(hits.size < 1000)
  }

  test("TopKPairsAgg == slice(sort_array(collect_list(struct))) twin") {
    import graft.functions.TopKPairsAgg.topKPairs
    val rows = (0 until 500).map { i =>
      (i % 7L, rnd.nextDouble() * 10, i.toLong) // 7 groups, random distances
    }
    val df = rows.toDF("g", "distance", "id")
    for (k <- Seq(1, 3, 10, 1000)) {
      val got = df.groupBy(col("g"))
        .agg(topKPairs(col("distance"), col("id"), k).as("t"))
        .select(col("g"), col("t"))
        .as[(Long, Seq[(Double, Long)])].collect().toMap
      val want = rows.groupBy(_._1).view.mapValues(
        _.map(r => (r._2, r._3)).sorted.take(k)).toMap
      assert(got.keySet === want.keySet)
      want.foreach { case (g, exp) => assert(got(g) === exp, s"group $g k=$k") }
    }
  }

  test("md5MinWindow == array_min(transform(sequence, md5(substr))) twin") {
    // the fixture includes supplementary-plane docs: substr counts CODE
    // POINTS, so this pins the kernel's code-point windowing
    val twin = array_min(
      transform(
        sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
        i => md5(col("text").substr(i, lit(8)))))
    assertSame(NativeExprs.md5MinWindow(col("text"), 8), twin, docsDf)
  }

  test("vector kernels: a null ELEMENT nulls the distance (zip_with semantics)") {
    val df = spark.sql(
      "SELECT array(1.0F, NULL, 3.0F) AS a, array(1.0F, 2.0F, 3.0F) AS b")
    val got = df.select(
      NativeExprs.sqEuclidean(col("a"), col("b")).as("sq"),
      NativeExprs.dot(col("a"), col("b")).as("d"),
      hofSqEuclidean(col("a"), col("b")).as("want")).head()
    assert(got.isNullAt(0) && got.isNullAt(1) && got.isNullAt(2))
  }

  test("minhashSigHashes == struct(minhashSig, shingleHashes), one fused pass") {
    val withSh = docsDf
      .withColumn("__t", hofTokens(col("text")))
      .withColumn("__sh", hofShingles(col("__t"), 3))
    val fused = NativeExprs.minhashSigHashes(col("__sh"), 16)
    assertSame(fused.getField("sig"), NativeExprs.minhashSig(col("__sh"), 16), withSh)
    assertSame(fused.getField("shh"), NativeExprs.shingleHashes(col("__sh")), withSh)
  }

  test("repetitionStats == the sorted-run + array_distinct HOF twin") {
    import graft.operators.TextOps
    val withT = docsDf.withColumn("__t", hofTokens(col("text")))
    assertSame(
      NativeExprs.repetitionStats(col("__t")),
      HofTwins.repetitionStatsHof(col("__t")),
      withT)
  }

  test("repetitionStats == HOF twin on adversarial random token arrays") {
    import graft.operators.TextOps
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // small vocab forces heavy repetition; include empty strings, unicode
    // (incl. supplementary plane), and single/zero-length docs
    val vocab = Array("a", "b", "ab", "", "字", "😀", "xyz", "a b"
      .replace(" ", " ")) // nbsp inside a token (not a split boundary)
    val docs = (0 until 300).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))))
    } :+ (999L, Seq.empty[String])
    val df = docs.toDF("id", "__t")
    val bad = df.select(
        NativeExprs.repetitionStats(col("__t")).as("got"),
        HofTwins.repetitionStatsHof(col("__t")).as("want"))
      .where(!(col("got") <=> col("want")))
    assert(bad.count() === 0, bad.take(3).mkString(", "))
  }

  test("tokenStats == (langVotes, stopword-filter count, length-sum) HOF twins") {
    import graft.operators.TextOps
    val withT = docsDf.withColumn("__t", hofTokens(col("text")))
    val stats = NativeExprs.tokenStats(col("__t"), TextOps.StopwordsByLang.map(_._2))
    assertSame(stats.getField("votes"), TextOps.langVotes(col("__t")), withT)
    val allStop = array(TextOps.StopwordsByLang.flatMap(_._2).distinct.map(lit): _*)
    assertSame(stats.getField("stop_hits"),
      size(filter(col("__t"), tok => array_contains(allStop, tok))).cast("long"), withT)
    assertSame(stats.getField("len_sum").cast("double"),
      aggregate(col("__t"), lit(0.0), (acc, x) => acc + length(x).cast("double")), withT)
    // and the full composed quality formula agrees with the HOF form
    assertSame(
      TextOps.qualityFromStats(col("text"), col("__t"), stats),
      TextOps.qualityScoreFromTokens(col("text"), col("__t")), withT)
  }

  test("gopherFlags == HOF twin (token + line kernels), exact equality " +
    "incl. bullets, ellipses, unicode markers, and empty docs") {
    import graft.operators.TextOps
    val gopherDocs = docStrings ++ Seq(
      "- bullet\n* star\n• dot\nplain",
      "ends...\nends… \n  - spaced bullet\n...",
      "the be to of and that have with the be",
      "no\n\n\nempty lines\n", "…", "..", " . . . ", "#tag ### x...y...z",
      (1 to 60).map(i => s"- item $i...").mkString("\n"))
    val df = gopherDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("__t", hofTokens(col("text")))
    assertSame(TextOps.gopherFlags(col("text"), col("__t")),
      HofTwins.gopherFlagsHof(col("text"), col("__t")), df)
  }

  test("charNgrams == substr/sequence HOF twin incl. unicode and short docs") {
    import graft.operators.TextOps
    for (n <- Seq(1, 3, 8)) {
      assertSame(TextOps.charNgrams(col("text"), n),
        HofTwins.charNgramsHof(col("text"), n), docsDf)
    }
    // supplementary-plane text: windows count CODE POINTS, not UTF-16 units
    val emoji = Seq((1L, "a😀b😀c"), (2L, "😀😀"), (3L, ""), (4L, "ab"))
      .toDF("doc_id", "text")
    assertSame(TextOps.charNgrams(col("text"), 3),
      HofTwins.charNgramsHof(col("text"), 3), emoji)
    val got = emoji.where(col("doc_id") === 1)
      .select(TextOps.charNgrams(col("text"), 3)).as[Seq[String]].head()
    assert(got === Seq("a😀b", "😀b😀", "b😀c"))
  }

  test("pqCodes == interpreted HOF twin, bit-identical across (m, dsub, k) shapes") {
    import graft.operators.VectorOps
    // several PQ geometries, random codebooks built through pqPack (the
    // only producer) and random vectors — the native kernel must agree
    // exactly with the HOF argmin fold, including ties (duplicate
    // codebook entries force d-equality → smaller code must win)
    for ((m, dsub, k) <- Seq((4, 4, 8), (2, 8, 16), (8, 2, 4))) {
      val dim = m * dsub
      val bookRows = (0 until m).flatMap { sub =>
        (0 until k).map { code =>
          // duplicate every even entry's cvec at code+1 when possible:
          // guaranteed distance ties
          val base = if (code % 2 == 1) null else randVec(dsub)
          (sub, code, base)
        }
      }
      val filled = bookRows.map { case (s, c, v) =>
        (s, c, if (v != null) v else bookRows.find(r => r._1 == s && r._2 == c - 1).get._3)
      }
      val books = VectorOps.pqPack(filled.toDF("sub_idx", "code", "cvec"))
      val vecs = (0 until 50).map(i => (i.toLong, randVec(dim))).toDF("id", "embedding")
        .crossJoin(broadcast(books))
      assertSame(
        VectorOps.pqCodes(col("embedding"), col("books")),
        HofTwins.pqCodesHof(col("embedding"), col("books")), vecs)
    }
  }

  test("pqCodes edge cases: short / null vector match the HOF (-1 fills)") {
    import graft.operators.VectorOps
    val books = VectorOps.pqPack(
      (0 until 4).flatMap(sub => (0 until 4).map(code => (sub, code, randVec(4))))
        .toDF("sub_idx", "code", "cvec"))
    // vector shorter than m*dsub: tail subspaces can't slice a full
    // subvector → every entry's distance is null → init code −1 survives
    val shortVecs = Seq((1L, Seq.fill(10)(0.5f)), (2L, Seq.empty[Float]))
      .toDF("id", "embedding").crossJoin(broadcast(books))
    assertSame(
      VectorOps.pqCodes(col("embedding"), col("books")),
      HofTwins.pqCodesHof(col("embedding"), col("books")), shortVecs)
    // null vector: HOF yields an array of −1 (slice(null) nulls every
    // distance), NOT a null array
    val nullVec = Seq(Tuple1(3L)).toDF("id")
      .withColumn("embedding", lit(null).cast("array<float>"))
      .crossJoin(broadcast(books))
    assertSame(
      VectorOps.pqCodes(col("embedding"), col("books")),
      HofTwins.pqCodesHof(col("embedding"), col("books")), nullVec)
    val got = nullVec.select(VectorOps.pqCodes(col("embedding"), col("books")))
      .as[Seq[Int]].head()
    assert(got === Seq(-1, -1, -1, -1))
  }

  test("VectorMeanAgg == posexplode + avg-per-dimension twin") {
    val rows = (0 until 200).map(i => (i % 5L, randVec(16)))
    val df = rows.toDF("g", "v")
    val got = df.groupBy(col("g"))
      .agg(graft.functions.VectorMeanAgg.vectorMean(col("v")).as("m"))
      .as[(Long, Seq[Float])].collect().toMap
    val want = df.select(col("g"), posexplode(col("v")))
      .groupBy(col("g"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m").cast("float")).as("m"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(got.keySet === want.keySet)
    // per-dimension means agree to float precision (double-sum order may
    // differ between the two formulations)
    got.foreach { case (g, m) =>
      m.zip(want(g)).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) <= 1e-5f, s"group $g dim $i: $a vs $b")
      }
    }
  }

  test("binaryCodes == interpreted HOF twin, bit-identical incl. zeros, " +
    "-0.0, NaN, and word-boundary widths") {
    import graft.operators.VectorOps
    val widths = Seq(1, 3, 63, 64, 65, 127, 128)
    val rows = widths.zipWithIndex.flatMap { case (d, wi) =>
      (0 until 30).map { i =>
        val v = Seq.fill(d)(rnd.nextFloat() * 4 - 2).zipWithIndex.map {
          case (_, j) if (i + j) % 11 == 0 => 0.0f
          case (_, j) if (i + j) % 13 == 0 => -0.0f
          case (_, j) if (i + j) % 17 == 0 => Float.NaN
          case (x, _) => x
        }
        ((wi * 100 + i).toLong, v)
      }
    }
    val df = rows.toDF("id", "v")
    assertSame(
      VectorOps.binaryCodes(col("v")),
      HofTwins.binaryCodesHof(col("v")), df)
    // empty vector: both sides yield an empty word array, not an error
    val empty = Seq((0L, Seq.empty[Float])).toDF("id", "v")
    assertSame(
      VectorOps.binaryCodes(col("v")),
      HofTwins.binaryCodesHof(col("v")), empty)
  }

  test("scriptMix: scala-model equality incl. supplementary planes; " +
    "counts partition n_cp exactly") {
    import graft.functions.NativeExprs
    val docs = Seq(
      (0L, "Héllo мир 你好 123\tok"),
      (1L, ""),
      (2L, "🎉🎉 emoji only"),          // supplementary: 1 code point each
      (3L, "ひらがな カタカナ 漢字 한글"),
      (4L, "plain ascii text with 42 numbers\n"),
      (5L, "ЖЗИ mixed Кирилл and latin")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), NativeExprs.scriptMix(col("text")).as("m"))
      .select(col("doc_id"), col("m.n_cp"), col("m.latin"), col("m.cyrillic"),
        col("m.cjk"), col("m.digit"), col("m.space"), col("m.other"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    // scala model over code points with the same range table
    def classify(cp: Int): Option[String] =
      NativeExprs.ScriptOrder.find(c =>
        NativeExprs.ScriptRanges(c).exists(r => cp >= r._1 && cp <= r._2))
    docs.as[(Long, String)].collect().foreach { case (id, s) =>
      val cps = s.codePoints().toArray
      val want = NativeExprs.ScriptOrder
        .map(c => cps.count(cp => classify(cp).contains(c)).toLong)
      val r = got(id)
      assert(r._2 === cps.length.toLong, s"id=$id n_cp")
      assert(Seq(r._3, r._4, r._5, r._6, r._7) === want, s"id=$id counts")
      assert(r._2 === r._3 + r._4 + r._5 + r._6 + r._7 + r._8,
        s"id=$id counts don't partition n_cp")
    }
    // the emoji doc: each 🎉 is ONE code point, classified other
    assert(got(2L)._2 === 13L && got(2L)._8 === 2L)
  }

  test("BoundValue: reads its value in generated and interpreted code, is never " +
    "folded, and a newly bound value compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val vecType = ArrayType(FloatType, containsNull = false)
    def bound(slot: Int, t: org.apache.spark.sql.types.DataType, v: Any): Column =
      ColumnBridge.column(NativeExprs.BoundValue(slot, t, v))
    // a whole-stage-codegen projection (a primitive slot) and a kernel
    // projection (an array slot), each against its literal twin
    def run(v: Seq[Float], w: java.lang.Double): Unit = {
      val q = bound(0, vecType, new GenericArrayData(v.toArray[Any]))
      // not a local relation, which the optimizer would evaluate itself
      assertSame(NativeExprs.sqEuclidean(col("a"), q),
        NativeExprs.sqEuclidean(col("a"), typedLit(v)), vecsDf.repartition(2))
      val shifted = spark.range(30).select((col("id").cast("double") + bound(1, DoubleType, w)).as("s"))
      assert(shifted.as[Option[Double]].collect().toSeq ===
        (0 until 30).map(i => Option(w).map(i + _.doubleValue)))
      assert(shifted.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[NativeExprs.BoundValue])), "the bound value was folded")
    }
    run(randVec(16), 1.5)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(randVec(16), -2.0)
    run(randVec(16), null)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount === before)
    assert(!NativeExprs.BoundValue(0, DoubleType, 1.0).foldable)
    assert(NativeExprs.BoundValue(0, DoubleType, 1.0).eval() === 1.0)
  }
}
