package graft

import graft.operators.{Corpus, TextOps}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String, String)]) =
    rows.toDF("doc_id", "text", "source")

  private val corpus = docsDf((0L until 100L).map { i =>
    (i, s"document number $i with some shared words and id-specific token t$i",
      s"src${i % 4}")
  })

  test("assignSplit: buckets partition [0,100); split matches cumulative ranges") {
    val out = Corpus.assignSplit(corpus, col("text"), trainPct = 80, valPct = 10)
      .select("doc_id", "bucket", "split").as[(Long, Long, String)].collect()
    assert(out.length === 100)
    out.foreach { case (_, b, s) =>
      assert(b >= 0 && b < 100)
      val expected = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(s === expected)
    }
    // all three splits are populated on 100 distinct contents
    assert(out.map(_._3).distinct.toSet === Set("train", "val", "test"))
  }

  test("assignSplit is content-keyed: a document's split never depends on the rest of the corpus") {
    val alone = Corpus.assignSplit(corpus.where(col("doc_id") < 10), col("text"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val together = Corpus.assignSplit(corpus, col("text"))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (0L until 10L).foreach(i => assert(alone(i) === together(i)))
  }

  test("pack: offsets are cumulative per shard, bounded by budget, chunk-consistent") {
    val budget = 32
    val out = Corpus.pack(corpus, size(TextOps.tokens(col("text"))), budget, nShards = 4)
      .select("doc_id", "shard", "n_tokens", "pack_id", "tok_offset")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.length === 100)
    out.foreach { case (_, _, _, pid, off) =>
      assert(off >= 0 && off < budget)
      assert(pid >= 0)
    }
    // per shard: start positions (pack_id*budget + tok_offset) are the
    // exclusive running sum of token counts in doc_id order
    out.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, _, nt, pid, off) =>
        assert(pid * budget + off === cum)
        cum += nt
      }
    }
  }

  test("pack rejects non-positive budget and shards") {
    intercept[IllegalArgumentException](Corpus.pack(corpus, lit(1), 0))
    intercept[IllegalArgumentException](Corpus.pack(corpus, lit(1), 8, nShards = 0))
  }

  test("pack drops zero/null-token documents and keeps running totals clean") {
    // doc 1 has a null count, doc 2 a zero count: both must vanish without
    // poisoning the running start positions of docs 0 and 3 (same shard).
    val counted = Seq(
      (0L, java.lang.Long.valueOf(10L)),
      (1L, null.asInstanceOf[java.lang.Long]),
      (2L, java.lang.Long.valueOf(0L)),
      (3L, java.lang.Long.valueOf(5L))).toDF("doc_id", "nt")
    val out = Corpus.pack(counted, col("nt"), budget = 8, nShards = 1)
      .select("doc_id", "pack_id", "tok_offset")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0L, 3L))
    assert(out(0) === ((0L, 0L, 0L)))  // starts at token 0
    assert(out(1) === ((3L, 1L, 2L)))  // starts at token 10 = pack 1, offset 2
  }

  test("packedSequences: every doc lands in its pack, in order, token totals preserved") {
    val budget = 32
    val packed = Corpus.pack(corpus, size(TextOps.tokens(col("text"))), budget, nShards = 4)
    val seqs = Corpus.packedSequences(corpus, packed, col("text"))
      .select("shard", "pack_id", "text", "n_docs", "n_tokens")
      .as[(Long, Long, String, Long, Long)].collect()
    // every pack key from the assignment appears exactly once
    val packKeys = packed.select("shard", "pack_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(seqs.map(s => (s._1, s._2)).toSet === packKeys)
    // token totals: concat of a pack's docs re-tokenizes to the sum of
    // its members' counts (texts have no leading/trailing whitespace)
    seqs.foreach { case (_, _, text, nDocs, nTokens) =>
      assert(nDocs > 0)
      assert(text.split("\\s+").count(_.nonEmpty) === nTokens)
    }
    // order within a pack: doc texts appear in doc_id order
    val byPack = packed.select("shard", "pack_id", "doc_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted).toMap
    seqs.foreach { case (sh, pid, text, _, _) =>
      val ids = byPack((sh, pid))
      val positions = ids.map(i => text.indexOf(s"id-specific token t$i"))
      assert(positions.forall(_ >= 0) && positions.sameElements(positions.sorted))
    }
  }

  test("mixSample: at most quota per source, deterministic, subset of input") {
    val out = Corpus.mixSample(corpus, col("source"), col("text"), quota = 5)
    val rows = out.select("doc_id", "source").as[(Long, String)].collect()
    assert(rows.length === 20) // 4 sources × quota 5 (each source has 25 docs)
    rows.groupBy(_._2).foreach { case (_, g) => assert(g.length === 5) }
    // schema is unchanged and rows are a subset of the input
    assert(out.columns.toSeq === corpus.columns.toSeq)
    val inputIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet.subsetOf(inputIds))
    // deterministic across runs
    val again = Corpus.mixSample(corpus, col("source"), col("text"), quota = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(again === rows.map(_._1).toSet)
  }

  test("groupMedian matches the brute-force lower median per group") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 500L).map(i =>
      (i, s"g${i % 7}", rnd.nextInt(3000).toLong))
    val df = rows.toDF("id", "grp", "v")
    val got = Corpus.groupMedian(df, col("grp"), col("v"), col("id"), hi = 4096L)
      .as[(String, Long)].collect().toMap
    val want = rows.groupBy(_._2).view.mapValues { g =>
      val sorted = g.sortBy(r => (r._3, r._1))
      sorted((g.size + 1) / 2 - 1)._3
    }.toMap
    assert(got === want)
    // one row per group, even with heavy ties
    val tied = (0L until 90L).map(i => (i, s"t${i % 3}", 5L)).toDF("id", "grp", "v")
    val gotT = Corpus.groupMedian(tied, col("grp"), col("v"), col("id"), hi = 10L)
      .as[(String, Long)].collect().toSeq
    assert(gotT.sortBy(_._1) === Seq(("t0", 5L), ("t1", 5L), ("t2", 5L)))
    // values beyond hi clamp into the edge bucket but rank correctly
    val wide = Seq((1L, "w", 1L), (2L, "w", 999999L), (3L, "w", 5L))
      .toDF("id", "grp", "v")
    val gotW = Corpus.groupMedian(wide, col("grp"), col("v"), col("id"), hi = 10L)
      .as[(String, Long)].head()
    assert(gotW === (("w", 5L)))
  }

  test("novelty against itself is zero; qualityBand [0,1] keeps everything") {
    // self-law: every doc's grams are in the reference when the
    // reference IS the corpus — novelty must be 0 for every doc
    val selfNov = Corpus.novelty(corpus, corpus.select("text"), n = 4)
      .select("novelty").as[Double].collect()
    assert(selfNov.nonEmpty && selfNov.forall(_ === 0.0))
    // full-range band: nothing trimmed, pct_rank spans [0, 1]
    val scored = (0L until 50L).map(i => (i, i / 50.0)).toDF("doc_id", "q")
    val all = Corpus.qualityBand(scored, col("q"), col("doc_id"), 0.0, 1.0)
      .select("pct_rank").as[Double].collect()
    assert(all.length === 50)
    assert(all.min === 0.0 && all.max === 1.0)
  }

  test("sampleDiverse: per-group cap, prefix-stable in k, deterministic") {
    val df = (0L until 120L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val k3 = Corpus.sampleDiverse(df, col("grp"), col("id").cast("string"),
        col("id"), k = 3)
      .select("grp", "id").as[(String, Long)].collect().toSeq
    // exactly k per group (every group has ≥ k members)
    assert(k3.groupBy(_._1).view.mapValues(_.size).toMap ===
      Map("g0" -> 3, "g1" -> 3, "g2" -> 3))
    // schema unchanged, rows a subset of input
    assert(k3.map(_._2).toSet.subsetOf((0L until 120L).toSet))
    // growing k only EXTENDS each group's slice
    val k5 = Corpus.sampleDiverse(df, col("grp"), col("id").cast("string"),
        col("id"), k = 5)
      .select("id").as[Long].collect().toSet
    assert(k3.map(_._2).toSet.subsetOf(k5))
    // deterministic across runs
    val again = Corpus.sampleDiverse(df, col("grp"), col("id").cast("string"),
        col("id"), k = 3)
      .select("id").as[Long].collect().toSet
    assert(again === k3.map(_._2).toSet)
    // matches the brute-force per-group smallest-hash prefix
    val hashed = df.withColumn("__h", Corpus.contentHash32(col("id").cast("string")))
      .select("grp", "id", "__h").as[(String, Long, Long)].collect()
    val want = hashed.groupBy(_._1).values.flatMap(
      _.sortBy { case (_, id, h) => (h, id) }.take(3).map(_._2)).toSet
    assert(k3.map(_._2).toSet === want)
  }

  test("qualityBand matches brute-force percent-rank; band respects both tails") {
    val scored = (0L until 200L).map(i => (i, (i * 37 % 200) / 200.0))
      .toDF("doc_id", "q")
    val got = Corpus.qualityBand(scored, col("q"), col("doc_id"), 0.25, 0.75)
      .select("doc_id", "pct_rank").as[(Long, Double)].collect().toMap
    // brute force on the driver: rank over the (q, doc_id) total order
    val all = scored.as[(Long, Double)].collect().sortBy { case (id, q) => (q, id) }
    val want = all.zipWithIndex
      .map { case ((id, _), r) => id -> r.toDouble / (all.length - 1) }
      .filter { case (_, pr) => pr >= 0.25 && pr <= 0.75 }.toMap
    assert(got === want)
    // both tails trimmed: the extreme scores are gone
    val keptQ = scored.as[(Long, Double)].collect().toMap.view
      .filterKeys(got.contains).values
    assert(!keptQ.exists(_ == 0.0) && !keptQ.exists(_ == 0.995))
    // heavy ties across bucket boundaries: still exact
    val tied = (0L until 100L).map(i => (i, (i % 3) / 2.0)).toDF("doc_id", "q")
    val gotT = Corpus.qualityBand(tied, col("q"), col("doc_id"), 0.0, 0.5)
      .select("doc_id").as[Long].collect().toSet
    val allT = (0L until 100L).map(i => (i, (i % 3) / 2.0))
      .sortBy { case (id, q) => (q, id) }
    val wantT = allT.zipWithIndex
      .filter { case (_, r) => r.toDouble / (allT.length - 1) <= 0.5 }
      .map(_._1._1).toSet
    assert(gotT === wantT)
    // single row: pct_rank defined as 0, inside any band containing 0
    val one = Corpus.qualityBand(Seq((7L, 0.5)).toDF("doc_id", "q"),
      col("q"), col("doc_id"), 0.0, 1.0)
      .select("doc_id", "pct_rank").as[(Long, Double)].collect()
    assert(one.toSeq === Seq((7L, 0.0)))
  }

  test("qualityBand plan: no un-partitioned window over the data leg") {
    val scored = (0L until 50L).map(i => (i, i / 50.0)).toDF("doc_id", "q")
    val plan = Corpus.qualityBand(scored, col("q"), col("doc_id"), 0.1, 0.9)
      .queryExecution.optimizedPlan.toString
    // every Window node over the data orders WITHIN a bucket partition;
    // the only global-order window runs on the nBuckets-row count frame
    import org.apache.spark.sql.catalyst.plans.logical.{Window => WinNode}
    val dataWindows = Corpus.qualityBand(scored, col("q"), col("doc_id"), 0.1, 0.9)
      .queryExecution.optimizedPlan.collect {
        case w: WinNode if w.partitionSpec.isEmpty => w
      }
    // the single partition-less window must be the tiny count-frame one
    // (its child aggregates on __b) — never the raw data
    assert(dataWindows.size === 1, s"plan:\n$plan")
    assert(dataWindows.head.child.toString.contains("count(1)"),
      s"un-partitioned window over the data leg:\n$plan")
  }

  test("mixDrift: shares sum to 1, KL/TV non-negative, edge semantics for unmatched sources") {
    // corpus has src0..src3 at 25 docs each; targets declare src0/src1/src2
    // and a never-seen src9 — src3 leaks in undeclared
    val targets = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src9" -> 0.1)
    val out = Corpus.mixDrift(corpus, col("source"), length(col("text")), targets)
      .select("source", "actual_share", "target_share", "kl_term", "tv_term")
      .as[(String, Double, Option[Double], Option[Double], Double)]
      .collect().sortBy(_._1).toSeq
    assert(out.map(_._1) === Seq("src0", "src1", "src2", "src3", "src9"))
    val bySrc = out.map(r => r._1 -> r).toMap
    // actual shares: a probability distribution over the observed sources
    assert(math.abs(out.map(_._2).sum - 1.0) < 1e-9)
    // declared-and-present sources: defined KL terms
    Seq("src0", "src1", "src2").foreach(s => assert(bySrc(s)._4.isDefined))
    // undeclared leak (src3): NULL target and NULL KL, TV counts actual/2
    assert(bySrc("src3")._3.isEmpty && bySrc("src3")._4.isEmpty)
    assert(math.abs(bySrc("src3")._5 - bySrc("src3")._2 / 2) < 1e-12)
    // declared-but-absent source (src9): zero actual, zero KL, TV = target/2
    assert(bySrc("src9")._2 === 0.0 && bySrc("src9")._4 === Some(0.0))
    assert(math.abs(bySrc("src9")._5 - 0.05) < 1e-12)
    // TV distance is in [0, 1]
    val tv = out.map(_._5).sum
    assert(tv >= 0.0 && tv <= 1.0)
    // when the targets exactly cover the observed support, summed KL is
    // non-negative (Gibbs) — the partial sum above isn't, by design
    val full = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1)
    val fullKl = Corpus.mixDrift(corpus, col("source"), length(col("text")), full)
      .agg(sum(col("kl_term"))).as[Double].head()
    assert(fullKl >= 0.0)
    // identical mix → zero drift everywhere
    val uniform = Map("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.25, "src3" -> 0.25)
    val evenCorpus = docsDf((0L until 100L).map(i => (i, "same text", s"src${i % 4}")))
    val zero = Corpus.mixDrift(evenCorpus, col("source"), length(col("text")), uniform)
      .select("kl_term", "tv_term").as[(Double, Double)].collect()
    zero.foreach { case (k, t) =>
      assert(math.abs(k) < 1e-12); assert(math.abs(t) < 1e-12)
    }
  }

  test("mixSampleWeighted: per-source quotas honored, prefix-consistent with uniform sampling") {
    val quotas = Map("src0" -> 7, "src1" -> 3, "src2" -> 0) // src3 absent
    val out = Corpus.mixSampleWeighted(corpus, col("source"), col("text"), quotas)
      .select("doc_id", "source").as[(Long, String)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(bySrc.getOrElse("src0", Set()).size === 7)
    assert(bySrc.getOrElse("src1", Set()).size === 3)
    assert(!bySrc.contains("src2") && !bySrc.contains("src3"))
    // prefix property: each source's weighted pick == the uniform pick at
    // that quota (hash order is fixed, quotas only size the prefix)
    Seq("src0" -> 7, "src1" -> 3).foreach { case (src, q) =>
      val uniform = Corpus.mixSample(
          corpus.where(col("source") === src), col("source"), col("text"), q)
        .select("doc_id").as[Long].collect().toSet
      assert(bySrc(src) === uniform)
    }
  }

  test("chunk: windows cover every token, advance by budget-overlap, truncate at the end") {
    val budget = 8
    val overlap = 3
    val step = budget - overlap
    // token counts 1..25 exercise single-chunk, exact-fit, and straddling
    val docs = (1L to 25L).map(i => (i, ("w " * i.toInt).trim, "s"))
    val out = Corpus.chunk(docsDf(docs), size(TextOps.tokens(col("text"))), budget, overlap)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_len")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    (1L to 25L).foreach { n =>
      val chunks = out(n)
      // starts advance by step from 0; lengths are budget except the tail
      chunks.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx === i && start === i.toLong * step)
        assert(len === math.min(budget.toLong, n - start))
        assert(len >= 1)
      }
      // coverage: the union of [start, start+len) is exactly [0, n)
      val covered = chunks.flatMap { case (_, _, s, l) => s until (s + l) }.toSet
      assert(covered === (0L until n).toSet)
      // consecutive windows overlap by at most `overlap` tokens, never
      // gap, and by exactly `overlap` when the earlier window is full
      chunks.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) =>
          val ov = s1 + l1 - s2
          assert(ov >= 1 && ov <= overlap.toLong)
          if (l1 === budget.toLong) assert(ov === overlap.toLong)
        case _ =>
      }
    }
  }

  test("chunkText: slices reassemble the document; null dropped, empty text is one empty chunk") {
    val budget = 8
    val overlap = 3
    val step = budget - overlap
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" "), "s"), // straddles 4 windows
      (2L, "solo", "s"),
      (3L, "", "s"),        // one empty token -> one empty chunk
      (4L, null, "s"))      // dropped
    val out = Corpus.chunkText(docsDf(docs), TextOps.tokens(col("text")), budget, overlap)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_len", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(!out.exists(_._1 == 4L), "null text must be dropped")
    assert(out.filter(_._1 == 3L).map(r => (r._4, r._5)).toSeq === Seq((1L, "")))
    assert(out.filter(_._1 == 2L).map(_._5).toSeq === Seq("solo"))
    val d1 = out.filter(_._1 == 1L)
    // each chunk's text IS the token slice, and dropping every later
    // chunk's first `overlap` tokens reassembles the document exactly
    d1.foreach { case (_, _, s, l, txt) =>
      assert(txt === (s until s + l).map(i => s"t${i + 1}").mkString(" "))
      assert(l === math.min(budget.toLong, 20L - s))
    }
    val reassembled = d1.map { case (_, idx, _, _, txt) =>
      val toks = txt.split(" ").toSeq
      if (idx == 0L) toks else toks.drop(overlap)
    }.reduce(_ ++ _).mkString(" ")
    assert(reassembled === (1 to 20).map(i => s"t$i").mkString(" "))
    assert(d1.map(_._3).toSeq === d1.indices.map(_.toLong * step))
  }

  test("vocabTop matches brute-force counts with deterministic tie-break") {
    val got = TextOps.vocabTop(corpus, k = 5)
      .as[(String, Long, Long)].collect()
    val toks = corpus.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .as[(Long, String)].collect()
    val expected = toks.groupBy(_._2).map { case (t, xs) =>
      (t, xs.length.toLong, xs.map(_._1).distinct.length.toLong)
    }.toSeq.sortBy { case (t, tf, _) => (-tf, t) }.take(5)
    assert(got.toSeq === expected)
  }

  test("mixSample matches the brute-force smallest-hash-per-source sample") {
    val expected = corpus
      .withColumn("__h", Corpus.contentHash32(col("text")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))))
      .where(col("__rn") <= 5)
      .select("doc_id").as[Long].collect().toSet
    val got = Corpus.mixSample(corpus, col("source"), col("text"), quota = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(got === expected)
  }

  test("decontaminate: flags exactly the docs sharing an n-gram, counts " +
    "each shared gram once, ignores short docs") {
    val bench = Seq(
      Tuple1("alpha beta gamma delta"),
      Tuple1("one two three four")).toDF("text")
    val docsDf = Seq(
      // shares "alpha beta gamma delta" (twice — counted once)
      (1L, "x alpha beta gamma delta y alpha beta gamma delta"),
      // shares two DISTINCT benchmark grams
      (2L, "alpha beta gamma delta one two three four"),
      // 4-gram "beta gamma delta one" is NOT in the benchmark's gram set
      (3L, "beta gamma delta one"),
      // shorter than n tokens: no grams, never flagged
      (4L, "alpha beta gamma"),
      (5L, "completely unrelated text here")).toDF("doc_id", "text")
    val got = Corpus.decontaminate(docsDf, bench, n = 4)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 1L), (2L, 2L)))
  }

  test("novelty: counts unseen grams per doc, complements decontaminate, " +
    "drops short docs") {
    val ref = Seq(
      Tuple1("alpha beta gamma delta"),
      Tuple1("one two three four")).toDF("text")
    val cand = Seq(
      // both 4-grams known: zero novelty ("alpha beta gamma delta" and
      // the straddler "beta gamma delta one" — wait, the straddler is new)
      (1L, "alpha beta gamma delta"),            // 1 gram, 0 novel
      (2L, "five six seven eight nine"),          // 2 grams, both novel
      (3L, "alpha beta gamma delta one two three four"), // 5 grams: 2 known, 3 straddlers novel
      (4L, "too short here")).toDF("doc_id", "text")
    val got = Corpus.novelty(cand, ref, n = 4)
      .select("doc_id", "n_grams", "n_novel")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 1L, 0L), (2L, 2L, 2L), (3L, 5L, 3L)))
    // novelty fraction = n_novel / n_grams
    val fr = Corpus.novelty(cand, ref, n = 4)
      .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
    assert(fr(1L) === 0.0 && fr(2L) === 1.0 && fr(3L) === 0.6)
    // repeated grams in one doc count once (distinct-gram denominator)
    val rep = Seq((9L, "alpha beta gamma delta alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val gotRep = Corpus.novelty(rep, ref, n = 4)
      .select("n_grams", "n_novel").as[(Long, Long)].head()
    // 5 gram positions but first == last, so 4 DISTINCT grams: the
    // repeated known one (counted once) + 3 novel straddlers
    assert(gotRep === ((4L, 3L)))
  }

  test("group-safe split: near-dup group members always share a split; " +
    "ungrouped docs match the content-keyed split") {
    val base = "the quick brown fox jumps over the lazy dog near the old barn " +
      "while rain falls softly on the quiet village roofs tonight again"
    val docsDf = Seq(
      (0L, base),
      (1L, base.replace("lazy", "sleepy")), // near-dup of 0 — different hash!
      (2L, base.replace("quick", "swift")), // near-dup of 0
      (3L, "entirely different content about query optimizers and " +
        "distributed physical plan selection strategies in analytics engines"))
      .toDF("doc_id", "text")
    val groups = graft.operators.Dedup.duplicateGroups(
      graft.operators.Dedup.minhashLsh(docsDf, threshold = 0.4))
    val out = Corpus.assignSplitGroupSafe(docsDf, groups)
      .select("doc_id", "rep_id", "split").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    val byRep = out.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      assert(members.map(_._3).distinct.size === 1,
        s"group $rep straddles splits: ${members.toSeq}")
    }
    assert(out.filter(r => Set(0L, 1L, 2L)(r._1)).map(_._2).distinct.toSeq === Seq(0L),
      "docs 0-2 must form one group under rep 0")
    // the ungrouped doc keeps its own content-keyed assignment
    val plain = Corpus.assignSplit(docsDf.where(col("doc_id") === 3L), col("text"))
      .select("split").as[String].head()
    assert(out.find(_._1 == 3L).get._3 === plain)
  }

  test("lineDedup drops cross-doc boilerplate, keeps order, preserves cardinality") {
    val docs = Seq(
      (1L, "alpha content\nall rights reserved\nmore alpha"),
      (2L, "beta content\nall rights reserved"),
      (3L, "all rights reserved"),              // only boilerplate → ""
      (4L, "solo doc untouched\nsolo second line"),
      (5L, "gamma\ngamma")                      // in-doc repeat: kept (1 distinct doc)
    ).toDF("doc_id", "text")
    val got = Corpus.lineDedup(docs)
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "alpha content\nmore alpha",
      2L -> "beta content",
      3L -> "",
      4L -> "solo doc untouched\nsolo second line",
      5L -> "gamma\ngamma"))
    // raising minDocs to 3 keeps the 2-doc line... the footer is in 3 docs
    val loose = Corpus.lineDedup(docs, minDocs = 4L)
      .as[(Long, String)].collect().toMap
    assert(loose(3L) === "all rights reserved") // under the 4-doc bar now
  }

  // Brute-force spec for sampleToBudget: the strict prefix of the corpus
  // in (contentHash32, doc_id) order whose running token total fits.
  private def bruteBudgetPrefix(budget: Long): Seq[Long] = {
    val rows = corpus
      .select(col("doc_id"), Corpus.contentHash32(col("text")).as("h"),
        size(TextOps.tokens(col("text"))).cast("long").as("n"))
      .where(col("n") >= 1)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._1))
    var cum = 0L
    rows.takeWhile { r => cum += r._3; cum <= budget }.map(_._1).toSeq
  }

  test("sampleToBudget equals the global-window prefix at every bucket granularity") {
    val nTok = size(TextOps.tokens(col("text")))
    for (budget <- Seq(1L, 100L, 500L, 5000L); buckets <- Seq(1, 8, 1024)) {
      val got = Corpus.sampleToBudget(corpus, col("text"), nTok, budget, buckets)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got === bruteBudgetPrefix(budget).sorted,
        s"budget=$budget nBuckets=$buckets")
    }
  }

  test("sampleToBudget: growing the budget only extends the prefix; full budget keeps all") {
    val nTok = size(TextOps.tokens(col("text")))
    val small = Corpus.sampleToBudget(corpus, col("text"), nTok, 300L)
      .select("doc_id").as[Long].collect().toSet
    val large = Corpus.sampleToBudget(corpus, col("text"), nTok, 600L)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
    val all = Corpus.sampleToBudget(corpus, col("text"), nTok, 1000000L)
      .select("doc_id").as[Long].collect()
    assert(all.length === 100)
    // and the reported n_tokens column matches the token counter
    val nt = Corpus.sampleToBudget(corpus, col("text"), nTok, 1000000L)
      .as[(Long, Long)].collect().toMap
    val direct = corpus.select(col("doc_id"), nTok.cast("long")).as[(Long, Long)].collect().toMap
    assert(nt === direct)
  }

  test("mixTokenBudget: each source independently keeps its brute-force prefix; unlisted sources drop") {
    val nTok = size(TextOps.tokens(col("text")))
    val budgets = Map("src0" -> 120L, "src1" -> 100000L, "src2" -> 11L)
    val got = Corpus.mixTokenBudget(corpus, col("source"), col("text"), nTok, budgets)
      .select("doc_id", "source", "n_tokens")
      .as[(Long, String, Long)].collect()
    assert(got.forall(r => budgets.contains(r._2))) // src3 dropped
    // per-source brute force: hash-order prefix within the source
    val rows = corpus
      .select(col("doc_id"), col("source"), Corpus.contentHash32(col("text")).as("h"),
        nTok.cast("long").as("n"))
      .as[(Long, String, Long, Long)].collect()
    budgets.foreach { case (src, budget) =>
      var cum = 0L
      val want = rows.filter(_._2 == src).sortBy(r => (r._3, r._1))
        .takeWhile { r => cum += r._4; cum <= budget }.map(_._1).toSet
      assert(got.filter(_._2 == src).map(_._1).toSet === want, src)
    }
    // src1's budget exceeds its total: the whole source is kept
    assert(got.count(_._2 == "src1") === 25)
    // per-source token totals honor each budget
    got.groupBy(_._2).foreach { case (src, rs) =>
      assert(rs.map(_._3).sum <= budgets(src), src)
    }
  }

  test("sampleToBudget rejects non-positive budget and buckets") {
    intercept[IllegalArgumentException](
      Corpus.sampleToBudget(corpus, col("text"), lit(1), 0L))
    intercept[IllegalArgumentException](
      Corpus.sampleToBudget(corpus, col("text"), lit(1), 10L, nBuckets = 0))
  }

  test("dsirWeights: identical target and raw models give exactly zero log-weights") {
    // target == docs ⇒ ct == cr and Tt == Tr for every bucket ⇒ each
    // ratio is exactly 1.0 and ln(1.0) == 0.0 — no tolerance needed
    val w = Corpus.dsirWeights(corpus, corpus.select(col("text")), nBuckets = 32)
      .select("doc_id", "n_tokens", "logw").as[(Long, Long, Double)].collect()
    assert(w.length === 100)
    w.foreach { case (id, n, lw) =>
      assert(n > 0, s"doc $id")
      assert(lw === 0.0, s"doc $id")
    }
  }

  test("dsirWeights ranks target-like documents above off-distribution ones") {
    val pool = docsDf(Seq(
      (1L, "alpha beta gamma delta alpha beta", "raw"),
      (2L, "alpha beta gamma epsilon beta alpha", "raw"),
      (3L, "zulu yankee xray whiskey victor uniform", "raw"),
      (4L, "quick brown fox jumps lazy dog", "raw")))
    val target = docsDf(Seq(
      (10L, "alpha beta gamma alpha beta gamma", "t"),
      (11L, "beta alpha gamma epsilon", "t"))).select(col("text"))
    val w = Corpus.dsirWeights(pool, target, nBuckets = 64)
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    // the alpha/beta/gamma docs look drawn from the target model; the
    // others share no tokens with it and must score strictly lower
    assert(w(1L) > w(3L) && w(1L) > w(4L))
    assert(w(2L) > w(3L) && w(2L) > w(4L))
  }

  test("checksum manifest: partition-invariant, flips on a one-character edit") {
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Corpus.checksum(df, col("source"), col("text"), length(col("text")))
        .select("source", "n_docs", "n_unique",
          "checksum_hi", "checksum_lo", "total_chars")
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .sortBy(_._1).toSeq
    val base = manifest(corpus)
    // row order and partitioning never move the manifest
    assert(manifest(corpus.orderBy(col("doc_id").desc).repartition(7)) === base)
    // a single flipped character in one document moves its source's checksum
    val edited = corpus.withColumn("text",
      when(col("doc_id") === 42L, concat(col("text"), lit("!"))).otherwise(col("text")))
    val editedM = manifest(edited)
    assert(editedM.map(_._1) === base.map(_._1))
    val changed = base.zip(editedM).filter { case (a, b) => a != b }
    assert(changed.length === 1 && changed.head._1._1 === "src2") // 42 % 4 = 2
    assert((changed.head._1._4, changed.head._1._5) !==
      (changed.head._2._4, changed.head._2._5), "checksum must move")
  }

  test("topKPerGroup matches window-rank brute force, ties break on smaller id") {
    val df = Seq(
      ("a", 1L, 3.0), ("a", 2L, 3.0), ("a", 3L, 5.0), ("a", 4L, 1.0),
      ("b", 5L, -0.0), ("b", 6L, 0.0), ("b", 7L, -2.0),
      ("c", 8L, 7.5)).toDF("src", "id", "score")
    val got = Corpus.topKPerGroup(df, col("src"), col("score"), col("id"), k = 2)
      .select("group", "id", "score").as[(String, Long, Double)].collect()
      .sortBy(r => (r._1, r._2))
    // brute force: per group, (score desc, id asc), take 2
    val want = df.as[(String, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (g, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(2).map(r => (g, r._2, r._3))
      }.sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2)).toSeq === want.map(r => (r._1, r._2)).toSeq)
    // -0.0 and 0.0 scores tie (the 0.0 - score normalization): ids 5,6 kept
    assert(got.filter(_._1 == "b").map(_._2).toSeq === Seq(5L, 6L))
    // scores come back sign-normalized (never -0.0)
    got.foreach { case (_, _, s) =>
      assert(java.lang.Double.doubleToRawLongBits(s)
        != java.lang.Double.doubleToRawLongBits(-0.0), s"got -0.0 for $s")
    }
  }

  test("dsirScore over a fitted dsirModel agrees with dsirWeights up to summation order") {
    val target = corpus.where(col("source") === "src0").select(col("text"))
    val lam = Corpus.dsirModel(corpus, target, nBuckets = 32)
    assert(lam.keySet === (0L until 32L).toSet, "model must cover every bucket")
    val scored = corpus
      .select(col("doc_id"), Corpus.dsirScore(col("text"), lam, 32).as("s"))
      .as[(Long, Double)].collect().toMap
    val want = Corpus.dsirWeights(corpus, target, nBuckets = 32)
      .select(col("doc_id"), col("logw")).as[(Long, Double)].collect().toMap
    assert(scored.keySet === want.keySet)
    scored.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) <= 1e-9 * math.max(1.0, math.abs(s)),
        s"doc $id: expr $s vs distributed ${want(id)}")
    }
    intercept[IllegalArgumentException](
      Corpus.dsirScore(col("text"), lam - 0L, 32)) // incomplete support
  }

  test("dsir with bigram features: zero law holds and expr matches distributed weights") {
    // hashed-bigram features (the DSIR paper's instantiation): the same
    // laws must hold under shingleN = 2
    val zero = Corpus.dsirWeights(corpus, corpus.select(col("text")),
        nBuckets = 32, shingleN = 2)
      .select("logw").as[Double].collect()
    assert(zero.nonEmpty && zero.forall(_ === 0.0))
    val target = corpus.where(col("source") === "src1").select(col("text"))
    val lam = Corpus.dsirModel(corpus, target, nBuckets = 32, shingleN = 2)
    val scored = corpus
      .select(col("doc_id"), Corpus.dsirScore(col("text"), lam, 32, shingleN = 2).as("s"))
      .as[(Long, Double)].collect().toMap
    val want = Corpus.dsirWeights(corpus, target, nBuckets = 32, shingleN = 2)
      .select(col("doc_id"), col("logw")).as[(Long, Double)].collect().toMap
    assert(scored.keySet === want.keySet)
    scored.foreach { case (id, sc) =>
      assert(math.abs(sc - want(id)) <= 1e-9 * math.max(1.0, math.abs(sc)), s"doc $id")
    }
  }

  test("dsirWeights: n_tokens is the document's token count") {
    val w = Corpus.dsirWeights(corpus, corpus.limit(10).select(col("text")))
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    val want = corpus.select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(w === want)
  }

  test("decontaminateBloom == decontaminate exactly (no false negatives), probe is prefiltered") {
    // train docs 0..39; benchmark shares the exact text of docs 5 and 17
    // (guaranteed gram overlap) plus an unrelated line
    val train = docsDf((0L until 40L).map { i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "), "src0")
    })
    val bench = Seq(
      (0 until 12).map(j => s"w5_$j").mkString(" "),
      (0 until 12).map(j => s"w17_$j").mkString(" "),
      "completely unrelated benchmark sentence with enough tokens to gram")
      .toDF("text")
    val exact = Corpus.decontaminate(train, bench, n = 8)
      .as[(Long, Long)].collect().toMap
    val bloom = Corpus.decontaminateBloom(train, bench, n = 8,
      estimatedItems = 1000L, numBits = 8000L)
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet === Set(5L, 17L))
    assert(bloom === exact)
    // even a tiny, saturated filter (high fpp) must stay exact — the
    // verify join absorbs every false positive
    val saturated = Corpus.decontaminateBloom(train, bench, n = 8,
      estimatedItems = 4L, numBits = 16L)
      .as[(Long, Long)].collect().toMap
    assert(saturated === exact)
    // plan: the might_contain prefilter sits on the probe side before
    // the exact join
    val p = Corpus.decontaminateBloom(train, bench, n = 8)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain"), p.linesIterator.take(12).mkString("\n"))
  }

  test("expectations: one-scan constraint report; null predicates violate; uniqueness composes") {
    val d = Seq(
      (1L, "alpha beta", "en"),
      (2L, "gamma", "en"),
      (2L, "delta", "fr"),      // duplicate id
      (4L, null, "en"),         // null text → length pred null → violation
      (5L, "epsilon zeta", "xx")) // unknown lang
      .toDF("doc_id", "text", "lang")
    val rep = Corpus.expectations(d, Seq(
        "lang_known" -> col("lang").isin("en", "fr"),
        "text_min_6_chars" -> (length(col("text")) >= 6)))
      .unionByName(Corpus.expectUnique(d, col("doc_id"), "doc_id_unique"))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(rep("lang_known") === (("lang_known", 5L, 1L, false)))
    // "gamma" and "delta" (5 chars each) and the null text all violate
    assert(rep("text_min_6_chars") === (("text_min_6_chars", 5L, 3L, false)))
    assert(rep("doc_id_unique") === (("doc_id_unique", 5L, 1L, false)))
    // all-pass corpus: every check true
    val clean = Corpus.expectations(d.where(col("doc_id") === 1L),
        Seq("nonempty" -> (length(col("text")) > 0)))
      .as[(String, Long, Long, Boolean)].head()
    assert(clean === (("nonempty", 1L, 0L, true)))
    // bad check names are rejected before they reach generated SQL
    intercept[IllegalArgumentException] {
      Corpus.expectations(d, Seq("bad name', x" -> lit(true)))
    }
  }

  test("contaminationReport: per-benchmark leak counts, clean items keep zeros") {
    val train = docsDf((0L until 30L).map { i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "), "src0")
    })
    // bench 100 leaks from train docs 3 AND 4 (two full-doc copies glued),
    // bench 101 is clean, bench 102 is too short to gram (stays zero)
    val bench = Seq(
      (100L, (0 until 12).map(j => s"w3_$j").mkString(" ") + " " +
        (0 until 12).map(j => s"w4_$j").mkString(" ")),
      (101L, "completely clean benchmark item with enough tokens to gram"),
      (102L, "too short")).toDF("doc_id", "text")
    val rep = Corpus.contaminationReport(train, bench, col("doc_id"), n = 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rep.keySet === Set(100L, 101L, 102L))
    assert(rep(100L)._1 === 2L) // both source docs implicated
    assert(rep(100L)._2 >= 10L) // at least the two full-doc gram runs
    assert(rep(101L) === ((0L, 0L)))
    assert(rep(102L) === ((0L, 0L)))
    // cross-check vs decontaminate: implicated train docs match
    val decon = Corpus.decontaminate(train, bench.select(col("text")), n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(decon === Set(3L, 4L))
  }

  test("temperatureMix: shares sum to ~1, T=2 flattens toward uniform, small sources boosted") {
    // source sizes 1 : 4 : 16 docs (same text length each)
    val skewed = docsDf((0L until 21L).map { i =>
      val src = if (i < 1) "small" else if (i < 5) "mid" else "big"
      (i, (0 until 10).map(j => s"w${i}_$j").mkString(" "), src)
    })
    val m = Corpus.temperatureMix(
        skewed.withColumn("__nt", TextOps.tokenCount(col("text"))),
        col("source"), col("__nt"))
      .select("source", "raw_share", "t_share", "boost")
      .as[(String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(math.abs(m.values.map(_._2).sum - 1.0) < 2e-4)
    assert(math.abs(m.values.map(_._3).sum - 1.0) < 2e-4)
    // flattening: the small source's share grows, the big one's shrinks
    assert(m("small")._3 > m("small")._2)
    assert(m("big")._3 < m("big")._2)
    assert(m("small")._4 > 1.0 && m("big")._4 < 1.0)
    // with 1:4:16 tokens, sqrt gives 1:2:4 → t_shares 1/7, 2/7, 4/7
    assert(math.abs(m("small")._3 - 1.0 / 7) < 1e-3)
    assert(math.abs(m("mid")._3 - 2.0 / 7) < 1e-3)
    assert(math.abs(m("big")._3 - 4.0 / 7) < 1e-3)
  }

  test("deterministicShuffle: (shard, pos) is a bijection, stable, seed-sensitive") {
    val out = Corpus.deterministicShuffle(corpus, col("doc_id"), seed = 7L, nShards = 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.length === 100)
    // addresses are unique and dense per shard (pos = 0..n_shard-1)
    val byShard = out.groupBy(_._2)
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (0L until rows.length).toSeq)
    }
    // pure function of (seed, id): a rerun and a corpus subset agree
    val again = Corpus.deterministicShuffle(corpus, col("doc_id"), 7L, 4)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    assert(out.map(t => t._1 -> t._2).toMap === again)
    val subset = Corpus.deterministicShuffle(
        corpus.where(col("doc_id") < 50), col("doc_id"), 7L, 4)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    subset.foreach { case (id, sh) => assert(sh === again(id)) }
    // a different seed re-deals the permutation
    val other = Corpus.deterministicShuffle(corpus, col("doc_id"), 8L, 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(other.map(t => (t._1, t._2, t._3)).toSet !== out.toSet)
  }

  test("writeShuffled: one file per shard, file order IS the permutation, layout self-describes") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "shuf").toString
    Corpus.writeShuffled(corpus, col("doc_id"), dir, seed = 7L, nShards = 4)
    val layout = spark.read.parquet(s"$dir/_graft_layout")
      .as[(Long, Int)].head()
    assert(layout === ((7L, 4)))
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    // exactly one file per shard
    val filesByShard = back.inputFiles.groupBy(f => "shard=(\\d+)".r
      .findFirstMatchIn(f).get.group(1).toInt)
    assert(filesByShard.keySet === Set(0, 1, 2, 3))
    filesByShard.values.foreach(fs => assert(fs.length === 1))
    // physical row order within each shard file == pos order
    (0 until 4).foreach { sh =>
      val physical = spark.read.parquet(filesByShard(sh).head)
        .select("pos").as[Long].collect().toSeq
      assert(physical === physical.sorted, s"shard $sh not pos-ordered")
    }
    // addresses round-trip the logical operator exactly
    val want = Corpus.deterministicShuffle(corpus, col("doc_id"), 7L, 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect().toSet
    val got = back.select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want)
  }

  test("epochPlan: token conservation, integer epochs, unlisted sources get weight 0") {
    val plan = Corpus.epochPlan(
        corpus.withColumn("__nt", TextOps.tokenCount(col("text"))),
        col("source"), col("__nt"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src9" -> 0.2), budgetTokens = 10000L)
      .select("source", "n_tokens", "weight", "target_tokens",
        "full_epochs", "rem_tokens")
      .as[(String, Long, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // every source present in the data surfaces, even unweighted ones
    assert(plan.keySet === Set("src0", "src1", "src2", "src3"))
    assert(plan("src2")._3 === 0.0 && plan("src2")._4 === 0L)
    // weight for a source with no data (src9) is simply ignored
    plan.values.foreach { case (_, n, _, target, epochs, rem) =>
      assert(target === epochs * n + rem) // exact decomposition
      assert(rem >= 0 && rem < n)
    }
    assert(plan("src0")._4 === 5000L)
    assert(plan("src1")._4 === 3000L)
  }

  test("importanceSample: equals the brute-force A-ES ranking, stable under append") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def doc(i: Int): (Long, String) =
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))(('a' + rnd.nextInt(26)).toChar).mkString)
    val base = (0 until 200).map(doc) ++ Seq((900L, null: String), (901L, ""))
    val df = base.toDF("doc_id", "text")
    def key9(text: String): Long = {
      // the kernel's exact double-op order, recomputed independently
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).take(4)
      val h = md.foldLeft(0L)((a, b) => a * 256 + (b & 0xff))
      val u = ((h % 1048576L).toDouble + 0.5) / 1048576.0
      math.floor(-math.log(u) / text.length.toDouble * 1.0e9 + 0.5).toLong
    }
    val want = base.filter(d => d._2 != null && d._2.nonEmpty)
      .map(d => (key9(d._2), d._1)).sorted.take(16).map(_._2)
    val got = graft.operators.Corpus
      .importanceSample(df, col("text"), length(col("text")), k = 16)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got === want.sorted)
    // appending rows never changes surviving keys (content-only draw):
    // the new sample is the top-k of the UNION of old keys and new keys
    val more = (300 until 350).map(doc)
    val got2 = graft.operators.Corpus
      .importanceSample((base ++ more).toDF("doc_id", "text"),
        col("text"), length(col("text")), k = 16)
      .select("doc_id").as[Long].collect().toSeq.sorted
    val want2 = (base ++ more).filter(d => d._2 != null && d._2.nonEmpty)
      .map(d => (key9(d._2), d._1)).sorted.take(16).map(_._2).sorted
    assert(got2 === want2)

    // NaN weight: Spark's total order says NaN > 0, and the NaN key would
    // die in the ANSI long cast — the guard must drop the row, not crash
    val hostile = Seq((1L, "abc", Double.NaN), (2L, "def", 2.0), (3L, "ghi", 0.0))
      .toDF("doc_id", "text", "w")
    val picked = graft.operators.Corpus
      .importanceSample(hostile, col("text"), col("w"), 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(picked === Seq(2L))
  }

  test("assemblePacked shard count is a scale parameter: kept set and splits " +
    "are shard-invariant, and the running-sum arithmetic holds at shards=8") {
    // the fixture default (4) is what the oracles replay literally; at
    // 100 TB the shard count must scale with the corpus (each shard's
    // window is ONE sequential pass), so pin the operator is correct at
    // a non-fixture count too
    val base = catalog.CorpusQueries.assembleFiltered(spark, sf0001)
    def run(shards: Long) = catalog.CorpusQueries.assemblePacked(base, shards = shards)
      .select("doc_id", "split", "shard", "pack_id", "tok_offset")
      .as[(Long, String, Long, Long, Long)].collect()
    val p4 = run(4L)
    val p8 = run(8L)
    assert(p8.map(_._1).toSet === p4.map(_._1).toSet,
      "the kept-doc set must not depend on the shard count")
    assert(p8.map(t => (t._1, t._2)).toSet === p4.map(t => (t._1, t._2)).toSet,
      "splits are content-keyed — shard-count-independent")
    assert(p8.forall { case (id, _, sh, _, _) => sh == id % 8 })
    // per-(split, shard) sequential replay: pack_id/tok_offset are the
    // running token sum div/mod 512 in doc_id order within the shard
    val toks = base.select(col("doc_id"), col("n_tokens"))
      .as[(Long, Long)].collect().toMap
    assert(toks.values.sum > 0, "fixture must have tokens to pack")
    p8.groupBy(t => (t._2, t._3)).foreach { case ((split, sh), grp) =>
      var running = 0L
      grp.sortBy(_._1).foreach { case (id, _, _, packId, off) =>
        assert(packId === running / 512, s"pack_id of doc $id in ($split,$sh)")
        assert(off === running % 512, s"tok_offset of doc $id in ($split,$sh)")
        running += toks(id)
      }
    }
    // shards=8 genuinely splits the fixture's windows (both parities occur)
    assert(p8.map(_._3).distinct.length > p4.map(_._3).distinct.length)
  }
}
