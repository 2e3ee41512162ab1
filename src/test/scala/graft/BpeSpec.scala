package graft

import graft.operators.{Bpe, Substring}

/** The distributed BPE trainer: the classic Sennrich
  * low/lower/newest/widest merge sequence reproduced by hand
  * (including the deterministic tie-breaks), greedy non-overlapping
  * fold semantics on repeated symbols, and the encode-stats
  * concatenation invariant.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  private def plant(rows: Seq[(Long, String)]): String = {
    val dir = tmpDir("bpe")
    rows.map { case (id, text) =>
      (id, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("classic corpus learns the hand-derived merge sequence with " +
      "deterministic tie-breaks") {
    // word frequencies: low×5, lower×2, newest×6, widest×3
    val d = plant(Seq(
      (1L, Seq.fill(5)("low").mkString(" ") + " " +
        Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ") + " " +
        Seq.fill(3)("widest").mkString(" "))))
    // round 1: (e,s)=9 ties (s,t</w>)=9 → left ASC picks (e,s)
    // round 2: (es,t</w>)=9
    // round 3: (l,o)=7
    // round 4: (e,w)=6 ties (n,e) and (w,est</w>) → left ASC → (e,w)
    val got = Bpe.merges(spark, d, nMerges = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      (1, "e", "s", 9L),
      (2, "es", "t</w>", 9L),
      (3, "l", "o", 7L),
      (4, "e", "w", 6L)))
  }

  test("greedy fold merges left-to-right without overlap on repeated " +
      "symbols") {
    val d = plant(Seq((1L, "aaaa")))
    // syms a,a,a,a</w>: (a,a)=2 beats (a,a</w>)=1 → merge 1 = (a,a)
    // fold → [aa, a, a</w>]; round 2 counts (a,a</w>)=1 vs (aa,a)=1 →
    // left ASC picks (a,a</w>) → fold → [aa, aa</w>]
    val (merges, state) = Bpe.learn(spark, d, nMerges = 2)
    assert(merges === Seq((1, "a", "a", 2L), (2, "a", "a</w>", 1L)))
    val syms = state.select("syms").collect()(0).getSeq[String](0)
    assert(syms === Seq("aa", "aa</w>"))
  }

  test("merge exhaustion stops the loop early") {
    val d = plant(Seq((1L, "ab ab")))
    // only pair (a,b</w>) → 1 merge then single-symbol words
    val got = Bpe.merges(spark, d, nMerges = 10).collect()
    assert(got.length === 1)
  }

  test("driver-local fast path equals the distributed rounds bit-for-" +
      "bit: merges, final symbol table, and the frozen-merge replay " +
      "(r18 — the size gate must be a layout choice, never a result " +
      "change)") {
    val d = plant(Seq(
      (1L, Seq.fill(5)("low").mkString(" ") + " " +
        Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ") + " " +
        Seq.fill(3)("widest").mkString(" "))))
    val key = "spark.graft.bpe.localTrainMaxTypes"
    def run(): (Seq[(Int, String, String, Long)],
        Seq[(String, Long, Seq[String])], Seq[(String, Seq[String])],
        Seq[(Long, Long, String)]) = {
      val (ms, state) = Bpe.learn(spark, d, nMerges = 6)
      val vocab = state.select("word", "freq", "syms").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
        .sortBy(_._1).toSeq
      // replay path: include an OOV word so the fold actually runs
      val replayed = Bpe.encodeVocabUnder(
        Seq("lowest", "newest", "zz").toDF("word"),
        ms.map(m => (m._2, m._3)))
        .select("word", "syms").collect()
        .map(r => (r.getString(0), r.getSeq[String](1)))
        .sortBy(_._1).toSeq
      // the symbol-stream encoder behind the BPE scrub takes the same
      // gate: reassembled text runs through every doc's stream
      val scrubbed = Substring.substringScrubBpe(spark, d, minLen = 2,
          nMerges = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq
      (ms, vocab, replayed, scrubbed)
    }
    val local = run() // tiny corpus: under the default gate
    spark.conf.set(key, "0") // force the distributed rounds
    val dist =
      try run() finally spark.conf.unset(key)
    assert(local._1 === dist._1)
    assert(local._2 === dist._2)
    assert(local._3 === dist._3)
    assert(local._4.nonEmpty)
    assert(local._4 === dist._4)
  }

  test("the broadcast vocabulary map is bounded by bytes as well as " +
      "types: under a lowered autoBroadcastJoinThreshold the encoders " +
      "take the join fallback and emit the same streams and stats") {
    val d = plant(Seq(
      (1L, Seq.fill(5)("low").mkString(" ") + " " +
        Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ") + " " +
        Seq.fill(3)("widest").mkString(" "))))
    val vocab = Bpe.learn(spark, d, nMerges = 6)._2.select("word", "syms")
    // the scrub reassembles text from every doc's symbol stream
    // (Substring.symbolStreams); encodeStats folds the per-doc token
    // stats (Bpe.docTokenStats) — the two gated encoders
    def run(): (Seq[(Long, Long, String)], Seq[String]) = (
      Substring.substringScrubBpe(spark, d, minLen = 2, nMerges = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq,
      Bpe.encodeStats(spark, d, nMerges = 6).collect().map(_.toString)
        .toSeq)
    assert(Bpe.broadcastableVocab(vocab))
    val mapped = run()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "16") // bytes: under the 4-type map's estimate
    val joined =
      try {
        assert(!Bpe.broadcastableVocab(vocab))
        run()
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(mapped._1.nonEmpty)
    assert(mapped === joined)
  }

  test("an unparseable localTrainMaxTypes is a configuration error " +
      "naming the key, not a silent fallback to the default gate") {
    val d = plant(Seq((1L, "ab ab")))
    val key = "spark.graft.bpe.localTrainMaxTypes"
    spark.conf.set(key, "256k")
    val e =
      try intercept[IllegalArgumentException](
        Bpe.merges(spark, d, nMerges = 1).collect())
      finally spark.conf.unset(key)
    assert(e.getMessage.contains(key))
  }

  test("frozen-model apply: persisted merges encode UNSEEN words by " +
      "rank-order replay; stats from the model equal the inline train " +
      "on the same corpus") {
    import org.apache.spark.sql.functions.col
    val train = plant(Seq(
      (1L, Seq.fill(5)("low").mkString(" ") + " " +
        Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ") + " " +
        Seq.fill(3)("widest").mkString(" "))))
    val model = tmpDir("bpemodel")
    Bpe.writeModel(spark, train, model, nMerges = 4)
    // merges: (e,s) (es,t</w>) (l,o) (e,w) — "lowest" is OOV; replay:
    // l,o,w,es,t</w> → l,o,w,est</w> → lo,w,est</w> → [lo, w, est</w>]
    val apply = plant(Seq((1L, "lowest zz")))
    val got = Bpe.encodeDocs(
      Tables.documents(spark, apply), Bpe.readMerges(spark, model))
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getInt(2)))
    assert(got.toSeq === Seq(("lowest", 3), ("zz", 2)))
    // same corpus through the frozen model == the inline train row
    val d = sf("sf0.001")
    val m2 = tmpDir("bpemodel2")
    Bpe.writeModel(spark, d, m2)
    assert(Bpe.encodeStatsFromModel(spark, d, m2).collect().toSeq ===
      Bpe.encodeStats(spark, d).collect().toSeq)
  }

  test("encode stats preserve the concatenation invariant and count " +
      "one symbol row per corpus token") {
    val d = sf("sf0.001")
    val row = Bpe.encodeStats(spark, d, nMerges = 4).collect()(0)
    val (nDocs, nTokens, nChars, nSyms, compression) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getDouble(4))
    val expected = Tables.documents(spark, d)
      .selectExpr("size(filter(split(text, ' '), t -> t <> '')) AS n",
        "length(replace(text, ' ', '')) AS c")
      .agg(org.apache.spark.sql.functions.expr(
        "struct(sum(CAST(n > 0 AS LONG)), CAST(sum(n) AS LONG), " +
          "CAST(sum(c) AS LONG))"))
      .collect()(0).getStruct(0)
    assert(nDocs === expected.getLong(0))
    assert(nTokens === expected.getLong(1))
    assert(nChars === expected.getLong(2))
    // merges only ever shrink the symbol stream; chars bound it below
    assert(nSyms <= nChars + nTokens && nSyms >= nTokens)
    assert(compression === math.rint(
      (nChars.toDouble / nSyms + 1e-9) * 1e4) / 1e4)
  }

  test("fertility: per-(lang, source) symbol economics under the " +
      "corpus-trained merges — a merged-away word costs 1 symbol in " +
      "its group while the unmerged group keeps char granularity") {
    // corpus words: 'ab' ×3 (group en/a), 'abcd' ×2 (group de/b);
    // round-1 argmax is (a, b</w>) n=3, so after ONE merge 'ab' is a
    // single symbol while 'abcd' is untouched (its (a,b) pair has no
    // word-final marker and loses the argmax)
    val dir = tmpDir("bpe_fert")
    Seq(
      (1L, "ab ab ab", "en", "a", 8L),
      (2L, "abcd abcd", "de", "b", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Bpe.fertility(spark, dir, nMerges = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("de", "b", 2L, 8L, 8L, 4.0, 1.0),
      ("en", "a", 3L, 6L, 3L, 1.0, 2.0)))
  }
}
