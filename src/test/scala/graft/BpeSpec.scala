package graft

import org.apache.spark.sql.functions._

import graft.functions.Bpe

/** Mechanism tests for the distributed BPE tokenizer (round-13 VERDICT
  * ambition #3; `text_bpe_train` / `text_bpe` keys). The value-level
  * certification is the DuckDB oracle (pinned merge tables + an
  * independently-unrolled replace chain); here we pin the algorithmic
  * claims the oracle can't state: greedy-left application semantics,
  * the trainer's argmax/tie-break/early-stop behavior on hand-computed
  * corpora, and bit-for-bit determinism across runs. */
class BpeSpec extends SparkSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("train learns the hand-computed merge sequence and stops early") {
    // wordFreq: abab:1, ab:1. Pairs r1: (a,b)=3, (b,a)=1 → merge (a,b).
    // Reps: (ab)(ab), (ab). Pairs r2: (ab,ab)=1 → merge (ab,ab).
    // Reps: (abab), (ab) — no adjacent pair left → early stop at 2.
    val t = Bpe.train(docs("abab ab"), merges = 5)
    assert(t === Seq(("a", "b"), ("ab", "ab")))
  }

  test("trainer argmax tie-breaks (count desc, left asc, right asc)") {
    // "cd ab": pairs (a,b)=1 and (c,d)=1 — tie; left asc picks (a,b).
    val t = Bpe.train(docs("cd ab"), merges = 1)
    assert(t === Seq(("a", "b")))
  }

  test("frequency weighting: repeated words dominate the pair counts") {
    // 'xy' appears 3 times, 'zq' once → (x,y)=3 beats (z,q)=1.
    val t = Bpe.train(docs("xy xy zq", "xy"), merges = 1)
    assert(t === Seq(("x", "y")))
  }

  test("applyMerges is greedy-left: aaaa→2 tokens, aaa→2, aaaaa→3") {
    val got = Bpe.applyMerges(docs("aaaa", "aaa", "aaaaa"), Seq(("a", "a")))
      .orderBy("doc_id").collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 1L, 2L), (1L, 1L, 2L), (2L, 1L, 3L)))
  }

  test("applyMerges replays ranks in order (stacked merges compose)") {
    // Table (a,b) then (ab,c): "abc" → (ab)(c) → (abc) = 1 token.
    val got = Bpe.applyMerges(docs("abc"), Seq(("a", "b"), ("ab", "c"))).collect()
    assert(got.head.getLong(2) === 1L)
  }

  test("word splitting: case-folded [a-z]+ runs; letterless docs drop") {
    val got = Bpe.applyMerges(docs("Ab, cd!", "123 --"), Seq.empty)
      .orderBy("doc_id").collect()
    // doc 0: words ab, cd (2 words, 4 single-char tokens); doc 1 drops.
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 2L, 4L)))
  }

  test("training is deterministic across runs") {
    val d = Tables.documents(spark, sf001).limit(200)
    val t1 = Bpe.train(d, merges = 6)
    val t2 = Bpe.train(d, merges = 6)
    assert(t1 === t2)
    assert(t1.size === 6)
  }

  // ---- round-15: batched training + the O(1)-plan fast kernel --------

  test("batched trainer matches the pinned wide vocab (sf0.01 drift guard)") {
    // the build-time pin: if the fixture or the batched trainer moves,
    // this fails with the regeneration recipe rather than letting the
    // text_bpe_wide oracle silently agree with a stale constant
    val got = Bpe.trainBatched(Tables.documents(spark, sf01), 64, batch = 16)
    assert(got === queries.TextOps.pinnedBpeWideVocab,
      "pinnedBpeWideTable drifted — regenerate via " +
        "Bpe.trainBatched(sf0.01 documents, 64, 16) and update TextOps: " +
        got.map { case (l, r) => s"$l $r" }.mkString(";"))
  }

  test("batched trainer is deterministic; round-1 head equals the single-merge argmax") {
    val d = Tables.documents(spark, sf001).limit(200)
    val r1 = Bpe.trainBatchedRounds(d, 24, batch = 8)
    val r2 = Bpe.trainBatchedRounds(d, 24, batch = 8)
    assert(r1 === r2)
    val t1 = r1.flatten
    // the first batched pick is made from the same counts as the strict
    // trainer's first argmax
    assert(t1.head === Bpe.train(d, merges = 1).head)
    // within each ACTUAL round (a round may select fewer than `batch`
    // when later candidates conflict), picks are symbol-disjoint
    // INCLUDING each pick's merged OUTPUT (review round 15): the
    // exactness argument needs a later pick to neither consume a symbol
    // an earlier pick consumes ({l, r}) nor one it CREATES (l+r) —
    // e.g. picks (a,bc) then (abc,x) would merge occurrences that were
    // never counted. A pick may itself be (g,g) — one symbol twice is
    // one adjacency pattern; disjointness is ACROSS picks.
    r1.foreach { round =>
      val sets = round.map { case (l, r) => Set(l, r) }
      val touched = round.map { case (l, r) => Set(l, r, l + r) }
      for (i <- sets.indices; j <- sets.indices if i < j)
        assert((touched(i) & sets(j)).isEmpty,
          s"round pick $j consumes a symbol pick $i touches: $round")
    }
  }

  test("batched trainer runs a pinned action budget and leaves nothing persisted") {
    val d = Tables.documents(spark, sf001).limit(200)
    d.schema // the fixture's footer read happens before the measured call
    val before = persistedIds
    val cost = actionsDuring { Bpe.trainBatched(d, 24, batch = 8); () }
    assert(persistedIds == before)
    assert(cost == ((8, 13)), s"(SQL executions, jobs) per call: $cost")
  }

  test("applyMergesFast is bit-identical to the replace chain (16 and 64-merge vocabs)") {
    val d = Tables.documents(spark, sf001)
    for (vocab <- Seq(queries.TextOps.pinnedBpeVocab,
        queries.TextOps.pinnedBpeWideVocab)) {
      val chain = Bpe.applyMerges(d, vocab).orderBy("doc_id").collect().toSeq
      val fast = Bpe.applyMergesFast(d, vocab).orderBy("doc_id").collect().toSeq
      assert(chain === fast, s"fast kernel diverged on a ${vocab.size}-merge table")
    }
  }

  test("K=256 request: training exhausts the corpus, fast kernel matches an independent replay") {
    val d = Tables.documents(spark, sf001)
    val table = Bpe.trainBatched(d, 256, batch = 32)
    // the fixture vocabulary fully merges before 256 (every distinct
    // word becomes one token) — the early stop must fire, not loop
    assert(table.size >= 64 && table.size < 256,
      s"expected corpus exhaustion between 64 and 256 merges, got ${table.size}")
    // independent per-word replay of the FULL table via
    // java.lang.String.replace (left-to-right non-overlapping — the
    // same contract Spark's replace implements, implemented by a
    // different engine): the chain form can't execute at this K (the
    // very reason the fast kernel exists), so this is the full-table
    // equivalence check
    def refCount(word: String): Int = {
      var rep = word.map(c => s"($c)").mkString
      table.foreach { case (l, r) => rep = rep.replace(s"($l)($r)", s"($l$r)") }
      rep.count(_ == '(')
    }
    val lefts = table.map(_._1).toArray
    val rights = table.map(_._2).toArray
    val merged = table.map { case (l, r) => l + r }.toArray
    val words = d.select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0).distinct().collect().map(_.getString(0))
    assert(words.nonEmpty)
    words.foreach { w =>
      assert(Bpe.countTokens(w, lefts, rights, merged) === refCount(w),
        s"fast kernel diverged from the String.replace replay on '$w'")
    }
    // and the distributed fast path runs the full table in ONE
    // expression — the plan stays O(1) in K
    val plan = Bpe.applyMergesFast(d, table).queryExecution.analyzed.toString
    assert(plan.contains("bpe_count("))
  }

  test("applied token count is bounded by [n_words, character count]") {
    val d = Tables.documents(spark, sf001).limit(100)
    val table = Bpe.train(d, merges = 8)
    val bad = Bpe.applyMerges(d, table)
      .join(
        d.select(col("doc_id"),
          length(regexp_replace(lower(col("text")), "[^a-z]", "")).as("n_chars")),
        "doc_id")
      .filter(col("n_tokens") < col("n_words") ||
        col("n_tokens") > col("n_chars"))
      .limit(1).collect() // bounded probe
    assert(bad.isEmpty)
  }
}
