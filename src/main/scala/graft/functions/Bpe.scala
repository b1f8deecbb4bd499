package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer over a text column — the learned
  * (merge-table) tokenizer an LLM data pipeline trains once and applies
  * corpus-wide (round-13 VERDICT ambition #3; Sennrich et al. 2016's
  * subword BPE, the algorithm behind GPT-2/SentencePiece-BPE vocabs).
  *
  * Two halves, split exactly like the repo's other fit/apply kernels
  * (Pq.fit/encode, Pca.fit/project):
  *
  *  - [[train]]: K iterations of a DISTRIBUTED adjacent-pair count over
  *    the word-frequency relation — the same iterative-aggregate shape
  *    as the AP loop (per-iteration full-relation aggregate, bounded
  *    driver state). The driver holds only the merge table (K rows) and
  *    the per-iteration argmax (ONE row via `limit(1).collect()` — the
  *    house bounded-probe discipline). The word-freq relation is
  *    vocab-sized, not corpus-sized: at 100 TB the explode+groupBy that
  *    builds it is one linear shuffle, and every later iteration runs
  *    over the (much smaller) distinct-word relation.
  *  - [[applyMerges]]: encode with a FIXED merge table — per-row scalar
  *    string work (codegen'd `StringReplace` chain, no shuffle, no UDF),
  *    embarrassingly parallel at any scale.
  *
  * Symbol representation: each symbol is wrapped as `(sym)`, a word
  * starts as `(c)(h)(a)(r)s`. A merge (l, r) is then ONE literal
  * `replace("(l)(r)" → "(lr)")`: matches can only start at symbol
  * boundaries, adjacent matches share no characters, and left-to-right
  * non-overlapping replacement (both Spark's and every other engine's
  * `replace` semantics) IS greedy-left BPE — `(a)(a)(a)(a)` merges to
  * `(aa)(aa)`, `(a)(a)(a)` to `(aa)(a)`. A space-separated
  * representation gets this WRONG: the pattern `" a a "` consumes the
  * boundary space, so the second of two adjacent matches is missed.
  * The wrapper alphabet `()` never collides with symbol text because
  * words are restricted to `[a-z]+` (lower-cased, non-letters are
  * separators) — the same charset discipline as text_tokenize.
  *
  * Determinism: pair counts are exact long sums; the per-iteration
  * argmax tie-breaks (count DESC, left ASC, right ASC). Training twice
  * on the same input yields the identical table.
  */
object Bpe {

  /** Words of `textCol` as a (word, freq) relation: lower-cased,
    * `[a-z]+` runs only. */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** `(c)(h)(a)(r)` wrapping of every character of `c`. */
  private def wrapChars(c: Column): Column =
    regexp_replace(c, "(.)", "($1)")

  /** The symbol array of a wrapped representation. */
  private def symbolsOf(rep: Column): Column =
    split(regexp_replace(rep, "^\\(|\\)$", ""), "\\)\\(")

  /** One merge as a literal replace on the wrapped representation. */
  private def applyOne(rep: Column, l: String, r: String): Column =
    replace(rep, lit(s"($l)($r)"), lit(s"($l$r)"))

  /** Train `merges` BPE merges on the corpus. Each iteration: count
    * adjacent symbol pairs across the word-freq relation (freq-weighted
    * exact long sums), pull the argmax pair to the driver (one row),
    * fold it into the representation. Stops early when no adjacent pair
    * remains (every word fully merged). Returns the merge table in rank
    * order. */
  def train(docs: DataFrame, merges: Int, textCol: String = "text"): Seq[(String, String)] = {
    require(merges > 0, s"Bpe.train: merges must be positive, got $merges")
    val base = wordFreq(docs, textCol)
      .withColumn("rep", wrapChars(col("w")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      var cur = base
      val table = Seq.newBuilder[(String, String)]
      var done = false
      var rank = 0
      while (rank < merges && !done) {
        val top = cur
          .select(col("freq"), symbolsOf(col("rep")).as("s"))
          .select(col("freq"), explode(zip_with(
            slice(col("s"), lit(1), size(col("s")) - 1),
            slice(col("s"), lit(2), size(col("s")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("c"))
          .orderBy(desc("c"), asc("l"), asc("r"))
          .limit(1).collect() // bounded probe: exactly the argmax row
        if (top.isEmpty) done = true
        else {
          val (l, r) = (top(0).getString(0), top(0).getString(1))
          table += ((l, r))
          cur = cur.withColumn("rep", applyOne(col("rep"), l, r))
          rank += 1
        }
      }
      table.result()
    } finally { base.unpersist(false); () }
  }

  /** Shared pair-count subplan of [[train]]/[[trainBatched]]: adjacent
    * symbol pairs of the wrapped representation, freq-weighted exact
    * long sums. */
  private def pairCounts(cur: DataFrame): DataFrame =
    cur
      .select(col("freq"), symbolsOf(col("rep")).as("s"))
      .select(col("freq"), explode(zip_with(
        slice(col("s"), lit(1), size(col("s")) - 1),
        slice(col("s"), lit(2), size(col("s")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("c"))

  /** BATCHED BPE training (round-14 VERDICT #3 — K=16 single-merge
    * rounds don't scale to a realistic ≥256-merge vocab: K count jobs
    * and a K-deep replace chain): each round counts pairs ONCE, pulls a
    * bounded candidate prefix (4·batch rows — the house bounded-probe
    * discipline), greedily selects up to `batch` pairs DISJOINT in
    * their symbols (count DESC, l ASC, r ASC — deterministic), and
    * applies them together. Disjointness makes the batch exact: a merge
    * only perturbs adjacencies involving its own two symbols, so the
    * counts every selected pair was chosen on are still true after the
    * others in its round apply — this is the standard batched-BPE
    * trainer (every fast BPE implementation ships one); its table can
    * differ from the strict single-merge sequence (which re-ranks after
    * every merge), so the oracled text_bpe_train key keeps [[train]]
    * and this kernel carries its own determinism + drift pins in
    * BpeSpec. K/batch count jobs instead of K; driver state stays
    * ≤ 4·batch rows per round + the K-row table. The representation
    * re-pins via eager localCheckpoint each round — a K-deep replace
    * lineage would otherwise blow past codegen limits by round ~6 (the
    * AP-loop truncation discipline). */
  def trainBatched(docs: DataFrame, merges: Int, batch: Int = 16,
      textCol: String = "text"): Seq[(String, String)] =
    trainBatchedRounds(docs, merges, batch, textCol).flatten

  /** [[trainBatched]] with the per-round structure visible — a round
    * may select FEWER than `batch` merges when later candidates
    * conflict with earlier picks' symbols (BpeSpec pins the within-round
    * disjointness invariant on these actual boundaries). */
  private[graft] def trainBatchedRounds(docs: DataFrame, merges: Int,
      batch: Int = 16, textCol: String = "text"): Seq[Seq[(String, String)]] = {
    require(merges > 0, s"Bpe.trainBatched: merges must be positive, got $merges")
    require(batch > 0, s"Bpe.trainBatched: batch must be positive, got $batch")
    graft.Checkpoints.scoped { s =>
      val base = s.persist(wordFreq(docs, textCol)
        .withColumn("rep", wrapChars(col("w"))),
        org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      val table = Seq.newBuilder[Seq[(String, String)]]
      // state: (representation, merges so far, corpus exhausted); each
      // round's checkpoint is freed once the next round's lands
      s.rounds(merges)((base, 0, false))(st => st._3 || st._2 >= merges) {
        case ((cur, total, _), _) =>
          val want = math.min(batch, merges - total)
          val cand = pairCounts(cur)
            .orderBy(desc("c"), asc("l"), asc("r"))
            .limit(want * 4).collect()
          if (cand.isEmpty) (cur, total, true)
          else {
            val used = scala.collection.mutable.Set.empty[String]
            val picked = Seq.newBuilder[(String, String)]
            var i = 0
            var n = 0
            while (i < cand.length && n < want) {
              val (l, r) = (cand(i).getString(0), cand(i).getString(1))
              if (!used(l) && !used(r)) {
                // the merged OUTPUT symbol is reserved too (review round
                // 15): a later same-round pick reading l+r as its own l
                // or r would merge occurrences the earlier pick CREATES
                // after counting — e.g. picks (a,bc) then (abc,x) — so
                // its count would no longer be true within the round
                picked += ((l, r)); used += l; used += r; used += l + r; n += 1
              }
              i += 1
            }
            val sel = picked.result() // never empty: the first candidate always selects
            table += sel
            (s.pin(cur.withColumn("rep", sel.foldLeft(col("rep")) {
              case (c, (l, r)) => applyOne(c, l, r)
            })), total + sel.size, false)
          }
      }
      table.result()
    }
  }

  /** Token count of ONE `[a-z]+` word under a fixed merge table —
    * bit-equivalent to the [[applyMerges]] replace chain by
    * construction: for each merge in rank order, one left-to-right
    * non-overlapping merge pass over the symbol array (a replacement
    * never re-matches as the LEFT of the same pass — `replace` resumes
    * after the substituted text — which is exactly the `rd += 2`
    * below). O(K·len) with zero regex and no per-merge string scan of
    * unmatched symbols. Static (object) method so generated code can
    * call it via the Scala static forwarder. */
  def countTokens(word: String, lefts: Array[String], rights: Array[String],
      merged: Array[String]): Int = {
    var n = word.length
    if (n <= 1) return n
    val syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var k = 0
    while (k < lefts.length && n > 1) {
      val l = lefts(k); val r = rights(k)
      var rd = 0; var wr = 0
      while (rd < n) {
        if (rd + 1 < n && syms(rd).equals(l) && syms(rd + 1).equals(r)) {
          syms(wr) = merged(k); rd += 2
        } else { syms(wr) = syms(rd); rd += 1 }
        wr += 1
      }
      n = wr
      k += 1
    }
    n
  }

  /** [[countTokens]] on the engine's UTF8String — the codegen entry
    * point ([a-z] input ⇒ ASCII ⇒ toString is exact). */
  def countTokensU(word: UTF8String, lefts: Array[String],
      rights: Array[String], merged: Array[String]): Int =
    countTokens(word.toString, lefts, rights, merged)

  /** Apply a fixed merge table with a plan whose SIZE IS O(1) IN K
    * (round-14 VERDICT #3: the [[applyMerges]] replace chain is one
    * nested expression per merge — at K=256 the projection is a
    * 256-deep tree that bloats analysis and falls out of codegen
    * limits): the whole merge replay runs inside ONE native Catalyst
    * expression ([[BpeCountTokens]], the VecDot ladder rung — native
    * Expression with doGenCode, still whole-stage codegen, no UDF serde
    * boundary). Same output contract and bit-identical results to
    * [[applyMerges]] on any table (BpeSpec pins equivalence on the
    * trained wide vocab). */
  def applyMergesFast(docs: DataFrame, table: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    requireCleanTable(table, "Bpe.applyMergesFast")
    register(docs.sparkSession)
    val nTok = call_function("bpe_count", col("w"), lit(packTable(table)))
    docs.select(col(idCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol), nTok.as("n_tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
  }

  /** The merge table as `bpe_count`'s second argument — a `"l r;l r"`
    * string LITERAL, unambiguous on the [a-z] symbol charset. Encoding
    * the table into the call (rather than closing over it in the
    * function builder) keeps the registered builder stateless: two
    * concurrent applies with different vocabs cannot misbind. */
  private def packTable(table: Seq[(String, String)]): String =
    table.map { case (l, r) => s"$l $r" }.mkString(";")

  private[functions] def parseTable(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { m =>
      val Array(l, r) = m.split(" "); (l, r)
    }

  /** Register `bpe_count(word, 'l r;l r;…')` for SQL/call_function use
    * (the [[VectorExprs.register]] discipline — the repo's bridge from
    * Column code to a native Expression; the table argument must be a
    * foldable string literal, parsed once at analysis). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("bpe_count",
      { es =>
        import org.apache.spark.sql.catalyst.expressions.Literal
        es match {
          case Seq(w, Literal(s: UTF8String, StringType)) =>
            BpeCountTokens(w, parseTable(s.toString))
          case _ => throw new IllegalArgumentException(
            "bpe_count expects (word, 'l r;l r;…' string literal), got " +
              es.map(_.sql).mkString(", "))
        }
      }, "built-in")

  private[functions] def requireCleanTable(table: Seq[(String, String)],
      who: String): Unit =
    require(table.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty &&
        (l + r).forall(c => c >= 'a' && c <= 'z') },
      s"$who: merge symbols must be non-empty [a-z] strings — " +
        "the (sym) wrapped representation is only collision-free on that charset")

  /** Apply a fixed merge table: per document, the `[a-z]+` words are
    * wrapped and the merges replay in rank order (a codegen'd
    * StringReplace chain — table size is a query-compile constant).
    * Returns (doc_id, n_words, n_tokens): documents with no letter runs
    * drop (no words — same as the SQL GROUP BY over the exploded
    * words). Token count = `(`-count of the final representation. */
  def applyMerges(docs: DataFrame, table: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the (sym) wrapping is collision-free ONLY on the [a-z] charset
    // (scaladoc above); a caller-supplied vocab with a paren or other
    // out-of-charset symbol would silently corrupt the replace chain
    // (round-14 review) — fail loud instead
    require(table.forall { case (l, r) =>
      l.nonEmpty && r.nonEmpty &&
        (l + r).forall(c => c >= 'a' && c <= 'z') },
      "Bpe.applyMerges: merge symbols must be non-empty [a-z] strings — " +
        "the (sym) wrapped representation is only collision-free on that charset")
    val rep = table.foldLeft(wrapChars(col("w"))) {
      case (c, (l, r)) => applyOne(c, l, r)
    }
    docs.select(col(idCol), explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col(idCol),
        (length(rep) - length(replace(rep, lit("(")))).as("n_tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
  }
}

/** Native whole-merge-replay expression behind [[Bpe.applyMergesFast]]:
  * token count of one `[a-z]+` word under a FIXED merge table, the
  * entire K-merge loop inside one codegen'd call — plan size O(1) in K
  * where the replace chain is O(K) nested expressions. Same ladder rung
  * as [[VecDot]] (native Expression with doGenCode — no UDF serde
  * boundary, stays inside whole-stage codegen). The table rides into
  * generated code as reference objects (`ctx.addReferenceObj`), and the
  * kernel is the static [[Bpe.countTokensU]] — one implementation for
  * eval and codegen, so the two paths cannot drift. */
case class BpeCountTokens(child: Expression, table: Seq[(String, String)])
    extends UnaryExpression {

  Bpe.requireCleanTable(table, "bpe_count")

  override def dataType: DataType = IntegerType

  override def prettyName: String = "bpe_count"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bpe_count expects a string word, got ${t.simpleString}")
    }

  @transient private lazy val lefts: Array[String] = table.map(_._1).toArray
  @transient private lazy val rights: Array[String] = table.map(_._2).toArray
  @transient private lazy val merged: Array[String] =
    table.map { case (l, r) => l + r }.toArray

  override def nullSafeEval(w: Any): Any =
    Bpe.countTokensU(w.asInstanceOf[UTF8String], lefts, rights, merged)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("bpeLefts", lefts, "java.lang.String[]")
    val rRef = ctx.addReferenceObj("bpeRights", rights, "java.lang.String[]")
    val mRef = ctx.addReferenceObj("bpeMerged", merged, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.Bpe.countTokensU($w, $lRef, $rRef, $mRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCountTokens =
    copy(child = newChild)
}
