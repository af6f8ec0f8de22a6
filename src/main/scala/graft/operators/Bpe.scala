package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables
import graft.functions.TextFns

/** Distributed BPE (byte-pair-encoding) merge training — the
  * tokenizer-training step of an LLM data pipeline, run as Spark
  * aggregations over the corpus instead of a single-node counter.
  *
  * Cost model (the reason this scales): after the one corpus-wide word
  * count, every iteration touches only the DISTINCT-WORD vocabulary
  * (bounded by content, not corpus size — Heaps' law, ~10⁶ rows at
  * 100 TB where the corpus is 10¹¹ docs), so the expensive part is a
  * single map-side-combined word count and the merge loop is k small
  * vocabulary-local jobs. The only driver-side data is the argmax pair
  * per iteration (1 row × k) — the merge DECISION, never the data.
  */
object Bpe {

  /** Train `numMerges` BPE merges over the lowercase whitespace words of
    * the corpus. Standard semantics (Sennrich-style): words split to
    * character symbols plus a terminal `</w>` marker; each iteration
    * counts adjacent symbol pairs weighted by word frequency (overlapping
    * occurrences all count), merges the most frequent pair — ties broken
    * lexicographically on (left, right) — into a single symbol by a
    * greedy left-to-right non-overlapping rewrite, and repeats on the
    * rewritten vocabulary.
    *
    * Returns the merge table: (rank, left, right, merged, pair_count).
    * Deterministic, so the spec pins it against an in-memory reference
    * implementation exactly; no SQL oracle (iterative rewriting is not
    * expressible in portable SQL) → rows-only driver check by design.
    */
  def bpeTrain(spark: SparkSession, dir: String, numMerges: Int = 8): DataFrame =
    trainWithVocab(spark, dir, numMerges,
        needFinalVocab = false) match { case (merges, vocab) =>
      vocab.unpersist(blocking = false); merges
    }

  /** The training loop, also returning the final (word, cnt, syms)
    * vocabulary — PERSISTED; the caller releases it. [[bpeEncode]]
    * leans on it: encoding the corpus means encoding the DISTINCT
    * WORDS once and joining, never re-merging per occurrence.
    */
  private def trainWithVocab(spark: SparkSession, dir: String, numMerges: Int,
                             needFinalVocab: Boolean = true): (DataFrame, DataFrame) = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select(explode(TextFns.tokens(lower(col("text")))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      // '.' does not match \n, but words come from a \s+ split so they
      // cannot contain one; append the end-of-word marker symbol
      .select(col("word"), col("cnt"),
        expr("array_append(regexp_extract_all(word, '.', 0), '</w>')").as("syms"))

    var vocab = Dedup.persistOnce(StorageLevel.MEMORY_AND_DISK)(base)
    // the predecessor vocabulary, unpersisted one iteration LATE: the
    // argmax pair count below scans every partition of the current
    // vocab, so its cache is complete by the time the collect returns —
    // no dedicated materialization job (the old per-iteration count())
    // is needed before releasing what it was built from (guide §5:
    // halves the driver actions per merge). Cost: one extra
    // vocabulary-scale cache resident per iteration — Heaps-bounded.
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    try {
      var rank = 1
      var exhausted = false
      while (rank <= numMerges && !exhausted) {
        // adjacent-pair count: positions explode at top level (codegen),
        // partial-agg combine before the pair shuffle
        val best = vocab
          .select(col("cnt"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
                         i -> struct(element_at(syms, i) AS l,
                                     element_at(syms, i + 1) AS r))""")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("pair_count"))
          .orderBy(col("pair_count").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        if (prev != null) { prev.unpersist(blocking = false); prev = null }
        if (best.isEmpty) exhausted = true
        else {
          val row = best.head
          val (l, r, pc) = (row.getString(0), row.getString(1), row.getLong(2))
          val merged = l + r
          merges += ((rank.toLong, l, r, merged, pc))
          // the LAST merge's rewrite only matters to a caller that wants
          // the final vocabulary (bpeEncode); the merge table itself is
          // complete once the pair is chosen — bpeTrain skips a full
          // vocabulary rewrite pass
          if (rank < numMerges || needFinalVocab) {
            // greedy left-to-right non-overlapping rewrite as a fold: a
            // just-merged symbol never re-matches `l` in the same pass
            // (Column-API lambdas, so symbol text never string-interpolates
            // into SQL). `when`'s And short-circuits, keeping the -1
            // element_at guarded on non-empty acc under ANSI mode.
            val rewritten = aggregate(
              col("syms"),
              array().cast("array<string>"),
              (acc, x) =>
                when(size(acc) > 0 && element_at(acc, lit(-1)) === lit(l) && x === lit(r),
                  concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                  .otherwise(concat(acc, array(x))))
            val next = vocab.select(col("word"), col("cnt"), rewritten.as("syms"))
              .transform(Dedup.persistOnce(StorageLevel.MEMORY_AND_DISK))
            prev = vocab
            vocab = next
          }
          rank += 1
        }
      }
      // a caller consuming the final vocabulary does so LAZILY — pin it
      // before its predecessor (its cache's input) is released
      if (needFinalVocab && prev != null) {
        vocab.count()
        prev.unpersist(blocking = false); prev = null
      }
    } catch {
      case e: Throwable =>
        vocab.unpersist()
        if (prev != null) prev.unpersist(blocking = false)
        throw e
    }
    (merges.toSeq.toDF("rank", "left", "right", "merged", "pair_count"), vocab)
  }

  /** Apply the trained merges to the corpus: per-document token counts
    * under the learned BPE vocabulary, with the compression ratio
    * against raw character+marker symbols. The scale pattern is
    * encode-the-vocab, join-the-corpus: the k merge rewrites run over
    * the DISTINCT words (Heaps-bounded — the same rows the training
    * loop already materialized), and the corpus pays one explode +
    * word-join + per-doc rollup, never a per-occurrence merge loop.
    */
  def bpeEncode(spark: SparkSession, dir: String, numMerges: Int = 8): DataFrame = {
    val (_, vocab) = trainWithVocab(spark, dir, numMerges)
    // the returned LAZY plan leans on the persisted vocabulary — it
    // must outlive this call; the next invocation retires it (the
    // bounded one-outstanding-cache discipline Dedup uses)
    val old = liveVocab.put("bpeEncode", vocab)
    if (old != null) {
      try {
        if (old.queryExecution.analyzed.canonicalized !=
            vocab.queryExecution.analyzed.canonicalized)
          old.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    val wordLen = vocab.select(col("word"),
      expr("size(regexp_extract_all(word, '.', 0)) + 1").as("raw_syms"),
      size(col("syms")).as("bpe_syms"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextFns.tokens(lower(col("text")))).as("word"))
      .filter(col("word") =!= "")
      .join(wordLen, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("raw_syms")).as("n_raw_syms"),
        sum(col("bpe_syms")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_raw_syms"), col("n_bpe_tokens"),
        graft.functions.Money.rnd(
          col("n_bpe_tokens").cast("double") / col("n_raw_syms").cast("double"), 4)
          .as("compression"))
  }

  private val liveVocab =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
}
