package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Distributed BPE tokenizer training (Sennrich et al. 2016,
  * arXiv:1508.07909) — the merge-discovery loop every LLM tokenizer
  * pipeline runs over its corpus before training begins.
  *
  * The classic trainer shape (sentencepiece / HF tokenizers): BPE
  * statistics are a function of the WORD FREQUENCY table, not the raw
  * corpus — so the corpus is touched exactly once (one map-side-combined
  * word count whose output is vocabulary-bounded), and every merge round
  * runs on the vocab table, which is orders of magnitude smaller than the
  * corpus at any scale. That one aggregation is the entire corpus cost;
  * at 100 TB the rounds' cost is unchanged (the vocabulary grows
  * sublinearly — Heaps' law).
  *
  * Each round:
  *   1. adjacent symbol-pair counts weighted by word frequency — one
  *      explode + map-side-combined sum over the vocab table;
  *   2. the argmax pair (count desc, then lexicographic — deterministic)
  *      — a 1-row `orderBy.limit(1)` collect, the only driver traffic;
  *   3. the merge applied to every word's symbol array by a scan-local
  *      greedy left-to-right fold (the same associativity BPE defines).
  *
  * Rounds chain scan-local column transforms on the persisted vocab; the
  * plan re-derives each round's state from the single persisted scan (no
  * per-round shuffle of the vocab, no lineage blowup at merge counts in
  * the hundreds — a production run would localCheckpoint every ~50
  * rounds).
  *
  * New pairs created by a merge are counted in the NEXT round's
  * statistics, and their count can never exceed the count of the merge
  * that created them (every occurrence of `(LR, x)` was an `(R, x)`
  * adjacent to a merged `(L, R)`) — so the learned merge counts are
  * non-increasing, which the spec pins.
  */
object BpeTrain {

  /** Split `text` into per-word symbol arrays with frequencies: one
    * corpus-bounded aggregation; everything after runs on this table. */
  private[queries] def vocab(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("n"), split(col("word"), "").as("syms"))

  /** Tie-break ordering for the argmax pair: count desc, then the
    * ENGINE's string order — Spark compares strings as unsigned UTF-8
    * bytes (UTF8String.binaryCompare), which differs from Java/Scala
    * `String.compareTo` (UTF-16 units) for supplementary-plane
    * characters vs U+E000..U+FFFF. The spec's reference model compares
    * UTF-8 bytes for exactly this reason. */

  /** Adjacent-pair counts over symbol arrays weighted by `n`. */
  private def pairCounts(v: DataFrame): DataFrame =
    v.select(col("n"), explode(expr(
        "transform(slice(syms, 1, size(syms) - 1), " +
          "(s, i) -> struct(s AS l, syms[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n")).as("cnt"))

  /** Greedy left-to-right application of merge (l, r) -> l||r, as a
    * compiled single-pass kernel ([[graft.functions.BpeApplyMerges]]).
    * The declarative `aggregate` HOF formulation it replaced
    * ([[applyMergeReference]]) is interpreted per element AND copies the
    * accumulator array per element — it was the hottest loop of both BPE
    * queries (encode 3.45 s warm at sf0.1; the spec pins kernel ≡
    * reference on the real vocab plus adversarial merge chains). */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    graft.functions.BpeApplyMerges.applyOne(syms, l, r)

  /** The original declarative fold — kept as the executable REFERENCE
    * MODEL FunctionsSpec pins the compiled kernel against ("BpeApplyMerges
    * ≡ the declarative aggregate-HOF reference"); never on the query
    * path. */
  private[graft] def applyMergeReference(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Tokenize the corpus with a learned merge list: per word, start from
    * characters and apply every merge in rank order (the same greedy fold
    * as training — BPE's defined application semantics).
    *
    * Tokenization is a function of the WORD, so the merge folds run on
    * the DISTINCT-word table (vocabulary-bounded, like training itself)
    * and token counts join back onto the corpus — the same word-cache
    * trick production tokenizers use. The naive scan-local formulation
    * (fold every merge over every word OCCURRENCE) re-paid the fold
    * corpus-many times: 10.2 s vs 1.9 s at sf0.1 under full
    * materialization, growing with corpus instead of vocabulary. At
    * scale the word→count table broadcasts (Heaps' law) and the per-doc
    * sum is one map-side-combined aggregate. Per doc this reports
    * word/char/token counts and chars-per-token in exact ppm. */
  def encode(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
    // Token COUNT per distinct word in one compiled pass over the merge
    // list (split semantics unchanged; only the fold chain is fused) —
    // see [[graft.functions.BpeTokenCount]].
    val wordTokens = words.select("word").distinct()
      .select(col("word"),
        graft.functions.BpeTokenCount.count(split(col("word"), ""), merges)
          .as("w_tokens"))
    val perDoc = words.join(wordTokens, "word")
      .groupBy("doc_id").agg(sum(col("w_tokens")).as("n_bpe_tokens"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        col("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L)))
      .withColumn("chars_per_token_ppm",
        expr("CAST(CASE WHEN n_bpe_tokens > 0 " +
          "THEN n_chars * 1000000 div n_bpe_tokens ELSE 0 END AS BIGINT)"))
      .orderBy("doc_id")
  }

  /** Learn `rounds` merges; returns (rank, left, right, merged,
    * pair_count) ordered by rank. */
  def train(s: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    // Keep the persisted BASE reference: the merge loop reassigns `v`
    // to Project chains over it, and unpersisting one of those would be
    // a silent no-op (CacheManager matches the cached plan, not its
    // descendants) — the leak class the round-9 advice flagged on the
    // curation pipeline.
    val base = vocab(docs).persist()
    base.count() // materialize once; rounds chain scan-local transforms
    // One-row argmax over the CACHED vocab (vocabulary-bounded at any
    // corpus scale): AQE's per-stage job materialization only adds a
    // driver round-trip per round — and the rounds are sequential by
    // definition, so round-trips are the whole cost. The argmax runs on
    // the store's private metadata session (AQE off, shared cache), so
    // the caller's session is never reconfigured; the corpus-sized vocab
    // aggregation above (base.count()) stays on the caller's session.
    lazy val meta = graft.store.ManifestTable.metadataSession(s)
    try {
      var v: DataFrame = base
      val merges = Seq.newBuilder[(Long, String, String, String, Long)]
      for (rank <- 1 to rounds) {
        val top = GraftBridge.ofRows(meta, GraftBridge.logicalPlan(
          pairCounts(v)
            .orderBy(col("cnt").desc, col("l"), col("r"))
            .limit(1))).collect()
        if (top.nonEmpty) {
          val (l, r, cnt) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((rank.toLong, l, r, l + r, cnt))
          v = v.select(col("n"), applyMerge(col("syms"), l, r).as("syms"))
        }
      }
      merges.result().toDF("rank", "left", "right", "merged", "pair_count")
    } finally base.unpersist()
  }

  /** DuckDB oracle replaying [[train]]+[[encode]] END TO END — merges
    * included. BPE training is iterative and data-dependent, but the round
    * COUNT is a fixed parameter, so the loop unrolls into `rounds` chained
    * CTE triples (pair counts → argmax merge → apply), no recursion needed:
    *
    *   - pair counts: the same unnest-adjacent-pairs sum the Spark side
    *     computes, weighted by word frequency;
    *   - argmax: `ORDER BY cnt DESC, l, r LIMIT 1` — both engines compare
    *     strings as raw bytes (DuckDB binary collation ≡ Spark
    *     UTF8String.binaryCompare), so the tie-break is engine-exact;
    *   - apply: the greedy left-to-right fold, replayed by `list_reduce`
    *     over a CHR(31)-delimited string accumulator (the unit separator
    *     cannot appear in corpus text). Prepending a sentinel '' makes the
    *     accumulator uniformly `sep‖s₁‖sep‖s₂…`, so "last symbol" and
    *     "drop last symbol" are plain string ops and the merge branch
    *     rewrites the tail exactly like [[applyMerge]]'s `aggregate` fold.
    *
    * Encode then reads per-word token counts straight off the final vocab
    * state (training's per-round apply IS encode's rank-order fold — the
    * identical applyMerge sequence), joins them onto the corpus words, and
    * reproduces [[encode]]'s per-doc report. Validated cell-exact against
    * an independent Python BPE model before wiring (500/500 docs, sf0.01). */
  private def trainingCtes(rounds: Int): String = {
    // concat(), not the `||` operator: this fragment is interpolated into
    // stripMargin templates below, where a continuation line starting with
    // `||` would lose one pipe to the margin strip and corrupt the SQL.
    //
    // The vK CTEs join mK with LEFT JOIN ON true, not a cross join: a
    // corpus whose merges run dry before `rounds` (every word down to one
    // symbol) yields an EMPTY argmax row — a cross join would erase the
    // whole vocabulary from that round on, while the left join leaves
    // m.l/m.r null, the CASE's null comparison picks the no-merge branch
    // for every symbol, and the vocab passes through unchanged — exactly
    // the Spark trainer's `if (top.nonEmpty)` skip.
    def apply(k: Int): String =
      s"string_split(list_reduce(list_prepend('', syms), (acc, x) -> " +
        s"CASE WHEN string_split(acc, chr(31))[-1] = m$k.l AND x = m$k.r " +
        s"THEN concat(acc[1:length(acc)-length(string_split(acc, chr(31))[-1])-1], " +
        s"chr(31), m$k.l, m$k.r) " +
        s"ELSE concat(acc, chr(31), x) END), chr(31))[2:]"
    val base =
      """v0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n, string_split(word, '') AS syms
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0 GROUP BY word
        |)""".stripMargin
    val roundCtes = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM v${k - 1}, unnest(range(1, len(syms))) t(i)
         |  GROUP BY 1, 2
         |),
         |m$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
         |v$k AS (
         |  SELECT word, n, ${apply(k)} AS syms FROM v${k - 1} LEFT JOIN m$k ON true
         |)""".stripMargin
    }
    (Seq("WITH " + base) ++ roundCtes).mkString(",\n")
  }

  /** Oracle for [[train]]'s merge table itself: the unrolled training CTEs
    * expose each round's argmax as `m_k`; stitching them back with their
    * rank reproduces (rank, left, right, merged, pair_count) exactly.
    * `left`/`right` are SQL keywords — quoted to stay verbatim column
    * names for the driver's name-sorted hash compare. */
  def trainOracleSql(rounds: Int): String =
    trainingCtes(rounds) + "\n" +
      (1 to rounds).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS rank, l AS "left", r AS "right",
           |       concat(l, r) AS merged, cnt AS pair_count FROM m$k""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  def encodeOracleSql(rounds: Int): String = {
    val tail =
      s"""wt AS (SELECT word, CAST(len(syms) AS BIGINT) AS w_tokens FROM v$rounds),
         |dw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
         |),
         |per AS (
         |  SELECT doc_id, CAST(sum(w_tokens) AS BIGINT) AS n_bpe_tokens
         |  FROM dw JOIN wt USING (word) GROUP BY doc_id
         |)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         |       d.n_chars,
         |       coalesce(per.n_bpe_tokens, 0) AS n_bpe_tokens,
         |       CAST(CASE WHEN coalesce(per.n_bpe_tokens, 0) > 0
         |            THEN (d.n_chars * 1000000) // per.n_bpe_tokens
         |            ELSE 0 END AS BIGINT) AS chars_per_token_ppm
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin
    trainingCtes(rounds) + ",\n" + tail
  }
}
