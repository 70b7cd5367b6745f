package graft.operators

import graft.Tables
import graft.functions.Num
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization stats, quality scoring, language /
  * script identification, fingerprinting, and the explode+count shape of
  * the reference's keyword analytics (SURVEY.md §2.4 A2, §2.6 O2).
  *
  * All pure Catalyst expressions — each doc is processed independently,
  * so every query here scales embarrassingly (no shuffle except the
  * final aggregations).
  */
object TextOps {

  private def toks = Text.tokens(col("text"))

  val queries: Map[String, Relational.Q] = Map(

    // ── Corpus-LM perplexity filter (CCNet-style): score each doc by
    // its average negative log-likelihood under the corpus UNIGRAM
    // model, nll(d) = avg_t ln(T / cnt(t)) — high ppl ⇒ the doc's
    // tokens are rare in this corpus (boilerplate/garbage detector at
    // pipeline scale). Two map-side-combined aggregations (corpus
    // counts, per-doc avg). The vocabulary join is left UNhinted:
    // Heaps' law keeps it broadcastable at this SF and AQE picks that
    // up from runtime stats, but a forced broadcast would be wrong at
    // a scale where the vocabulary outgrows the driver — the same
    // plan degrades to a shuffle join on `term` there. ────────────────
    "text_unigram_ppl" -> ((s, dir) => {
      val tk = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(toks).as("term"))
      val vocab = tk.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).as("t_total"))
      val nll = avg(log(col("t_total").cast("double") / col("cnt")))
      tk.join(vocab, "term").crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          Num.roundp(nll, 4).as("nll"),
          Num.roundp(exp(nll), 2).as("ppl"))
    }),

    // ── Bigram LM head: add-one-smoothed P(w2|w1) for the 20 most
    // frequent head tokens, top-3 continuations each — the n-gram-model
    // build a dataset-analysis pass runs over a corpus. The global
    // top-20 heads go through orderBy+limit (TakeOrderedAndProject,
    // never a vocab-wide window) and join back broadcast; the
    // continuation rank is a per-head partitioned window. ─────────────
    "text_bigram_lm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tk = Tables(s, dir, "documents")
        .select(col("doc_id"), toks.as("tok"))
      val bg = tk.select(explode(Text.shingles(col("tok"), 2)).as("b"))
        .select(split(col("b"), " ").getItem(0).as("w1"),
          split(col("b"), " ").getItem(1).as("w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val heads = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
        .orderBy(col("c1").desc, col("w1")).limit(20)
      val v = tk.select(explode(col("tok")).as("t"))
        .agg(countDistinct(col("t")).as("v"))
      val p = (col("c12") + 1).cast("double") / (col("c1") + col("v"))
      val w = Window.partitionBy(col("w1")).orderBy(p.desc, col("w2"))
      c12.join(broadcast(heads), "w1").crossJoin(broadcast(v))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("w1"), col("w2"), col("rk"), Num.roundp(p, 6).as("p"))
    }),

    // ── A2 + X17: explode keywords → frequency table
    // (dags/scripts/spark_daily_report.py:72-75) ──────────────────────
    "a2_token_explode" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(toks).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))),

    // ── O2: top-10 tokens, engine-side top-k with total-order tiebreak
    // (spark_daily_report.py:153) ─────────────────────────────────────
    "o1_token_topk" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(toks).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(10)),

    // ── token counting (whitespace tokenizer) ─────────────────────────
    "text_token_stats" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))),

    // ── BPE tokenizer training — the subword-vocabulary step of an LLM
    // data pipeline, in its standard scalable split: ONE distributed
    // pass builds the word-frequency table (vocabulary-sized — Heaps'
    // law, not corpus-sized), then each merge round runs as cheap
    // DataFrame ops over that table: adjacent-pair counts (weighted by
    // word frequency), a deterministic argmax (count desc, pair asc),
    // and the merge applied as a literal string rewrite. 8 rounds; the
    // learned merge table is the output, and the DuckDB oracle unrolls
    // the identical recurrence. End-of-word marker fused onto the final
    // character ("k e y</w>") — the classic BPE word-boundary variant.
    //
    // The pair merge uses the space-doubling trick so a plain
    // left-to-right non-overlapping replace (identical semantics in
    // both engines) merges every occurrence including adjacent ones:
    // double all separators, wrap in spaces, replace " l  r " with
    // " lr ", collapse doubles, trim. ─────────────────────────────────
    "bpe_train_merges" -> ((s, dir) => bpeTrainMerges(s, dir)),

    // ── BPE apply: encode every document with the vocabulary the 8
    // training rounds learned — per-doc word count, subword count, and
    // fertility (subwords per word; the number every tokenizer ablation
    // reports). The merges arrive as LITERALS in the projection (they
    // are coefficient-sized), so encoding is a pure map over the corpus
    // — no join, no shuffle beyond the training pass itself. ─────────
    "bpe_apply_stats" -> ((s, dir) => bpeApplyStats(s, dir)),

    // ── quality scoring: length/diversity/stopword ratios ─────────────
    "text_quality" -> ((s, dir) => {
      val t = toks
      val nTok = size(t)
      val totChars = aggregate(transform(t, x => length(x).cast("double")),
        lit(0.0d), (acc, x) => acc + x)
      val stop = size(filter(t, x => x === "the" || x === "a"))
      Tables(s, dir, "documents")
        .where(nTok > 0)
        .select(
          col("doc_id"),
          nTok.cast("long").as("n_tokens"),
          Num.roundp(totChars / nTok, 2).as("avg_token_len"),
          Num.roundp(size(array_distinct(t)).cast("double") / nTok, 4).as("ttr"),
          Num.roundp(stop.cast("double") / nTok, 4).as("stop_ratio"),
          (nTok >= 30 && nTok <= 1000).as("len_ok"))
    }),

    // ── language ID: script class + marker-word heuristic ─────────────
    "text_langid" -> ((s, dir) => {
      val script = Text.scriptClass(col("text"))
      val guess = when(script =!= "latin", script)
        .when(col("text").contains(" the "), lit("en"))
        .when(col("text").contains(" el "), lit("es"))
        .when(col("text").contains(" le "), lit("fr"))
        .when(col("text").contains(" der "), lit("de"))
        .otherwise(lit("und"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), script.as("script"), guess.as("lang_guess"))
    }),

    // ── X10 analog: leading n-gram extraction ─────────────────────────
    "text_first_ngram" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        array_join(slice(toks, 1, 5), " ").as("head5"))),

    // ── X10 proper: first sentence — text up to and including the first
    // Korean terminator "다.", else the first 40 chars
    // (dags/scripts/spark_daily_report.py:180; functions/Text.scala).
    // The synthetic corpus is Latin-script (zero "다." occurrences), so
    // a derived with-terminator column exercises the split branch while
    // the raw text exercises the 40-char fallback. ────────────────────
    "x10_first_sentence" -> ((s, dir) => {
      val withTerm = concat(substring(col("text"), 1, 30), lit("다."),
        substring(col("text"), 31, 50))
      Tables(s, dir, "documents").select(
        col("doc_id"),
        Text.firstSentence(col("text")).as("first_fallback"),
        Text.firstSentence(withTerm).as("first_term"))
    }),

    // ── document fingerprint: md5 of normalized text ──────────────────
    // ── Inverted index + boolean retrieval: postings are (token →
    // doc) rows, so "docs containing ALL of {query, window}" is a
    // filter on two postings plus a count-distinct HAVING — the scan
    // touches the (tiny) filtered postings, never the text column.
    // At 100 TB the postings table is built once (explode + distinct,
    // one shuffle), persisted bucketed by token, and every boolean
    // retrieval after that is an index lookup. ───────────────────────
    "idx_inverted_and" -> ((s, dir) =>
      // Probes the persisted positional postings (countDistinct absorbs
      // the per-position duplicate rows); only the two query terms'
      // postings are read, pushed `tok IN (…)` + row-group skipping.
      positionalPostings(s, dir)
        .where(col("tok").isin("query", "window"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("tok")).as("nt"))
        .where(col("nt") === 2)
        .select(col("doc_id"))),

    // ── Positional phrase search: exact "table part" adjacency via
    // POSITIONAL postings — each term's postings are filtered FIRST
    // (term-frequency-sized, not corpus-sized), then intersected on
    // (doc, position+1): the classic positional-index phrase
    // algorithm. The postings are a PERSISTED artifact since round 10
    // (previously the corpus was posexplode'd per query — the same
    // class the trigram index shed): range-laid-out on the token so
    // the probe's pushed `tok IN (…)` skips row groups, and the phrase
    // join only ever moves the two terms' postings — a phrase of rare
    // terms costs near nothing regardless of corpus size. ────────────
    "idx_phrase_search" -> ((s, dir) => {
      val pos = positionalPostings(s, dir)
        .where(col("tok").isin("table", "part"))
      val first = pos.where(col("tok") === "table").select(col("doc_id"), col("p"))
      val second = pos.where(col("tok") === "part")
        .select(col("doc_id"), (col("p") - 1).as("p"))
      first.join(second, Seq("doc_id", "p"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occurrences"))
    }),

    // ── Trigram substring index (pg_trgm shape): LIKE '%pat%' at
    // 100 TB is otherwise a full scan; a char-3gram postings table
    // turns it into (a) an index intersection over the PATTERN's
    // trigrams — postings-sized, the candidate set must contain every
    // gram — then (b) an exact contains() verify on candidates ONLY.
    // The index is a PERSISTED [[ArtifactCache]] entry (built once per
    // corpus generation, like the token postings / graph edge tables),
    // range-laid-out on the gram so the probe's pushed `g IN (…)`
    // filter skips row groups by min/max stats: the per-query cost is
    // pattern-gram postings reads + the candidate verify — corpus-
    // size-independent I/O for a fixed result size, and the 10×/100×
    // curve measures the PROBE, not a per-query corpus explode. ───────
    "idx_trigram_substr" -> ((s, dir) =>
      gramCandidates(s, dir, TrigramPattern.sliding(3).toSeq.distinct)
        .join(Tables(s, dir, "documents"), "doc_id")
        .where(col("text").contains(TrigramPattern))
        .select(col("doc_id"))),

    // ── BATCHED substring probe — the production shape of the trigram
    // index: a blocklist / contamination-phrase batch resolved in ONE
    // postings pass instead of P corpus scans. The union of all
    // patterns' grams is pushed to the artifact scan as a literal IN
    // (row-group skipping works per-gram); a broadcast (pattern, gram)
    // map then fans each posting to the patterns needing it, the
    // per-(pattern, doc) gram count must hit the pattern's gram count
    // (the same all-grams-present containment test), and the exact
    // contains() verify runs on candidates only. Cost at 100 TB:
    // Σ|pattern-gram postings| + |candidates| — independent of both
    // corpus size and of P beyond the postings actually read. ────────
    "idx_substr_batch" -> ((s, dir) => {
      val pats = Seq("fast sort", "hash join", "window agg")
      val pg = pats.flatMap(p => p.sliding(3).toSeq.distinct.map(g => (p, g)))
      val allGrams = pg.map(_._2).distinct
      val pgDf = s.createDataFrame(pg).toDF("pat", "g")
      val need = pgDf.groupBy(col("pat")).agg(count(lit(1)).as("need"))
      val docs = Tables(s, dir, "documents")
      val cand = trigramPostings(s, dir)
        .where(col("g").isin(allGrams: _*))
        .join(broadcast(pgDf), Seq("g"))
        .groupBy(col("pat"), col("doc_id"))
        .agg(countDistinct(col("g")).as("ng"))
        .join(broadcast(need), Seq("pat"))
        .where(col("ng") === col("need"))
      cand.join(docs, "doc_id")
        .where(col("text").contains(col("pat")))
        .groupBy(col("pat"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ── Regex search through the trigram index — the pg_trgm trick
    // for REGEXES: any match of 'fast [a-z]+ sort' must contain the
    // required literal spans "fast " and " sort", so every trigram of
    // every span must be present — the candidate set is the postings
    // intersection of all six grams and the actual regex engine runs
    // on candidates ONLY. At 100 TB this turns a full-corpus regex
    // scan (the single most expensive text op there is) into a
    // postings probe + a candidate-sized rlike; patterns with no ≥3-
    // char literal span simply fall back to the scan, which is the
    // honest pg_trgm contract too. ───────────────────────────────────
    "idx_regex_prefilter" -> ((s, dir) => regexPrefilter(s, dir, RegexPattern)),

    // ── Alternation through the same prefilter — the shape real
    // contamination blocklists take ('phrase A|phrase B|…'): every
    // match satisfies SOME branch, so the candidate set is the UNION
    // of the branches' all-grams-present sets (pg_trgm's per-branch
    // treatment, [[graft.functions.RegexLiterals.branchSpans]]), and
    // the regex engine still runs on candidates ONLY. A branch with no
    // usable span poisons the whole pattern back to the honest full
    // scan — union soundness requires every branch indexed. At 100 TB:
    // cost is Σ branch-gram postings + candidate rlike, independent of
    // corpus size — vs the full-corpus regex scan, the most expensive
    // text op there is. ──────────────────────────────────────────────
    "idx_regex_alt" -> ((s, dir) => regexPrefilter(s, dir, RegexAltPattern)),

    "text_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"), Text.fingerprint(col("text")).as("fp"))),

    // ── Intra-document repeated-span trimming — the WITHIN-doc half of
    // the Gopher repetition family (text_repetition only scores it;
    // this op repairs it): every token covered by a 3-gram whose text
    // already occurred earlier in the SAME document is dropped (the
    // first occurrence survives), and the cleaned document is emitted
    // as an md5 fingerprint plus kept/removed counts — boilerplate
    // chat headers, paginated footers and copy-paste loops collapse to
    // their first instance. Scale shape: every window and aggregate is
    // keyed by doc_id (per-doc work only, map-side combined; no
    // cross-doc shuffle), so the op is embarrassingly parallel and
    // corpus-size-linear; the repeated-position set rides a same-key
    // join, never a pairwise compare. ────────────────────────────────
    "text_dedup_intradoc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val tk = docs.select(col("doc_id"), posexplode(toks))
        .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("tok"))
      val wd = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val grams = tk
        .withColumn("t1", lead(col("tok"), 1).over(wd))
        .withColumn("t2", lead(col("tok"), 2).over(wd))
        .where(col("t2").isNotNull)
        .select(col("doc_id"), col("p"),
          concat_ws(" ", col("tok"), col("t1"), col("t2")).as("g"))
      val firstP = Window.partitionBy(col("doc_id"), col("g"))
      val rep = grams.withColumn("fp", min(col("p")).over(firstP))
        .where(col("p") > col("fp"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 2)).as("p"))
        .distinct()
      val agg = tk.join(rep.withColumn("rm", lit(1)), Seq("doc_id", "p"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("n_removed"),
          md5(array_join(transform(
            array_sort(collect_list(
              when(col("rm").isNull, struct(col("p"), col("tok"))))),
            x => x.getField("tok")), " ").cast("binary")).as("clean_md5"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("clean_md5"), md5(lit("").cast("binary"))).as("clean_md5"))
    }),

    // ── BM25 ranked retrieval (the scoring face of the inverted
    // index): Okapi BM25 with k1=1.2, b=0.75 over a fixed term set.
    // Everything is index-shaped — the postings scan touches only the
    // query terms' rows, document length and avgdl come from one
    // map-side-combined count, and the final ranking is a top-k
    // (TakeOrderedAndProject), never a global sort. At 100 TB the
    // postings + doclen tables are built once and persisted bucketed
    // by token/doc_id; each query then reads |terms| postings lists.
    // Cross-engine parity: idf and the per-term partial are quantized
    // onto 1e-6 grids before the (three-term) sum, so engine-order
    // summation noise (~1e-16) cannot reach the 1e-4 output grid. ─────
    "idx_bm25_topk" -> ((s, dir) =>
      bm25PerDoc(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(10)),

    // ── BM25 hard negatives — the DPR-training sampler: the highest-
    // BM25 documents NOT in the relevant set (here: docs containing
    // BOTH query terms, the idx_inverted_and ground truth). Lexically
    // confusable yet wrong, these are the negatives a dense-retriever
    // trainer mines from the sparse index. Same plan shape as
    // idx_bm25_topk plus one anti-join against the (small) relevant
    // set; ranking stays TakeOrderedAndProject. ──────────────────────
    "idx_bm25_negatives" -> ((s, dir) =>
      bm25PerDoc(s, dir)
        .join(relevantDocs(s, dir), Seq("doc_id"), "left_anti")
        .orderBy(col("score").desc, col("doc_id")).limit(10)),

    // ── Retrieval evaluation: nDCG@10 / MRR / P@10 of the BM25
    // ranking against the inverted-index ground truth — the eval
    // harness that closes the index → search → measure loop. All the
    // arithmetic runs on the 10-row ranked frame (the corpus-sized
    // work is the ranking itself); per-rank gains are quantized at
    // 1e-6 before the sums so engine log/summation residue never
    // reaches the output grids. ──────────────────────────────────────
    "idx_eval_ndcg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rel = relevantDocs(s, dir)
      val ranked = bm25PerDoc(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      val relCnt = rel.agg(count(lit(1)).as("n_rel"))
      val marked = ranked
        .join(rel.withColumn("r", lit(1L)), Seq("doc_id"), "left")
        .select(col("rk"), coalesce(col("r"), lit(0L)).as("rel"))
        .crossJoin(broadcast(relCnt))
      val lg = log(2.0, col("rk") + 1)
      val g = Num.roundp(col("rel").cast("double") / lg, 6)
      val ig = Num.roundp(lit(1.0) / lg, 6)
      marked.agg(
          Num.roundp(sum(g), 6).as("dcg10"),
          Num.roundp(sum(when(col("rk") <= col("n_rel"), ig).otherwise(0.0)), 6)
            .as("idcg10"),
          Num.roundp(max(when(col("rel") === 1,
            Num.roundp(lit(1.0) / col("rk"), 6)).otherwise(0.0)), 6).as("mrr"),
          Num.roundp(sum(col("rel")).cast("double") / 10, 4).as("p_at_10"),
          max(col("n_rel")).as("n_rel"))
        .select(col("dcg10"), col("idcg10"),
          Num.roundp(col("dcg10") / col("idcg10"), 6).as("ndcg10"),
          col("mrr"), col("p_at_10"), col("n_rel"))
    }),

    // ── Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25)
    // and dense (embedding-cosine) rankings for one query — the
    // two-tower fusion every modern retrieval stack runs. Each side is
    // an independent top-20 (TakeOrderedAndProject); fusion is a
    // 20∪20-row full outer join, so the whole fusion stage is
    // list-sized regardless of corpus scale. rrf = Σ 1/(60 + rank),
    // the standard k=60 form. ─────────────────────────────────────────
    "idx_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir, "embeddings")
      val qv = e.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val cos = Num.roundp(
        graft.functions.Vectors.cosine(col("q_emb"), col("embedding")), 6)
      val dW = Window.orderBy(col("cs").desc, col("doc_id"))
      val dense = e.crossJoin(broadcast(qv)).where(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), cos.as("cs"))
        .orderBy(col("cs").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), row_number().over(dW).cast("long").as("dr"))
      val sW = Window.orderBy(col("score").desc, col("doc_id"))
      val sparse = bm25PerDoc(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), row_number().over(sW).cast("long").as("sr"))
      val rrf = coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60) + col("sr")), lit(0.0))
      dense.join(sparse, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), Num.roundp(rrf, 6).as("rrf"),
          col("dr"), col("sr"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // ── Lexical diversity per doc: type-token ratio + hapax ratio
    // (tokens occurring exactly once) — the degenerate-text signals the
    // repetition filters don't see (a doc can avoid repeated n-grams yet
    // cycle a tiny vocabulary). One native one-pass counter expression
    // ([[graft.plans.TokenDiversity]]) per doc — the nested-HOF
    // formulation was interpreted O(types·tokens); no shuffle at all,
    // so it composes into any 100 TB scan. ───────────────────────────
    "text_ttr" -> ((s, dir) => {
      val div = org.apache.spark.sql.GraftBridge.column(
        graft.plans.TokenDiversity(org.apache.spark.sql.GraftBridge.expression(
          Text.tokens(col("text")))))
      Tables(s, dir, "documents")
        .select(col("doc_id"), div.as("d"))
        .select(col("doc_id"),
          col("d.n_tokens").as("n_tokens"),
          col("d.n_types").as("n_types"),
          col("d.n_hapax").as("n_hapax"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          Num.roundp(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
          Num.roundp(col("n_hapax").cast("double") / col("n_types"), 6)
            .as("hapax_ratio"))
    }),

    // ── Zipf exponent of the corpus frequency spectrum: OLS of
    // log(freq) on log(rank) — the sanity stat that flags synthetic or
    // template-heavy corpora (natural text ≈ −1). The corpus-sized work
    // is one map-side-combined frequency count; the regression runs
    // over the VOCABULARY (rank window + regr_slope), so the global
    // window is vocab-bounded, not corpus-bounded. ────────────────────
    "text_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val ranked = freq.withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("w"))).cast("long"))
      ranked.agg(
        count(lit(1)).as("n_vocab"),
        Num.roundp(regr_slope(log(col("f")), log(col("rank"))), 4).as("zipf_slope"),
        Num.roundp(regr_r2(log(col("f")), log(col("rank"))), 4).as("zipf_r2"))
    }),

    // ── Vocabulary coverage: the smallest frequency-ranked vocabulary
    // reaching 50 / 90 / 99 % of token mass — the stat that sizes a
    // tokenizer or an OOV budget. Rank + cumulative sum are one
    // vocab-sized window (integer sums, so the running fraction is the
    // same double on both engines); each target is then a one-row
    // aggregate. ─────────────────────────────────────────────────────
    "tok_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freq = Tables(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val ord = Window.orderBy(col("f").desc, col("w"))
      val ranked = freq
        .withColumn("rank", row_number().over(ord).cast("long"))
        .withColumn("cum", sum(col("f")).over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = freq.agg(sum(col("f")).as("total"))
      val cov = ranked.crossJoin(tot)
        .withColumn("cumfrac", col("cum").cast("double") / col("total"))
      Seq(0.5, 0.9, 0.99).map { p =>
        cov.where(col("cumfrac") >= p)
          .agg(min(col("rank")).as("vocab_size"),
            Num.roundp(min_by(col("cumfrac"), col("rank")), 6).as("coverage"))
          .select(lit(p).as("target"), col("vocab_size"), col("coverage"))
      }.reduce(_ unionByName _)
    })
  )

  /** Okapi BM25 (k1 = 1.2, b = 0.75) per matching document for the
    * fixed query-term set — shared by the ranked-retrieval query and
    * the hybrid fusion. Postings-shaped: only the query terms' rows
    * survive the explode-filter, term stats are a |terms|-row
    * broadcast, and per-term partials are quantized (1e-6) before the
    * cross-engine-order-sensitive sum (1e-4). */
  /** The idx_inverted_and ground truth: docs containing BOTH query
    * terms — shared by the negatives sampler and the eval harness. */
  private def relevantDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(toks).as("token"))
      .where(col("token").isin("query", "window"))
      .groupBy(col("doc_id")).agg(countDistinct(col("token")).as("nt"))
      .where(col("nt") === 2).select(col("doc_id"))

  private def bm25PerDoc(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("query", "window", "spark")
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), toks.as("tok"))
    val dl = docs.select(col("doc_id"), size(col("tok")).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs.select(col("doc_id"), explode(col("tok")).as("token"))
      .where(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = Num.roundp(
      log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6)
    val denom = col("tf") +
      lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))
    val part = Num.roundp(col("idf") * (col("tf") * lit(2.2)) / denom, 6)
    tf.join(broadcast(df.crossJoin(stats).withColumn("idf", idf)), "token")
      .join(dl, "doc_id")
      .select(col("doc_id"), part.as("p"))
      .groupBy(col("doc_id"))
      .agg(Num.roundp(sum(col("p")), 4).as("score"),
        count(lit(1)).as("n_terms"))
  }

  private val BpeRounds = 8

  /** 8 BPE merge rounds over the word-frequency table. The vocabulary
    * never leaves the cluster as data — only the per-round argmax pair
    * (one row) is collected, because the NEXT round's rewrite needs it
    * as a literal. Returns the merge list and the fully-merged
    * vocabulary as (word, subword-count), persisted — the apply step is
    * then a vocabulary LOOKUP, never a per-occurrence re-encode. */
  // Session memo: the train and apply inventory entries share one
  // training pass. (The former DedupCluster CC memo with the same shape
  // became the cc-labels disk artifact; this one stays a memo because
  // training returns a driver-side merge list plus a vocab-bounded
  // frame, not a corpus-derived table.)
  private val bpeCache = new graft.SessionMemo[String,
    (Seq[(Long, String, String, String, Long)], DataFrame)]

  private def bpeTrain(s: SparkSession, dir: String):
      (Seq[(Long, String, String, String, Long)], DataFrame) =
    bpeCache(s, dir)(bpeTrainUncached(s, dir))

  /** word → (spaced symbol sequence, corpus frequency), persisted. */
  private def bpeInitVocab(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"),
        concat(trim(regexp_replace(col("w"), "(.)", "$1 ")), lit("</w>")).as("seq"),
        col("cnt"))
      .persist()

  /** Weighted adjacent-pair counts over the current vocabulary. */
  private def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("cnt"), split(col("seq"), " ").as("sy"))
      .select(col("cnt"), explode(expr(
        "transform(slice(sy, 1, size(sy) - 1), (x, i) -> struct(x AS l, element_at(sy, i + 2) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))

  /** Scale path for real vocabularies (a 32k-merge tokenizer): BATCHED
    * BPE. Sequential BPE costs one distributed pair-count pass + one
    * driver round-trip PER MERGE — right for the 8-round oracled twin,
    * untenable at 32k rounds. Here each pass collects a top slice of
    * the pair table once (coefficient-sized — never the corpus) and
    * applies up to `batchP` pairwise symbol-disjoint merges in ONE
    * rewrite, so passes drop to ~rounds/batchP. Disjointness makes the
    * batch order-free: merging (a,b) cannot create, destroy, or
    * re-count any occurrence of a pair sharing neither symbol. With
    * batchP = 1 this IS the oracled sequential recurrence
    * (spec-pinned); with batchP > 1 it is the standard throughput
    * batching, which can diverge from strict argmax order only when a
    * merge-created pair would have outranked a batch member — the
    * documented tradeoff of every batched tokenizer trainer. Stops
    * early when the vocabulary has no pairs left to merge. */
  def bpeTrainScaled(s: SparkSession, dir: String, rounds: Int = 256,
      batchP: Int = 16): DataFrame = {
    var vocab = bpeInitVocab(s, dir)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val want = math.min(batchP, rounds - merges.size)
      // 4× headroom: greedy disjoint selection skips conflicting rows.
      val top = bpePairCounts(vocab)
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(want * 4 + 8).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        for (row <- top if picked.size < want) {
          val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used(l) && !used(r)) {
            picked += ((l, r, n)); used += l; used += r; used += (l + r)
          }
        }
        // One rewrite pass for the whole batch: double separators once,
        // replace every (disjoint) pattern, collapse once — for a
        // single pair this is literally the sequential round's rewrite.
        val doubled = "concat(' ', replace(seq, ' ', '  '), ' ')"
        val replaced = picked.foldLeft(doubled) { case (acc, (l, r, _)) =>
          s"replace($acc, concat(' ', '${esc(l)}', '  ', '${esc(r)}', ' '), " +
            s"concat(' ', '${esc(l)}', '${esc(r)}', ' '))"
        }
        // localCheckpoint truncates the lineage: without it the logical
        // plan accrues one nested-replace projection PER BATCH, and by
        // ~100 rounds plan rendering alone OOMs the driver (persist
        // caches data but keeps the whole plan chain). Checkpointing
        // makes every batch's plan start from the materialized result —
        // the standard iterative-algorithm hygiene at any round count.
        val next = vocab.select(col("w"),
          trim(expr(s"replace($replaced, '  ', ' ')")).as("seq"), col("cnt"))
          .localCheckpoint(true)
        vocab.unpersist(blocking = false)
        vocab = next
        picked.foreach { case (l, r, n) =>
          merges += ((merges.size + 1L, l, r, l + r, n)) }
      }
    }
    vocab.unpersist(blocking = false)
    s.createDataFrame(merges.toSeq).toDF("round", "left", "right", "merged", "n")
  }

  /** Vocabulary size up to which the 8-round merge loop runs on the
    * driver. The corpus-sized work — the word-frequency aggregation —
    * is always distributed; what the loop iterates over is the VOCAB
    * table, which the apply step already assumes executor-sized (it
    * broadcasts `vf`). Below this bound, 16 vocab-sized Spark jobs
    * (2 per round, dominated by scheduling, ~6 s at sf0.1) collapse
    * into one collect + a local loop (~1 s). The recurrence is
    * byte-identical: same single-pass space-doubling replaces, argmax
    * tie-broken by (n desc, l, r) in UTF-8 BINARY order — exactly
    * UTF8String's and DuckDB's default collation, NOT
    * String.compareTo's UTF-16 order. Past the bound (a 100 TB corpus
    * under Heaps' law can exceed executor-sized vocab) the original
    * distributed round loop below takes over unchanged. */
  private val BpeDriverVocabMax = 2L * 1000 * 1000

  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      if (x(i) != y(i)) return (x(i) & 0xff) < (y(i) & 0xff)
      i += 1
    }
    x.length < y.length
  }

  private def bpeTrainDriver(s: SparkSession, vocab0: DataFrame):
      (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val rows = vocab0.select(col("w"), col("seq"), col("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    vocab0.unpersist(blocking = false)
    var seqs = rows
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    for (round <- 1 to BpeRounds) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (_, seq, cnt) =>
        val sy = seq.split(" ")
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { case (k @ (cl, cr), cn) =>
        if (best == null) best = (k, cn)
        else {
          val ((bl, br), bn) = best
          val better = cn > bn || (cn == bn &&
            (utf8Lt(cl, bl) || (cl == bl && utf8Lt(cr, br))))
          if (better) best = (k, cn)
        }
      }
      val ((l, r), n) = best
      merges += ((round.toLong, l, r, l + r, n))
      val (pat, rep) = (" " + l + "  " + r + " ", " " + l + r + " ")
      seqs = seqs.map { case (w, seq, cnt) =>
        (w, (" " + seq.replace(" ", "  ") + " ").replace(pat, rep)
          .replace("  ", " ").trim, cnt)
      }
    }
    import s.implicits._
    val vf = seqs.toSeq.map { case (w, seq, _) => (w, seq.split(" ").length.toLong) }
      .toDF("w", "n_sub").persist()
    vf.count()
    (merges.toSeq, vf)
  }

  private def bpeTrainUncached(s: SparkSession, dir: String):
      (Seq[(Long, String, String, String, Long)], DataFrame) = {
    var vocab = bpeInitVocab(s, dir)
    if (vocab.count() <= BpeDriverVocabMax) return bpeTrainDriver(s, vocab)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    for (round <- 1 to BpeRounds) {
      val best = bpePairCounts(vocab)
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()(0)
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((round.toLong, l, r, l + r, n))
      // Space-doubling rewrite (see the inventory comment): plain
      // left-to-right replace in both engines merges every occurrence.
      val next = vocab.select(col("w"), trim(expr(
        s"""replace(replace(concat(' ', replace(seq, ' ', '  '), ' '),
           | concat(' ', '${esc(l)}', '  ', '${esc(r)}', ' '),
           | concat(' ', '${esc(l)}', '${esc(r)}', ' ')), '  ', ' ')""".stripMargin))
        .as("seq"), col("cnt")).persist()
      next.count()
      vocab.unpersist(blocking = false)
      vocab = next
    }
    val vocabFinal = vocab
      .select(col("w"), size(split(col("seq"), " ")).cast("long").as("n_sub"))
      .persist()
    vocabFinal.count()
    vocab.unpersist(blocking = false)
    (merges.toSeq, vocabFinal)
  }

  private def bpeTrainMerges(s: SparkSession, dir: String): DataFrame =
    s.createDataFrame(bpeTrain(s, dir)._1)
      .toDF("round", "left", "right", "merged", "n")

  private def esc(x: String): String = x.replace("\\", "\\\\").replace("'", "\\'")

  private def bpeApplyStats(s: SparkSession, dir: String): DataFrame = {
    val vf = bpeTrain(s, dir)._2
    // Vocabulary lookup, broadcast (Heaps' law keeps it executor-sized):
    // inner join is total — every corpus word is in the vocab by
    // construction — and the left join back restores empty documents.
    val stats = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(toks).as("w"))
      .join(broadcast(vf), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
    Tables(s, dir, "documents").select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
      .withColumn("fertility", when(col("n_words") > 0, Num.roundp(
        col("n_subwords").cast("double") / col("n_words").cast("double"), 4)))
  }

  private lazy val sqlBpe: String = {
    val out = (1 to BpeRounds).map(t =>
      s"SELECT CAST($t AS BIGINT) AS round, l, r AS \"right\", l || r AS merged, n FROM m$t")
      .mkString("\n UNION ALL ")
    s"""WITH $sqlBpeChain
       |SELECT round, l AS "left", "right", merged, n FROM (
       |$out)""".stripMargin
  }

  /** Shared CTE chain: word vocab w0 and the 8 learned merges m1..m8. */
  private lazy val sqlBpeChain: String = {
    val rounds = (1 to BpeRounds).map { t =>
      val p = t - 1
      s"""p$t AS MATERIALIZED (
         |  SELECT u.l AS l, u.r AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
         |      i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS u
         |    FROM (SELECT string_split(seq, ' ') AS sy, cnt FROM w$p))
         |  GROUP BY 1, 2),
         |m$t AS MATERIALIZED (SELECT l, r, n FROM p$t ORDER BY n DESC, l, r LIMIT 1),
         |w$t AS MATERIALIZED (
         |  SELECT w, trim(replace(replace(' ' || replace(seq, ' ', '  ') || ' ',
         |    ' ' || m$t.l || '  ' || m$t.r || ' ', ' ' || m$t.l || m$t.r || ' '),
         |    '  ', ' ')) AS seq, cnt
         |  FROM w$p, m$t)""".stripMargin
    }
    s"""w0 AS MATERIALIZED (
       |  SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || '</w>' AS seq,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private lazy val sqlBpeApply: String =
    s"""WITH $sqlBpeChain,
       |vf AS MATERIALIZED (
       |  SELECT w, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sub
       |  FROM w$BpeRounds),
       |dw AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
       |  FROM documents),
       |st AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(vf.n_sub) AS BIGINT) AS n_subwords
       |  FROM dw JOIN vf USING (w) GROUP BY doc_id)
       |SELECT d.doc_id,
       |  coalesce(st.n_words, 0) AS n_words,
       |  coalesce(st.n_subwords, 0) AS n_subwords,
       |  CASE WHEN coalesce(st.n_words, 0) > 0 THEN
       |    floor(CAST(st.n_subwords AS DOUBLE) / st.n_words * 10000 + 0.5) / 10000
       |  END AS fertility
       |FROM (SELECT doc_id FROM documents) d LEFT JOIN st USING (doc_id)""".stripMargin

  /** DuckDB token expression shared by the oracles below. */
  private val sqlToks = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Substring pattern for the trigram-index query (shared by the
    * Spark side and the generated oracle). */
  private[graft] val TrigramPattern = "fast sort"

  /** Regex for idx_regex_prefilter; its required literal spans are
    * DERIVED by [[graft.functions.RegexLiterals.requiredSpans]] (the
    * pg_trgm analysis) — RegexLiteralsSpec pins the extraction for
    * this pattern to Seq("fast ", " sort"). Both engines use
    * find-anywhere semantics. */
  private[operators] val RegexPattern = "fast [a-z]+ sort"

  /** Alternation pattern for idx_regex_alt — a blocklist-shaped regex:
    * three branches, one of them itself wildcarded. branchSpans pins to
    * Seq(Seq("fast ", " sort"), Seq("hash join"), Seq("window agg")). */
  private[operators] val RegexAltPattern = "fast [a-z]+ sort|hash join|window agg"

  /** Regex search through the trigram index — shared engine of
    * idx_regex_prefilter / idx_regex_alt: per-branch required spans →
    * union of all-grams-present candidate sets → exact rlike on
    * candidates only; honest full scan when the analysis bails. */
  private def regexPrefilter(s: SparkSession, dir: String,
      pattern: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    graft.functions.RegexLiterals.branchSpans(pattern) match {
      case Some(branches) =>
        val cands = branches.map(spans =>
          gramCandidates(s, dir, spans.flatMap(_.sliding(3).toSeq).distinct))
        // distinct: a doc satisfying several branches' gram sets must
        // still verify (and emit) once.
        val cand =
          if (cands.size == 1) cands.head
          else cands.reduce(_ unionByName _).distinct()
        cand.join(docs, "doc_id")
          .where(col("text").rlike(pattern))
          .select(col("doc_id"))
      case None => // no usable literal span — the honest full scan
        docs.where(col("text").rlike(pattern)).select(col("doc_id"))
    }
  }

  /** (tok, doc_id, p) positional postings as a build-once artifact —
    * the token postings with the position column, the layout every
    * phrase/proximity query probes. Range-partitioned + sorted on the
    * token so parquet row-group stats serve the pushed `tok IN (…)`.
    * (The r10 idea of ALSO deriving [[PostingsIndex]]'s
    * (token, doc_id, tf, dl) rows from this artifact was implemented,
    * measured SLOWER at both decades, and REVERTED — see the
    * rejection record at PostingsIndex.cachedCorpus; each index
    * tokenizes independently.) */
  private[operators] def positionalPostings(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "positional-postings", Seq("documents")) {
      positionalRowsOf(Tables(s, dir, "documents"))
    }

  /** (doc_id, p, tok) rows for an arbitrary docs frame, in the probe
    * layout above. Shared by the full-build artifact and the
    * incremental segments of [[IncPostings]] — one explode definition,
    * so base, delta, and fresh-rebuild postings agree by construction
    * (the trigramRowsOf contract at the positional layer). */
  private[graft] def positionalRowsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("tok"))
      .repartitionByRange(col("tok"), col("doc_id"))
      .sortWithinPartitions(col("tok"), col("doc_id"), col("p"))

  /** doc_ids whose text contains ALL of `grams` — the all-grams-present
    * candidate test shared by the substring and regex probes (the
    * batched probe fans the same test per pattern via a broadcast
    * map). One copy keeps the pushed-IN layout and the count test in
    * sync across the index family's consumers. */
  private def gramCandidates(s: SparkSession, dir: String,
      grams: Seq[String]): DataFrame = {
    // Defensive dedup: the count test below compares DISTINCT grams
    // present against the requested list's length, so a caller passing
    // duplicates would silently make the test unsatisfiable (dropping
    // every candidate = lost matches). Soundness must not depend on
    // each caller remembering .distinct.
    val gs = grams.distinct
    trigramPostings(s, dir)
      .where(col("g").isin(gs: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("ng"))
      .where(col("ng") === gs.length)
      .select(col("doc_id"))
  }

  /** The persisted (gram → doc) postings table behind
    * idx_trigram_substr: built ONCE per corpus generation via
    * [[ArtifactCache]] (keyed on the documents fingerprint), range-
    * repartitioned and sorted on the gram so parquet min/max row-group
    * stats make the probe's pushed `g IN (…)` filter an index seek
    * rather than a postings-table scan. Corpus-char-sized like the
    * token postings; every substring query after the build reads only
    * its pattern's gram lists. */
  private def trigramPostings(s: SparkSession, dir: String): DataFrame =
    ArtifactCache.parquet(s, dir, "trigram-postings", Seq("documents")) {
      trigramRowsOf(Tables(s, dir, "documents"))
    }

  /** Distinct (doc_id, g) char-trigram rows of any `(doc_id, text)`
    * frame, in probe layout: range-partitioned + sorted on the gram so
    * parquet row-group min/max stats serve a pushed `g IN (…)`. Shared
    * by the full-build artifact above and the incremental segments of
    * [[IncPostings]] — one explode definition, so base, delta, and
    * fresh-rebuild postings agree by construction. */
  private[graft] def trigramRowsOf(docs: DataFrame): DataFrame =
    docs.where(length(col("text")) >= 3)
      .select(col("doc_id"), explode(Text.chargrams(col("text"), 3)).as("g"))
      .repartitionByRange(col("g"), col("doc_id"))
      .sortWithinPartitions(col("g"), col("doc_id"))

  val oracles: Map[String, String] = Map(
    "bpe_train_merges" -> sqlBpe,
    "bpe_apply_stats" -> sqlBpeApply,

    "text_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tok
        |  FROM documents),
        |bg AS (
        |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2
        |  FROM (SELECT unnest(list_transform(range(len(tok) - 1),
        |          i -> tok[i+1] || ' ' || tok[i+2])) AS b
        |        FROM tk WHERE len(tok) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |heads AS (
        |  SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1
        |  ORDER BY c1 DESC, w1 LIMIT 20),
        |v AS (SELECT count(DISTINCT t) AS v
        |      FROM (SELECT unnest(tok) AS t FROM tk)),
        |ranked AS (
        |  SELECT c12.w1, w2,
        |    row_number() OVER (PARTITION BY c12.w1
        |      ORDER BY CAST(c12 + 1 AS DOUBLE) / (c1 + v) DESC, w2) AS rk,
        |    floor(CAST(c12 + 1 AS DOUBLE) / (c1 + v) * 1000000 + 0.5) / 1000000 AS p
        |  FROM c12 JOIN heads USING (w1) CROSS JOIN v)
        |SELECT w1, w2, rk, p FROM ranked WHERE rk <= 3""".stripMargin,

    "text_unigram_ppl" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |  FROM documents),
        |vocab AS (SELECT term, count(*) AS cnt FROM tk GROUP BY term),
        |tot AS (SELECT sum(cnt) AS t_total FROM vocab)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(avg(ln(CAST(t_total AS DOUBLE) / cnt)) * 10000 + 0.5) / 10000 AS nll,
        |  floor(exp(avg(ln(CAST(t_total AS DOUBLE) / cnt))) * 100 + 0.5) / 100 AS ppl
        |FROM tk JOIN vocab USING (term) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    "a2_token_explode" ->
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest($sqlToks) AS token FROM documents)
         |GROUP BY token""".stripMargin,

    "o1_token_topk" ->
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest($sqlToks) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 10""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(tok) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tok)) AS BIGINT) AS n_distinct
         |FROM (SELECT doc_id, $sqlToks AS tok FROM documents)""".stripMargin,

    "text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(tok) AS BIGINT) AS n_tokens,
         |  floor((CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE) / len(tok)) * 100 + 0.5) / 100 AS avg_token_len,
         |  floor((CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok)) * 10000 + 0.5) / 10000 AS ttr,
         |  floor((CAST(len(list_filter(tok, t -> t IN ('the', 'a'))) AS DOUBLE) / len(tok)) * 10000 + 0.5) / 10000 AS stop_ratio,
         |  len(tok) BETWEEN 30 AND 1000 AS len_ok
         |FROM (SELECT doc_id, $sqlToks AS tok FROM documents)
         |WHERE len(tok) > 0""".stripMargin,

    "text_langid" ->
      """SELECT doc_id, script,
        |  CASE WHEN script <> 'latin' THEN script
        |       WHEN contains(text, ' the ') THEN 'en'
        |       WHEN contains(text, ' el ') THEN 'es'
        |       WHEN contains(text, ' le ') THEN 'fr'
        |       WHEN contains(text, ' der ') THEN 'de'
        |       ELSE 'und' END AS lang_guess
        |FROM (SELECT doc_id, text,
        |  CASE WHEN regexp_matches(text, '[가-힣]') THEN 'hangul'
        |       WHEN regexp_matches(text, '[一-鿿]') THEN 'cjk'
        |       WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'cyrillic'
        |       WHEN regexp_matches(text, '[A-Za-z]') THEN 'latin'
        |       ELSE 'other' END AS script
        |  FROM documents)""".stripMargin,

    "text_first_ngram" ->
      s"""SELECT doc_id, array_to_string(tok[1:5], ' ') AS head5
         |FROM (SELECT doc_id, $sqlToks AS tok FROM documents)""".stripMargin,

    "x10_first_sentence" ->
      """SELECT doc_id,
        |  CASE WHEN contains(text, '다.')
        |       THEN split_part(text, '다.', 1) || '다.'
        |       ELSE substr(text, 1, 40) END AS first_fallback,
        |  CASE WHEN contains(t2, '다.')
        |       THEN split_part(t2, '다.', 1) || '다.'
        |       ELSE substr(t2, 1, 40) END AS first_term
        |FROM (SELECT doc_id, text,
        |        substr(text, 1, 30) || '다.' || substr(text, 31, 50) AS t2
        |      FROM documents)""".stripMargin,

    "idx_inverted_and" ->
      s"""WITH p AS (
         |  SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest($sqlToks) AS tok FROM documents))
         |SELECT doc_id FROM p WHERE tok IN ('query', 'window')
         |GROUP BY 1 HAVING count(DISTINCT tok) = 2""".stripMargin,

    "idx_regex_prefilter" ->
      s"""SELECT doc_id FROM documents
         |WHERE regexp_matches(text, '${RegexPattern.replace("'", "''")}')""".stripMargin,

    "idx_regex_alt" ->
      s"""SELECT doc_id FROM documents
         |WHERE regexp_matches(text, '${RegexAltPattern.replace("'", "''")}')""".stripMargin,

    "idx_substr_batch" ->
      """SELECT p.pat, CAST(count(*) AS BIGINT) AS n_docs
        |FROM (VALUES ('fast sort'), ('hash join'), ('window agg')) p(pat)
        |JOIN documents d ON contains(d.text, p.pat)
        |GROUP BY p.pat""".stripMargin,

    "idx_trigram_substr" -> {
      val grams = TrigramPattern.sliding(3).toSeq.distinct
      val inList = grams.map(g => s"'${g.replace("'", "''")}'").mkString(", ")
      s"""WITH tg AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(text) - 2),
         |      i -> substr(text, CAST(i + 1 AS INT), 3))) AS g
         |    FROM documents WHERE len(text) >= 3)),
         |cand AS (
         |  SELECT doc_id FROM tg WHERE g IN ($inList)
         |  GROUP BY doc_id HAVING count(DISTINCT g) = ${grams.length})
         |SELECT c.doc_id FROM cand c JOIN documents d USING (doc_id)
         |WHERE contains(d.text, '${TrigramPattern.replace("'", "''")}')""".stripMargin
    },

    "idx_phrase_search" ->
      s"""WITH tk AS MATERIALIZED (
         |  SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.tok AS tok
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(tk0)),
         |      i -> {'p': i, 'tok': tk0[i+1]})) AS u
         |    FROM (SELECT doc_id, $sqlToks AS tk0 FROM documents)))
         |SELECT a.doc_id, count(*) AS n_occurrences
         |FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |WHERE a.tok = 'table' AND b.tok = 'part'
         |GROUP BY 1""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin,

    "text_dedup_intradoc" ->
      s"""WITH tk AS MATERIALIZED (
         |  SELECT doc_id, CAST(u.p AS BIGINT) AS p, u.tok AS tok
         |  FROM (
         |    SELECT doc_id, unnest(list_transform(range(len(tk0)),
         |      i -> {'p': i, 'tok': tk0[i+1]})) AS u
         |    FROM (SELECT doc_id, $sqlToks AS tk0 FROM documents)
         |    WHERE len(tk0) > 0)),
         |grams AS MATERIALIZED (
         |  SELECT doc_id, p, tok || ' ' || t1 || ' ' || t2 AS g
         |  FROM (
         |    SELECT doc_id, p, tok,
         |      lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY p) AS t1,
         |      lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY p) AS t2
         |    FROM tk)
         |  WHERE t2 IS NOT NULL),
         |rep AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, p + dd.d AS p
         |  FROM (
         |    SELECT doc_id, p
         |    FROM (SELECT doc_id, p,
         |            min(p) OVER (PARTITION BY doc_id, g) AS fp
         |          FROM grams)
         |    WHERE p > fp) r,
         |    (SELECT unnest([0, 1, 2]) AS d) dd),
         |agg AS (
         |  SELECT tk.doc_id AS doc_id,
         |    CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN r.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_removed,
         |    md5(string_agg(CASE WHEN r.p IS NULL THEN tok END, ' '
         |      ORDER BY tk.p)) AS clean_md5
         |  FROM tk LEFT JOIN rep r ON tk.doc_id = r.doc_id AND tk.p = r.p
         |  GROUP BY tk.doc_id)
         |SELECT d.doc_id AS doc_id,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_removed, 0) AS n_removed,
         |  coalesce(a.clean_md5, md5('')) AS clean_md5
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // Mirrors the Spark plan expression-for-expression (same literal
    // order, same 1e-6 idf/partial grids before the 1e-4 score grid).
    "idx_bm25_topk" -> sqlBm25TopK,

    "text_ttr" ->
      s"""WITH tk AS (
         |  SELECT doc_id, $sqlToks AS tok FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(tok) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tok)) AS BIGINT) AS n_types,
         |    CAST(len(list_filter(list_distinct(tok),
         |      t -> len(list_filter(tok, u -> u = t)) = 1)) AS BIGINT) AS n_hapax
         |  FROM tk)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |  floor(CAST(n_types AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000 AS ttr,
         |  floor(CAST(n_hapax AS DOUBLE) / n_types * 1000000 + 0.5) / 1000000
         |    AS hapax_ratio
         |FROM m""".stripMargin,

    "text_zipf_fit" ->
      s"""WITH freq AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
         |    SELECT unnest($sqlToks) AS w FROM documents) GROUP BY w),
         |r AS (
         |  SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS rank
         |  FROM freq)
         |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         |  floor(regr_slope(ln(f), ln(rank)) * 10000 + 0.5) / 10000 AS zipf_slope,
         |  floor(regr_r2(ln(f), ln(rank)) * 10000 + 0.5) / 10000 AS zipf_r2
         |FROM r""".stripMargin,

    "tok_vocab_coverage" ->
      s"""WITH freq AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
         |    SELECT unnest($sqlToks) AS w FROM documents) GROUP BY w),
         |r AS (
         |  SELECT CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS rank,
         |    CAST(sum(f) OVER (ORDER BY f DESC, w ROWS UNBOUNDED PRECEDING)
         |      AS DOUBLE) / (SELECT sum(f) FROM freq) AS cumfrac
         |  FROM freq),
         |t AS (SELECT unnest([0.5, 0.9, 0.99]) AS target)
         |SELECT t.target, min(r.rank) AS vocab_size,
         |  floor(arg_min(r.cumfrac, r.rank) * 1000000 + 0.5) / 1000000 AS coverage
         |FROM t JOIN r ON r.cumfrac >= t.target
         |GROUP BY t.target""".stripMargin,

    "idx_bm25_negatives" ->
      s"""$sqlBm25,
         |rel AS MATERIALIZED (
         |  SELECT doc_id FROM (SELECT doc_id, unnest(tok) AS token FROM tk)
         |  WHERE token IN ('query', 'window')
         |  GROUP BY doc_id HAVING count(DISTINCT token) = 2)
         |SELECT doc_id, score, n_terms FROM bm
         |WHERE doc_id NOT IN (SELECT doc_id FROM rel)
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "idx_eval_ndcg" ->
      s"""$sqlBm25,
         |rel AS MATERIALIZED (
         |  SELECT doc_id FROM (SELECT doc_id, unnest(tok) AS token FROM tk)
         |  WHERE token IN ('query', 'window')
         |  GROUP BY doc_id HAVING count(DISTINCT token) = 2),
         |rc AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel),
         |ranked AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
         |    AS BIGINT) AS rk
         |  FROM (SELECT doc_id, score FROM bm
         |        ORDER BY score DESC, doc_id LIMIT 10)),
         |g AS (
         |  SELECT rk, rel,
         |    floor(rel / (ln(rk + 1) / ln(2)) * 1000000 + 0.5) / 1000000 AS g,
         |    floor(1.0 / (ln(rk + 1) / ln(2)) * 1000000 + 0.5) / 1000000 AS ig
         |  FROM (
         |    SELECT ranked.rk AS rk,
         |      CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |    FROM ranked LEFT JOIN rel ON ranked.doc_id = rel.doc_id))
         |SELECT dcg10, idcg10,
         |  floor(dcg10 / idcg10 * 1000000 + 0.5) / 1000000 AS ndcg10,
         |  mrr, p_at_10, n_rel
         |FROM (
         |  SELECT floor(sum(g) * 1000000 + 0.5) / 1000000 AS dcg10,
         |    floor(sum(CASE WHEN rk <= n_rel THEN ig ELSE 0.0 END)
         |      * 1000000 + 0.5) / 1000000 AS idcg10,
         |    floor(max(CASE WHEN rel = 1
         |      THEN floor(1.0 / rk * 1000000 + 0.5) / 1000000
         |      ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS mrr,
         |    floor(CAST(sum(rel) AS DOUBLE) / 10 * 10000 + 0.5) / 10000
         |      AS p_at_10,
         |    max(n_rel) AS n_rel
         |  FROM g, rc)""".stripMargin,

    "idx_hybrid_rrf" ->
      s"""$sqlBm25,
         |n AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${Similarity.sqlNorm("embedding")} AS nrm
         |  FROM embeddings),
         |dense AS MATERIALIZED (
         |  SELECT doc_id, dr FROM (
         |    SELECT e.vec_id AS doc_id,
         |      CAST(row_number() OVER (ORDER BY
         |        floor((${Similarity.sqlDot("q.embedding", "e.embedding")}
         |          / (q.nrm * e.nrm)) * 1000000 + 0.5) / 1000000 DESC,
         |        e.vec_id) AS BIGINT) AS dr
         |    FROM n e JOIN n q ON q.vec_id = 0 AND e.vec_id <> 0)
         |  WHERE dr <= 20),
         |sparse AS MATERIALIZED (
         |  SELECT doc_id, sr FROM (
         |    SELECT doc_id,
         |      CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS sr
         |    FROM bm)
         |  WHERE sr <= 20)
         |SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
         |  floor((COALESCE(1.0 / (60 + d.dr), 0.0) +
         |         COALESCE(1.0 / (60 + s.sr), 0.0)) * 1000000 + 0.5)
         |    / 1000000 AS rrf,
         |  d.dr AS dr, s.sr AS sr
         |FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  )

  /** The inline-BM25 top-10 oracle — shared verbatim by the persisted-
    * index variants ([[PostingsIndex]]): one ranking contract, three
    * read paths. */
  private[operators] lazy val sqlBm25TopK: String =
    s"""$sqlBm25
       |SELECT doc_id, score, n_terms FROM bm
       |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  private lazy val sqlBm25 =
    s"""WITH tk AS MATERIALIZED (
       |  SELECT doc_id, $sqlToks AS tok FROM documents),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(tok) AS BIGINT) AS dl FROM tk),
       |stats AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(tok) AS token FROM tk)
       |  WHERE token IN ('query', 'window', 'spark')
       |  GROUP BY doc_id, token),
       |df AS MATERIALIZED (
       |  SELECT token,
       |    floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000 + 0.5)
       |      / 1000000 AS idf
       |  FROM (SELECT token, CAST(count(*) AS BIGINT) AS df
       |        FROM tf GROUP BY token), stats),
       |bm AS MATERIALIZED (
       |  SELECT doc_id,
       |    floor(sum(p) * 10000 + 0.5) / 10000 AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM (
       |    SELECT tf.doc_id,
       |      floor(df.idf * (tf.tf * 2.2) / (tf.tf + 1.2 *
       |        (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) * 1000000 + 0.5)
       |        / 1000000 AS p
       |    FROM tf JOIN df ON tf.token = df.token
       |    JOIN dl ON tf.doc_id = dl.doc_id, stats)
       |  GROUP BY doc_id)""".stripMargin
}
