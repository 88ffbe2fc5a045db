package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactAgg

/** Text-analysis operator suite over the `documents` corpus
  * (SURVEY.md §2.5) — the LLM-training-data quality toolchain.
  *
  * Every operator is pure column-expression composition (no UDFs), so
  * the whole pipeline stays inside whole-stage codegen and scales as a
  * single scan + one aggregation shuffle where needed. All hashing is
  * `md5` hex so results are reproducible cross-engine (the DuckDB
  * oracles recompute identical values).
  */
object TextAnalysis {

  /** Lowercase, collapse non-alphanumeric runs to single spaces, trim. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Normalized word tokens (no empties, even for blank input).
    * Single regex pass: splitting on non-alphanumeric runs yields
    * exactly the maximal alphanumeric runs of the lowercased text —
    * the same tokens as `split(normText(c), " ")`, at half the regex
    * cost. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Space-joined word n-grams of a token-array expression.
    *
    * Built from `arrays_zip` of n shifted slices — NOT
    * `transform(sequence(...), i => slice(toks, ...))`: higher-order
    * lambdas are interpreted, so an outer-array reference inside the
    * lambda body re-evaluates the whole tokenization once PER ELEMENT
    * (O(tokens²) with a regexp in the constant factor). Here the
    * lambda only touches its own zipped element; `toks` is evaluated a
    * constant number of times per row.
    */
  def ngrams(toks: Column, n: Int): Column = {
    val m = greatest(size(toks) - (n - 1), lit(0))
    val shifted = (0 until n).map(k => slice(toks, lit(k + 1), m))
    transform(arrays_zip(shifted: _*),
      s => concat_ws(" ", (0 until n).map(k => s.getField(k.toString)): _*))
  }

  /** Tiny per-language stopword lexicon used by language-ID.
    * Deterministic heuristic — the point is the distributed argmax
    * shape, not linguistic accuracy. Kept in exact sync with the
    * DuckDB oracle's VALUES list.
    */
  val stopwordLexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "and",
    "en" -> "to", "en" -> "in", "en" -> "is",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "ein",
    "es" -> "el", "es" -> "la", "es" -> "los", "es" -> "de", "es" -> "y",
    "fr" -> "le", "fr" -> "les", "fr" -> "et", "fr" -> "un", "fr" -> "dans")

  /** English stopwords reused by the quality score (ratio feature). */
  val enStopwords: Seq[String] =
    stopwordLexicon.collect { case ("en", w) => w }

  /** Winning language per doc over exploded (doc_id, tok) rows:
    * broadcast-lexicon join, per-(doc, lang) hit counts, then the
    * argmax as `max` of a (n, inverted-lang-code, lang) struct — the
    * (count desc, lang asc) tie-break encoded ordinally, so the winner
    * falls out of a partial-aggregating `max` instead of a per-doc
    * window sort. Returns (doc_id, slang, n).
    */
  private[operators] def langArgmax(tokRows: DataFrame): DataFrame = {
    val spark = tokRows.sparkSession
    import spark.implicits._
    val lex = stopwordLexicon.toDF("slang", "word")
    val langs = stopwordLexicon.map(_._1).distinct.sorted
    // alphabetically-first language gets the LARGEST code: on hit-count
    // ties, struct-max then picks exactly the window tie-break's winner
    val codeExpr = langs.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (l, i)) => when(col("slang") === l, lit(langs.size - i)).otherwise(acc)
    }
    tokRows
      .join(broadcast(lex), col("tok") === col("word"))
      .groupBy(col("doc_id"), col("slang"))
      .agg(count(lit(1)).as("n"))
      .select(col("doc_id"), struct(col("n"), codeExpr.as("c"), col("slang")).as("s"))
      .groupBy(col("doc_id"))
      .agg(max(col("s")).as("m"))
      .select(col("doc_id"), col("m.slang").as("slang"), col("m.n").as("n"))
  }

  /** T1 — language ID: explode tokens, broadcast-join the lexicon,
    * argmax hit-count per doc with a deterministic (count desc, lang
    * asc) tiebreak; docs with zero hits come back as "und".
    * Two narrow keyed aggregations (both partial-agg); the lexicon is
    * broadcast.
    */
  def textLangId(t: Tables): DataFrame = {
    val docs = t.documents
    val best = langArgmax(docs
      // pre-explode rebalance: token explosion is ~50× the input rows,
      // so parallelism must not depend on the scan's file split
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok")))
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("slang"), lit("und")).as("lang_pred"),
        coalesce(col("n"), lit(0L)).as("n_hits"))
  }

  /** Punctuation ratio over a text column (null on empty text). */
  private def punctRatioExpr(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")) /
      nullif(length(text).cast("double"), lit(0.0))

  /** English-stopword ratio over a token-array column (null on no
    * tokens). */
  private def stopRatioExpr(toks: Column): Column =
    size(filter(toks, tk => tk.isin(enStopwords: _*))).cast("double") /
      nullif(size(toks).cast("double"), lit(0.0))

  /** Composite quality score over (text, tokens) columns — shared by
    * [[textQuality]] and [[CorpusClean]]'s fused single-scan pipeline
    * so the two stay in exact sync (and with the DuckDB oracle).
    *
    * +1e-9 before rounding: ratios of small ints land exactly on
    * x.xxxx5 half-way points, where a 1-ulp cross-engine difference
    * flips the 4th decimal; the epsilon breaks the tie identically in
    * Spark and the DuckDB oracle.
    */
  def qualityScoreExpr(text: Column, toks: Column): Column =
    round(
      lit(0.4) * coalesce(stopRatioExpr(toks), lit(0.0)) +
      lit(0.3) * (lit(1.0) - coalesce(punctRatioExpr(text), lit(0.0))) +
      lit(0.3) * least(size(toks).cast("double") / 100.0, lit(1.0)) + lit(1e-9), 4)

  /** T2 — quality scoring: token count, punctuation ratio, stopword
    * ratio, and a composite quality score. Map-only (no shuffle):
    * every feature is a column expression over one scan.
    */
  def textQuality(t: Tables): DataFrame = {
    val toks = tokens(col("text"))
    val eps = lit(1e-9)
    t.documents.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round(punctRatioExpr(col("text")) + eps, 4).as("punct_ratio"),
      round(stopRatioExpr(toks) + eps, 4).as("stop_ratio"),
      qualityScoreExpr(col("text"), toks).as("quality_score"))
  }

  /** `text_gopher_rules` — the Gopher repetition-free quality rules
    * (Rae et al. 2021, Table A1 — the public heuristic filter set
    * most open LM-data pipelines start from), integer-exact: word
    * count ∈ [50, 100 000]; mean word length ∈ [3, 10] (carried as
    * chars×100 div words — no float ratio); symbol-to-word ratio
    * ('#' or '…' per word) ≤ 0.1 via the cross-multiplied form
    * `10·symbols ≤ words`; ≥ 80 % of words contain an alphabetic
    * character (`5·alpha ≥ 4·words`); and ≥ 2 stopwords (the
    * gibberish screen). The verdict is a boolean plus the FIRST
    * failed rule by fixed precedence — an auditable reject reason,
    * not just a bit. Map-only single pass; every comparison is exact
    * integer arithmetic shared verbatim with the oracle. */
  def textGopherRules(t: Tables): DataFrame =
    textGopherRulesOf(t.documents)

  /** The same rules over ANY (doc_id, text) frame — map-only column
    * expressions (spec drives injected edge docs through it). */
  private[graft] def textGopherRulesOf(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = docs.select(col("doc_id"),
      size(toks).cast("long").as("n_words"),
      aggregate(toks, lit(0L), (a, x) => a + length(x)).as("tok_chars"),
      (length(col("text")) -
        length(expr("replace(text, '#', '')"))).cast("long").as("n_hash"),
      ((length(col("text")) -
        length(expr("replace(text, '...', '')"))) / lit(3))
        .cast("long").as("n_ellipsis"),
      size(filter(toks, x => x.rlike("[a-z]"))).cast("long")
        .as("alpha_words"),
      size(filter(toks, x => x.isin(enStopwords: _*))).cast("long")
        .as("n_stop"))
    base
      .withColumn("mean_len_x100",
        when(col("n_words") > 0,
          expr("(tok_chars * 100) div n_words")).otherwise(lit(0L)))
      .withColumn("n_sym", col("n_hash") + col("n_ellipsis"))
      .withColumn("fail_reason",
        when(col("n_words") < 50 || col("n_words") > 100000L,
          lit("word_count"))
          .when(col("mean_len_x100") < 300 || col("mean_len_x100") > 1000,
            lit("mean_word_len"))
          .when(col("n_sym") * 10 > col("n_words"), lit("symbol_ratio"))
          .when(col("alpha_words") * 5 < col("n_words") * 4,
            lit("alpha_ratio"))
          .when(col("n_stop") < 2, lit("stopwords"))
          .otherwise(lit("pass")))
      .select(col("doc_id"), col("n_words"), col("mean_len_x100"),
        col("n_sym"), col("alpha_words"), col("n_stop"),
        (col("fail_reason") === "pass").as("passes"), col("fail_reason"))
  }

  /** `corpus_temperature_sampling` — temperature-reweighted source
    * mixture (the multilingual/multi-source sampling rule of public
    * LM-training recipes: share_i ∝ w_i^α with α < 1, upweighting
    * small sources so the head doesn't drown the tail), at α = ½ —
    * the inverse-sqrt setting chosen deliberately because IEEE sqrt
    * is CORRECTLY ROUNDED on every engine, so where pow(w, 0.7)
    * would be a libm last-ulp hazard, sqrt is bit-deterministic.
    * Complements [[corpusMixture]] (per-source rate quotas given):
    * this COMPUTES the shares from corpus statistics.
    *
    * Determinism: per-source token counts are exact int64; priorities
    * quantize as floor(sqrt(w)·10⁶) — one exact sqrt, one IEEE
    * multiply, one floor — so the share is a ratio of exact integers
    * (§6 rule #4) and the token quota is an integral division in
    * 128-bit/DECIMAL(38,0) (budget·q overflows int64 at petabyte
    * token counts, not before the engines diverge). One keyed rollup
    * + a one-row broadcast total; output is #sources rows. */
  def corpusTemperatureSampling(t: Tables,
      budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = t.documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("q",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000L)).cast("long"))
    val tot = perSource.agg(sum(col("q")).as("qs"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("q").cast("double") / col("qs").cast("double") + lit(1e-9), 6)
          .as("share"),
        expr(s"CAST((CAST($budgetTokens AS DECIMAL(38,0)) * q) DIV qs AS BIGINT)")
          .as("quota_tokens"))
  }

  /** T34 — `corpus_epoch_plan`: the repetition/epoch plan a training
    * run derives from the mixture — `corpus_temperature_sampling`
    * answers "how many tokens from each source"; this answers the
    * follow-up that actually gates the run: "how many PASSES over
    * each source is that, and where does the plan hit the repetition
    * ceiling" (epoching past ~4 repeats measurably degrades models —
    * the public Muennighoff et al. 2023 data-constrained scaling
    * result — and licensing/quality policy caps sources unevenly).
    * Per source: τ=0.5 temperature quota against a budget of
    * `budgetFactor`× the corpus tokens, implied epochs in exact
    * milli-units, a POLICY CAP (1–4 epochs, an md5-keyed
    * deterministic stand-in for the per-source policy table a real
    * run joins in), the planned token count after capping, and the
    * unplaced remainder the run must re-mix or shorten by.
    *
    * Determinism: the sqrt-quantized priority is the established
    * temperature trick (one IEEE sqrt+mul+floor on identical
    * operands); everything after is int64/DECIMAL(38,0) DIV chains —
    * exact at petabyte token counts. Shape: ONE keyed rollup over the
    * token stream + a one-row broadcast total; #sources rows. */
  def corpusEpochPlan(t: Tables, budgetFactor: Int = 2): DataFrame =
    epochPlanOf(
      t.documents
        .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(sum(col("n_toks")).as("n_tokens")),
      budgetFactor)

  /** The plan-scoring stage over a (source, n_tokens) rollup — shared
    * by the batch query and the streaming twin (the rollup IS the
    * streaming state; this stage runs over the drained #sources-row
    * table, the `stream_anomaly`/`changepointScore` pattern). */
  private[graft] def epochPlanOf(perSourceTokens: DataFrame,
      budgetFactor: Int): DataFrame = {
    // a source whose documents tokenize to zero tokens has no quota to
    // place and would make the epochs_milli DIV divide by zero (NULL in
    // Spark, an ERROR in the DuckDB oracle — a silent divergence edge);
    // the same n_tokens > 0 guard rides in the oracle SQL
    val perSource = perSourceTokens
      .filter(col("n_tokens") > 0)
      .withColumn("q",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000L)).cast("long"))
      .withColumn("cap_milli",
        ((conv(substring(md5(col("source")), 1, 1), 16, 10).cast("long")
          % 4 + 1) * 1000).cast("long"))
    val tot = perSource.agg(sum(col("q")).as("qs"),
      sum(col("n_tokens")).as("tot_tokens"))
    perSource.crossJoin(broadcast(tot))
      .withColumn("quota_tokens",
        expr(s"CAST((CAST($budgetFactor AS DECIMAL(38,0)) * tot_tokens * q) DIV qs AS BIGINT)"))
      .withColumn("epochs_milli",
        least(col("cap_milli"), expr("quota_tokens * 1000 DIV n_tokens")))
      .withColumn("planned_tokens", expr("n_tokens * epochs_milli DIV 1000"))
      .select(col("source"), col("n_tokens"), col("cap_milli"),
        col("quota_tokens"), col("epochs_milli"), col("planned_tokens"),
        (col("quota_tokens") - col("planned_tokens")).as("unplaced_tokens"))
  }

  /** `text_boilerplate` — source-level boilerplate detection (the
    * CCNet/web-pipeline discipline applied at token granularity):
    * a term is BOILERPLATE for a source when it appears in ≥ 80% of
    * that source's documents (template chrome, navigation residue,
    * legal footers — whatever a crawler's extraction left behind in
    * every page of one site), and each doc reports how much of its
    * token stream that vocabulary accounts for — the signal a
    * cleaning pass thresholds on before training. Per-SOURCE document
    * frequency is the point: a term can be boilerplate on one site
    * and content on another, which the global idf of [[textTfidf]]
    * cannot see.
    *
    * Determinism: the 80% threshold compares exact integers
    * (df·10 ≥ n_docs·8), counts are int64, one §6-rounded ratio.
    * Shape: token explode → (source, term) partial-agg df; the
    * boilerplate vocabulary is a per-source bounded set joined back
    * by (source, term) equi-key; per-doc rollups are keyed counts —
    * no all-pairs, no driver state. */
  def textBoilerplate(t: Tables): DataFrame = {
    val toks = t.documents
      .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("term"))
    val docsPerSource = t.documents.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val df = toks.select(col("source"), col("doc_id"), col("term")).distinct()
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("df"))
    val boiler = df.join(broadcast(docsPerSource), "source")
      .filter(col("df") * lit(10) >= col("n_docs") * lit(8))
      .select(col("source"), col("term"))
    val perDoc = toks.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val bCount = toks.join(boiler, Seq("source", "term"))
      .groupBy(col("source"), col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    perDoc.join(bCount, Seq("source", "doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_tokens") === 0L, lit(0.0)).otherwise(
          round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_tokens").cast("double") + lit(1e-9), 4))
          .as("boiler_ratio"))
  }

  /** `text_readability` — Flesch reading ease + Flesch–Kincaid grade
    * (public Flesch 1948 / Kincaid 1975) under the standard
    * heuristic approximations an engine without a dictionary uses:
    * sentences = terminal-punctuation runs, words = letter runs,
    * syllables = vowel-group runs (`[aeiouy]+`) — the classic
    * syllable proxy. The readability axis of the quality suite:
    * [[textQuality]] scores surface hygiene, this scores reading
    * difficulty, the complementary curriculum/filter signal.
    *
    * Determinism: the three counts are exact integers from the same
    * regexes on both engines; the score is per-row SCALAR double
    * arithmetic in one fixed expression shape (no aggregation, so no
    * accumulation-order hazard — both engines evaluate the identical
    * IEEE expression on identical integer operands), §6-rounded.
    * Degenerate docs (no letters) report 0. Map-only, fuses into the
    * scan. */
  def textReadability(t: Tables): DataFrame = {
    val low = lower(col("text"))
    val nS = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val nW = size(regexp_extract_all(low, lit("[a-z]+"), lit(0))).cast("long")
    val nSy = size(regexp_extract_all(low, lit("[aeiouy]+"), lit(0))).cast("long")
    val eps = lit(1e-9)
    t.documents.select(
      col("doc_id"),
      nS.as("n_sentences"), nW.as("n_words"), nSy.as("n_syllables"),
      when(nW === 0L, lit(0.0)).otherwise(
        round(lit(206.835) - lit(1.015) * (nW.cast("double") / nS.cast("double"))
          - lit(84.6) * (nSy.cast("double") / nW.cast("double")) + eps, 4))
        .as("flesch"),
      when(nW === 0L, lit(0.0)).otherwise(
        round(lit(0.39) * (nW.cast("double") / nS.cast("double"))
          + lit(11.8) * (nSy.cast("double") / nW.cast("double")) - lit(15.59) + eps, 4))
        .as("fk_grade"))
  }

  /** T3 — token counting: whitespace tokens vs a BPE-ish regex
    * tokenizer (letter runs | digit runs | single symbol). Map-only.
    */
  def textTokens(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), tk => length(tk) > 0))
        .cast("long").as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
        .cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("char_len"))

  /** T4 — document fingerprinting: md5 of the normalized text plus the
    * minimum per-token md5 (a 1-hash MinHash). Map-only; both digests
    * are portable to any engine with md5.
    */
  def textFingerprint(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      md5(normText(col("text"))).as("fp"),
      array_min(transform(array_distinct(tokens(col("text"))), tk => md5(tk)))
        .as("min_tok_hash"))

  /** T6 — repetition stats (Gopher-style quality rules): per doc, the
    * duplicate-token ratio (1 − distinct/total) and the top single
    * token's frequency share. High values flag the boilerplate /
    * keyword-stuffed docs an LLM-data pipeline drops. One explode +
    * two-level aggregation, both with map-side partial agg; the
    * shuffle is keyed by (doc_id, token) then doc_id.
    */
  def textRepetition(t: Tables): DataFrame = {
    val stats = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_tok_n"))
    val eps = lit(1e-9)
    t.documents.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens") + eps, 4)
          .as("dup_ratio"),
        round(col("top_tok_n").cast("double") / col("n_tokens") + eps, 4)
          .as("top_ratio"))
  }

  /** T7 — benchmark decontamination: flag corpus docs sharing any
    * distinct word-5-gram with the "benchmark" doc set (doc_id <
    * `benchDocs`, a stand-in for an eval suite), with the overlap
    * count — the standard eval-contamination filter of an LLM data
    * pipeline.
    *
    * Two physical modes, auto-gated on the MEASURED benchmark gram
    * count (one job over the bench side only — pushdown-filtered, so
    * its cost is the eval suite's, never the corpus's):
    *  - gram set ≤ `maxBroadcastGrams`: broadcast join — the corpus
    *    side is one explode + broadcast join + per-doc count; the
    *    shuffle carries (doc_id, count) partials only, never text.
    *  - larger: shuffled sort-merge join on the gram key (`merge`
    *    hint), so an eval suite too large for executor memory never
    *    forces a driver-side broadcast build. AQE may still downgrade
    *    to broadcast at runtime if the set proves small — the gate
    *    removes the *requirement*, not the opportunity.
    *
    * NOTE: the gate count is an EAGER Spark job at DataFrame-CONSTRUCTION
    * time (a physical-strategy choice can't be deferred into the lazy
    * plan) — callers that only build or explain the plan still pay one
    * bench-side-only scan per call.
    */
  def textContamination(t: Tables, n: Int = 5, benchDocs: Int = 10,
      maxBroadcastGrams: Long = 4L * 1000 * 1000): DataFrame = {
    val grams = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(ngrams(tokens(col("text")), n))).as("g"))
    val bench = grams.filter(col("doc_id") < benchDocs).select(col("g")).distinct()
    val corpus = grams.filter(col("doc_id") >= benchDocs)
    val joined =
      if (bench.count() <= maxBroadcastGrams) corpus.join(broadcast(bench), "g")
      else corpus.join(bench.hint("merge"), "g")
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** `text_contamination_fuzzy` — NEAR-duplicate benchmark
    * decontamination: flag corpus docs whose MinHash LSH bands collide
    * with any "benchmark" doc (doc_id < `benchDocs`), with the count
    * of distinct bench docs matched. Exact n-gram overlap
    * ([[textContamination]]) misses paraphrased or partially-rewritten
    * eval material; band collision fires on high-Jaccard neighbours
    * too — the fuzzy half every production decontamination stage runs
    * alongside the exact one.
    *
    * Shape: ONE signature pass over the whole corpus (the same
    * map-side MinHash aggregate as `dedup_minhash_lsh`, persisted once
    * and read by both sides), then bench bands — the EVAL SUITE's
    * rows, tiny by nature — broadcast against the corpus bands: the
    * corpus side never shuffles, and the probe is a hash lookup per
    * (band, bh) row. Scales as one scan + one broadcast regardless of
    * corpus size.
    */
  def textContaminationFuzzy(t: Tables, benchDocs: Int = 50): DataFrame = {
    val docToks = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bands = Dedup.minhashBands(Dedup.shingleSetFrom(docToks))
    val bench = bands.filter(col("doc_id") < benchDocs)
    val corpus = bands.filter(col("doc_id") >= benchDocs)
    corpus.as("c")
      .join(broadcast(bench.as("b")),
        col("c.band") === col("b.band") && col("c.bh") === col("b.bh"))
      .groupBy(col("c.doc_id").as("doc_id"))
      .agg(countDistinct(col("b.doc_id")).as("n_bench_matches"))
  }

  /** `corpus_filter_funnel` — the cleaning-pipeline observability
    * report: how many documents each successive filter stage removes
    * (lang allowlist → min length → quality threshold → exact dedup),
    * with per-stage keep rates. Production corpus releases ship this
    * funnel next to the data — a stage that silently eats 40% of a
    * source is the #1 pipeline bug this catches.
    *
    * Shape: ONE scan computes all per-doc flags map-side in a slim
    * projection (digest + booleans — the text NEVER shuffles); the
    * dedup representative is a min-window keyed by the digest; one
    * global conditional aggregate folds the cumulative counts, and the
    * 4 report rows are a map-only explode of that single row.
    * keep_rate divides exact ints → bit-identical doubles cross-engine.
    */
  def corpusFilterFunnel(t: Tables, minTokens: Int = 20,
      minQuality: Double = 0.45): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val slim = t.documents.select(
      col("doc_id"),
      md5(col("text")).as("eh"),
      col("lang").isin("en", "es", "fr").as("f_lang"),
      (size(toks) >= minTokens).as("f_len"),
      (qualityScoreExpr(col("text"), toks) >= minQuality).as("f_q"))
    val flagged = slim.withColumn("rep",
      min(col("doc_id")).over(Window.partitionBy(col("eh"))))
    def kept(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val agg = flagged.agg(
      count(lit(1)).as("n0"),
      kept(col("f_lang")).as("n1"),
      kept(col("f_lang") && col("f_len")).as("n2"),
      kept(col("f_lang") && col("f_len") && col("f_q")).as("n3"),
      kept(col("f_lang") && col("f_len") && col("f_q")
        && col("doc_id") === col("rep")).as("n4"))
    def stageStruct(id: Int, name: String, in: String, out: String) =
      struct(lit(id).as("stage_id"), lit(name).as("stage"),
        col(in).as("docs_in"), col(out).as("docs_out"))
    agg.select(explode(array(
        stageStruct(1, "lang_allowlist", "n0", "n1"),
        stageStruct(2, "min_length", "n1", "n2"),
        stageStruct(3, "quality_threshold", "n2", "n3"),
        stageStruct(4, "exact_dedup", "n3", "n4"))).as("s"))
      .select(col("s.stage_id").as("stage_id"), col("s.stage").as("stage"),
        col("s.docs_in").as("docs_in"),
        (col("s.docs_in") - col("s.docs_out")).as("docs_removed"),
        col("s.docs_out").as("docs_out"),
        (col("s.docs_out") / nullif(col("s.docs_in"), lit(0L))).as("keep_rate"))
  }

  /** `corpus_source_profile` — per-source corpus health card: doc
    * count, mean quality score, mean token length, exact-duplicate
    * rate, and share of the corpus — the table a data-sourcing team
    * reads to decide which feeds to keep, throttle or renegotiate.
    *
    * Shape: quality/length/digest are map-side column expressions; the
    * dup flag is a digest-keyed count window (32-byte shuffle keys);
    * then ONE source-keyed partial aggregate over flag-width rows, and
    * the corpus share by a one-row broadcast total. Cost: two keyed
    * shuffles, independent of per-source skew.
    */
  def corpusSourceProfile(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val slim = t.documents.select(
      col("source"), md5(col("text")).as("eh"),
      size(toks).cast("long").as("n_toks"),
      qualityScoreExpr(col("text"), toks).as("q"))
    val flagged = slim.withColumn("n_copies",
      count(lit(1)).over(Window.partitionBy(col("eh"))))
    val bySource = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        ExactAgg.exactMean(col("q"), 4).as("avg_quality"),
        ExactAgg.exactMean(col("n_toks"), 4).as("avg_tokens"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_duplicated"))
    val total = bySource.agg(sum(col("n_docs")).as("total_docs"))
    bySource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("avg_quality"),
        col("avg_tokens"),
        (col("n_duplicated") / col("n_docs")).as("dup_rate"),
        (col("n_docs") / col("total_docs")).as("corpus_share"))
  }

  /** `corpus_zipf` — rank-frequency power-law diagnostic: OLS slope
    * (and fit R²) of ln(frequency) against ln(rank) over the corpus's
    * `topK` terms. Natural text tracks slope ≈ −1 (Zipf's law);
    * machine-generated or template-heavy corpora flatten or steepen
    * it, so releases chart this number next to the corpus card.
    *
    * Shape: one explode + term-keyed count (map-side partial agg —
    * the only shuffle that sees tokens), a TakeOrdered top-K cut
    * (never a global sort), then ranking + regression over EXACTLY
    * `topK` rows — the single-partition window is bounded by the
    * constant K, not the corpus. Ties rank deterministically by term.
    */
  def corpusZipf(t: Tables, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val top = tf.orderBy(col("freq").desc, col("term")).limit(topK)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("term"))))
      .agg(count(lit(1)).as("n_terms"),
        round(regr_slope(log(col("freq")), log(col("rank"))) + lit(1e-9), 4)
          .as("zipf_slope"),
        round(regr_r2(log(col("freq")), log(col("rank"))) + lit(1e-9), 4)
          .as("zipf_r2"))
  }

  /** T8 — corpus-level stats report: doc count, token totals,
    * mean/median tokens per doc, vocabulary size. Two aggregations
    * (per-doc token counts reduce to one row; distinct-token count is
    * one keyed shuffle) cross-joined into a single summary row — the
    * "corpus card" numbers every dataset release publishes.
    */
  def corpusStats(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    val perDoc = t.documents
      .select(size(tokens(col("text"))).cast("long").as("n_toks"))
    val agg = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("total_tokens"),
      ExactAgg.exactMean(col("n_toks"), 4).as("avg_tokens"),
      round(percentile(col("n_toks"), lit(0.5)) + eps, 4).as("med_tokens"))
    val vocab = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    agg.crossJoin(vocab)
  }

  /** `corpus_len_guard` — the 4096-shingle-convention tripwire. The
    * DuckDB oracles for every shingle/chunk query cap their
    * `generate_series` start positions at 4096 while the Spark side is
    * uncapped, so a document longer than ~4K tokens would make those
    * queries silently diverge from the oracle. This guard makes the
    * outgrowth LOUD instead: the Spark side emits "ok" only while the
    * corpus is inside the convention (max tokens ≤ 4094 — room for the
    * widest 5-gram window), and the oracle asserts the literal "ok",
    * so the first oversized document fails THIS named entry with the
    * offending length in `max_toks` rather than hash-mismatching a
    * random shingle query. One scan, one scalar agg. */
  def corpusLenGuard(t: Tables): DataFrame =
    t.documents
      // coalesce: an EMPTY corpus is inside the convention — without
      // it max() is NULL, the CASE yields NULL, and the guard itself
      // would diverge from the oracle's literal 'ok'
      .agg(coalesce(max(size(tokens(col("text")))).cast("long"), lit(0L))
        .as("max_toks"))
      .select(
        when(col("max_toks") <= 4094L, lit("ok"))
          .otherwise(concat(lit("OVERFLOW:"), col("max_toks"))).as("status"),
        col("max_toks"))

  /** T9 — deterministic train/validation split: assignment is a pure
    * function of doc_id (first md5 hex nibble ∈ {0,1} → ~12.5% "val"),
    * so the split is reproducible on any engine, any run, any
    * partitioning — no sampled state to coordinate. Map-only.
    */
  /** Pure-function train/val assignment from doc_id (shared by
    * [[corpusSplit]] and [[corpusSplitLeakage]] so the two can never
    * disagree). */
  private def splitCol: Column =
    when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"), "val")
      .otherwise("train")

  def corpusSplit(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), splitCol.as("split"))

  /** `corpus_split_leakage` — split-hygiene audit: [[corpusSplit]]
    * assigns train/val by doc_id hash, so two documents with IDENTICAL
    * TEXT can land on opposite sides — val examples the model saw
    * verbatim in training. Reports split sizes, the number of
    * cross-split exact-duplicate text groups, and how many val docs
    * are contaminated — the eval-integrity number a release gates on
    * (near-dup leakage is the same audit with the MinHash pair set).
    *
    * Shape: ONE digest-keyed aggregate counting each side per text
    * group (32-byte shuffle keys, text never moves), then a one-row
    * fold; side counts ride the same pass as broadcast one-row frames.
    */
  def corpusSplitLeakage(t: Tables): DataFrame = {
    val sides = t.documents
      .select(md5(col("text")).as("eh"), splitCol.as("split")) // map-only
      .groupBy(col("eh"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
      .persist()
    sides.count() // totals + leakage both fold this rollup
    val totals = sides.agg(
      sum(col("n_train")).as("train_docs"), sum(col("n_val")).as("val_docs"))
    sides
      .filter(col("n_train") > 0 && col("n_val") > 0)
      .agg(count(lit(1)).as("leaked_groups"),
        coalesce(sum(col("n_val")), lit(0L)).as("contaminated_val_docs"))
      .crossJoin(broadcast(totals))
      .select(col("train_docs"), col("val_docs"), col("leaked_groups"),
        col("contaminated_val_docs"))
  }

  /** T10 — stratified deterministic sampling: downsample the dominant
    * language while keeping the rest, with the keep decision a pure
    * function of doc_id (first md5 hex nibble vs a per-stratum /16
    * rate). Map-only — no sampled state, no coordination, identical
    * output on any engine, any run, any partitioning; rates are
    * sixteenths so the nibble comparison is exact. The rebalancing
    * step every LLM data mix applies before training.
    */
  def corpusSampleStratified(t: Tables): DataFrame = {
    val nibble = substring(md5(col("doc_id").cast("string")), 1, 1)
    // hex chars order lexically: nibble < '4' keeps 4/16, < '8' keeps 8/16
    val keepBelow = when(col("lang") === "en", lit("4")).otherwise(lit("8"))
    t.documents
      .filter(nibble < keepBelow)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** T17 — exact-quota domain mixture: downsample each source to an
    * EXACT per-domain quota (vs [[corpusSampleStratified]]'s
    * probabilistic rates, which only hit the mix in expectation) — the
    * reweighting step when the training recipe demands precise domain
    * proportions. Quotas here derive deterministically from the source
    * name (md5-nibble → 4/8/12/16 sixteenths of that source's docs,
    * all-integer ceil) so the operator generalizes to any source set;
    * a production run would broadcast-join an explicit weights table
    * in place of the nibble expression. Selection INSIDE a quota is a
    * per-source rank over md5(doc_id) — an unbiased deterministic
    * shuffle, reproducible on any engine.
    *
    * Shape: one source-partitioned window pass (rank + count share the
    * partitioning) — a single shuffle keyed by source, no collect. A
    * skewed mega-source makes that window partition large; at that
    * scale the rank goes through the same recursive prefix-sum trick
    * as [[corpusTokenShards]] with the source as the outer key.
    */
  def corpusMixture(t: Tables): DataFrame = {
    val nib = conv(substring(md5(col("source")), 1, 1), 16, 10).cast("long")
    val rate16 = (nib % 4 + 1) * 4 // 4, 8, 12 or 16 sixteenths
    val w = Window.partitionBy(col("source"))
    t.documents
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("hh"), rate16.as("rate16"))
      .withColumn("samp_rank",
        row_number().over(w.orderBy(col("hh"), col("doc_id"))).cast("long"))
      .withColumn("n_src", count(lit(1)).over(w))
      // integer ceil(n_src * rate16 / 16); DIV, not `/` (double)
      .withColumn("quota", expr("(n_src * rate16 + 15) DIV 16"))
      .filter(col("samp_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("samp_rank"))
  }

  /** T14 — `corpus_curriculum`: quality-weighted exact-quota
    * resampling — the curriculum step that keeps high-quality docs at
    * high rates and boilerplate at low ones while hitting every band's
    * quota EXACTLY (the [[corpusMixture]] discipline, keyed by a
    * DERIVED quality band instead of a stored column).
    *
    * Banding is a map-only fixed-threshold cut of the shared
    * [[qualityScoreExpr]] (floor(q·nBands), top band clamped) — NOT
    * ntile, which would be a single-partition global window; fixed
    * thresholds keep banding embarrassingly parallel at any corpus
    * size. Keep rate rises linearly with band: band i keeps
    * (4 + 3i)/16 — the top band keeps everything. One band-keyed
    * window pass ranks by md5(doc_id) for the deterministic
    * pseudo-random cut.
    */
  def corpusCurriculum(t: Tables, nBands: Int = 5): DataFrame = {
    val q = qualityScoreExpr(col("text"), tokens(col("text")))
    val band = least(floor(q * nBands).cast("long"), lit(nBands - 1L))
    val w = Window.partitionBy(col("band"))
    t.documents
      .select(col("doc_id"), band.as("band"),
        md5(col("doc_id").cast("string")).as("hh"))
      .withColumn("keep16", col("band") * 3 + 4)
      .withColumn("samp_rank",
        row_number().over(w.orderBy(col("hh"), col("doc_id"))).cast("long"))
      .withColumn("n_band", count(lit(1)).over(w))
      .withColumn("quota", expr("(n_band * keep16 + 15) DIV 16"))
      .filter(col("samp_rank") <= col("quota"))
      .select(col("doc_id"), col("band"), col("samp_rank"))
  }

  /** T15 — `text_lang_confusion`: the evaluation harness for
    * [[textLangId]] — predicted language crossed with the corpus's
    * stored `lang` label as a confusion matrix, with each cell's share
    * of its gold row. Model-eval over the full corpus is itself a
    * pipeline job (per-slice accuracy gates a release); shape is the
    * lang-ID pass plus one doc_id-keyed join against the (doc_id,
    * lang) projection and a #langs²-key aggregation, shares as a
    * gold-keyed sum window over that metadata-scale rollup.
    */
  def textLangConfusion(t: Tables): DataFrame =
    textLangId(t)
      .join(t.documents.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("gold_share",
        round(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy(col("lang")))
          + lit(1e-9), 4))

  /** T11 — corpus length histogram on log2 buckets: doc counts and
    * char totals per power-of-two length band — the long-tail length
    * audit run before choosing truncation/packing lengths. One
    * aggregation with map-side combine on a ~32-value key; empty docs
    * are excluded (log2(0) diverges on both engines).
    */
  def corpusLengthHistogram(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    t.documents
      .filter(col("n_chars") > 0)
      .groupBy(floor(log2(col("n_chars"))).cast("long").as("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        ExactAgg.exactMean(col("n_chars"), 4).as("avg_chars"))
  }

  /** T12 — inter-document novelty: per doc, how many of its distinct
    * word-3-grams appear in NO lower-numbered doc (doc_id as corpus
    * order), and the novelty ratio. The incremental-information score
    * used to rank near-duplicate clusters and order curricula.
    *
    * The global first-occurrence is a `min(doc_id)` window over the
    * gram key — ONE shuffle of the exploded gram set and ONE tokenize
    * pass (a groupBy+re-join would re-evaluate the tokenize lineage;
    * same finding as the Jaccard df ranking, SURVEY §8c). Docs with
    * fewer than 3 tokens have no grams and are excluded, matching the
    * oracle's inner aggregation.
    */
  def textNovelty(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    val grams = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(ngrams(tokens(col("text")), 3))).as("g"))
    grams
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("g"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams") + eps, 4).as("novelty_ratio"))
  }

  /** T14 — unigram surprisal score: each doc's mean negative log
    * probability of its tokens under the corpus's own unigram model —
    * the cheap stand-in for perplexity filtering (high surprisal =
    * rare-token soup; near-zero = repeated boilerplate). Token
    * frequencies come from a count window over the token key (one
    * shuffle, one tokenize pass — SURVEY §8c); the corpus total is a
    * one-row broadcast. ln/division differences between engines sit
    * below the rounded 4th decimal (+1e-9 tie guard).
    */
  def textSurprisal(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    val toks = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      // staging cache: the corpus-total count below and the tf window
      // both consume the exploded set; uncached, the one-row total
      // re-ran the whole tokenize lineage as a second corpus scan
      .persist()
    // the eager populate IS the corpus total — a single O(1) driver
    // scalar (same bounded-collect budget as the centroid seed)
    val corpusToks = toks.count()
    toks
      .withColumn("tf", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        // per-token −log quantizes to ×10⁴ BIGINT before the exact
        // reduction: the only residual cross-engine hazard is a
        // sub-ulp libm ln() difference landing exactly on a
        // quantization edge (≈1e-12 per value) — the summation-order
        // hazard of round(avg(double)) is gone entirely (SURVEY §6)
        ExactAgg.exactMean(-log(col("tf").cast("double") / lit(corpusToks.toDouble)), 4)
          .as("avg_surprisal"))
  }

  /** T20 — `corpus_snapshot_diff`: release-over-release dataset diff —
    * the audit row every corpus version bump publishes (how many docs
    * appeared, vanished, changed content, stayed identical). Two
    * deterministic snapshots are derived map-only from each doc's id
    * hash nibble (A = nibbles 0–12 with original text; B = nibbles
    * 3–15 with the e/f tail "edited" — overlap changes, disjoint adds/
    * removes), full-outer-joined on doc_id and compared by content
    * hash — the exact shape of diffing yesterday's release against
    * today's at 100 TB: one key-partitioned join of (id, hash)
    * projections, payloads never shuffle, no global ordering anywhere.
    */
  def corpusSnapshotDiff(t: Tables): DataFrame = {
    val nib = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
      .cast("int")
    val base = t.documents
      .select(col("doc_id"), md5(col("text")).as("h"), nib.as("nib"))
    val a = base.filter(col("nib") <= 12)
      .select(col("doc_id"), col("h").as("h_a"))
    val b = base.filter(col("nib") >= 3)
      .select(col("doc_id"),
        when(col("nib") >= 14, md5(concat(col("h"), lit("edit"))))
          .otherwise(col("h")).as("h_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(when(col("h_a").isNull, "added")
        .when(col("h_b").isNull, "removed")
        .when(col("h_a") === col("h_b"), "unchanged")
        .otherwise("changed").as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
  }

  /** T19 — `text_perplexity`: each doc's mean negative log-likelihood
    * under the corpus's own bigram MLE model, P(w|v) = c(v,w)/c(v·) —
    * the next step up from [[textSurprisal]]'s unigram model and the
    * standard shape of perplexity-based quality filtering (a doc of
    * improbable transitions scores high; templated boilerplate scores
    * near zero).
    *
    * Shape: per-doc bigrams from a doc-keyed lag window over the
    * posexploded tokens; both model counts are count windows over the
    * bigram-instance frame (PARTITION BY (v,w) and BY v — the §8c
    * window-over-frame trick, no groupBy+re-join of the tokenize
    * lineage); final score is a doc-keyed partial agg. Every shuffle
    * is keyed (doc, bigram, prev-token); nothing is ever global.
    */
  def textPerplexity(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    val big = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .withColumn("prev", lag(col("col"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("prev").isNotNull)
      .select(col("doc_id"), col("prev"), col("col").as("cur"))
    big
      .withColumn("n_vw",
        count(lit(1)).over(Window.partitionBy(col("prev"), col("cur"))))
      .withColumn("n_v", count(lit(1)).over(Window.partitionBy(col("prev"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        ExactAgg.exactMean(-log(col("n_vw").cast("double") / col("n_v")), 4)
          .as("avg_nll"))
  }

  /** T18 — `text_tfidf`: top-k characteristic terms per document by
    * tf·idf (raw term frequency × ln(N/df)) — the classic keyword
    * extractor run over a corpus before topic bucketing or quality
    * triage.
    *
    * Shape: explode → (doc, term) partial-agg tf; df as a count window
    * PARTITIONED BY term over the (doc, term) rollup (no re-join of the
    * tokenize lineage — the same window-over-rollup trick as
    * `dedup_ngram_jaccard`'s df rank); the corpus size N is a one-row
    * aggregate broadcast in by cross join. Three keyed shuffles, each
    * over frames no bigger than the distinct (doc, term) set — never
    * raw token instances past the first partial agg. Ranking uses the
    * ROUNDED score plus the term as tiebreak, so ordering is
    * reproducible cross-engine (ln may differ in the last ulp between
    * libms; 4-dp round +1e-9 absorbs it).
    */
  def textTfidf(t: Tables, topK: Int = 3): DataFrame = {
    val tf = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")) + lit(1e-9), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(desc("score"), asc("term"))))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("score"), col("rnk"))
  }

  /** T13 — global token-offset sharding: each doc's starting token
    * offset in corpus (doc_id) order, and the fixed-token-budget shard
    * it lands in — the layout step that packs a corpus into uniform
    * training shards.
    *
    * A naive `sum() OVER (ORDER BY doc_id)` is a single-partition
    * window — the one shape that cannot scale. This is the two-level
    * distributed prefix sum instead: docs bucket by `doc_id div
    * bucketSize`; within-bucket cumsums run as ordinary partitioned
    * windows; per-bucket totals (corpus/bucketSize rows) get bucket
    * offsets from one window over the SMALL bucket list, broadcast
    * back. Only the bucket list is ever globally ordered; size
    * `bucketSize` so that list stays driver-broadcastable (recurse the
    * same trick for more levels if not).
    */
  /** Exclusive prefix sums of a (key, tot) frame in key order,
    * recursing whenever the frame exceeds `maxWindowRows`: keys fold
    * into super-buckets of `fanout`, within-super cumsums run as
    * partitioned windows, and the super totals (rows / fanout) recurse
    * — so NO single-partition window ever sees more than
    * `maxWindowRows` rows at any corpus size (PlanAuditSpec pins
    * this). `rows` is the frame's row count, threaded down so each
    * level pays one bounded metadata-scale count, pre-counted at the
    * top by the caller.
    */
  private[operators] def exclusivePrefixSum(df: DataFrame, rows: Long,
      fanout: Long, maxWindowRows: Long): DataFrame = {
    if (rows <= maxWindowRows) {
      df.withColumn("offset", coalesce(
          sum(col("tot")).over(Window.orderBy(col("key"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("key"), col("offset"))
    } else {
      val sup = df.withColumn("skey", (col("key") / fanout).cast("long"))
      val local = sup.withColumn("lcum",
        sum(col("tot")).over(Window.partitionBy(col("skey")).orderBy(col("key"))))
      val stots = sup.groupBy(col("skey")).agg(sum(col("tot")).as("tot"))
        .select(col("skey").as("key"), col("tot"))
      val soff = exclusivePrefixSum(stots, stots.count(), fanout, maxWindowRows)
        .select(col("key").as("skey"), col("offset").as("soff"))
      local.join(soff, "skey")
        .select(col("key"), (col("soff") + col("lcum") - col("tot")).as("offset"))
    }
  }

  /** `corpus_doc_embedding` — feature-hashing (hashing-trick) document
    * vectors: every token hashes to a dimension (md5 byte 0 mod
    * `dims`) and a ±1 sign (md5 nibble 2 parity), and the doc's
    * sparse vector is the signed count per dimension — the
    * Weinberger-style text→vector bridge that turns the documents
    * table into an embedding table with NO trained model, closing the
    * docs → vectors → index → serve pipeline loop inside the engine.
    * Counts are exact integers (no float anywhere), so the oracle is
    * exact; output is the sparse flat form (doc_id, pos, val),
    * zero-valued dims absent by construction on both engines.
    *
    * Shape: tokenize-explode (map-only) → one (doc, dim)-keyed
    * partial-agg sum — cost linear in corpus tokens, shuffle carries
    * (doc_id, pos, partial count) triples only.
    */
  def corpusDocEmbedding(t: Tables, dims: Int = 64): DataFrame = {
    val h = md5(col("tok"))
    t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(h, 1, 2), 16, 10).cast("long") % dims).cast("int").as("pos"),
        when(conv(substring(h, 3, 1), 16, 10).cast("long") % 2 === 0, lit(1L))
          .otherwise(lit(-1L)).as("s"))
      .groupBy(col("doc_id"), col("pos"))
      .agg(sum(col("s")).as("val"))
      .filter(col("val") =!= 0L)
  }

  def corpusTokenShards(t: Tables, tokensPerShard: Long = 2048,
      bucketSize: Long = 64, maxWindowRows: Long = 1L << 20,
      maxBroadcastRows: Long = 4L * 1000 * 1000,
      tokenCount: Column = size(tokens(col("text"))).cast("long")): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"),
      tokenCount.as("n_toks"),
      (col("doc_id") / bucketSize).cast("long").as("bucket"))
    val local = docs.withColumn("local_cum",
      sum(col("n_toks")).over(
        Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
    val btots = docs.groupBy(col("bucket")).agg(sum(col("n_toks")).as("tot"))
      .select(col("bucket").as("key"), col("tot"))
    // one bounded metadata-scale count (corpus/bucketSize rows) sizes
    // BOTH decisions: whether the bucket list needs another prefix-sum
    // level, and whether its offsets are still broadcastable into the
    // doc-side join (at 10⁹ docs / bucket 64 the 16 M-row offset list
    // is neither — it recurses and the join shuffles by bucket)
    val nBuckets = btots.count()
    val offsets = exclusivePrefixSum(btots, nBuckets, bucketSize, maxWindowRows)
      .select(col("key").as("bucket"), col("offset"))
    val offsetSide = if (nBuckets <= maxBroadcastRows) broadcast(offsets) else offsets
    local.join(offsetSide, "bucket")
      .select(col("doc_id"), col("n_toks"),
        (col("offset") + col("local_cum") - col("n_toks")).as("start_tok"))
      .withColumn("shard_id", expr(s"start_tok DIV $tokensPerShard"))
  }

  /** T16 — sequence packing: the concat-and-chop layout that turns a
    * tokenized corpus into fixed-`seqLen` training sequences (docs
    * concatenated in doc_id order, chopped every `seqLen` tokens —
    * the standard pretraining packer). Per sequence: how many docs
    * contribute, how many tokens it holds (= `seqLen` except the
    * tail), and the first/last contributing doc — the manifest a
    * loader needs to materialize any sequence without scanning its
    * neighbours.
    *
    * Shape: per-doc global offsets come from [[corpusTokenShards]]'s
    * recursive two-level prefix sum (no single-partition window at
    * any corpus size); each doc then explodes into only the
    * ⌈n_toks/seqLen⌉ sequences it overlaps — corpus-total explode
    * volume is n_sequences + n_docs rows, linear — and one groupBy on
    * seq_id aggregates contributions. Integer arithmetic end-to-end,
    * so the oracle hash-checks exactly.
    */
  def corpusPackSequences(t: Tables, seqLen: Long = 128): DataFrame =
    corpusTokenShards(t, tokensPerShard = seqLen)
      .filter(col("n_toks") > 0)
      .select(col("doc_id"), col("n_toks"), col("start_tok"),
        explode(sequence(col("shard_id"),
          expr(s"(start_tok + n_toks - 1) DIV $seqLen"))).as("seq_id"))
      .withColumn("contrib",
        least((col("seq_id") + 1) * seqLen, col("start_tok") + col("n_toks"))
          - greatest(col("seq_id") * seqLen, col("start_tok")))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("contrib")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))

  /** Fixed subword vocabulary for [[textBpeTokens]] — multi-character
    * units only (single characters are the implicit fallback). A real
    * deployment learns these from corpus pair frequencies (BPE/
    * WordPiece training); a fixed deterministic vocab keeps the
    * OPERATOR — the part that runs at 100 TB — fully oracle-checkable.
    * Units must be literal alnum strings (they are spliced into a
    * regex alternation unescaped).
    */
  val bpeVocab: Seq[String] = Seq(
    "spark", "window", "table", "batch", "value", "merge", "scan", "sort",
    "hash", "part", "fast", "slow", "line", "row", "key", "agg",
    "tion", "ing", "er", "an", "re", "on", "at", "st", "ar", "le", "ow",
    "al", "in", "en")
  require(bpeVocab.forall(_.matches("[a-z0-9]{2,}")),
    "bpe vocab units must be literal alnum strings of length >= 2")

  /** Greedy longest-match subword tokenization as ONE regex: the vocab
    * alternation ordered longest-first (ties lexicographic), with a
    * single-character fallback last. At every scan position the engine
    * takes the first alternative that matches — i.e. the LONGEST vocab
    * unit (maximal munch) or one character — which is exactly the
    * greedy subword algorithm, and behaves identically under Java
    * regex (leftmost-first) and RE2 (where longest-first ordering and
    * leftmost-longest coincide). Spaces match no alternative, so word
    * boundaries fall out for free over normalized text.
    */
  private[graft] val bpeRegex: String =
    (bpeVocab.sortBy(u => (-u.length, u)) :+ "[a-z0-9]").mkString("|")

  /** Subword token count of the `text` column under the greedy
    * tokenizer — the unit [[corpusTokenShards]] plugs in to price
    * shards in subwords instead of words. */
  def bpeTokenCount: Column =
    size(regexp_extract_all(normText(col("text")), lit(bpeRegex), lit(0))).cast("long")

  /** T15 — `text_bpe_tokens`: subword token counts under the greedy
    * longest-match tokenizer, with word count, character count and
    * fertility (subwords per word — the tokenizer-quality metric every
    * LLM data pipeline tracks; 1.0 = every word is one unit, ~chars =
    * vocab miss). Map-only: one codegen regex pass per doc, no
    * shuffle, no UDF.
    */
  def textBpeTokens(t: Tables): DataFrame = {
    val eps = lit(1e-9)
    val nt = normText(col("text"))
    t.documents.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_words"),
      bpeTokenCount.as("n_bpe"),
      length(regexp_replace(nt, " ", "")).cast("long").as("n_chars"))
      .withColumn("fertility",
        round(col("n_bpe").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0)) + eps, 4))
  }

  /** `text_fertility_by_lang` — corpus-level tokenizer fertility PER
    * LANGUAGE: Σ subwords / Σ words over each language's docs — the
    * grouped readout tokenizer evals actually compare (a BPE vocab
    * trained on English routinely costs 2-3× more units per word on
    * other scripts; per-doc fertility from [[textBpeTokens]] can't
    * show the per-language aggregate without this rollup). Exact
    * int64 sums per language, one §6 ratio; also reports chars/word
    * as the vocab-independent baseline. One keyed partial-agg
    * shuffle, #languages output rows. */
  def textFertilityByLang(t: Tables): DataFrame = {
    val nt = normText(col("text"))
    val eps = lit(1e-9)
    t.documents.select(col("lang"),
        size(tokens(col("text"))).cast("long").as("w"),
        bpeTokenCount.as("b"),
        length(regexp_replace(nt, " ", "")).cast("long").as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("b")).as("n_bpe"), sum(col("c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        round(col("n_bpe").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0)) + eps, 4)
          .as("fertility"),
        round(col("n_chars").cast("double") /
          nullif(col("n_words").cast("double"), lit(0.0)) + eps, 4)
          .as("chars_per_word"))
  }

  /** T5 — corpus-level top-20 bigram frequencies with a deterministic
    * (count desc, bigram asc) tiebreak. One aggregation shuffle on the
    * bigram key; the top-k is a TakeOrderedAndProject, no global sort.
    */
  def textNgramFreq(t: Tables): DataFrame = {
    val bigrams = ngrams(tokens(col("text")), 2)
    t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)
  }

  /** T31 — `text_heavy_hitters`: exact corpus-frequency heavy hitters
    * (every token with frequency ≥ n/`phiInv`) computed WITHOUT an
    * unbounded aggregation — the sketch→verify pattern:
    *
    *  1. ONE pass folds the token stream through the native
    *     Misra–Gries aggregate ([[graft.functions.MisraGriesAgg]],
    *     capacity `sketchSize`): per-task state is O(sketchSize) and
    *     the exchange carries ≤ sketchSize counters per task — no key
    *     domain ever crosses the wire. With sketchSize ≥ phiInv the
    *     MG bound (undercount ≤ n/(m+1) < n/phiInv) guarantees every
    *     true heavy hitter is among the candidates.
    *  2. A second pass recounts EXACTLY, restricted to the ≤
    *     sketchSize candidates via broadcast semi-join, and applies
    *     the threshold — so the output is exact (the oracle is the
    *     plain GROUP BY/HAVING), while no stage ever held
    *     per-distinct-key state.
    *
    * At 100 TB over an open token/n-gram/URL domain the plain GROUP BY
    * keeps one hash entry per distinct key per task (spill-class);
    * this shape is the standard two-pass remedy and both passes are
    * bounded: sketch state O(m), recount state O(m) after the
    * broadcast filter. */
  def textHeavyHitters(t: Tables, phiInv: Int = 40,
      sketchSize: Int = 64): DataFrame = {
    require(sketchSize >= phiInv,
      "sketch capacity must cover the threshold for the no-miss guarantee")
    def toks0 = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(explode(tokens(col("text"))).as("token"))
    val sk = toks0.agg(
      graft.functions.MisraGriesAgg.misraGries(col("token"), sketchSize).as("mg"))
    val cands = sk.select(col("mg.n").as("total"),
        explode(col("mg.items")).as("c"))
      .select(col("c.token").as("token"), col("total"))
    toks0.join(broadcast(cands), Seq("token"))
      .groupBy(col("token"), col("total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * phiInv >= col("total"))
      .select(col("token"), col("cnt"))
  }

  /** T24 — `corpus_pii_scrub`: the PII detection + redaction pass every
    * training corpus runs before anything else sees the text — emails,
    * phone numbers and IPv4 addresses are counted (the compliance
    * audit trail) and replaced with typed placeholders (the text that
    * flows on). The synthetic corpus carries no PII, so — the
    * `mm_*` discipline — each doc deterministically INJECTS synthetic
    * PII from its md5 nibbles first (~25% of docs per type), and the
    * oracle replays injection + regex arithmetic, verifying the
    * detector against planted ground truth rather than trusting it.
    * `redacted_md5` hashes the full post-redaction text, so the gate
    * proves the redacted BYTES match cross-engine, not just counts.
    *
    * Patterns stay in the regex subset with identical semantics in
    * Java regex and RE2 (character classes, bounded repetition, no
    * lookaround) — the same cross-engine rule as the tokenizer.
    *
    * Shape: map-only — injection, `regexp_count` and the chained
    * `regexp_replace`s are per-row codegen expressions; ZERO exchanges
    * at any corpus size (plan-pinned). At 100 TB this runs as a
    * projection fused into the ingest scan, exactly like the quality
    * score. */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    def nibAt(i: Int): Column = conv(substring(h, i, 1), 16, 10).cast("long")
    val email = when(nibAt(1) % 4 === 0,
      concat(lit(" reach me at user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(lit(""))
    val phone = when(nibAt(2) % 4 === 0,
      concat(lit(" call 555-"),
        lpad((nibAt(3) * 67 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((nibAt(4) * 419 % 10000).cast("string"), 4, "0")))
      .otherwise(lit(""))
    val ip = when(nibAt(5) % 4 === 0,
      concat(lit(" from 10."), (nibAt(6) * 17 % 256).cast("string"),
        lit("."), (nibAt(7) * 29 % 256).cast("string"), lit(".7")))
      .otherwise(lit(""))
    val dirty = concat(col("text"), email, phone, ip)
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "555-[0-9]{3}-[0-9]{4}"
    val ipRe = "10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(dirty, emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]"),
        ipRe, "[IP]")
    docs.select(col("doc_id"),
      regexp_count(dirty, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(dirty, lit(phoneRe)).cast("long").as("n_phones"),
      regexp_count(dirty, lit(ipRe)).cast("long").as("n_ips"),
      length(redacted).cast("long").as("clean_len"),
      md5(redacted).as("redacted_md5"))
  }

  def corpusPiiScrub(t: Tables): DataFrame = piiScrubOf(t.documents)

  /** T32 — `text_code_detect`: code-vs-prose screening — the routing
    * decision every mixed web crawl makes before tokenization (code
    * wants its own tokenizer budget, dedup unit, and mixture weight;
    * prose-trained filters mis-score it). Signals are deterministic
    * surface statistics: symbol density (chars from the
    * code-punctuation class per million chars — an exact integer DIV
    * ratio) and word-boundary keyword hits; a doc routes to code at
    * ≥ 2 keywords AND ≥ 6 symbols. The synthetic corpus is pure
    * prose, so — the injection discipline — a deterministic ~1/8 of
    * docs (md5-nibble gate) get a code tail synthesized from their
    * own nibbles appended first, and the screen must recover EXACTLY
    * that set (spec-pinned); the oracle replays injection + counting.
    *
    * Patterns stay in the Java-regex ∩ RE2 subset (character classes,
    * alternation, ASCII \b) — the cross-engine rule.
    *
    * Shape: map-only — injection, the two regex counts and the flag
    * are per-row codegen expressions; ZERO exchanges at any corpus
    * size. At 100 TB this fuses into the ingest scan beside the
    * quality score and PII scrub. */
  private[graft] def codeDetectOf(docs: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    def nibAt(i: Int): Column = conv(substring(h, i, 1), 16, 10).cast("long")
    val tail = when(nibAt(1) % 8 === 0,
      concat(lit(" def fn"), col("doc_id").cast("string"),
        lit("(x) { return (x * "), (nibAt(2) * 31 % 100).cast("string"),
        lit(") % 97; } var v"), col("doc_id").cast("string"),
        lit(" = "), (nibAt(3) * 13 % 50).cast("string"), lit(";")))
      .otherwise(lit(""))
    val dirty = concat(col("text"), tail)
    val symRe = "[{}()=;%*]"
    val kwRe = "\\b(def|return|var)\\b"
    val nSym = (length(dirty) -
      length(regexp_replace(dirty, symRe, ""))).cast("long")
    val nKw = size(regexp_extract_all(dirty, lit(kwRe), lit(0))).cast("long")
    docs.select(col("doc_id"), nSym.as("n_symbols"), nKw.as("n_keywords"),
        length(dirty).cast("long").as("ln"))
      .select(col("doc_id"), col("n_symbols"), col("n_keywords"),
        expr("n_symbols * 1000000 DIV ln").as("symbol_ppm"),
        (col("n_keywords") >= 2 && col("n_symbols") >= 6).as("is_code"))
  }

  def textCodeDetect(t: Tables): DataFrame = codeDetectOf(t.documents)

  /** T33 — `text_mojibake`: encoding-integrity screening — the
    * double-decode damage a web crawl accumulates (UTF-8 bytes read
    * as Latin-1 → "Ã©"-class digraphs; lossy transcodes → U+FFFD
    * replacement chars). Docs carrying it should be repaired or
    * dropped before tokenization: the artifacts shred token
    * statistics and survive into generations. Signals: replacement-
    * char count (exact, via replace-and-diff — no regex needed),
    * classic mojibake digraph count ("Ã©"/"â€™" — the UTF-8-as-
    * Latin-1 encodings of é and ’), and non-ASCII chars per million
    * (exact integer DIV). A doc flags at any replacement char or ≥ 2
    * digraphs. Pure synthetic corpus ⇒ the injection discipline: a
    * deterministic ~1/8 of docs (md5-nibble gate, a DIFFERENT nibble
    * than the code/PII planters so the screens overlap naturally) get
    * a mojibake tail first; the screen must recover exactly that set.
    *
    * Both engines count CODE POINTS (UTF8String chars / DuckDB len)
    * and both regex engines match the literal digraphs on code
    * points, so the arithmetic is cross-engine exact; all injected
    * chars are BMP (no surrogate-width traps).
    *
    * Shape: map-only per-row expressions, ZERO exchanges — an ingest-
    * scan projection at any corpus size. */
  private[graft] def mojibakeOf(docs: DataFrame): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    def nibAt(i: Int): Column = conv(substring(h, i, 1), 16, 10).cast("long")
    val tail = when(nibAt(4) % 8 === 0,
      concat(lit(" cafÃ© â€™"),
        repeat(lit("�"), (nibAt(5) % 3 + 1).cast("int"))))
      .otherwise(lit(""))
    val dirty = concat(col("text"), tail)
    val nRepl = (length(dirty) -
      length(regexp_replace(dirty, "�", ""))).cast("long")
    val nMoji = size(regexp_extract_all(dirty,
      lit("Ã©|â€™"), lit(0))).cast("long")
    val nonAscii = (length(dirty) -
      length(regexp_replace(dirty, "[^\\x00-\\x7f]", ""))).cast("long")
    docs.select(col("doc_id"), nRepl.as("n_replacement"),
        nMoji.as("n_mojibake"), nonAscii.as("na"),
        length(dirty).cast("long").as("ln"))
      .select(col("doc_id"), col("n_replacement"), col("n_mojibake"),
        expr("na * 1000000 DIV ln").as("non_ascii_ppm"),
        (col("n_replacement") > 0 || col("n_mojibake") >= 2).as("is_corrupt"))
  }

  def textMojibake(t: Tables): DataFrame = mojibakeOf(t.documents)

  /** A 61-token tail whose every adjacent bigram hashes GREEN under
    * the detector's rule (first md5 nibble < 8) — precomputed offline
    * by greedy chaining over the corpus vocabulary, so injection needs
    * no per-row search. Drawn from the same vocabulary as the corpus:
    * the watermark is invisible to content filters, exactly the
    * adversarial case the detector exists for. */
  private[graft] val watermarkTail =
    "spark table batch stream big row hash fast table batch stream big " +
    "row value stream line scan hash fast table key stream small join " +
    "filter part table batch stream big row hash fast table batch stream " +
    "big row value stream line scan hash fast table key stream small " +
    "join filter part table batch stream big row hash fast table batch stream"

  /** T25 — `text_watermark_detect`: green-list watermark detection
    * (public Kirchenbauer et al. 2023 scheme) — the screen that finds
    * LLM-GENERATED text inside a training corpus before it feeds the
    * next model. A soft watermark biases each generated token toward a
    * "green list" keyed by the previous token's hash; detection is the
    * one-proportion z-test on the green fraction of adjacent-token
    * pairs: z = (2·greens − pairs)/√pairs under γ = ½, flag at z ≥ 2.
    * Clean docs sit at z ~ N(0,1) (the false-positive calibration the
    * oracle hash-checks); ~12.5% of docs (md5-nibble gate, the `mm_*`
    * injection discipline) carry [[watermarkTail]] and must flag.
    *
    * Shape: MAP-ONLY — the bigram array, the green filter (lambda on
    * its own elements only — no outer-array re-evaluation) and the
    * z arithmetic are per-row expressions; no explode, no groupBy,
    * ZERO exchanges at any corpus size. The z chain is
    * integer-exact until one sqrt+division on identical operands, so
    * the oracle replays it bit-for-bit. */
  def textWatermarkDetect(t: Tables): DataFrame =
    watermarkDetectOf(t.documents)

  /** Shared by the batch screen and its streaming twin
    * (`stream_watermark_detect`) — stateless per-row projection. */
  private[graft] def watermarkDetectOf(docs: DataFrame): DataFrame = {
    val nib = conv(substring(md5(col("doc_id").cast("string")), 8, 1), 16, 10)
      .cast("long")
    val dirty = when(nib % 8 === 0,
      concat(col("text"), lit(" " + watermarkTail))).otherwise(col("text"))
    val isGreen = (b: Column) =>
      conv(substring(md5(b), 1, 1), 16, 10).cast("long") < 8
    docs
      .select(col("doc_id"), ngrams(tokens(dirty), 2).as("bg"))
      .select(col("doc_id"),
        size(col("bg")).cast("long").as("n_pairs"),
        size(filter(col("bg"), isGreen)).cast("long").as("n_green"))
      .withColumn("z_green", when(col("n_pairs") > 0,
        round((lit(2.0) * col("n_green") - col("n_pairs")) /
          sqrt(col("n_pairs").cast("double")) + lit(1e-9), 4))
        .otherwise(lit(0.0)))
      .withColumn("flagged", col("z_green") >= 2.0)
  }

  /** T26 — `text_bpe_train`: one BPE TRAINING round at corpus scale —
    * the adjacent-pair frequency count that picks the next merge.
    * Given the current subword vocabulary ([[bpeVocab]] via the greedy
    * tokenizer), every word is segmented into units and each adjacent
    * unit pair inside a word votes once; the top pairs (count desc,
    * pair asc — deterministic) are the merge candidates. Iterating
    * this (merge winner into vocab, recount) IS the BPE training loop
    * of Sennrich et al. 2016; the per-round distributed shape is what
    * matters at 100 TB, so one round is the operator and the loop is a
    * driver-side fold over it.
    *
    * Shape: map + explode (one regex pass per word, pairs via the
    * shift-zip [[ngrams]] — no O(n²) lambda re-evaluation), then ONE
    * aggregation shuffle on the pair key with map-side partial
    * counts — at 100 TB the partial agg collapses each task's pairs
    * to its distinct-pair set before the exchange, and the top-k is a
    * TakeOrderedAndProject, no global sort. Pair cardinality is
    * bounded by |vocab|² + boundary singles, so the reduce side is
    * tiny regardless of corpus size. */
  def textBpeTrain(t: Tables, topN: Int = 20): DataFrame = {
    val units = regexp_extract_all(col("word"), lit(bpeRegex), lit(0))
    t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .select(explode(ngrams(units, 2)).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(topN)
  }

  /** T31 — `text_bpe_train_loop`: the BPE training loop ITERATED to a
    * bounded vocabulary — the merge→recount cycle that IS tokenizer
    * training (Sennrich et al. 2016), not just one round's candidate
    * list ([[textBpeTrain]]). Eight rounds: count adjacent unit pairs
    * weighted by word frequency, pick the argmax (count desc, pair
    * asc — deterministic), merge every left-to-right non-overlapping
    * occurrence into one unit, recount. Output is the merge TABLE —
    * (round, pair, merged, n) — the artifact a tokenizer ships.
    *
    * Word state is kept as a delimited symbol string — each unit
    * wrapped in single spaces, so adjacent units are separated by two
    * (`" l  o  w "`): the pattern `" a  b "` then consumes BOTH units'
    * delimiters, occurrences can never share a character, and a plain
    * left-to-right `replace` performs exactly the classical
    * non-overlapping merge in ONE codegen'd string pass — no
    * higher-order lambda over arrays, and the DuckDB oracle replays
    * the identical replace. (`"x x x"` with merge (x,x) → `"xx x"`:
    * the first occurrence wins, the overlapped second does not fire —
    * the textbook scan semantics.)
    *
    * Scale shape: the corpus collapses ONCE to the (word, n_word)
    * rollup — metadata-scale next to 100 TB of raw text (type count,
    * not token count) — and each round is one explode + pair-keyed
    * aggregation with map-side partials over that rollup plus a
    * map-only broadcast replace. Driver state is the argmax row per
    * round (8 rows total) — the merge table itself, bounded by the
    * target vocab, exactly what production BPE trainers hold. The
    * per-round state is persisted and the previous round released, so
    * lineage stays one round deep. */
  def textBpeTrainLoop(t: Tables, merges: Int = 8): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    val units = regexp_extract_all(col("word"), lit(bpeRegex), lit(0))
    // ONE cached frame: the (word-type, count) rollup — the corpus is
    // tokenized exactly once. Each round's merge is a LAZY map-only
    // replace stacked on top of it: round r recomputes replaces
    // 1..r−1 from cache, which is Σr ≈ 36 string passes over a
    // METADATA-SCALE type table, versus the old per-round
    // persist+count that paid a cache-materialization job (and held
    // a superseded cache copy) every round — 8 fewer jobs, identical
    // results, and lineage stays a linear single-branch chain (no
    // 5^r union blowup; plan depth 8 is trivial for Catalyst).
    val base = t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
      .select(concat(lit(" "), array_join(units, "  "), lit(" ")).as("sym"),
        col("n_word"))
      .persist()
    base.count()
    var syms: DataFrame = base
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to merges) {
      val best = syms
        .select(explode(ngrams(split(trim(col("sym")), "  "), 2)).as("pair"),
          col("n_word"))
        .groupBy(col("pair")).agg(sum(col("n_word")).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(1).collect()
      if (best.nonEmpty) {
        val (pair, n) = (best(0).getString(0), best(0).getLong(1))
        val Array(a, b) = pair.split(" ", 2)
        merged += ((r, pair, a + b, n))
        syms = syms.select(
          replace(col("sym"), lit(s" $a  $b "), lit(s" $a$b ")).as("sym"),
          col("n_word"))
      }
    }
    base.unpersist()
    merged.toSeq.toDF("round", "pair", "merged", "n")
  }

  /** T28 — `corpus_weighted_sample`: weight-proportional sampling
    * WITHOUT replacement via priority sampling (public Duffield–
    * Lund–Thorup 2007): each doc draws priority = w / u for a
    * uniform u and the k highest priorities are the sample — longer
    * docs proportionally favored, every doc still possible, and the
    * scheme is mergeable (each partition keeps its local top-k; the
    * union's top-k is exact — the distributed heavy-hitter shape).
    * [[corpusSampleStratified]] samples per-stratum quotas; this is
    * the size-biased global sample a token-budget subcorpus draw
    * needs.
    *
    * Determinism: u comes from the doc's md5 (8 nibbles → h ∈
    * [0, 2^32)), and priority is the INTEGER (w · 10^12) div (h+1) —
    * w ≤ corpus max tokens keeps the product inside int64, so the
    * ranking is exact integer arithmetic cross-engine, no pow/ln
    * libm hazard. Map-only projection + one TakeOrdered cut; no
    * shuffle beyond the top-k. */
  def corpusWeightedSample(t: Tables, k: Int = 200): DataFrame =
    t.documents
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("weight"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .withColumn("priority", expr("(weight * 1000000000000L) div (h + 1)"))
      .filter(col("weight") > 0)
      .orderBy(desc("priority"), asc("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("weight"), col("priority"))

  /** Bloom-filter geometry shared by [[textContaminationBloom]] and
    * its oracle: 2^20 bits, 3 hashes, each hash a 5-nibble (20-bit)
    * window of the gram's md5 — deterministic and replayable in any
    * engine that has md5, unlike engine-native bloom builders. */
  private[graft] val BloomBits = 1 << 20
  private[graft] val BloomHashes = 3

  /** Bit position of hash `j` for gram column `g` (shared geometry). */
  private def bloomPos(g: Column, j: Int): Column =
    conv(substring(md5(g), 1 + 5 * j, 5), 16, 10).cast("long")

  /** T27 — `text_contamination_bloom`: the BROADCAST-BITSET
    * contamination screen. [[textContamination]] ships the benchmark
    * gram STRINGS to every task (fine for one eval suite; not for the
    * concatenation of every holdout the lab owns — gigabytes of
    * grams). This screen compresses the bench gram set to a 128 KiB
    * Bloom bitset (2^20 bits, 3 md5-derived hashes) and flags each
    * corpus doc's grams MAP-ONLY: per gram, 3 bit probes into the
    * broadcast words array — ZERO exchanges at any corpus size, and
    * the false-positive rate is the classic (1-e^{-kn/m})^k, ~1e-5 at
    * the tested fill. Production runs this as the cheap first pass
    * and confirms survivors with the exact join — the two-stage
    * screen; the spec pins the superset contract (every exact hit is
    * Bloom-flagged) plus the FP bound.
    *
    * Determinism: the filter is not a sketch here — given the bench
    * set, membership (INCLUDING false positives) is a pure function
    * of the md5 geometry, so the DuckDB oracle replays it exactly by
    * joining each gram's 3 positions against the set-bit positions
    * and requiring all 3 present. [Q], not [R].
    *
    * Driver state is bounded by the BITSET, never the corpus: the
    * distinct bench positions collected are ≤ min(k·|bench grams|,
    * 2^20); the packed words array is 16 K longs regardless of scale.
    */
  def textContaminationBloom(t: Tables, n: Int = 5,
      benchDocs: Int = 10): DataFrame = {
    val grams = array_distinct(ngrams(tokens(col("text")), n))
    val bench = t.documents.filter(col("doc_id") < benchDocs)
      .select(explode(grams).as("g")).distinct()
    val setBits = bench
      .select(explode(array((0 until BloomHashes).map(j =>
        bloomPos(col("g"), j)): _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](BloomBits / 64)
    setBits.foreach(p => words((p / 64).toInt) |= 1L << (p % 64).toInt)
    val wlit = typedLit(words.toSeq)
    def inBloom(g: Column): Column = (0 until BloomHashes).map { j =>
      val p = bloomPos(g, j)
      call_function("bit_get",
        element_at(wlit, (p / 64).cast("int") + 1), (p % 64).cast("int")) === 1
    }.reduce(_ && _)
    t.documents.filter(col("doc_id") >= benchDocs)
      .select(col("doc_id"),
        size(filter(grams, inBloom(_))).cast("long").as("n_maybe"))
      .filter(col("n_maybe") > 0)
  }

  /** `corpus_dataset_card` — the one-row release DATASHEET (public
    * "Datasheets for Datasets", Gebru et al. 2018, the numeric
    * core): corpus size (docs, tokens, vocabulary), exact-duplicate
    * exposure (docs in >1-member digest groups + rate), language
    * composition (distinct predicted languages, dominant language +
    * share), and mean quality — the header block of every corpus
    * release note, next to `corpus_pipeline`'s stage-by-stage
    * manifest (that audits the CLEANING; this describes the
    * ARTIFACT).
    *
    * Composes the shared stages (tokens, digest rollup, lang-ID
    * argmax, quality score, ExactAgg mean) as one-row aggregates
    * crossJoined into the card — each §6-disciplined, so the whole
    * row hash-replays. A handful of corpus scans is the honest cost
    * of a release report; the per-stage queries it composes are the
    * ones production would have materialized anyway.
    */
  def corpusDatasetCard(t: Tables): DataFrame = {
    val toksDf = t.documents.select(col("doc_id"), col("text"),
      tokens(col("text")).as("toks"))
    val stats = toksDf.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).cast("long").as("total_tokens"))
    val vocab = toksDf.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    val dups = toksDf.select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
        .as("n_dup_docs"))
    val langCounts = textLangId(t)
      .groupBy(col("lang_pred")).agg(count(lit(1)).as("c"))
    val nLangs = langCounts.agg(count(lit(1)).as("n_langs"))
    val topLang = langCounts
      .orderBy(desc("c"), asc("lang_pred")).limit(1)
      .select(col("lang_pred").as("top_lang"), col("c").as("top_c"))
    val meanQ = textQuality(t)
      .agg(ExactAgg.exactMean(col("quality_score"), 4).as("mean_quality"))
    stats.crossJoin(vocab).crossJoin(dups).crossJoin(nLangs)
      .crossJoin(topLang).crossJoin(meanQ)
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") /
          col("n_docs").cast("double") + lit(1e-9), 4).as("dup_rate"),
        col("n_langs"), col("top_lang"),
        round(col("top_c").cast("double") /
          col("n_docs").cast("double") + lit(1e-9), 4).as("top_lang_share"),
        col("mean_quality"))
  }

  /** `text_rake_keyphrases` — RAKE keyphrase extraction (public Rose
    * et al. 2010): candidate phrases are maximal stopword-free token
    * runs (≤ 4 words, the standard run-on guard), each word scores
    * deg/freq over ALL candidate occurrences corpus-wide (deg = Σ of
    * containing-phrase lengths — words that live in longer
    * multi-word phrases outrank equally-frequent isolated words),
    * and a phrase scores the sum of its words — the unsupervised
    * keyphrase extractor next to `text_tfidf` (tf·idf ranks single
    * TERMS; RAKE surfaces multi-word PHRASES without a corpus pass
    * per query term). Top 3 per doc, (score DESC, phrase ASC)
    * tiebreak.
    *
    * Exact integers END TO END: word score = (deg·10⁶) DIV freq
    * (integer division of exact counts — no float anywhere), phrase
    * score an int64 sum. Shape: posexplode + doc-keyed island
    * windows (runs split at lexicon stopwords), phrase assembly via
    * sort_array(collect_list(struct(pos, w))) — order-deterministic,
    * never a bare collect_list — one corpus-wide word rollup, one
    * keyed join back, one doc-keyed top-3 window.
    */
  def textRakeKeyphrases(t: Tables, topK: Int = 3,
      maxLen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stops = stopwordLexicon.map(_._2).distinct
    val toks = t.documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .filter(!col("w").isInCollection(stops))
    val isl = toks.withColumn("island",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(asc("pos"))))
    val phrases = isl.groupBy(col("doc_id"), col("island"))
      .agg(sort_array(collect_list(struct(col("pos"), col("w")))).as("ws"))
      .select(col("doc_id"), col("island"),
        transform(col("ws"), _.getField("w")).as("words"))
      .filter(size(col("words")) <= maxLen)
      .withColumn("phrase", array_join(col("words"), " "))
      .withColumn("plen", size(col("words")))
    val occurrences = phrases
      .select(col("doc_id"), col("island"), col("plen"),
        explode(col("words")).as("w"))
    val wordScores = occurrences
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .select(col("w"), expr("(deg * 1000000) DIV freq").as("wscore"))
    val scored = occurrences.join(wordScores, "w")
      .groupBy(col("doc_id"), col("island"))
      .agg(sum(col("wscore")).as("score_micro"))
      .join(phrases.select(col("doc_id"), col("island"), col("phrase")),
        Seq("doc_id", "island"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(desc("score_micro"), asc("phrase"))))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("phrase"), col("score_micro"),
        col("rnk").cast("int").as("rnk"))
  }

  /** `text_char_entropy` — per-document character-unigram Shannon
    * entropy, the dictionary-free compressibility screen (a
    * gzip-ratio quality filter's deterministic stand-in — zlib output
    * isn't reproducible cross-engine, the entropy BOUND it
    * approximates is): garbled/binary-ish text scores high, template
    * chrome and repeated filler score low — a quality axis
    * `text_quality` (surface hygiene) and `text_repetition`
    * (token-level) don't measure.
    *
    * Determinism — the §6 discipline applied to ln():
    * H = ln(n) − (Σ c·ln c)/n needs a float SUM over per-char terms,
    * and partial-agg order is engine-dependent; instead each term
    * quantizes FIRST — floor(c·ln(c)·10⁶ + 0.5) as int64, one libm
    * call + one multiply on identical operands per distinct (doc,
    * char) — and the sum is an order-immune exact integer reduction.
    * The final H is a per-row scalar IEEE chain on (n, S), §6-rounded.
    *
    * Shape: position explode (the VAD/window discipline — chars via
    * substr, engine-identical) → ONE (doc, char)-keyed partial-agg
    * count → doc-keyed integer sum; report adds bits/char (H/ln 2).
    */
  /** T35 — `text_heaps_law`: the vocabulary-growth curve and its
    * fitted Heaps exponent (V(n) ≈ K·n^β, Heaps 1978) — the corpus
    * diagnostic that says whether new data still brings new language:
    * β near the reference ~0.5 means healthy lexical growth, β
    * collapsing toward 0 means the crawl is re-reading itself
    * (template/boilerplate saturation — the signal that triggers the
    * dedup pipeline BEFORE token counts look wrong), β near 1 means
    * ID-like noise inflating the vocab. Output: 20 ordered corpus
    * prefixes (cumulative tokens, cumulative vocabulary) + the log-log
    * OLS β — the curve a data-mix review plots, with the one-number
    * summary attached.
    *
    * Exactness: a token's first occurrence is min(doc_id) — one keyed
    * agg over the token stream; per-doc new-type and token counts roll
    * up; prefixes are ntile(20) over doc order. The fit quantizes
    * ln(·) to ×10⁶ int64 FIRST (the char-entropy discipline: a last-
    * ulp libm divergence cannot straddle the +0.5 floor boundary),
    * then β = (B·Σxy − ΣxΣy)/(B·Σxx − (Σx)²) is exact int64 arithmetic
    * (magnitudes ≤ ~1.6e17) and ONE final §6 ratio.
    *
    * Scale: the token stream is touched once (explode + two keyed
    * aggs with map-side partials); everything after runs on the
    * #docs-row rollup (metadata-scale next to the corpus — the events-
    * board argument), and the ntile/cum windows on the 20-row bucket
    * table are trivial. Nothing collects; the fit is a one-row agg
    * broadcast back onto the curve. */
  def textHeapsLaw(t: Tables, buckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"))
      .join(newTypes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    // ntile over doc order WITHOUT a single-partition window (the old
    // `ntile(b).over(Window.orderBy(doc_id))` pulled one row PER
    // DOCUMENT through one task — a global sort that dies at 100 TB).
    // Distributed ranking instead: coarse range cells of the doc-id
    // axis (each ≤ 2^20 docs), per-cell row_number (partitioned
    // window, parallel), cell offsets from a prefix sum over the
    // metadata-scale cell table, then Spark's exact NTILE arithmetic
    // (first n%b buckets get ⌈n/b⌉ rows, the rest ⌊n/b⌋) applied to
    // rank = offset + in-cell row_number. Bit-identical bucket
    // assignment — doc_id is unique in perDoc, so rank is the same
    // total order ntile saw.
    val celled = perDoc.withColumn("cell", heapsCell)
    val offsets = celled.groupBy(col("cell"))
      .agg(count(lit(1)).as("cn"))
      .select(col("cell"),
        coalesce(sum(col("cn")).over(Window.orderBy(col("cell"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("off"))
    val nRow = perDoc.agg(count(lit(1)).as("n_docs"))
    val sized = lit(buckets.toLong)
    val ranked = celled
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("doc_id"))))
      .join(broadcast(offsets), Seq("cell"))
      .crossJoin(broadcast(nRow))
      .withColumn("rank", col("off") + col("r"))
      .withColumn("bbase", expr(s"n_docs DIV ${buckets}L"))
      .withColumn("brem", col("n_docs") % sized)
      .withColumn("bucket",
        // integer DIV keeps the arithmetic exact at any corpus size
        // (double division could mis-floor next to a bucket boundary)
        when(col("rank") <= col("brem") * (col("bbase") + 1),
          expr("(rank - 1) DIV (bbase + 1) + 1"))
          .otherwise(
            expr("brem + (rank - brem * (bbase + 1) - 1) DIV bbase + 1"))
        .cast("int"))
    val perBucket = ranked
      .groupBy(col("bucket"))
      .agg(sum(col("n_toks")).as("b_toks"), sum(col("new_types")).as("b_types"))
    val cum = perBucket
      .withColumn("cum_tokens", sum(col("b_toks")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_vocab", sum(col("b_types")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bucket"), col("cum_tokens"), col("cum_vocab"),
        floor(log(col("cum_tokens").cast("double")) * 1e6 + 0.5)
          .cast("long").as("x"),
        floor(log(col("cum_vocab").cast("double")) * 1e6 + 0.5)
          .cast("long").as("y"))
    val fit = cum.agg(count(lit(1)).as("b"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(round((col("b") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
        (col("b") * col("sxx") - col("sx") * col("sx")).cast("double")
          + lit(1e-9), 6).as("heaps_beta"))
    cum.select(col("bucket"), col("cum_tokens"), col("cum_vocab"))
      .crossJoin(broadcast(fit))
  }

  /** `text_heaps_law`'s ranking cell: the doc-id axis cut into 2^20-wide
    * ranges by integer DIV, exact at any doc id (a double quotient
    * loses exactness past 2^53 and can land a doc in the next cell). */
  private[graft] val heapsCell: Column = expr("doc_id DIV 1048576")

  def textCharEntropy(t: Tables): DataFrame = {
    val chars = t.documents
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        explode(sequence(lit(1), length(col("text")))).as("j"),
        col("text"))
      .select(col("doc_id"), col("n"),
        col("text").substr(col("j"), lit(1)).as("ch"))
    val counts = chars.groupBy(col("doc_id"), col("n"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val terms = counts.select(col("doc_id"), col("n"),
      floor(col("c").cast("double") * log(col("c").cast("double")) * lit(1e6)
        + lit(0.5)).cast("long").as("q"))
    terms.groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_distinct_chars"), sum(col("q")).as("s"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct_chars"),
        round(log(col("n").cast("double")) -
          col("s").cast("double") / lit(1e6) / col("n").cast("double")
          + lit(1e-9), 4).as("entropy_nats"),
        round((log(col("n").cast("double")) -
          col("s").cast("double") / lit(1e6) / col("n").cast("double")) /
          lit(math.log(2.0)) + lit(1e-9), 4).as("bits_per_char"))
  }

  // ── T36/T37: multinomial Naive Bayes language classifier ─────────

  /** The synthetic corpus draws every document from ONE shared
    * vocabulary regardless of its `lang` label (verified at sf0.01:
    * the per-label top-word lists are identical), so a classifier
    * trained on the raw text could only ever read at chance — which
    * would exercise nothing. Following the house injected-ground-truth
    * discipline ([[textCodeDetect]], [[textMojibake]], the PII scrub):
    * a deterministic per-label marker token `mk<lang>` is appended
    * `md5(doc_id) nibble-1 mod 3` times BEFORE the train/eval split —
    * ~2/3 of docs carry 1–2 markers the model can learn, ~1/3 carry
    * none and are decidable only by the (uninformative) base
    * vocabulary, so the confusion matrix has honest off-diagonal mass.
    * Injection, split, and every count replay bit-identically in the
    * DuckDB oracle. */
  private[graft] def nbInjectOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"), expr(
        "repeat(concat(' mk', lang), " +
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10) AS INT) % 3)"))
        .as("text"))

  private def nbDocs(t: Tables): DataFrame = nbInjectOf(t.documents)

  /** 80/20 split on the stable key — train side. */
  private def nbTrainDocs(t: Tables): DataFrame =
    nbDocs(t).filter(col("doc_id") % 10 < 8)

  /** Held-out side, used by [[textNbEval]] and the streaming twin. */
  private[graft] def nbEvalDocs(t: Tables): DataFrame =
    nbDocs(t).filter(col("doc_id") % 10 >= 8)

  /** Laplace-smoothed class-conditional model over the FULL
    * train-vocab × class grid: `(lang, word, cnt, logp_micro)` with
    * `logp_micro = ⌊10⁶·ln((cnt+1)/(tot_lang+V))⌉` — the per-cell log
    * probability quantized MAP-SIDE to integer micro-nats
    * ([[ExactAgg.quantize]]), so every downstream reduction is an
    * exact int64 sum, immune to float summation order on either
    * engine. Zero-count cells are materialized (the smoothing floor
    * is part of the model, and scoring needs it). Scale: the grid is
    * |vocab| × |classes| — classes are a handful, so the grid is
    * vocab-sized, built from two partial-agg shuffles and a
    * broadcast of the per-class totals. */
  private[graft] def nbModel(t: Tables): DataFrame = {
    val tok = nbTrainDocs(t)
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
    val counts = tok.groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = counts.select(col("word")).distinct()
    val v = vocab.agg(count(lit(1)).as("v_size"))
    val tot = counts.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .join(counts, Seq("lang", "word"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(v))
      .select(col("lang"), col("word"), col("cnt"),
        ExactAgg.quantize(log((col("cnt") + lit(1)).cast("double") /
          (col("tot") + col("v_size")).cast("double")), 6).as("logp_micro"))
  }

  /** Class priors in the same integer micro-nat fixed point. */
  private[graft] def nbPriors(t: Tables): DataFrame = {
    val d = nbTrainDocs(t).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val n = nbTrainDocs(t).agg(count(lit(1)).as("n_train"))
    d.crossJoin(broadcast(n)).select(col("lang"),
      ExactAgg.quantize(log(col("n_docs").cast("double") /
        col("n_train").cast("double")), 6).as("prior_micro"))
  }

  /** Shared scorer (batch eval + streaming twin): per doc and class,
    * `score = prior_micro + Σ_w n_w·logp_micro(class, w)` — all int64
    * — and the argmax with the (score desc, lang asc) tie-break as
    * `min(struct(-score, lang))`, a partial-aggregating reduction
    * instead of a per-doc window sort. Out-of-train-vocab tokens drop
    * at the model join on BOTH engines (the standard ignore-unknowns
    * NB convention — they would add the same constant to every class
    * score anyway whenever the floor term is class-independent).
    * The model/prior frames are broadcast: classification is one
    * map-side join + two keyed partial aggs, nothing corpus×corpus. */
  /** Per-(doc, class) log-likelihood scores: explode token
    * OCCURRENCES, stream-static-joinable broadcast model lookup, ONE
    * keyed integer sum (`Σ_occurrences logp ≡ Σ_w n_w·logp` — no
    * separate count stage, which is what lets the streaming twin hold
    * this as its single stateful operator). */
  private[graft] def nbScoresOf(docs: DataFrame, model: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang").as("lang_true"),
        explode(tokens(col("text"))).as("word"))
      .join(broadcast(model.select(col("word"), col("lang"),
        col("logp_micro"))), Seq("word"))
      .groupBy(col("doc_id"), col("lang_true"), col("lang"))
      .agg(sum(col("logp_micro")).as("ll_micro"))

  /** Batch readout over (doc_id, lang_true, lang, ll_micro) scores:
    * add the prior, take the argmax, roll up the confusion matrix. */
  private[graft] def nbConfusionOf(scores: DataFrame,
      priors: DataFrame): DataFrame =
    scores
      .join(broadcast(priors), Seq("lang"))
      .select(col("doc_id"), col("lang_true"),
        struct((-(col("ll_micro") + col("prior_micro"))).as("ns"),
          col("lang").as("lang")).as("s"))
      .groupBy(col("doc_id"), col("lang_true"))
      .agg(min(col("s")).as("m"))
      .groupBy(col("lang_true"), col("m.lang").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))

  /** T36 — `text_nb_train`: the trained model table itself (counts +
    * micro-nat log probabilities over the vocab × class grid), the
    * artifact a serving path broadcasts. Hash-gated cell by cell. */
  def textNbTrain(t: Tables): DataFrame =
    nbModel(t).orderBy(col("lang"), col("word"))

  /** T37 — `text_nb_eval`: held-out confusion matrix of the
    * classifier — exact integer doc counts per (true, predicted)
    * label pair. The marker injection makes accuracy well above
    * chance (spec-asserted), the marker-free third keeps the
    * off-diagonal honest. */
  def textNbEval(t: Tables): DataFrame =
    nbConfusionOf(nbScoresOf(nbEvalDocs(t), nbModel(t)), nbPriors(t))
      .orderBy(col("lang_true"), col("lang_pred"))

  /** T39 — `text_kn_bigram`: interpolated Kneser-Ney bigram language
    * model (Kneser & Ney 1995; Chen & Goodman 1998's benchmark
    * smoother) — the LM the corpus-quality stack perplexity-scores
    * with before neural models enter the picture.
    *
    * Integer-exact: with discount D = 3/4, multiply
    * P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/Nbt
    * through by the common denominator 4·c1·Nbt:
    * kn_ppm = (max(4·c12−3,0)·Nbt + 3·N1+(w1·)·N1+(·w2)) · 1e6
    * div (4·c1·Nbt) — every factor an exact count, one integer
    * division, no floating log anywhere, so both engines emit
    * identical integers. The continuation count N1+(·w2) (how many
    * DISTINCT contexts precede w2) is KN's signature: "francisco" is
    * frequent but follows only "san", so its unigram backoff mass is
    * tiny — a plain Katz/additive smoother gets this wrong.
    *
    * Scale shape: bigram assembly is map-side (the zipped-slices
    * ngram); everything else derives from the (w1,w2) count table by
    * keyed aggregations — no joins against the corpus, no all-pairs.
    * Spec proves ROW-normalization with BigInt rationals:
    * Σ_w2 P(w2|w1) == 1 exactly per context. */
  def textKnBigram(t: Tables, minCount: Long = 3L): DataFrame = {
    val pairs = t.documents
      .select(explode(ngrams(tokens(col("text")), 2)).as("bg"))
      .select(split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val byW1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n_after"))
    val byW2 = c12.groupBy(col("w2")).agg(count(lit(1)).as("n_before"))
    val nbt = c12.agg(count(lit(1)).as("nbt"))
    c12.join(byW1, Seq("w1")).join(byW2, Seq("w2"))
      .crossJoin(broadcast(nbt))
      .withColumn("kn_ppm", expr(
        "(greatest(4 * c12 - 3, 0) * nbt + 3 * n_after * n_before)" +
          " * 1000000 div (4 * c1 * nbt)"))
      .filter(col("c12") >= minCount)
      .select(col("w1"), col("w2"), col("c12"), col("kn_ppm"))
  }

  /** T38 — `corpus_dsir_importance`: data selection by hashed-ngram
    * importance weighting (the DSIR recipe — Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by how much its token distribution
    * looks like a TARGET slice (here: long-form English), using
    * hashed unigram features so the feature space is fixed-size
    * regardless of vocabulary.
    *
    * Integer-exact variant: tokens hash into 4096 buckets via the
    * first 3 md5 nibbles (engine-identical on both sides); each
    * bucket's importance weight is the add-one-smoothed target/raw
    * count ratio in ppm (`(c_tgt+1)·1e6 div (c_raw+1)` — the
    * likelihood-ratio shape of DSIR without floating logs); a doc's
    * score is its mean token weight (integer div), and `selected`
    * marks docs above the corpus mean score — the importance-sampled
    * keep set.
    *
    * Scale shape: one tokenize pass; the weight table is ≤4096 rows
    * (broadcast); scoring is a map-side broadcast join + one keyed
    * aggregate by doc. Nothing driver-side, no all-pairs. */
  def corpusDsirImportance(t: Tables, minChars: Int = 250): DataFrame = {
    // staging cache: the hashed token projection feeds THREE consumers
    // (raw counts, target counts, the scoring join) — uncached, each
    // would re-pay the tokenize+md5 explode over the corpus (a staging
    // write on a real cluster); eager count so consumers don't race
    // the lazy cache
    val feat = t.documents
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(tokens(col("text"))).as("term"))
      .withColumn("b", conv(substring(md5(col("term")), 1, 3), 16, 10)
        .cast("long"))
      .persist()
    feat.count()
    val rawCnt = feat.groupBy(col("b")).agg(count(lit(1)).as("c_raw"))
    val tgtCnt = feat
      .filter(col("lang") === "en" && col("n_chars") >= minChars)
      .groupBy(col("b")).agg(count(lit(1)).as("c_tgt"))
    val weights = rawCnt.join(tgtCnt, Seq("b"), "left")
      .na.fill(0L, Seq("c_tgt"))
      .withColumn("w_ppm", expr("((c_tgt + 1) * 1000000) div (c_raw + 1)"))
      .select(col("b"), col("w_ppm"))
    val scored = feat.join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_ppm")).as("w_sum"))
      .withColumn("score_ppm", expr("w_sum div n_tokens"))
    val mean = scored.agg(
      expr("sum(score_ppm) div count(1)").as("mean_ppm"))
    scored.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_tokens"), col("score_ppm"),
        (col("score_ppm") > col("mean_ppm")).as("selected"))
  }

  /** `text_chunk_plan` — the RAG retrieval CHUNKER: split every
    * document into fixed-width token windows (64 tokens) with a
    * 16-token overlap (stride 48), the shape embedding-based
    * retrieval indexes ingest — where [[graft.operators.Dedup]]'s
    * passage machinery and `corpus_pack` build TRAINING windows, this
    * plans the retrieval-side chunks, boundaries included. Chunk
    * count for n tokens: 1 for n ≤ 64, else 1 + ⌈(n−64)/48⌉ — the
    * last chunk always starts inside the document and ends at n, so
    * no token is dropped and no chunk is empty. Each chunk carries an
    * md5 of its joined tokens — the content proof the driver gate
    * hash-checks. Map-side only: tokenize once, explode a computed
    * index range; no shuffle at all until the (deterministic) output
    * sort. */
  def textChunkPlan(t: Tables, width: Int = 64, stride: Int = 48)
      : DataFrame = {
    val toked = t.documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      // m = 1 for n ≤ width, else 1 + ceil((n-width)/stride), with
      // ceil(a/b) = (a + b - 1) DIV b spelled in exact integer ops
      .withColumn("m",
        when(col("n") <= width, 1L).otherwise(
          expr(s"1 + (n - $width + $stride - 1) div $stride")))
    toked
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("m") - lit(1L))).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * lit(stride.toLong))
      .withColumn("end_tok", least(col("start_tok") + lit(width.toLong),
        col("n")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("end_tok"), (col("end_tok") - col("start_tok")).as("n_tokens"),
        md5(array_join(slice(col("toks"),
          (col("start_tok") + lit(1L)).cast("int"),
          (col("end_tok") - col("start_tok")).cast("int")), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }
}
