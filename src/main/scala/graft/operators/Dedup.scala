package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.{cosineSimilarity, dotProduct}

/** Deduplication operator suite over `documents` / `embeddings`
  * (SURVEY.md §2.3).
  *
  * Scale posture (100 TB): none of the near-dup operators ever builds
  * the O(n²) pair space directly — candidates come from inverted-index
  * joins on shingle / LSH-band / simhash-block keys, so the shuffle is
  * keyed by content hashes and each bucket is small. MinHash and
  * SimHash signatures are computed entirely MAP-SIDE as per-row array
  * expressions over the shingle set (no explode, no pre-aggregation
  * shuffle): per doc the signature work is O(#shingles · #hashes) local
  * CPU, and the only shuffles are the candidate joins themselves.
  * All hashing is `md5` hex (portable to the DuckDB oracle verbatim);
  * the min-hash "min" is lexicographic string order, identical
  * cross-engine.
  */
object Dedup {

  /** Distinct word-3-gram shingles per doc as an array column
    * (map-side; no shuffle). */
  private def shingleArray: Column =
    array_distinct(TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), 3))

  /** documents → (doc_id, shingles array), rebalanced across the
    * cluster first: the downstream signature work is ~50× the input
    * size, so parallelism must come from a cheap pre-explode
    * repartition of the (small) raw rows, not the scan's file split.
    */
  private def docShingles(t: Tables): DataFrame =
    t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), shingleArray.as("shingles"))

  /** (doc_id, shingle) exploded view for inverted-index joins. */
  private def shingleSet(t: Tables): DataFrame =
    docShingles(t).select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Same exploded view over an arbitrary (doc_id, text) frame — lets
    * the incremental paths shingle history and increment separately. */
  private def shingleSetOf(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), shingleArray.as("shingles"))
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))

  /** Same exploded view from a pre-tokenized (doc_id, toks) frame —
    * lets composites (corpus_clean) feed one shared scan into the
    * near-dup machinery instead of re-reading + re-tokenizing. */
  private[operators] def shingleSetFrom(docToks: DataFrame): DataFrame =
    docToks.select(col("doc_id"),
      explode(array_distinct(TextAnalysis.ngrams(col("toks"), 3))).as("shingle"))

  /** D1 — exact dedup: group on md5(text) (shuffle a 32-char digest,
    * not the document payload), keep the min-id representative and the
    * duplicate count. At 100 TB this is the cheapest possible exact
    * dedup: one hash-aggregate keyed by digest.
    */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("dup_count"))

  /** `dedup_url_canonicalize` — URL canonicalization dedup, the FIRST
    * dedup pass of every web-corpus pipeline (cheaper than any
    * content hash: two crawls of one page dedup on the KEY, before
    * bytes are even compared). Raw URLs differ in scheme, host case,
    * `www.`, default ports, trailing slashes, and tracking params
    * while naming the same resource; the canonical form — https
    * scheme (policy: scheme-merged), lowercased host, `www.`/default
    * port stripped, `utm_*`/`ref` params dropped, dangling `?`/`&`
    * and trailing slash removed — is the dedup key.
    *
    * The corpus has no URL column, so each doc carries a
    * DETERMINISTIC synthetic URL (the `corpus_pii_scrub` injection
    * discipline: md5-nibble-driven noise over a small site×path
    * space, so collisions exist by construction and the oracle
    * replays the same bytes). Canonicalization itself is the real
    * operator: a fixed regexp_replace chain both engines run
    * identically. Map-only synth+normalize, ONE canonical-key
    * shuffle; output is the duplicate-group report with min-doc
    * keeper — `dedup_exact`'s shape on the URL axis. */
  def dedupUrlCanonicalize(t: Tables): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    def nib(i: Int) = (instr(lit("0123456789abcdef"), substring(h, i, 1)) - 1)
    val raw = concat(
      when(nib(1) % 2 === 0, lit("http://")).otherwise(lit("https://")),
      when(nib(2) % 2 === 0, lit("www.")).otherwise(lit("")),
      when(nib(3) % 2 === 0, upper(concat(lit("site"), (nib(4) % 8).cast("string"))))
        .otherwise(concat(lit("site"), (nib(4) % 8).cast("string"))),
      lit(".example.org"),
      when(nib(5) % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (col("doc_id") % 37).cast("string"),
      when(nib(6) % 2 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=s"), (nib(7) % 4).cast("string"),
      when(nib(8) % 4 === 0, concat(lit("&id="), (col("doc_id") % 5).cast("string")))
        .otherwise(lit("")))
    val canon =
      // force-https, lowercase, strip www. and default ports
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(raw), "^http://", "https://"),
            "^https://www\\.", "https://"),
          ":(443|80)/", "/"),
        ":(443|80)\\?", "?")
    val canon2 =
      // drop tracking params, then dangling separators + trailing slash
      regexp_replace(
        regexp_replace(
          regexp_replace(canon, "(utm_[a-z]+|ref)=[^&]*&?", ""),
          "[?&]$", ""),
        "/(\\?|$)", "$1")
    t.documents
      .select(col("doc_id"), raw.as("raw_url"), canon2.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_variants"),
        min(col("doc_id")).as("keeper_doc_id"))
  }

  /** D2 — n-gram Jaccard near-dup pairs (similarity ≥ 0.8), via
    * prefix-filtered AllPairs (exact).
    *
    * A naive inverted-index join explodes on low-entropy corpora —
    * docs drawn from a small vocabulary share shingles with almost
    * everyone, making the candidate set quadratic. Prefix filtering
    * restores the bound: order each doc's shingle set by a fixed total
    * order (md5), index only the first `n - ⌈t·n⌉ + 1` shingles — any
    * pair with Jaccard ≥ t MUST collide inside these prefixes — then
    * verify candidates exactly with one `array_intersect` against the
    * full (small, broadcastable per pair) shingle arrays. Candidates,
    * not corpus size, bound the work at 100 TB.
    */
  def dedupNgramJaccard(t: Tables): DataFrame = {
    val threshold = 0.8
    // hash shingles to 64 bits AT THE SOURCE: every downstream shuffle
    // (df count, rank join, prefix index, verify) carries 8-byte keys,
    // never the ~30-char shingle strings (exactness unaffected: the
    // DuckDB oracle recomputes true intersections, and a 64-bit
    // in-pair collision is ~2^-52)
    val sh = shingleSet(t).select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    // AllPairs canonical order = ascending document frequency: rare
    // shingles first, so prefix-index buckets are bounded by the df of
    // RARE keys (an md5/random order puts globally-common shingles in
    // every prefix and recreates the hot buckets it exists to avoid).
    // df comes from a count window over h — ONE shuffle of the
    // exploded set and ONE tokenize pass, where a groupBy(h)+re-join
    // costs a second tokenize pass (it re-evaluates the shingle
    // lineage) plus a third shuffle; the bench bisect put the
    // tokenize pass at ~60% of this query's cost
    val ranked = sh.withColumn("df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    val packed = ranked
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("sorted"))
      .select(col("doc_id"),
        transform(col("sorted"), e => e.getField("h")).as("hs"),
        size(col("sorted")).as("ns"))
      .select(col("doc_id"), col("hs"), col("ns"),
        slice(col("hs"), lit(1),
          (col("ns") - ceil(col("ns") * threshold) + 1).cast("int")).as("prefix"))
      // materialize the (small) index ONCE: the self-join below would
      // otherwise duplicate the whole tokenize+rank lineage per branch.
      // persist(), not a local checkpoint: non-replicated checkpoint
      // blocks die with an executor on a real cluster, while a cached
      // index recomputes from lineage; at 100 TB this is a staging
      // write. The index is O(docs · shingles · 8B), tiny next to the
      // corpus.
      .persist()
    packed.count() // populate eagerly: downstream branches race the lazy cache otherwise
    val pref = packed.select(col("doc_id"), explode(col("prefix")).as("ph"))
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.ph") === col("b.ph") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
    val full = packed.select(col("doc_id"), col("hs"), col("ns"))
    cand
      .join(full.as("fa"), col("doc_id_1") === col("fa.doc_id"))
      .join(full.as("fb"), col("doc_id_2") === col("fb.doc_id"))
      .withColumn("common",
        size(array_intersect(col("fa.hs"), col("fb.hs"))).cast("double"))
      .withColumn("jaccard",
        col("common") / (col("fa.ns") + col("fb.ns") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** D3 — MinHash + LSH candidate pairs.
    *
    * 16 MinHash signatures — min over shingles of md5("seed:shingle"),
    * lexicographic min on the hex digest — computed per row as
    * `array_min(transform(...))`: map-only, zero shuffles. Signatures
    * fold into 4 bands of 4; docs colliding on any (band, band-hash)
    * key become candidates. The self-join is keyed by the band hash, so
    * bucket sizes — not corpus size — bound the work.
    */
  def dedupMinhashLsh(t: Tables): DataFrame = minhashPairs(t)

  /** 16-column MinHash signature frame (doc_id, h0..h15) over an
    * exploded (doc_id, shingle) frame. The explode means the text is
    * tokenized ONCE per doc (a pure array-expression form would
    * collapse into 16 projections that each re-tokenize); each
    * exploded row then pays exactly 16 md5s inside a partial
    * aggregate — map-side, parallel, one shuffle of the 16-column
    * signatures. */
  private[operators] def minhashSignatures(sh: DataFrame): DataFrame = {
    val minhashes = (0 until 16).map { s =>
      min(md5(concat(lit(s"$s:"), col("shingle")))).as(s"h$s")
    }
    sh.groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
  }

  /** (doc_id, band, bh) band rows from a signature frame — a cheap
    * map-only projection of [[minhashSignatures]]. */
  private[operators] def bandsFromSignatures(mh: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until 4).map(i => col(s"h${4 * b + i}")): _*)).as("bh"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** MinHash LSH band index over an exploded (doc_id, shingle) frame:
    * (doc_id, band, bh) rows, persisted and eagerly populated (a
    * downstream self-join's branches would otherwise race the lazy
    * cache and both recompute the signature lineage). In production
    * the history side of this index is computed once and reused by
    * every increment. */
  private[operators] def minhashBands(sh: DataFrame, materialize: Boolean = true): DataFrame = {
    val bands = bandsFromSignatures(minhashSignatures(sh))
    // materialize only when the caller joins the index against itself
    // (both branches would race the lazy cache); single-consumer paths
    // (table write, one-sided increment join) skip the extra pass
    if (materialize) { val b = bands.persist(); b.count(); b } else bands
  }

  private[operators] def minhashPairsFrom(sh: DataFrame): DataFrame = {
    val bands = minhashBands(sh)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
  }

  /** The full-corpus MinHash-LSH match-pair set, staged ONCE per
    * (session, dataset) and shared by every consumer — the
    * [[graft.operators.Governance.erPairs]] discipline applied to the
    * dedup family: the LSH pair table IS the stored artifact a
    * production dedup pipeline maintains (nightly job), and its
    * consumers — `dedup_minhash_lsh`, `dedup_clusters`,
    * `dedup_survivorship`, `corpus_dedup_weights`,
    * `dedup_minhash_eval`, the history cluster-state build — were
    * each regenerating the tokenize → 16-md5 signature → band
    * self-join chain per query (§2.4: the same shuffles paid six
    * times a session). Slice restrictions stay exact: a doc's
    * signature depends only on its own shingles, so
    * pairs(slice) = pairs(full) restricted to both endpoints in the
    * slice. Bench cost is visible as the `_build_band_pairs` entry. */
  private[graft] def minhashPairs(t: Tables): DataFrame = {
    val path = graft.sources.SourceOps.staged(t, "dedup_pairs") {
      val p = graft.sources.SourceOps.staging(
        s"dedup_pairs_${graft.sources.SourceOps.dirTag(t.dir)}")
      val bands = minhashBands(shingleSet(t))
      bands.as("a")
        .join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id_1"),
          col("b.doc_id").as("doc_id_2"))
        .distinct()
        .write.mode("overwrite").parquet(p)
      bands.unpersist()
      p
    }
    t.spark.read.parquet(path)
  }

  /** D4 — SimHash near-dup pairs (32-bit, hamming ≤ 3).
    *
    * Per-doc simhash from the distinct-shingle array, map-only: hash
    * each shingle once (`transform(md5)`), then per bit count the set
    * hashes with `filter`+`size` (weight ±1 per shingle; bit i is
    * nibble-extracted from the hex digest — portable to any engine).
    * Pair generation is an exact blocking join: the 32-bit hash splits
    * into 4 bytes and hamming ≤ 3 guarantees (pigeonhole) at least one
    * equal byte, so candidates come from equality on (block, byte) and
    * only candidates pay the popcount verification.
    */
  def dedupSimhash(t: Tables): DataFrame = {
    def bitOf(h: Column, i: Int): Column = {
      val nib = conv(substring(h, 1 + i / 4, 1), 16, 10).cast("int")
      shiftright(nib, 3 - (i % 4)).bitwiseAND(lit(1))
    }
    // hash each exploded shingle ONCE in a projection, then 32 cheap
    // bit-extraction sums in a single partial aggregate
    val bitSums = (0 until 32).map { i =>
      sum(when(bitOf(col("h"), i) === 1, 1L).otherwise(-1L)).as(s"s$i")
    }
    val simhash = (0 until 32).map { i =>
      when(col(s"s$i") > 0, lit(1L << (31 - i))).otherwise(0L)
    }.reduce(_ + _)
    val hashed = shingleSet(t)
      .select(col("doc_id"), md5(col("shingle")).as("h"))
      .groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
    val blocks = hashed.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("blk"),
          shiftright(col("simhash"), 8 * (3 - b)).bitwiseAND(lit(255L)).as("bv"))
      }: _*)).as("kb"))
      .select(col("doc_id"), col("simhash"), col("kb.blk").as("blk"), col("kb.bv").as("bv"))
      // materialize once: same self-join lineage-duplication as minhash
      .persist()
    blocks.count()
    blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  private def withEmb(t: Tables): DataFrame =
    t.embeddings
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** D5 — embedding near-dup pairs: cosine ≥ 0.4 (no pair sits exactly
    * on the threshold, so the cross-engine compare is float-safe).
    *
    * Scale path: multi-band random-hyperplane LSH candidates + exact
    * verification with the codegen cosine. Signatures are `nBands`
    * bands of `bitsPerBand` sign bits (one codegen `dot_product`
    * against a fixed ±1 hyperplane per bit — map-only); docs colliding
    * on any (band, band-value) key become candidates, so the candidate
    * join is a bucket-keyed equi-join that shuffles (vec_id, band,
    * bucket) triples — never embeddings, never an all-pairs /
    * broadcast-NLJ shape — and only candidates pay the exact cosine.
    *
    * Parameter honesty: a pair at the 0.4 threshold collides per band
    * with p = (1-θ/π)^bits ≈ 0.63^4 ≈ 0.16, so 28 bands give per-pair
    * recall ≈ 1-(1-0.16)^28 ≈ 0.992 — and empirically 100% on this
    * corpus (verified against [[dedupEmbeddingExact]] by spec; the
    * driver oracle is the exact all-pairs SQL). This corpus is
    * near-worst-case for LSH — the background cosine mass sits at
    * ~0.3, right under the 0.4 threshold, so candidates here are a
    * large fraction of all-pairs. On a real near-dup corpus (dups at
    * cos ≥ 0.9, background ≲ 0.3) the same operator with wider bands
    * (e.g. 16 bits → 65k buckets) prunes quadratically; the plan
    * shape is what survives 100 TB, and it is the same either way.
    */
  def dedupEmbedding(t: Tables, bitsPerBand: Int = 4, nBands: Int = 28): DataFrame = {
    val dims = 64
    val e = withEmb(t)
    val bandCols = (0 until nBands).map { j =>
      val bv = (0 until bitsPerBand).map { k =>
        val plane = typedlit(Similarity.hyperplane(j * bitsPerBand + k, dims))
        when(dotProduct(col("emb"), plane) > 0, lit(1 << k)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(j).as("band"), bv.as("bv"))
    }
    // materialize the (vec_id, band, bucket) index once: the self-join
    // would otherwise compute all nBands·bitsPerBand signature dot
    // products twice per vector
    val banded = e
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      .persist()
    banded.count()
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"))
      .distinct()
    cand
      .join(e.as("ea"), col("vec_id_1") === col("ea.vec_id"))
      .join(e.as("eb"), col("vec_id_2") === col("eb.vec_id"))
      .select(col("vec_id_1"), col("vec_id_2"),
        cosineSimilarity(col("ea.emb"), col("eb.emb")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_id_1"), col("vec_id_2"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Exact all-pairs ground truth for [[dedupEmbedding]] — O(n²) by
    * construction (broadcast nested-loop self-join), so it is
    * spec-only at tiny SF and never wired into `SparkEntry.queries`.
    */
  def dedupEmbeddingExact(t: Tables): DataFrame = {
    val e = withEmb(t)
    val cos = cosineSimilarity(col("a.emb"), col("b.emb"))
    e.as("a")
      .join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id_1"), col("b.vec_id").as("vec_id_2"),
        cos.as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_id_1"), col("vec_id_2"), round(col("cos"), 4).as("cos_sim"))
  }

  /** D7 — incremental near-dup: flag documents of an INCREMENT (doc_id
    * ≥ `splitId`, standing in for today's batch) that near-duplicate
    * the existing HISTORY corpus — the production daily-dedup shape:
    * the history band index is built once (persisted here; on a real
    * deploy read back from its table) and each increment joins against
    * it, so per-batch cost scales with the increment × bucket hit
    * rate, never history × history. No old-vs-old or new-vs-new pair
    * is ever generated.
    */
  def dedupIncremental(t: Tables, splitId: Long = 400): DataFrame = {
    val bands = minhashBands(shingleSet(t))
    val history = bands.filter(col("doc_id") < splitId)
    val increment = bands.filter(col("doc_id") >= splitId)
    history.as("a")
      .join(increment.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("hist_doc"), col("b.doc_id").as("new_doc"))
      .distinct()
  }

  /** D7b — the table-backed production form of [[dedupIncremental]]:
    * the HISTORY band index is written ONCE as a bucketed external
    * table — bucketed AND sorted on the join key (band, bh), so every
    * daily increment joins against it with ZERO exchange and zero sort
    * on the index side (DedupSpec pins that plan) — then read back
    * through the catalog and joined by the increment. This is the
    * amortization [[dedupIncremental]]'s scaladoc promises: at 100 TB
    * the index build is a one-off backfill; each batch pays only its
    * own shingling + one shuffle of the increment's (doc_id, band, bh)
    * triples to the index's bucket layout.
    */
  def dedupIncrementalTable(t: Tables, splitId: Long = 400, nBuckets: Int = 8): DataFrame = {
    import graft.sources.{Sources, SourceOps}
    val table = s"graft_minhash_index_${SourceOps.runId}"
    val hist = minhashBands(
      shingleSetOf(t.documents.filter(col("doc_id") < splitId)), materialize = false)
    Sources.writeBucketed(hist, table, Seq("band", "bh"), nBuckets,
      sortCols = Seq("band", "bh"), path = Some(SourceOps.staging("minhash_index")))
    val index = t.spark.table(table)
    val inc = minhashBands(
      shingleSetOf(t.documents.filter(col("doc_id") >= splitId)), materialize = false)
    index.as("a")
      .join(inc.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("hist_doc"), col("b.doc_id").as("new_doc"))
      .distinct()
  }

  /** D8 — passage-level (sub-document) exact dedup: the standard
    * complement to document-level MinHash — near-dup docs share long
    * verbatim runs that whole-document hashing misses once a single
    * token differs. Docs are cut into NON-OVERLAPPING `chunkTokens`-
    * token passages (this corpus has no blank-line paragraph
    * structure, so fixed token windows are the substring granularity;
    * real corpora would split on paragraphs first and chunk only the
    * oversized ones) and every passage occurring in more than one
    * place is reported with its min-doc representative.
    *
    * Shape: the chunk set comes from the linear `arrays_zip` n-gram
    * form sampled at stride `chunkTokens` (every cs-th gram = the
    * non-overlapping chunking) — map-only until the single groupBy on
    * the passage md5, which shuffles 32-char digests, never text.
    * A `transform(sequence(...), i => slice(toks, ...))` chunker
    * would re-evaluate the tokenize per element (§8 HOF trap).
    */
  def dedupPassage(t: Tables, chunkTokens: Int = 8): DataFrame =
    t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), chunkTokens)))
      .filter(col("pos") % chunkTokens === 0)
      .select(col("doc_id"), md5(col("col")).as("passage_hash"))
      .groupBy(col("passage_hash"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("rep_doc_id"))
      .filter(col("n_occ") > 1)

  /** D14 — `dedup_spans`: EXACT SUBSTRING dedup in its actionable
    * form (public Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): find every `k`-token window that
    * appears in MORE THAN ONE document at ANY offset, then coalesce
    * each doc's duplicated windows into MAXIMAL spans — the
    * `[span_start, span_start+span_len)` byte ranges a dedup pass
    * actually removes. [[dedupPassage]]'s stride-aligned chunks miss
    * duplication that crosses chunk boundaries or starts mid-chunk;
    * all-offset windows (the suffix-array equivalent at fixed k)
    * catch it wherever it starts.
    *
    * Shape: posexplode to (doc, pos, window-hash) — 16-byte hashes
    * shuffle, never window text; ONE hash-keyed rollup finds
    * cross-doc hashes; windows join back on the hash (keyed shuffle,
    * no broadcast of an unbounded dup set); per-doc interval merge is
    * a user-partitioned running-max window + gaps-and-islands rollup,
    * O(windows per doc) state. Every stage partitions by hash or doc
    * — nothing scales with corpus size beyond the linear explode, the
    * same budget the token-shard layout already pays. */
  def dedupSpans(t: Tables, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), k)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("wh"))
    val dup = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("wh"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    wins.join(dup, "wh")
      .withColumn("prev_end",
        max(col("pos") + k).over(byPos.rowsBetween(
          Window.unboundedPreceding, -1)))
      .withColumn("chg",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("chg")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - min(col("pos"))).cast("long").as("span_len"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_windows"))
  }

  /** `dedup_cross_source` — the cross-SOURCE content-duplication
    * matrix: for every source pair, how many distinct 10-token
    * windows ([[dedupSpans]]' unit) both sources carry — the
    * governance readout that tells a corpus steward WHICH crawls
    * mirror each other's content before any pairwise doc comparison
    * runs (this corpus has ZERO exact cross-source doc duplicates;
    * the sharing lives at window granularity — 939 shared windows at
    * sf0.01 — exactly why the matrix works on content units, not doc
    * digests).
    *
    * Shape: one tokenize+window explode → (source, window-hash)
    * DISTINCT (the per-source content vocabulary, bounded by content
    * volume) → hash-keyed self-join whose fan-out per window is ≤
    * #sources² → a #sources²-row rollup. Text never shuffles — only
    * 32-char hashes do.
    */
  def dedupCrossSource(t: Tables, k: Int = 10): DataFrame = {
    // one wh-keyed aggregation instead of distinct + wh-keyed
    // self-join (§2.3/§2.4): collect_set dedupes (wh, source)
    // map-side, so the 32-char md5 key crosses the wire ONCE (was:
    // the distinct exchange, then both self-join sides), and the
    // source pairs explode map-side from the per-wh source set —
    // bounded by the SOURCE count, metadata-scale at any corpus
    // size. sort_array makes pair order (a < b) identical to the
    // join's `a.source < b.source` cut.
    val srcSets = t.documents
      .select(col("source"),
        explode(TextAnalysis.ngrams(TextAnalysis.tokens(col("text")), k))
          .as("w"))
      .select(col("source"), md5(col("w")).as("wh"))
      .groupBy(col("wh"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
    srcSets
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          b => struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
  }

  /** D15 — `dedup_spans_scrub`: the CONSUMER [[dedupSpans]] exists
    * for — actually REMOVE the duplicated text, keep-first policy:
    * a window occurrence is removable iff some EARLIER doc (smaller
    * doc_id) contains the same window, so exactly one copy of every
    * duplicated span survives corpus-wide (the Lee et al. 2022
    * dedup step, not just its report). Each doc's removable window
    * positions union into token ranges; the doc's clean text is its
    * token stream minus those ranges, and the gate hash-compares the
    * clean BYTES (md5 of the rejoined stream) cross-engine, plus the
    * removed/kept token accounting every corpus release publishes.
    *
    * Shape: the window/hash explode and min-doc rollup are
    * [[dedupSpans]]'s stages; removable positions explode k ints per
    * removable window (bounded by duplication volume, not corpus
    * size) and collapse per doc via collect_set; the final scrub is
    * map-only — an index-aware `filter` lambda over the token array.
    * Docs with nothing to remove pass through the left join with
    * their bytes untouched. */
  def dedupSpansScrub(t: Tables, k: Int = 10): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val wins = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode(TextAnalysis.ngrams(toks, k)))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("wh"))
    val firstDoc = wins.groupBy(col("wh"))
      .agg(min(col("doc_id")).as("first_doc"))
    val removedPos = wins.join(firstDoc, "wh")
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("rem"))
    t.documents
      .select(col("doc_id"), toks.as("toks"))
      .join(removedPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("rem").isNull, lit(0)).otherwise(size(col("rem")))
          .cast("long").as("n_removed"),
        when(col("rem").isNull, col("toks"))
          .otherwise(filter(col("toks"),
            (_, i) => !array_contains(col("rem"), i))).as("clean"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        (col("n_tokens") - col("n_removed")).as("n_kept"),
        md5(concat_ws(" ", col("clean"))).as("clean_md5"))
  }

  /** D6 — near-dup cluster canonicalization: connected components over
    * the MinHash-LSH pair graph, labelling every doc with the minimum
    * doc_id of its component. The "keep one per duplicate cluster"
    * final step of an LLM dedup pipeline — pairs alone over-delete
    * (a,b) and (b,c) without knowing they're one cluster.
    *
    * Algorithm: distributed min-label propagation — labels start as
    * doc_id and each round every node takes the min of its own and its
    * neighbours' labels, converging in O(component diameter) rounds
    * (near-dup components are short chains; diameter is small). Each
    * round is ONE keyed join + partial-agg min + ONE label update —
    * the standard large-graph CC shape: no component ever has to fit
    * anywhere, shuffles carry (id, label) pairs only. The driver-side
    * work per round is a single O(1) convergence scalar (sum of
    * labels, monotonically decreasing; decimal so it cannot overflow
    * at any corpus size) — never row data.
    */
  def dedupClusters(t: Tables, maxIters: Int = 50): DataFrame =
    dedupClustersWithIters(t, maxIters)._1

  /** D10 — `dedup_survivorship`: WHICH COPY TO KEEP — the decision a
    * dedup pipeline actually has to make after clustering
    * ([[dedupClusters]] labels duplicates; this picks the survivor
    * and prices the cut). Policy: the most COMPLETE member survives —
    * max `n_chars`, doc-id tie-break — the keep-the-longest heuristic
    * web-dedup pipelines default to (truncated mirrors and paywalled
    * stubs lose to the full copy), deliberately NOT the min-id label
    * the CC algorithm happens to produce: the survivor is a POLICY
    * choice layered on the clustering, and the two differ on this
    * corpus (spec-pinned). Output per multi-member cluster: survivor,
    * member count, total chars, and chars saved by dropping the rest
    * — the corpus-reduction receipt a dedup review reads.
    *
    * Shape: the shared cluster labels (one CC run), one keyed join to
    * the per-doc char counts, one cluster-keyed rollup + one
    * rank-1-per-cluster window over the metadata-scale label table.
    * The oracle composes the `dedup_clusters` recursive-CTE chain
    * verbatim and replays the argmax. */
  def dedupSurvivorship(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = dedupClusters(t).select(col("doc_id"), col("cluster_id"))
      .join(t.documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val sized = m.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("chars_total"))
      .filter(col("n_members") >= 2)
    val kept = m.withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(desc("n_chars"), asc("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("n_chars").as("kept_chars"))
    sized.join(kept, Seq("cluster_id"))
      .select(col("cluster_id"), col("kept_doc"), col("n_members"),
        col("chars_total"),
        (col("chars_total") - col("kept_chars")).as("chars_saved"))
  }

  /** [[dedupClusters]] plus the number of rounds it took — exposed so
    * the convergence behavior is PINNED in spec, not asserted in
    * prose. `pathHalving = false` recovers plain min-label
    * propagation for comparison. */
  private[graft] def dedupClustersWithIters(t: Tables, maxIters: Int = 50,
      pathHalving: Boolean = true): (DataFrame, Int) = {
    val pairs = minhashPairs(t)
    val edges = pairs
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .union(pairs.select(col("doc_id_2").as("src"), col("doc_id_1").as("dst")))
    val Components(labels, iters, _) = connectedComponents(edges, maxIters,
      halveFrom = if (pathHalving) DefaultHalveFrom else Int.MaxValue)
    val out = t.documents.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_kept"))
    (out, iters)
  }

  /** Rounds of plain propagation before path halving engages: LSH
    * near-dup components are usually near-cliques that converge in
    * 1–2 rounds, where the extra pointer-jump join is pure overhead —
    * only a graph still moving at round 3 is deep enough to repay it. */
  private val DefaultHalveFrom = 3

  /** Edge-count ceiling for the adaptive driver-local CC fallback:
    * below it the whole component structure fits comfortably on the
    * driver, and a union-find beats paying per-round distributed-job
    * latency on a small graph — the same "broadcast the small side"
    * decision AQE makes for joins, applied to iteration (GraphFrames'
    * CC makes the same call). Sizing: 1M edges collect as an
    * Array[(Long, Long)] (~50 MB) plus a ≤2M-entry parent map
    * (~150 MB boxed) — comfortably inside any driver sized for
    * Spark work (the default 8g heap here; a production driver is
    * larger), and an O(E·α) single-threaded pass at 1M edges is
    * milliseconds next to even ONE distributed round's stage
    * latency. Match graphs are usually MUCH smaller than their
    * corpora (only near-dup/matched nodes appear), so small-corpus
    * runs and incremental merge graphs take this path, while a
    * 100 TB first-build's giant pair graph keeps the distributed
    * loop (exercised by the localMaxEdges=0 specs). r18: raised from
    * 250k — the sf0.1 ER match graph (415k edges, 5 MB of longs) was
    * paying a ~70-stage distributed loop on a graph the driver
    * resolves in well under a second. */
  private[graft] val LocalCcMaxEdges: Long = 1000000L

  /** The one "local or distributed?" rule of every adaptive graph
    * loop: a graph of `nEdges` edges runs on the driver iff it is at
    * or below `localMaxEdges`; `localMaxEdges = 0` forces the
    * distributed loop, even on an empty graph, and skips the count. */
  private[graft] def runsLocal(nEdges: => Long, localMaxEdges: Long): Boolean =
    localMaxEdges > 0 && nEdges <= localMaxEdges

  /** Driver union-find over a collected edge list, min-root union so
    * every root is its component's MINIMUM node id — exactly the
    * distributed loop's converged labelling. */
  private def localCc(edges: DataFrame): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find + full path compression: min-union builds trees
    // whose depth can reach O(n) before compression, so recursion
    // would overflow the stack near the edge ceiling
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-root invariant: roots only ever absorb LARGER roots, so the
    // root of every tree is its component minimum — label parity with
    // the distributed min-label propagation by construction
    pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      .map(n => (n, find(n))).toDF("doc_id", "cluster_id")
  }

  /** Distributed min-label connected components over a symmetric
    * (src, dst) edge frame: every node takes the min of its own and
    * its neighbours' labels each round — ONE keyed join + partial-agg
    * min + ONE label update, the standard large-graph CC shape (no
    * component ever has to fit anywhere; shuffles carry (id, label)
    * pairs only; the driver sees a single O(1) convergence scalar per
    * round — a decimal label sum, monotonically decreasing).
    *
    * From round `halveFrom` on, each update adds PATH HALVING: follow
    * each label one pointer hop (labels are always node ids — mins
    * over initial ids — so label(label) is a self-join of the
    * propagated frame on its label column) and take the min. Plain
    * neighbor-min converges in O(diameter) rounds; the compounding
    * hop closes long chains in O(log diameter) once engaged, for one
    * extra metadata-width keyed join per round — the large-star/
    * small-star trade in two joins, engaged ADAPTIVELY so shallow
    * graphs (the common near-dup case) never pay for it.
    *
    * LINEAGE: every round is cut through [[Rounds.run]] — a local
    * checkpoint, or a reliable one when the session sets
    * `graft.cc.checkpointDir` — and the superseded round is released
    * as soon as the next one exists.
    *
    * Returns the converged (doc_id, cluster_id) labels. The final
    * round's cut blocks back the returned frame and are freed by
    * [[Rounds.release]] once the caller has consumed it, or by
    * ContextCleaner GC.
    *
    * The call caches `edges` while it runs and drops that cache
    * before it returns, so callers pass the edge plan uncached.
    *
    * ADAPTIVE LOCAL FALLBACK: a graph at or below `localMaxEdges`
    * edges resolves as a driver union-find ([[localCc]], identical
    * labelling, `local = true`, zero rounds) instead of paying
    * per-round distributed-job latency — pass `localMaxEdges = 0` to
    * force the distributed loop (specs pinning round counts do).
    */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int = 50,
      halveFrom: Int = DefaultHalveFrom,
      localMaxEdges: Long = LocalCcMaxEdges): Components = {
    // every round joins the edge frame, and the local path reads it
    // twice (size, then collect): cached for this call only
    edges.persist()
    try {
      // ADAPTIVE: small graphs resolve on the driver
      if (runsLocal(edges.count(), localMaxEdges))
        return Components(localCc(edges), iters = 0, local = true)
      // sum() of zero rows is SQL NULL: an empty pair graph (nothing
      // near-duplicated) must converge on the zero identity, not NPE
      def labelSum(labels: DataFrame): java.math.BigDecimal =
        Option(labels.agg(sum(col("cluster_id").cast("decimal(38,0)"))).first().getDecimal(0))
          .getOrElse(java.math.BigDecimal.ZERO)
      // iterate over graph NODES only (docs in ≥1 pair) — a small
      // fraction of any real corpus; singletons join back at the end
      val init = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("cluster_id")).persist()
      val run = try {
        // converged once a round leaves the label sum unchanged
        var prevSum = labelSum(init)
        def unchanged(next: DataFrame): Boolean = {
          val s = labelSum(next)
          val same = s.compareTo(prevSum) == 0
          prevSum = s
          same
        }
        Rounds.run(init, maxIters, unchanged) { round =>
          // neighbor-min merge as ONE keyed min-agg (the r17 BFS
          // discipline): every node's own label and its neighbors'
          // labels union into one groupBy(doc_id).min — labels has
          // exactly one row per node and every edge dst is a node, so
          // min(own ∪ neighbor labels) ≡ the old least(own,
          // left-joined nbr_min) row for row, without the second
          // keyed join (and its exchange) per round
          val prop = round.prev.unionAll(edges.as("e")
              .join(round.prev.as("l"), col("e.src") === col("l.doc_id"))
              .select(col("e.dst").as("doc_id"), col("l.cluster_id")))
            .groupBy(col("doc_id"))
            .agg(min(col("cluster_id")).as("cluster_id"))
          // the pointer hop reads prop on both sides: cached for the round
          if (round.number < halveFrom) prop
          else round.cache(prop).as("a")
            .join(prop.select(col("doc_id").as("pid"), col("cluster_id").as("pcid")).as("b"),
              col("a.cluster_id") === col("pid"), "left")
            .select(col("a.doc_id").as("doc_id"),
              least(col("a.cluster_id"), coalesce(col("pcid"), col("a.cluster_id")))
                .as("cluster_id"))
        }
      } finally init.unpersist()
      if (!run.converged) Rounds.release(run.last)
      require(run.converged, s"label propagation did not converge in $maxIters rounds")
      Components(run.last, run.rounds, local = false)
    } finally edges.unpersist()
  }

  /** A [[connectedComponents]] result: the (doc_id, cluster_id)
    * labels, the propagation rounds run, and which path produced
    * them — `local` labels are a driver-built LocalRelation with no
    * checkpoint blocks behind them; distributed ones must go through
    * [[Rounds.release]] once consumed. */
  private[graft] final case class Components(labels: DataFrame, iters: Int,
      local: Boolean)

  // ---- D14: incremental connected components ------------------------

  /** The stored near-dup cluster state (the history band index and the
    * history CC labels, each a bucketed catalog table), standing in for
    * yesterday's scheduled cluster build: a separate job in production,
    * so `_build_cc_state` makes its cost a separate bench entry rather
    * than attributing it to whichever incremental query runs first. */
  private[graft] def historyClusterState(t: Tables,
      splitId: Long): (String, String) =
    graft.sources.SourceOps.staged(t, s"cc_state_$splitId") {
      import graft.sources.{SourceOps, Sources}
      val tag = s"${SourceOps.runId}_${SourceOps.dirTag(t.dir)}_$splitId"
      // single consumer now (the bucketed write) — no need to
      // materialize the band cache
      val bands = minhashBands(
        shingleSetOf(t.documents.filter(col("doc_id") < splitId)),
        materialize = false)
      val bandTable = s"graft_cc_bands_$tag"
      Sources.writeBucketed(bands, bandTable, Seq("band", "bh"), nBuckets = 8,
        sortCols = Seq("band", "bh"),
        path = Some(SourceOps.staging(s"cc_bands_$tag")))
      // history pairs = the staged full pair set restricted to
      // both endpoints < split (exact: signatures are per-doc;
      // doc_id_1 < doc_id_2, so both < split ⇔ doc_id_2 < split)
      // — the band self-join never re-runs over history
      val pairs = minhashPairs(t).filter(col("doc_id_2") < splitId)
        .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      val edges = pairs
        .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      val labels = connectedComponents(edges).labels
      val labelTable = s"graft_cc_labels_$tag"
      Sources.writeBucketed(labels, labelTable, Seq("doc_id"), nBuckets = 8,
        sortCols = Seq("doc_id"),
        path = Some(SourceOps.staging(s"cc_labels_$tag")))
      (bandTable, labelTable)
    }

  /** The increment's NEW edge set (un-symmetrized), with history
    * endpoints already CONTRACTED to their stored cluster label:
    * increment-vs-history candidates come from the stored bucketed
    * band index (index side exchange-free — the
    * [[dedupIncrementalTable]] layout), increment-vs-increment from
    * the increment's band self-join; old-vs-old is never generated.
    * Factored out so the plan shape is pinnable in spec. */
  private[graft] def ccIncrementEdges(t: Tables, splitId: Long): DataFrame = {
    val (bandTable, labelTable) = historyClusterState(t, splitId)
    val histBands = t.spark.table(bandTable)
    val histLabels = t.spark.table(labelTable)
    val incBands = minhashBands(
      shingleSetOf(t.documents.filter(col("doc_id") >= splitId)))
    val nh = histBands.as("a")
      .join(incBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("hist_doc"), col("b.doc_id").as("new_doc"))
      .distinct()
    // contract: a touched history doc enters the merge graph as its
    // stored cluster rep (singletons have no stored row — they are
    // their own rep)
    val reps = histLabels
      .select(col("doc_id").as("hist_doc"), col("cluster_id").as("rep"))
    val nhEdges = nh.join(reps, Seq("hist_doc"), "left")
      .select(coalesce(col("rep"), col("hist_doc")).as("src"),
        col("new_doc").as("dst"))
    val nnEdges = incBands.as("a")
      .join(incBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      .distinct()
    nhEdges.union(nnEdges)
  }

  /** D14 — `dedup_clusters_incremental`: incremental maintenance of
    * the near-dup CLUSTER LABELS — the [[dedupIncrementalTable]]
    * stored-artifact pattern applied to [[dedupClusters]]'s output,
    * closing the gap between "find today's new near-dup pairs" and
    * "keep the canonical doc per cluster" without ever recomputing the
    * history graph. Yesterday's state is two bucketed catalog tables
    * (band index + cluster labels); today's run:
    *
    *  1. generates ONLY the new candidate pairs ([[ccIncrementEdges]])
    *     — per-doc MinHash signatures are corpus-independent, so the
    *     history pair set is exactly yesterday's and old-vs-old never
    *     re-runs;
    *  2. CONTRACTS history clusters to super-nodes (their stored
    *     label) and propagates labels over the contracted merge graph,
    *     whose node count is bounded by increment size + touched
    *     clusters — never history size;
    *  3. relabels: history docs remap through their (possibly merged)
    *     stored rep, increment docs take their propagated label,
    *     untouched docs keep their own id.
    *
    * Merge == recompute by construction: contracting a connected
    * subgraph preserves component connectivity, stored labels are
    * component MINIMA of the history graph, and increment ids all
    * exceed history ids — so the contracted minimum equals the
    * full-graph minimum. The oracle is therefore the FULL-corpus
    * recompute, `dedup_clusters`'s recursive-CTE SQL verbatim, and
    * the driver hash-compares the two paths end to end.
    */
  def dedupClustersIncremental(t: Tables, splitId: Long = 400): DataFrame = {
    val (_, labelTable) = historyClusterState(t, splitId)
    val histLabels = t.spark.table(labelTable)
    val half = ccIncrementEdges(t, splitId)
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
    val merged = connectedComponents(edges).labels
    // contracted-node labels: bounded by increment + touched clusters
    // (metadata-scale next to the corpus), hence broadcastable
    val nodeLabels = merged
      .select(col("doc_id").as("node"), col("cluster_id").as("label"))
    val docs = t.documents.select(col("doc_id"))
    val hist = docs.filter(col("doc_id") < splitId)
      .join(histLabels.withColumnRenamed("cluster_id", "stored0"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("stored0"), col("doc_id")).as("stored"))
      .join(broadcast(nodeLabels), col("stored") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("stored")).as("cluster_id"))
    val inc = docs.filter(col("doc_id") >= splitId)
      .join(broadcast(nodeLabels.withColumnRenamed("node", "doc_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    hist.unionByName(inc)
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).cast("int").as("is_kept"))
  }

  /** D8 — `dedup_minhash_eval`: sketch-quality audit. For every
    * MinHash-LSH candidate pair, the Jaccard similarity the 16-hash
    * signature ESTIMATES (fraction of agreeing positions) next to the
    * EXACT shingle-set Jaccard, with the absolute error — the
    * "measure, don't guess" check you run before trusting a sketch
    * configuration on a 100 TB corpus, where the exact value is only
    * computable for the candidate set the sketch itself surfaces.
    *
    * Shape: ONE tokenize pass — the exploded shingle frame is
    * persisted and feeds (a) the signature aggregate, (b) per-doc set
    * sizes, (c) the pair intersections. Signatures persist once and
    * serve both the band self-join and the agreement count, so the
    * expensive 16-md5 aggregate runs exactly once. Intersections
    * join candidates by doc then by (doc, shingle) — keyed joins
    * bounded by candidate count × shingles/doc, never all-pairs.
    * Both divisions are exact-integer → double, bit-identical in any
    * IEEE engine, so no rounding is needed.
    */
  /** D13 — `dedup_containment`: asymmetric near-SUPERSET detection —
    * for candidate pairs, the shingle CONTAINMENT in each direction
    * (|A∩B|/|A| and |A∩B|/|B|), keeping pairs where either side is
    * mostly inside the other. Jaccard-based dedup structurally MISSES
    * these (a short doc quoted inside a long one has low Jaccard but
    * containment ≈ 1, and MinHash-LSH fires on Jaccard), so candidate
    * generation here is the inverted-index route instead: pairs
    * sharing ≥ `minShared` RARE shingles (document frequency ≤
    * `maxDf` — the df cap that keeps boilerplate shingles from
    * exploding the join, the standard trick at corpus scale). The
    * boilerplate/quotation screen an LLM dedup pipeline runs beside
    * the symmetric near-dup pass.
    *
    * Shape: one shingle scan feeds the df counts, the rare-shingle
    * candidate self-join (shingle-keyed, df-capped — never all-pairs)
    * and the exact intersections; containments are exact-integer
    * ratios divided once.
    */
  def dedupContainment(t: Tables, minShared: Int = 3, maxDf: Long = 50,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleSet(t).persist()
    sh.count()
    val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val rare = sh.join(dfq.filter(col("df") <= maxDf), "shingle")
    val cand = rare.as("a")
      .join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= minShared)
      .select(col("doc_id_1"), col("doc_id_2"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.as("sa"), col("doc_id_1") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_id_2") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(count(lit(1)).as("n_inter"))
    val c1 = col("n_inter") / col("n1")
    val c2 = col("n_inter") / col("n2")
    inter
      .join(sizes.withColumnRenamed("n_sh", "n1").as("z1"),
        col("doc_id_1") === col("z1.doc_id"))
      .join(sizes.withColumnRenamed("n_sh", "n2").as("z2"),
        col("doc_id_2") === col("z2.doc_id"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n_inter"),
        c1.as("containment_1"), c2.as("containment_2"))
      .filter(greatest(col("containment_1"), col("containment_2")) >= threshold)
  }

  def dedupMinhashEval(t: Tables): DataFrame = {
    val sh = shingleSet(t).persist()
    sh.count()
    val sig = minhashSignatures(sh).persist()
    sig.count()
    // the candidate set IS the staged production pair table (same
    // 4×4 band config) — no need to re-run the band self-join here
    val cand = minhashPairs(t)
    val agree = (0 until 16)
      .map(s => when(col(s"a.h$s") === col(s"b.h$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand
      .join(sig.as("a"), col("doc_id_1") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_id_2") === col("b.doc_id"))
      .select(col("doc_id_1"), col("doc_id_2"), agree.as("n_agree"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.as("sa"), col("doc_id_1") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_id_2") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(count(lit(1)).as("n_inter"))
    val trueJac = col("n_inter") / (col("n1") + col("n2") - col("n_inter"))
    est
      .join(inter, Seq("doc_id_1", "doc_id_2"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.withColumnRenamed("n_sh", "n1").as("z1"),
        col("doc_id_1") === col("z1.doc_id"))
      .join(sizes.withColumnRenamed("n_sh", "n2").as("z2"),
        col("doc_id_2") === col("z2.doc_id"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n_agree"),
        (col("n_agree") / lit(16.0)).as("est_jaccard"),
        trueJac.as("true_jaccard"),
        abs(col("n_agree") / lit(16.0) - trueJac).as("abs_err"))
  }

  /** D10 — `dedup_minhash_tuning`: the band-configuration sweep run
    * BEFORE committing an LSH layout at scale. For each (bands ×
    * rows-per-band) factorization of the 16-hash signature — (2×8)
    * strict, (4×4) production, (8×2) loose — the candidate pair count
    * and the mean signature-estimated Jaccard of those candidates:
    * more bands / shorter bands fire on lower similarity (more
    * candidates, lower mean), and this table is how the threshold is
    * picked empirically rather than from the (1/b)^(1/r) folklore
    * curve alone.
    *
    * Shape: ONE shingle scan and ONE signature aggregate serve all
    * three configs (both persisted); each config's bands are a cheap
    * projection of the cached signatures, its candidate join is keyed
    * by (band, bh), and its summary is a one-row fold. Work scales
    * with candidate counts per config, never corpus².
    */
  def dedupMinhashTuning(t: Tables): DataFrame = {
    val sh = shingleSet(t).persist()
    sh.count()
    val sig = minhashSignatures(sh).persist()
    sig.count()
    val agree = (0 until 16)
      .map(s => when(col(s"a.h$s") === col(s"b.h$s"), 1L).otherwise(0L))
      .reduce(_ + _)
    Seq((2, 8), (4, 4), (8, 2)).map { case (nb, r) =>
      val bandCols = (0 until nb).map { b =>
        struct(lit(b).as("band"),
          md5(concat_ws("|", (0 until r).map(i => col(s"h${r * b + i}")): _*)).as("bh"))
      }
      val bands = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
        .distinct()
      cand
        .join(sig.as("a"), col("doc_id_1") === col("a.doc_id"))
        .join(sig.as("b"), col("doc_id_2") === col("b.doc_id"))
        .select((agree / lit(16.0)).as("est"))
        .agg(count(lit(1)).as("n_pairs"),
          graft.functions.ExactAgg.exactMean(col("est"), 4).as("mean_est_jaccard"))
        .select(lit(nb).as("n_bands"), lit(r).as("rows_per_band"),
          col("n_pairs"), col("mean_est_jaccard"))
    }.reduce(_ unionByName _)
  }

  /** D9 — `corpus_dedup_weights`: soft-dedup training weights. Rather
    * than dropping duplicates outright, assign every document the
    * weight 1/|near-dup cluster| so each duplicated passage of content
    * contributes one document's worth of gradient in total — the
    * repetition-discounting alternative to hard removal. Reports the
    * exact-copy count (identical text) and the near-dup component size
    * from [[dedupClusters]]; singletons get weight 1.
    *
    * Shape: the exact count is a count-window keyed by the md5 digest
    * (32-byte shuffle key, never the text); the near count is a
    * count-window keyed by cluster label over the CC output. Two keyed
    * shuffles beyond the cluster computation itself, no driver-side
    * data.
    */
  def corpusDedupWeights(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(t)
    val exact = t.documents
      .select(col("doc_id"), md5(col("text")).as("eh"))
      .withColumn("exact_n", count(lit(1)).over(Window.partitionBy(col("eh"))))
    exact
      .join(clusters, "doc_id")
      .withColumn("near_n", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("exact_n"), col("near_n"),
        (lit(1.0) / col("near_n")).as("weight"))
  }

  /** D19 — `corpus_source_overlap`: the SOURCE-pair n-gram overlap
    * matrix — exact Jaccard between every two sources' distinct
    * 3-gram sets, the corpus-level contamination diagnostic that
    * tells a mixture designer which sources share content BEFORE
    * per-document dedup decides what to drop (dedup_cross_source
    * finds the duplicated documents; this measures the aggregate
    * overlap even when no single document crosses a dup threshold).
    *
    * Shape: distinct (source, shingle-hash) pairs — shuffles carry
    * 8-byte xxhash64 keys, never ~30-char shingle strings (same
    * collision argument as [[dedupNgramJaccard]]: the oracle
    * recomputes true string intersections; an in-corpus 64-bit
    * collision is ~2⁻⁵²) — then a hash-keyed self-join whose fan-out
    * per key is bounded by #sources (each source contributes a key at
    * most once after the distinct), and a #source²-row rollup.
    * Jaccard reports in truncating integer ppm: exact on both
    * engines. */
  def corpusSourceOverlap(t: Tables): DataFrame = {
    val sh = t.documents
      .repartition(t.spark.sparkContext.defaultParallelism)
      .select(col("source"),
        explode(array_distinct(TextAnalysis.ngrams(
          TextAnalysis.tokens(col("text")), 3))).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("h"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_1"),
        col("b.source").as("source_2"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("source").as("source_1"),
        col("ns").as("n_1"))), Seq("source_1"))
      .join(broadcast(sizes.select(col("source").as("source_2"),
        col("ns").as("n_2"))), Seq("source_2"))
      .select(col("source_1"), col("source_2"), col("n_1"), col("n_2"),
        col("common"),
        expr("common * 1000000 div (n_1 + n_2 - common)").as("jaccard_ppm"))
      .orderBy(col("source_1"), col("source_2"))
  }
}
