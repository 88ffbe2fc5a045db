package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ExactAgg
import graft.functions.VectorFunctions.{cosineSimilarity, dotProduct, quantizedCosine}

/** Similarity-search operators over the `embeddings` table
  * (SURVEY.md §2.4): exact brute-force cosine top-k as the baseline,
  * and a random-hyperplane LSH bucketed variant as the 100 TB path.
  */
object Similarity {

  /** Number of query vectors (lowest vec_ids) and neighbors per query. */
  val NumQueries = 10
  val TopK = 5

  private def withEmb(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** The non-query corpus slice every index trains on and scans. */
  private def corpusEmb(t: Tables): DataFrame =
    withEmb(t).filter(col("vec_id") >= NumQueries)

  /** S1 — exact cosine top-k per query vector.
    *
    * The (small) query set is broadcast against the corpus, so the scan
    * is map-only and embarrassingly parallel at any corpus size; the
    * per-query top-k is a rank over a (query-keyed) window on the
    * candidate scores. Ranking uses the ROUNDED score plus vec_id so
    * the ordering is bit-for-bit reproducible across engines.
    */
  def annBruteForceTopK(t: Tables): DataFrame = {
    // the embeddings are served THROUGH the gshard catalog table
    // (CTAS'd by `_build_shard_embed`): the flagship connector stores
    // the engine's own vector workload, and this query's UNCHANGED
    // oracle — raw parquet — hash-checks the vector roundtrip inside
    // a real ANN consumer, not just in a dedicated roundtrip query
    val e = graft.sources.SourceOps.shardEmbeddings(t)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NumQueries)
    val scored = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** F1 — `ann_topk_agg`: the brute-force exact top-k re-expressed
    * through the native bounded top-k AGGREGATE
    * ([[graft.functions.TopKByAgg]]) instead of a rank window.
    *
    * Same semantics and oracle as [[annBruteForceTopK]] — the point is
    * the PLAN: the rank-window form shuffles every (query, candidate)
    * score to the query's partition and sorts there (at 100 TB the
    * whole corpus × queries score set crosses the wire); the aggregate
    * form is partial-aggregating ObjectHashAggregate — each map task
    * keeps an O(k) heap per query and the exchange carries ≤ k pairs
    * per (task, query). Insertion order can't change the survivor set
    * (total order (score DESC, id ASC)), so results are identical —
    * proven by sharing the window form's oracle verbatim, and the plan
    * shape is pinned (partial ObjectHashAggregate before the
    * exchange, no Window operator).
    */
  def annTopKAgg(t: Tables): DataFrame = {
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NumQueries)
    corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKByAgg.topKBy(
        col("cos_sim"), col("vec_id"), TopK).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), col("col.id").as("vec_id"),
        col("col.score").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** S9 — `ann_quantized_topk`: exact top-k under the int8-QUANTIZED
    * cosine — the reduced-precision scoring pass of a production ANN
    * index (store int8, score int8, rerank survivors in full
    * precision if needed). Same broadcast + window shape as
    * [[annBruteForceTopK]]; scoring runs through the codegen
    * `quantized_cosine` kernel whose integer arithmetic is exact and
    * engine-portable, so even this approximate-precision path has an
    * exact DuckDB oracle. The +1e-9 nudge keeps the 4-dp rounding of
    * the int-ratio scores off half-way ties.
    */
  def annQuantizedTopK(t: Tables): DataFrame = {
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NumQueries)
    corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(quantizedCosine(col("q_emb"), col("emb")) + lit(1e-9), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S10 — `ann_refine_topk`: the two-stage retrieval every production
    * vector index runs — a cheap int8-quantized scoring pass shortlists
    * `shortlist` candidates per query, and ONLY those are re-scored in
    * full precision for the final top-k.
    *
    * Scale shape: pass 1 is the map-only broadcast scan of
    * [[annQuantizedTopK]] but its q_id-keyed shortlist shuffle carries
    * (q_id, vec_id, score) — never vectors (on a real index this pass
    * reads the 4×-smaller int8 columns, so it is also the
    * memory-bandwidth win). Pass 2 fetches the shortlisted full-precision
    * vectors on a second scan via a broadcast join of the tiny
    * (queries × shortlist) id set — exact rerank cost is independent of
    * corpus size. Both stages are deterministic, so the whole pipeline
    * has an exact DuckDB oracle.
    */
  def annRefineTopK(t: Tables, shortlist: Int = 20): DataFrame = {
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NumQueries)
    val short = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(quantizedCosine(col("q_emb"), col("emb")) + lit(1e-9), 4).as("q_sim"))
      .withColumn("qrnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("q_sim"), asc("vec_id"))))
      .filter(col("qrnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    corpus.join(broadcast(short), "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S13 — `ann_hamming_topk`: BINARY-sign quantization + Hamming
    * shortlist + exact rerank — the 64×-compression end of the
    * quantization spectrum ([[annQuantizedTopK]] is the 4× int8
    * point, the PQ family the 8-32× middle). Each 64-dim vector
    * collapses to TWO 32-bit sign words (bit d set iff emb[d] >= 0;
    * two words keep every shift in signed-64 range on both engines),
    * the scoring pass is `bit_count(xor)` over those words — integer,
    * exact, and the cheapest distance a vector index can compute (2
    * popcounts per candidate vs 64 multiply-adds) — and only the
    * `shortlist` Hamming-nearest per query are reranked in full
    * precision.
    *
    * Scale shape: signatures are map-only column arithmetic (16 bytes
    * per vector — a 100 TB float corpus signs down to ~400 GB, the
    * slice that actually scans per query); the shortlist shuffle
    * carries (q_id, vec_id, int) only; rerank joins fetch just
    * queries × shortlist full vectors by id — cost independent of
    * corpus size, the [[annRefineTopK]] discipline. Every stage is
    * integer or rounded-tie-broken, so the DuckDB oracle is exact.
    */
  def annHammingTopK(t: Tables, shortlist: Int = 50): DataFrame = {
    val e = withEmb(t)
    def signWord(lo: Int): Column = expr(
      s"aggregate(sequence($lo, ${lo + 31}), 0L, (acc, d) -> " +
      s"acc + if(element_at(emb, d + 1) >= cast(0.0 as double), " +
      s"shiftleft(1L, d - $lo), 0L))")
    val sig = e.select(col("vec_id"), col("emb"),
      signWord(0).as("sig_lo"), signWord(32).as("sig_hi"))
    val queries = sig.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("sig_lo").as("q_lo"),
        col("sig_hi").as("q_hi"))
    val qEmb = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = sig.filter(col("vec_id") >= NumQueries)
    val short = corpus.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        (expr("bit_count(sig_lo ^ q_lo)") + expr("bit_count(sig_hi ^ q_hi)"))
          .cast("int").as("hamming"))
      .withColumn("hrnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(asc("hamming"), asc("vec_id"))))
      .filter(col("hrnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    corpusEmb(t).join(broadcast(short), "vec_id")
      .join(broadcast(qEmb), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** Deterministic ±1 random-hyperplane weights: sign p,d is the parity
    * of the first md5 nibble of "p:d" (reproducible everywhere).
    */
  def hyperplane(p: Int, dims: Int): Seq[Double] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until dims).map { d =>
      val h = md.digest(s"$p:$d".getBytes(StandardCharsets.UTF_8))
      md.reset()
      if (((h(0) >> 4) & 1) == 1) 1.0 else -1.0
    }
  }

  /** S2 — LSH-bucketed approximate top-k (the scale path).
    *
    * Each vector gets an `nBits`-bit signature (sign of the dot product
    * against `nBits` fixed ±1 hyperplanes), computed as column
    * expressions over the array — map-only. Candidates are corpus
    * vectors sharing the query's bucket, so the join is keyed by bucket
    * id and never scans the full corpus per query; recall/cost is tuned
    * by `nBits` (fewer bits → bigger buckets → higher recall).
    */
  def annLshTopK(t: Tables, nBits: Int = 8, dims: Int = 64): DataFrame = {
    val e = withEmb(t)
    // each sign bit is one codegen'd dot_product against a literal
    // hyperplane — NOT an interpreted aggregate(zip_with(...)) lambda,
    // which re-evaluates per element (8 interpreted passes per row was
    // the round-2 hot-loop defect)
    def signature(emb: Column): Column =
      (0 until nBits).map { p =>
        when(dotProduct(emb, typedlit(hyperplane(p, dims))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)

    val bucketed = e.withColumn("bucket", signature(col("emb")))
    val queries = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("bucket"))
    val corpus = bucketed.filter(col("vec_id") >= NumQueries)
    corpus.join(broadcast(queries), Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S2b — `ann_lsh_multiprobe_topk`: multi-probe LSH (Lv et al.
    * 2007) — each query probes its own bucket PLUS the `nBits`
    * buckets at Hamming distance 1 (one hyperplane sign flipped),
    * recovering most of the recall lost to near-boundary vectors
    * without touching the index layout or adding tables.
    *
    * Cost model vs [[annLshTopK]]: candidate volume grows ×(nBits+1)
    * per query while the corpus side is untouched — the probe
    * expansion happens on the (tiny, broadcast) QUERY side as an
    * explode over `bucket XOR (1<<p)`, so the join stays keyed by
    * bucket id and map-side. Each (query, candidate) pair appears at
    * most once (probed buckets are distinct; a corpus vector lives in
    * exactly one). The recall gain over single-probe is measured in
    * spec against the brute-force truth. */
  def annLshMultiprobeTopK(t: Tables, nBits: Int = 8,
      dims: Int = 64): DataFrame = {
    val e = withEmb(t)
    def signature(emb: Column): Column =
      (0 until nBits).map { p =>
        when(dotProduct(emb, typedlit(hyperplane(p, dims))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)
    val bucketed = e.withColumn("bucket", signature(col("emb")))
    val probes = typedlit(0 +: (0 until nBits).map(p => 1 << p))
    val queries = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probes).as("flip"), col("bucket"))
      .select(col("q_id"), col("q_emb"),
        col("bucket").bitwiseXOR(col("flip")).as("bucket"))
    val corpus = bucketed.filter(col("vec_id") >= NumQueries)
    corpus.join(broadcast(queries), Seq("bucket"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S12 — `ann_range_search`: ALL neighbors within a similarity
    * RADIUS (cos ≥ τ) per query — the contract top-k cannot express
    * (dedup candidate generation, "everything this similar" audits:
    * the result size is data-driven, zero included). Exact: the tiny
    * query set broadcasts against the corpus, map-only, and every
    * candidate pays one codegen cosine + the threshold — no window,
    * no shuffle, no k. At 100 TB the same contract runs through the
    * IVF cells (probe then threshold) exactly as the top-k serving
    * path does; the exact form here is the truth its recall would be
    * measured against. */
  def annRangeSearch(t: Tables, tau: Double = 0.3): DataFrame = {
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    corpusEmb(t).join(broadcast(queries))
      .withColumn("cos_sim",
        round(cosineSimilarity(col("q_emb"), col("emb")), 4))
      .filter(col("cos_sim") >= tau)
      .select(col("q_id"), col("vec_id"), col("cos_sim"))
  }

  /** S4 — IVF(-Flat) approximate top-k: the other classic ANN scale
    * path, complementing the LSH variant.
    *
    * Coarse quantizer: `nCells` deterministic centroids (the first
    * `nCells` corpus vectors — in production the offline k-means
    * output; only the K centroid vectors ever reach the driver, a
    * bounded O(K·dims) collect). Each corpus vector is assigned
    * map-side to its best cell (argmax of K codegen cosines via a
    * lexicographic `greatest` over (score, cell) structs). Queries
    * probe their `nProbe` best cells; candidates are corpus vectors in
    * probed cells, so the join is keyed by cell id — the shuffle
    * carries cell-assigned rows, never an all-pairs shape — and only
    * candidates pay the exact ranking cosine. Recall/cost tunes with
    * nCells (bucket size) and nProbe, exactly like IVF indexes in
    * production ANN systems.
    */
  /** The first `nCells` corpus vectors as deterministic coarse
    * centroids (cell i ↔ i-th lowest corpus vec_id); a bounded
    * O(K·dims) driver collect — in production the offline k-means
    * output. `corpus` lets an incremental build seed from its HISTORY
    * slice only (the default is the whole corpus, where the first K
    * by vec_id are exactly NumQueries..NumQueries+K−1). */
  private def centroidSeq(t: Tables, nCells: Int): Seq[(Int, Seq[Double])] =
    centroidSeqOf(corpusEmb(t), nCells)

  private def centroidSeqOf(corpus: DataFrame, nCells: Int): Seq[(Int, Seq[Double])] =
    corpus.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id"), col("emb")).collect()
      .sortBy(_.getLong(0))
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](1) }.toSeq

  private def scoredCells(emb: Column, cents: Seq[(Int, Seq[Double])]) =
    cents.map { case (cid, v) =>
      struct(cosineSimilarity(emb, typedlit(v)).as("s"), lit(cid).as("c"))
    }

  /** Map-side argmax cell: lexicographic greatest on (score, cell). */
  private def cellOf(emb: Column, cents: Seq[(Int, Seq[Double])]): Column =
    greatest(scoredCells(emb, cents): _*).getField("c")

  def annIvfTopK(t: Tables, nCells: Int = 16, nProbe: Int = 4): DataFrame =
    annIvfWith(t, centroidSeq(t, nCells), nProbe)

  /** S7 — IVF top-k seeded by the CONVERGED k-means centroids instead
    * of the raw first-K vectors: the production IVF build order
    * (offline k-means → cell assignment → probe). Same candidate-join
    * shape as [[annIvfTopK]]; only the coarse quantizer improves —
    * cells tile the data's actual density, so probes capture more true
    * neighbors at equal nProbe (recall spec pins ≥ the raw-seed path).
    */
  def annIvfKmeansTopK(t: Tables, k: Int = 16, nIters: Int = 4,
      nProbe: Int = 4): DataFrame =
    annIvfWith(t, kmeansCentroids(t, k, nIters), nProbe)

  /** S8 — `ann_ivf_table`: the IVF index PERSISTED — the expensive
    * K-cosine cell-assignment pass is written ONCE as a cell-bucketed,
    * cell-sorted catalog table, and a query batch probes the stored
    * index: the probed-cell set is a bounded driver collect
    * (≤ queries × nProbe ints, same budget class as the centroid
    * seed), and the `isin` filter on the bucket column prunes the
    * unprobed buckets at scan time — the inverted-list read of an
    * on-disk IVF index, expressed through Spark bucketing. Amortizes
    * the assignment across query batches exactly as a production ANN
    * serving path does. Identical semantics (centroids, probe order,
    * ranking) to [[annIvfKmeansTopK]], so it shares that oracle
    * verbatim.
    */
  def annIvfTableTopK(t: Tables, k: Int = 16, nIters: Int = 4,
      nProbe: Int = 4, nBuckets: Int = 8): DataFrame = {
    import graft.sources.{Sources, SourceOps}
    val cents = kmeansCentroids(t, k, nIters)
    val e = withEmb(t)
    val table = s"graft_ivf_index_${SourceOps.runId}"
    val assigned = e.filter(col("vec_id") >= NumQueries)
      .withColumn("cell", cellOf(col("emb"), cents))
    Sources.writeBucketed(assigned, table, Seq("cell"), nBuckets,
      sortCols = Seq("cell"), path = Some(SourceOps.staging("ivf_index")))
    val index = t.spark.table(table)
    def probeCells(emb: Column): Column =
      transform(slice(reverse(array_sort(array(scoredCells(emb, cents): _*))), 1, nProbe),
        s => s.getField("c"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probeCells(col("emb"))).as("cell"))
    val probed = queries.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded: ≤ NumQueries × nProbe
    index.filter(col("cell").isin(probed: _*))
      .join(broadcast(queries), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** `ann_ivf_shard_topk` — the IVF index persisted IN THE ENGINE'S
    * OWN CONNECTOR: the cell assignment lands once as a gshard table
    * RANGE-CLUSTERED on the cell id (B49 vector columns store the
    * embeddings themselves), and a query batch's probed-cell `isin`
    * filter pushes into the manifest's zone maps — unprobed cells'
    * shard FILES are pruned at planning time (`files=k/n` in the scan
    * description, plan-pinned), the on-disk inverted-list read
    * expressed through the connector instead of Spark bucketing
    * ([[annIvfTableTopK]]'s sibling; identical semantics, so it
    * shares the same oracle verbatim). At 100 TB this is the serving
    * layout: embeddings live cell-clustered in engine storage and a
    * probe opens only the files its cells live in. */
  def annIvfShardTopK(t: Tables, k: Int = 16, nIters: Int = 4,
      nProbe: Int = 4): DataFrame = {
    import graft.sources.SourceOps
    val cents = kmeansCentroids(t, k, nIters)
    val e = withEmb(t)
    val dir = shardIvfDir(t, k, nIters)
    def probeCells(emb: Column): Column =
      transform(slice(reverse(array_sort(array(scoredCells(emb, cents): _*))), 1, nProbe),
        s => s.getField("c"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probeCells(col("emb"))).as("cell32"))
      // generators can't nest in expressions: cast in a second select
      .select(col("q_id"), col("q_emb"), col("cell32").cast("long").as("cell"))
    val probed = queries.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ NumQueries × nProbe
    t.spark.read.format("gshard").load(dir)
      .filter(col("cell").isin(probed: _*))
      .join(broadcast(queries), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** The staged cell-clustered gshard IVF index (`_build_shard_ivf`
    * makes the cost a visible bench entry). */
  private[graft] def shardIvfDir(t: Tables, k: Int = 16,
      nIters: Int = 4): String = {
    import graft.sources.SourceOps
    val dir = SourceOps.staging(
      s"ivf_gshard_${SourceOps.dirTag(t.dir)}_${k}_$nIters")
    graft.sources.shard.ShardFormat.ensureStaged(dir) {
      val cents = kmeansCentroids(t, k, nIters)
      val assigned = withEmb(t).filter(col("vec_id") >= NumQueries)
        .select(cellOf(col("emb"), cents).cast("long").as("cell"),
          col("vec_id"), col("emb"))
      graft.sources.shard.ShardFormat.write(assigned, dir, "cell", 8)
    }
    dir
  }

  private def annIvfWith(t: Tables, cents: Seq[(Int, Seq[Double])],
      nProbe: Int): DataFrame = {
    val e = withEmb(t)

    // top-nProbe cells for a query: sort the (score, cell) structs desc
    def probeCells(emb: Column): Column =
      transform(slice(reverse(array_sort(array(scoredCells(emb, cents): _*))), 1, nProbe),
        s => s.getField("c"))

    val corpus = e.filter(col("vec_id") >= NumQueries)
      .withColumn("cell", cellOf(col("emb"), cents))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probeCells(col("emb"))).as("cell"))
    corpus.join(broadcast(queries), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S5 — `embed_centroids`: the distributed k-means UPDATE step over
    * the IVF cells — assign every corpus vector to its best cell
    * (map-side codegen cosines, no shuffle of vectors beyond the one
    * keyed aggregation) and recompute per-cell mean vectors.
    *
    * The per-dimension mean runs as posexplode → partial-aggregating
    * groupBy (cell, dim) → re-assembly sorted by dim: the shuffle
    * carries (cell, dim, partial-sum) triples, so centroid recompute
    * at 100 TB is one map pass + one bounded agg regardless of corpus
    * size — the canonical scalable k-means iteration. Output is the
    * flat (cell, n_members, dimension, mean) form — relational and
    * engine-comparable; re-assembling array centroids is one
    * `sort_array(collect_list(...))` away. Means rounded (+1e-9 tie
    * nudge) for cross-engine compare.
    */
  /** S6 — symmetric int8 vector quantization: per-vector max-abs
    * scale, each component mapped to round(v/scale·127). The 4×
    * memory/bandwidth reduction step an ANN index applies before
    * storing vectors.
    *
    * Entirely MAP-ONLY — the scale comes from the row's own array
    * (`array_max(transform(abs))`: the lambda touches only its own
    * element, so it stays O(dims) per row), and the flatten is a
    * posexplode projection. Zero shuffles at any corpus size. The
    * +1e-9 perturbation keeps exact .5 quantization ties off the
    * cross-engine rounding-rule boundary; scale itself is emitted
    * unrounded (max|v| involves no arithmetic — both engines see
    * identical doubles).
    */
  def embedQuantize(t: Tables): DataFrame =
    withEmb(t)
      .withColumn("scale", array_max(transform(col("emb"), v => abs(v))))
      .select(col("vec_id"), col("scale"), posexplode(col("emb")))
      .select(col("vec_id"), col("pos"), col("scale"),
        round(col("col") / col("scale") * 127 + lit(1e-9), 0).cast("int").as("q"))

  /** S11 — `embed_project`: sign-random-projection dimensionality
    * reduction (Johnson–Lindenstrauss sketch), 64-d → `outDims`-d with
    * the deterministic ±1 [[hyperplane]] matrix and 1/√outDims scaling —
    * the cheap sketch computed before shipping vectors into ANN/dedup
    * stages whose cost is linear in dimensionality.
    *
    * Map-only and zero-shuffle: each output coordinate is one codegen
    * `dot_product` against a literal hyperplane (same anti-HOF shape as
    * [[annLshTopK]]'s signature — an interpreted aggregate(zip_with)
    * lambda re-evaluates per element). Emitted posexploded as
    * (vec_id, pos, proj) scalar rows like [[embedQuantize]]. The ±1
    * matrix and 1/√16 = 0.25 scale are exact in binary doubles, so the
    * 4-dp round (+1e-9 off the half-boundary) gives an exact DuckDB
    * oracle.
    */
  def embedProject(t: Tables, outDims: Int = 16, dims: Int = 64): DataFrame = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val proj = array((0 until outDims).map { p =>
      round(dotProduct(col("emb"), typedlit(hyperplane(p, dims))) * lit(scale)
        + lit(1e-9), 4)
    }: _*)
    withEmb(t)
      .select(col("vec_id"), posexplode(proj))
      .select(col("vec_id"), col("pos"), col("col").as("proj"))
  }

  def embedCentroids(t: Tables, nCells: Int = 16): DataFrame =
    embedCentroidsWith(t, centroidSeq(t, nCells))

  /** One distributed centroid-update step under the given centroids:
    * map-side cell assignment, per-dimension means via posexplode
    * partial agg, member counts joined back. Means use the
    * order-independent [[ExactAgg.exactMean]] (×10⁴ BIGINT
    * quantization + integer half-up) so Spark and the DuckDB oracle
    * produce bit-identical doubles regardless of partial-agg order —
    * `round(avg(double))` here was the round-7 `embed_kmeans` hash
    * failure (SURVEY §6). */
  private def embedCentroidsWith(t: Tables, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val assigned = withEmb(t).filter(col("vec_id") >= NumQueries)
      .withColumn("cell", cellOf(col("emb"), cents))
    val counts = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    assigned
      .select(col("cell"), posexplode(col("emb")))
      .groupBy(col("cell"), col("pos"))
      .agg(ExactAgg.exactMean(col("col"), 4).as("m"))
      .join(counts, "cell")
      .select(col("cell"), col("n_members"), col("pos"), col("m"))
  }

  /** Driver-iterated Lloyd k-means over the corpus, fully
    * deterministic so a chained-CTE DuckDB oracle replays it exactly:
    * raw first-K init ([[centroidSeq]]), cosine argmax assignment with
    * the (score desc, cell desc) tie-break, means computed by the
    * order-independent exact-integer pattern ([[ExactAgg.exactMean]],
    * 4 dp) after every update — exactness is what keeps the next
    * round's argmax identical cross-engine — and empty cells
    * carrying their previous centroid forward.
    *
    * Returns the centroids after `nIters - 1` updates (the caller's
    * distributed output step is iteration `nIters`). Each update is
    * one map pass + one (cell, dim)-keyed partial agg; only the
    * K×dims rounded means ever reach the driver (the same bounded
    * O(K·dims) collect as the seed). Early exit when an update is the
    * identity: every later iteration is then a fixed point, so the
    * replayed fixed-length oracle chain still matches.
    */
  // converged centroids are a model artifact like the PQ codebooks:
  // five operators (embed_kmeans, ann_ivf_kmeans/table, embed_outliers,
  // the PQ index build) share one training run instead of each
  // re-running the Lloyd loop
  private[operators] def kmeansCentroids(t: Tables, k: Int, nIters: Int): Seq[(Int, Seq[Double])] =
    graft.sources.SourceOps.staged(t, s"kmeans_${k}_$nIters") {
      kmeansCentroidsOf(corpusEmb(t), k, nIters)
    }

  private[operators] def kmeansCentroidsOf(trainSet: DataFrame, k: Int,
      nIters: Int,
      initCents: Option[Seq[(Int, Seq[Double])]] = None): Seq[(Int, Seq[Double])] = {
    // staging cache: the loop scans the corpus once per iteration
    val corpus = trainSet.persist()
    try {
      var cents = initCents.getOrElse(centroidSeqOf(corpus, k))
      var it = 1
      var converged = false
      while (it < nIters && !converged) {
        val rows = corpus
          .withColumn("cell", cellOf(col("emb"), cents))
          .select(col("cell"), posexplode(col("emb")))
          .groupBy(col("cell"), col("pos"))
          .agg(ExactAgg.exactMean(col("col"), 4).as("m"))
          .collect() // bounded: K×dims rounded means
        val upd: Map[Int, Seq[Double]] = rows
          .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
          .groupBy(_._1).map { case (c, xs) => c -> xs.sortBy(_._2).map(_._3).toSeq }
        val next = cents.map { case (c, v) => c -> upd.getOrElse(c, v) }
        converged = next == cents
        cents = next
        it += 1
      }
      cents
    } finally corpus.unpersist()
  }

  /** S8 — `embed_kmeans`: k-means run to (bounded) convergence — the
    * closed loop [[embedCentroids]] is one step of. Output is the
    * final distributed update under the converged centroids, flat
    * (cell, n_members, pos, m) like `embed_centroids`.
    */
  def embedKmeans(t: Tables, k: Int = 16, nIters: Int = 4): DataFrame =
    embedCentroidsWith(t, kmeansCentroids(t, k, nIters))

  /** `embed_drift_psi` — per-dimension Population Stability Index
    * between a reference and a current embedding snapshot (the
    * standard ML-ops input-drift monitor, PSI = Σ(p−q)·ln(p/q) over
    * value bins; > 0.1 flags investigation): WHICH dimensions moved,
    * the question `ann_index_drift` (answer-quality) and
    * `embed_dim_stats` (single-snapshot moments) don't answer.
    * Snapshots are the even/odd vec_id halves; the synthetic corpus
    * has no drift, so the current half deterministically INJECTS a
    * +0.5 shift on every 8th dimension (the `events_bot_detect`
    * ground-truth-injection discipline) — the spec asserts the
    * monitor recovers exactly those dimensions.
    *
    * Determinism — the `text_char_entropy` discipline applied to the
    * PSI sum: each bin's term (Laplace-smoothed (c+1)/(n+B) shares,
    * one ln on identical operands) quantizes to floor(term·10⁹+0.5)
    * int64 BEFORE the per-dimension sum, which is then an
    * order-immune integer reduction. Bins are fixed [−1, 1] tenths
    * with clamp — exact float compares on identical stored values.
    *
    * Shape: posexplode both halves map-side (shift applied inline) →
    * ONE (slice, dim, bin)-keyed partial-agg count → full-outer
    * (dim, bin) join of the two count sets (≤ dims×bins rows) →
    * quantized terms → dim-keyed integer sum. Slice totals are two
    * bounded scalars.
    */
  def embedDriftPsi(t: Tables, bins: Int = 10,
      threshold: Double = 0.1): DataFrame = {
    val e = corpusEmb(t)
    def slice(cur: Boolean) = e
      .filter(col("vec_id") % 2 === (if (cur) 1 else 0))
      .select(posexplode(col("emb")))
      .select(col("pos"),
        (col("col") + when(lit(cur) && col("pos") % 8 === 0, lit(0.5))
          .otherwise(lit(0.0))).as("v"))
      .select(col("pos"),
        least(greatest(floor((col("v") + lit(1.0)) * lit(bins / 2))
          .cast("int"), lit(0)), lit(bins - 1)).as("bin"))
      .groupBy(col("pos"), col("bin")).agg(count(lit(1)).as("c"))
    val ref = slice(cur = false)
    val cur = slice(cur = true)
    val nRef = e.filter(col("vec_id") % 2 === 0).count()
    val nCur = e.filter(col("vec_id") % 2 === 1).count()
    val joined = ref.select(col("pos"), col("bin"), col("c").as("cr"))
      .join(cur.select(col("pos"), col("bin"), col("c").as("cc")),
        Seq("pos", "bin"), "full_outer")
      .select(col("pos"), col("bin"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val pP = (col("cr") + lit(1)).cast("double") / lit((nRef + bins).toDouble)
    val pQ = (col("cc") + lit(1)).cast("double") / lit((nCur + bins).toDouble)
    val termQ = floor((pP - pQ) * log(pP / pQ) * lit(1e9) + lit(0.5))
      .cast("long")
    joined.select(col("pos"), termQ.as("q"))
      .groupBy(col("pos")).agg(sum(col("q")).as("s"))
      .select(col("pos"),
        round(col("s").cast("double") / lit(1e9) + lit(1e-9), 6).as("psi"),
        (col("s") > (threshold * 1e9).toLong).as("drifted"))
  }

  /** `embed_semdedup_incremental` — SemDeDup at INGEST time, the
    * stored-state discipline (E88/E108) applied to semantic dedup:
    * cluster models train on the HISTORY slice only and freeze
    * (vec_id % 5 ≠ 0 — the `ann_index_incremental` split), arriving
    * vectors assign map-side against the frozen centroids and
    * compare ONLY against their cell's history members plus
    * earlier-id increment mates — history is NEVER self-compared, so
    * per-batch cost scales with the increment × touched cells, not
    * the corpus. History members precede every arrival regardless of
    * id (keep-first favors the stored corpus); within the increment,
    * smaller id wins.
    *
    * Same within-cell discipline, rounding and threshold as
    * [[embedSemdedup]]; the oracle replays the HISTORY-trained Lloyd
    * chain, full-corpus assignment, and the asymmetric partner rule.
    */
  def embedSemdedupIncremental(t: Tables, k: Int = 16, nIters: Int = 4,
      tau: Double = 0.4): DataFrame = {
    val cents = graft.sources.SourceOps.staged(t,
        s"semdedup_hist_${k}_$nIters") {
      kmeansCentroidsOf(corpusEmb(t).filter(col("vec_id") % 5 =!= 0), k, nIters)
    }
    val assigned = corpusEmb(t)
      .withColumn("cell", cellOf(col("emb"), cents))
    val inc = assigned.filter(col("vec_id") % 5 === 0)
    inc.as("b").join(assigned.as("a"),
        col("a.cell") === col("b.cell") &&
          (col("a.vec_id") % 5 =!= 0 || col("a.vec_id") < col("b.vec_id")))
      .select(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"),
        col("a.vec_id").as("dup_of"),
        round(cosineSimilarity(col("a.emb"), col("b.emb")), 4).as("cos"))
      .filter(col("cos") >= lit(tau))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(col("dup_of")).as("dup_of"), max(col("cos")).as("max_cos"))
  }

  /** `embed_semdedup` — SEMANTIC deduplication by cluster-scoped
    * cosine pruning (public Abbas et al. 2023, SemDeDup): assign
    * every corpus vector to its converged-k-means cell, compare pairs
    * ONLY within a cell, and remove every vector that has a lower-id
    * cell-mate with cosine ≥ τ — keep-first semantics, reported with
    * the minimum such keeper as evidence. The embedding-space
    * complement of `dedup_embedding`: LSH candidates catch near-
    * EXACT duplicates; SemDeDup prunes semantic redundancy around
    * cluster centers, which is how web-scale image/text corpora are
    * actually thinned (the paper's LAION pipeline).
    *
    * Cross-cell near-duplicates are invisible BY DESIGN — that is
    * SemDeDup's documented recall trade (the cell count tunes it),
    * not a blocking hole; the spec states it explicitly.
    *
    * Shape: map-side argmax cell assignment (broadcast K×dims
    * centroids — the shared [[kmeansCentroids]] model artifact, built
    * once per session), then a cell-keyed equi-self-join — candidate
    * volume is Σ|cell|², bounded by the clustering, never global
    * all-pairs (at 100 TB, oversized cells sub-shard or cap exactly
    * like the cooccur fan-out guard). Scores ride the fused codegen
    * cosine kernel, thresholded on the 4-dp ROUNDED value so the
    * comparison replays bit-identically in DuckDB.
    */
  def embedSemdedup(t: Tables, k: Int = 16, nIters: Int = 4,
      tau: Double = 0.4): DataFrame = {
    val cents = kmeansCentroids(t, k, nIters)
    val assigned = corpusEmb(t)
      .withColumn("cell", cellOf(col("emb"), cents))
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("b.cell").as("cell"),
        col("a.vec_id").as("dup_of"),
        round(cosineSimilarity(col("a.emb"), col("b.emb")), 4).as("cos"))
      .filter(col("cos") >= lit(tau))
    pairs.groupBy(col("vec_id"), col("cell"))
      .agg(min(col("dup_of")).as("dup_of"), max(col("cos")).as("max_cos"))
      .select(col("vec_id"), col("cell"), col("dup_of"), col("max_cos"))
  }

  /** S12 — `ann_hard_negatives`: hard-negative mining for contrastive
    * embedding training — per query, the top-k most similar corpus
    * vectors whose LABEL differs from the query's. High-similarity
    * cross-label neighbors are exactly the negatives a contrastive
    * loss learns most from (easy negatives are already far away);
    * mining them is a standing batch job in any embedding-training
    * pipeline.
    *
    * Runs the [[annRefineTopK]] two-stage shape with the label
    * exclusion applied BEFORE shortlisting: the broadcast query scan
    * filters `label != q_label` map-side, the int8-quantized pass
    * shortlists `shortlist` candidates per query (the shuffle carries
    * (q_id, vec_id, score) — never vectors), and only the shortlist is
    * re-scored in full precision on a second scan. All stages are
    * deterministic, so the mined negatives have an exact DuckDB
    * oracle.
    */
  def annHardNegatives(t: Tables, shortlist: Int = 20): DataFrame = {
    val e = t.embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"))
    val corpus = e.filter(col("vec_id") >= NumQueries)
    val short = corpus
      .join(broadcast(queries), col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        round(quantizedCosine(col("q_emb"), col("emb")) + lit(1e-9), 4).as("q_sim"))
      .withColumn("qrnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("q_sim"), asc("vec_id"))))
      .filter(col("qrnk") <= shortlist)
      .select(col("q_id"), col("q_label"), col("vec_id"))
    corpus.select(col("vec_id"), col("label").as("neg_label"), col("emb"))
      .join(broadcast(short), "vec_id")
      .join(broadcast(queries.drop("q_label")), "q_id")
      .select(col("q_id"), col("q_label"), col("vec_id"), col("neg_label"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S13 — `embed_dim_stats`: per-dimension health profile of the
    * embedding corpus — count, mean, population stddev, min, max for
    * every coordinate. The observability pass an embedding pipeline
    * runs before indexing: dead dimensions (std ≈ 0), mean drift after
    * a model swap, and range blow-ups (bad normalization) all show up
    * here, the vector-column analogue of `q_data_quality`.
    *
    * Shape: posexplode → ONE (pos)-keyed partial-aggregating groupBy —
    * the shuffle carries `dims` keys of partial sums regardless of
    * corpus size, so the profile costs one map pass at 100 TB. Mean
    * and std run through [[ExactAgg]]'s order-independent integer
    * moments (SURVEY §6 rounding rule); min/max involve no arithmetic
    * (both engines see the identical widened doubles) and are
    * emitted raw.
    */
  def embedDimStats(t: Tables): DataFrame =
    withEmb(t)
      .select(posexplode(col("emb")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_vals"),
        ExactAgg.exactMean(col("col"), 4).as("mean_v"),
        ExactAgg.exactStd(col("col"), 4).as("std_v"),
        min(col("col")).as("min_v"),
        max(col("col")).as("max_v"))

  /** `embed_isotropy` — one-row isotropy diagnostics of the embedding
    * space: mean squared norm, squared norm of the centroid, and
    * their ratio (anisotropy ∈ [0,1] — 0 when directions cancel,
    * →1 as the cloud collapses onto one ray). ||µ||²/E||x||² is the
    * standard "rogue dimension / anisotropic cone" screen (the
    * Ethayarajh 2019 / Mu & Viswanath 2018 readout): high anisotropy
    * means cosine scores are dominated by a shared offset and ANN
    * recall degrades — the one-number justification for running
    * `embed_whiten` or `embed_pca_*` before indexing. Complements
    * `embed_dim_stats` (per-dim marginals can look healthy while the
    * MEAN VECTOR is far from the origin — this readout is exactly
    * that cross-dim aggregate).
    *
    * §6 discipline: elements quantize to round(x·10⁴) int64 FIRST
    * (one identical widen+mul+round per element both engines), then
    * every sum is an order-immune integer reduction — per-row Σq²
    * int64, per-dim sums S_d int64, Σ S_d² in DECIMAL(38,0)/HUGEINT
    * (n·|x|·10⁴ squared per dim exceeds int64 at ~10⁹ rows — stated,
    * not discovered). Three final §6 ratios, rounded 6 dp.
    *
    * Shape: one map pass computes q and Σq² per row; the per-dim
    * sums are ONE (pos)-keyed partial agg (64 keys on the exchange at
    * any corpus size); the rest is one-row crossJoins. */
  def embedIsotropy(t: Tables): DataFrame = {
    val q = withEmb(t).select(
      transform(col("emb"), x => round(x * 10000).cast("long")).as("qe"))
    val rows = q.select(col("qe"),
      aggregate(col("qe"), lit(0L), (a, x) => a + x * x).as("row_q2"))
    val dimSums = rows.select(posexplode(col("qe")))
      .groupBy(col("pos")).agg(sum(col("col")).as("s"))
    val num = dimSums.agg(
      sum(col("s").cast("decimal(38,0)") * col("s")).as("ss"),
      count(lit(1)).as("dims"))
    val den = rows.agg(count(lit(1)).as("n"), sum(col("row_q2")).as("sq2"))
    den.crossJoin(broadcast(num))
      .select(col("n").as("n_vecs"), col("dims").cast("int").as("dims"),
        round(col("sq2").cast("double") /
          (col("n") * lit(100000000L)).cast("double"), 6).as("mean_norm2"),
        round(col("ss").cast("double") /
          ((col("n") * col("n")).cast("double") * lit(1e8)), 6).as("centroid_norm2"),
        round(col("ss").cast("double") /
          (col("n").cast("double") * col("sq2").cast("double")), 6).as("anisotropy"))
  }

  /** `embed_pca_power` — top principal component of the embedding
    * cloud: distributed mean-centered covariance, then power iteration
    * to the dominant eigenvector (the variance direction whitening,
    * drift monitoring and anisotropy diagnostics read). Third member
    * of the iterate-and-replay family (CC, Lloyd, Markov) — same
    * contract: bounded driver state, per-step rounding, a chained-CTE
    * DuckDB oracle replaying every iteration bit-for-bit.
    *
    * Shape: means are one dims-keyed aggregate (rounded 4 dp, the
    * bounded O(dims) collect of `embed_dim_stats`); the covariance is
    * computed MAP-SIDE as each row's centered outer product (dims²
    * fan-out per row — bounded by the constant 64², with partial agg
    * before the (i,j)-keyed shuffle; at much larger dims this becomes
    * a block-matrix `mapPartitions` product instead, noted). The 64²
    * rounded matrix collects (bounded), and the 8 power steps run on
    * the driver over a 64-vector — normalizing and rounding to 6 dp
    * each step so both engines hold identical vectors throughout.
    */
  def embedPcaPower(t: Tables, dims: Int = 64, nIters: Int = 8): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    covMatrix(t, dims) match {
      // empty slice: no covariance → the power iterate is undefined
      // (u = 0, ‖u‖ = 0 would NaN); come back empty like the oracle
      case None => Seq.empty[(Int, Double, Double)]
        .toDF("pos", "loading", "eigenvalue")
      case Some((_, cov)) =>
        val (v, lambda) = powerIterate(cov, dims, nIters)
        v.zipWithIndex.map { case (l, p) => (p, l, lambda) }.toSeq
          .toDF("pos", "loading", "eigenvalue")
    }
  }

  /** `embed_pca_topk` — the top `nComponents` principal components by
    * power iteration WITH PER-STEP GRAM-SCHMIDT projection against
    * the already-found components (orthogonal iteration, one vector
    * at a time): every multiply step subtracts each prior component's
    * projection before normalizing, so component c converges to the
    * dominant direction of the orthogonal complement — orthogonal BY
    * CONSTRUCTION even when the spectrum is nearly flat (this corpus:
    * λ₂/λ₁ ≈ 0.99, where plain Hotelling deflation of unconverged
    * vectors never separates the components). Embedding QC reads
    * these directly: whitening wants the top-k basis, dead/duplicated
    * subspace detection compares trailing eigenvalues, and anisotropy
    * (how fast λ decays) is the standard collapse diagnostic.
    *
    * Scale shape is unchanged from the single-component operator: ONE
    * distributed covariance pass (dims²-bounded collect), then all
    * iteration arithmetic on the driver's 64² copy — per component
    * O(dims²) driver flops, zero extra cluster passes. The DuckDB
    * oracle replays every power step (projection dots included) and
    * Rayleigh quotient as chained CTEs, bit-for-bit.
    */
  def embedPcaTopK(t: Tables, dims: Int = 64, nIters: Int = 8,
      nComponents: Int = 3): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    covMatrix(t, dims) match {
      case None => Seq.empty[(Int, Int, Double, Double)]
        .toDF("component", "pos", "loading", "eigenvalue")
      case Some((_, cov)) =>
        val out = pcaBasis(cov, dims, nIters, nComponents).zipWithIndex.flatMap {
          case ((v, lambda), idx) =>
            v.zipWithIndex.map { case (l, p) => (idx + 1, p, l, lambda) }
        }
        out.toDF("component", "pos", "loading", "eigenvalue")
    }
  }

  /** The top `nComponents` (vector, eigenvalue) pairs by the
    * orthogonal power iteration of [[embedPcaTopK]]. */
  private def pcaBasis(cov: Map[(Int, Int), Double], dims: Int,
      nIters: Int, nComponents: Int): Seq[(Array[Double], Double)] = {
    val out = Seq.newBuilder[(Array[Double], Double)]
    var priors = Seq.empty[Array[Double]]
    for (_ <- 1 to nComponents) {
      val (v, lambda) = powerIterate(cov, dims, nIters, priors)
      out += ((v, lambda))
      priors = priors :+ v
    }
    out.result()
  }

  /** `embed_whiten` — PCA whitening of the embedding cloud: every
    * vector projected onto the top-k orthogonal components
    * ([[embedPcaTopK]]'s basis) with each coordinate scaled by
    * 1/√λ — the decorrelate-and-equalize transform embedding QC
    * applies before similarity calibration, and the consumer the
    * top-k basis exists FOR. Output is flat (vec_id, component,
    * coord).
    *
    * Scale shape: training is the one dims²-bounded covariance
    * collect + driver iteration; the projection itself is MAP-ONLY —
    * each coordinate is a 64-term (x−μ)·v fold against literal
    * means/loadings, a per-row scalar chain with no inter-row
    * reduction, so it is bit-identical cross-engine (the oracle
    * replays the identical left-associated term order) and costs one
    * codegen pass at any corpus size.
    */
  def embedWhiten(t: Tables, dims: Int = 64, nIters: Int = 8,
      nComponents: Int = 3): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    covMatrix(t, dims) match {
      case None => Seq.empty[(Long, Int, Double)]
        .toDF("vec_id", "component", "coord")
      case Some((means, cov)) =>
        val basis = pcaBasis(cov, dims, nIters, nComponents)
        // a degenerate spectrum (zero-variance corpus, rank < k —
        // powerIterate signals the null space with λ = 0) cannot be
        // whitened: degrade to the empty frame like the covMatrix
        // None branch, never throw on data shape
        if (basis.exists { case (_, lambda) =>
            !java.lang.Double.isFinite(lambda) || lambda <= 0 }) {
          Seq.empty[(Long, Int, Double)].toDF("vec_id", "component", "coord")
        } else {
          val coordCols = basis.map { case (v, lambda) =>
            val terms = (0 until dims).map(i =>
              (element_at(col("emb"), i + 1) - lit(means.getOrElse(i, 0.0))) * lit(v(i)))
              .reduce(_ + _)
            round(terms / lit(math.sqrt(lambda)) + lit(1e-9), 4)
          }
          withEmb(t)
            .select(col("vec_id"), posexplode(array(coordCols: _*)))
            .select(col("vec_id"), (col("pos") + 1).as("component"),
              col("col").as("coord"))
        }
    }
  }

  /** The distributed mean-centered covariance collect shared by the
    * PCA operators: map-side centered outer products (dims² fan-out
    * per row, partial-agg before the (i,j) shuffle), 6-dp
    * exact-integer means; returns (per-dim means, covariance), None
    * on an empty slice. */
  // the covariance is likewise trained once: embed_pca_power /
  // embed_pca_topk / embed_whiten all read the same matrix, and the
  // dims² collect is their dominant distributed cost — model training
  // is a scheduled job, so `_build_pca_cov` times it, not the queries
  private[graft] def covMatrix(t: Tables, dims: Int)
      : Option[(Map[Int, Double], Map[(Int, Int), Double])] =
    graft.sources.SourceOps.staged(t, s"pca_cov_$dims")(covMatrixOf(t, dims))

  private def covMatrixOf(t: Tables, dims: Int)
      : Option[(Map[Int, Double], Map[(Int, Int), Double])] = {
    val corpus = withEmb(t)
    val means = corpus.select(posexplode(col("emb")))
      .groupBy(col("pos")).agg(ExactAgg.exactMean(col("col"), 4).as("mv"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    if (means.isEmpty) return None
    val mLit = typedlit((0 until dims).map(i => means.getOrElse(i, 0.0)))
    val centered = corpus.select(
      transform(col("emb"), (x, i) => x - element_at(mLit, i + 1)).as("ce"))
    // the matrix is symmetric and IEEE multiply is commutative, so
    // the (j, i) cell's per-row quantized product is bit-identical to
    // (i, j)'s: emit only the upper triangle (i ≤ j) — half the
    // explode fan-out and half the partial-agg rows — and mirror the
    // collected means driver-side (§2.3: shuffle fewer bytes)
    val cells = centered
      .select(explode(flatten(transform(col("ce"), (xi, i) =>
        transform(slice(col("ce"), i + 1, lit(dims) - i), (xj, jj) =>
          struct(i.as("i"), (i + jj).as("j"), (xi * xj).as("p")))))).as("s"))
      .select(col("s.i").as("i"), col("s.j").as("j"), col("s.p").as("p"))
    val upper = cells.groupBy(col("i"), col("j"))
      .agg(ExactAgg.exactMean(col("p"), 6).as("cv"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    Some((means, upper.flatMap { case ((i, j), v) =>
      if (i == j) Seq((i, j) -> v) else Seq((i, j) -> v, (j, i) -> v)
    }.toMap))
  }

  private def rnd6(x: Double): Double =
    java.math.BigDecimal.valueOf(x + 1e-9)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Driver power iteration to the dominant eigenvector of the
    * orthogonal complement of `priors`: `nIters` multiply → project
    * (subtract each prior's dot, all dots taken against the raw
    * multiply output, subtractions left-associated — the convention
    * the oracle replays) → normalize → round(6 dp) steps from the
    * uniform unit vector, then the 6-dp Rayleigh quotient on the
    * ORIGINAL matrix. */
  private def powerIterate(cov: Map[(Int, Int), Double], dims: Int,
      nIters: Int, priors: Seq[Array[Double]] = Nil): (Array[Double], Double) = {
    var v = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    var it = 0
    var degenerate = false
    while (it < nIters && !degenerate) {
      val u = Array.tabulate(dims)(i =>
        (0 until dims).map(j => cov.getOrElse((i, j), 0.0) * v(j)).sum)
      val dots = priors.map(w => (0 until dims).map(i => u(i) * w(i)).sum)
      val g = Array.tabulate(dims)(i =>
        priors.indices.foldLeft(u(i))((acc, p) => acc - dots(p) * priors(p)(i)))
      val nm = math.sqrt(g.map(x => x * x).sum)
      // degenerate residual (all-constant corpus, or rank < #priors):
      // the next quotient would be NaN and rnd6(NaN) throws — signal
      // the null space with λ = 0 instead so callers degrade cleanly
      if (!java.lang.Double.isFinite(nm) || nm <= 0.0) degenerate = true
      else v = g.map(x => rnd6(x / nm))
      it += 1
    }
    if (degenerate) (v, 0.0)
    else {
      val lambda = rnd6(
        (0 until dims).flatMap(i => (0 until dims).map(j =>
          v(i) * cov.getOrElse((i, j), 0.0) * v(j))).sum)
      (v, lambda)
    }
  }

  /** `ann_recall_eval` — index-quality eval: per-query recall@k of the
    * k-means-seeded IVF index against the exact brute-force top-k.
    * The ANN counterpart of `dedup_minhash_eval`: before an
    * approximate index serves a 100 TB retrieval path, its recall is
    * MEASURED on a query sample, not assumed from parameters. nProbe /
    * nCells tuning reads directly off this table.
    *
    * Shape: both top-k frames are (queries × k) rows — metadata-scale
    * after their own bounded computations; the overlap join, per-query
    * counts and the recall division all run over that tiny frame. The
    * brute-force frame persists so its scoring pass runs once for both
    * its uses (denominator and overlap).
    */
  /** `embed_outliers` — embedding QC by cluster geometry: every corpus
    * vector's cosine similarity to its ASSIGNED converged-k-means
    * centroid, z-scored within the cell; vectors `zThreshold` standard
    * deviations BELOW their own cell's mean are flagged. Corrupt
    * encoder outputs, mis-embedded rows and modality mix-ups all land
    * far from every centroid — this is the screen that catches them
    * before they poison training or retrieval.
    *
    * Shape: assignment is the same map-side argmax over K literal
    * centroids as the IVF build (zero shuffle); cell stats are
    * windows PARTITIONED BY cell over the (vec_id, cell, sim)
    * projection — one keyed shuffle of metadata-width rows, cost
    * independent of vector dimensionality past the map stage.
    */
  def embedOutliers(t: Tables, k: Int = 16, nIters: Int = 4,
      zThreshold: Double = 1.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = kmeansCentroids(t, k, nIters)
    val best = greatest(scoredCells(col("emb"), cents): _*)
    val w = Window.partitionBy(col("cell"))
    withEmb(t).filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), best.getField("c").as("cell"),
        round(best.getField("s"), 4).as("sim"))
      .withColumn("mu", avg(col("sim")).over(w))
      .withColumn("sigma", stddev_pop(col("sim")).over(w))
      .filter(col("sigma") > 0 &&
        (col("sim") - col("mu")) / col("sigma") <= -zThreshold)
      .select(col("vec_id"), col("cell"), col("sim"),
        round((col("sim") - col("mu")) / col("sigma") + lit(1e-9), 4).as("z_score"))
  }

  /** S15 — `ann_pq_topk`: product-quantization ANN — the third
    * production index family after LSH and IVF. The vector space
    * splits into `m` subspaces of dims/m coordinates; each subspace
    * gets a K-entry codebook TRAINED by per-subspace Lloyd updates
    * ([[pqCodebooks]] — deterministic first-K init, exact-mean
    * updates), and every corpus vector is ENCODED as m small codes —
    * 8 bytes instead of 256 for a 64-d float vector, the 32×
    * compression that lets a 100 TB corpus's index live in RAM.
    *
    * Scoring is ADC (asymmetric distance computation): each query
    * precomputes an m×K table of subspace L2² distances to the
    * codebook entries (map-side, broadcast with the query), and a
    * corpus candidate's approximate distance is m table LOOKUPS — no
    * float math against the corpus vectors at all. Encode is map-only
    * over the corpus; the scan never shuffles. Sub-distances stay RAW
    * doubles: the L2² folds run in a fixed left-associative order
    * over identical inputs on both engines, so codes and lookup
    * tables are bit-identical without any per-distance rounding
    * (which cost ~128 BigDecimal round() calls per row); only the
    * final output rounds (4 dp, +1e-9, (dist, vec_id) tie-break).
    */
  /** Per-subspace PQ codebooks TRAINED by `nIters − 1` exact-mean
    * Lloyd updates over the corpus sub-vectors (init: the first-K
    * corpus sub-vectors, the shared seed rule; L2² argmin with the
    * (d asc, cid asc) tie-break; empty cells carry forward;
    * [[graft.functions.ExactAgg.exactMean]] 4-dp updates). Untrained
    * first-K codebooks left ~14% relative ADC error on this corpus —
    * useless top-5 recall; training is what real PQ builds do. All m
    * subspaces train in ONE pass per iteration (explode to
    * (subspace, code, sub-vector), one keyed partial agg); only the
    * m×K×subDims rounded means reach the driver — the same bounded
    * budget as [[kmeansCentroids]], and the same chained-CTE oracle
    * replay contract.
    */
  private[operators] def pqCodebooks(t: Tables, m: Int, nCents: Int,
      subDims: Int, nIters: Int): Seq[Seq[(Int, Seq[Double])]] =
    pqCodebooksOf(corpusEmb(t), m, nCents, subDims, nIters)

  private[operators] def pqCodebooksOf(trainSet: DataFrame, m: Int, nCents: Int,
      subDims: Int, nIters: Int,
      initCents: Option[Seq[(Int, Seq[Double])]] = None): Seq[Seq[(Int, Seq[Double])]] = {
    import graft.functions.VectorFunctions.l2SqDistance
    val corpus = trainSet
      .select(col("vec_id") +:
        (0 until m).map(j => slice(col("emb"), j * subDims + 1, subDims).as(s"sub$j")): _*)
      .persist()
    try {
      var books: Seq[Seq[(Int, Seq[Double])]] = {
        // init = the deterministic first-K seed; callers that already
        // collected it (the index builds run kmeans over the same
        // trainSet first) pass it in and skip the duplicate job
        val cs = initCents.getOrElse(centroidSeqOf(trainSet, nCents))
        (0 until m).map(j => cs.map { case (cid, cv) =>
          cid -> cv.slice(j * subDims, (j + 1) * subDims) })
      }
      var it = 1
      while (it < nIters) {
        def code(j: Int): Column =
          least(books(j).map { case (cid, cv) =>
            struct(l2SqDistance(col(s"sub$j"), typedlit(cv)).as("d"), lit(cid).as("c"))
          }: _*).getField("c")
        val rows = corpus
          .select(explode(array((0 until m).map(j =>
            struct(lit(j).as("j"), code(j).as("c"), col(s"sub$j").as("sub"))): _*)).as("s"))
          .select(col("s.j").as("j"), col("s.c").as("c"), posexplode(col("s.sub")))
          .groupBy(col("j"), col("c"), col("pos"))
          .agg(ExactAgg.exactMean(col("col"), 4).as("m"))
          .collect() // bounded: m×K×subDims rounded means
        val upd = rows.map(r =>
          ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
        books = (0 until m).map(j => books(j).map { case (cid, cv) =>
          cid -> cv.indices.map(p => upd.getOrElse((j, cid, p), cv(p))).toSeq
        })
        it += 1
      }
      books
    } finally { corpus.unpersist(); () }
  }

  /** PQ / IVF-PQ index geometry shared by every PQ-family operator
    * (and replayed verbatim by their DuckDB oracles). */
  val PqM = 8
  val PqCells = 16
  val PqDims = 64
  private val PqSubDims = PqDims / PqM

  /** Driver handle to the STORED PQ index: the trained per-subspace
    * codebooks and converged coarse k-means centroids — read back
    * from their catalog tables, so serving provably runs off the
    * persisted artifacts — plus the name of the cell-bucketed code
    * table. Both model tables are O(K·dims) tiny; the code table is
    * the N×(m+1)-codes artifact. */
  private[graft] final case class PqIndexHandle(
      books: Seq[Seq[(Int, Seq[Double])]],
      cents: Seq[(Int, Seq[Double])],
      codesTable: String)

  /** Build-once / serve-many PQ index (the `ann_ivf_table` pattern,
    * upgraded to the full FAISS-style artifact): converged-k-means
    * coarse centroids ([[kmeansCentroidsOf]]) and trained per-subspace
    * codebooks ([[pqCodebooksOf]]) are written as tiny catalog tables,
    * the corpus is encoded ONCE to (vec_id, cell, c0..c{m−1}) — 32×
    * compression — and written as a cell-BUCKETED, cell-sorted
    * external table, and every serving query reads the stored tables
    * (the handle's codebooks/centroids are the read-back rows, not
    * the training run's in-memory state). At 100 TB this is the only
    * viable lifecycle: train/encode is a scheduled build job, queries
    * pay lookups only — and within one session the three PQ serving
    * queries here share one build the same way.
    */
  private[graft] def pqIndex(t: Tables): PqIndexHandle =
    graft.sources.SourceOps.staged(t, "pq_index")(buildPqIndex(t))

  /** Encode a corpus slice against FROZEN centroids + codebooks:
    * map-only (vec_id, cell, c0..c{m−1}) — the per-row work of both
    * the full build and an incremental append. */
  private[graft] def pqEncode(df: DataFrame, cents: Seq[(Int, Seq[Double])],
      books: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    def codeOf(sub: Column, j: Int): Column =
      least(books(j).map { case (cid, cv) =>
        struct(l2SqDistance(sub, typedlit(cv)).as("d"), lit(cid).as("c"))
      }: _*).getField("c")
    val cellCol = least(cents.map { case (cid, cv) =>
      struct(l2SqDistance(col("emb"), typedlit(cv)).as("d"), lit(cid).as("c"))
    }: _*).getField("c")
    df.select(col("vec_id") +: cellCol.as("cell") +:
        (0 until PqM).map(j =>
          slice(col("emb"), j * PqSubDims + 1, PqSubDims).as(s"sub$j")): _*)
      .select(col("vec_id") +: col("cell") +:
        (0 until PqM).map(j => codeOf(col(s"sub$j"), j).as(s"c$j")): _*)
  }

  private def buildPqIndex(t: Tables): PqIndexHandle = {
    import graft.sources.{SourceOps, Sources}
    val sess = t.spark
    import sess.implicits._
    val dirTag = graft.sources.SourceOps.dirTag(t.dir)
    val suffix = s"${SourceOps.runId}_$dirTag"
    val centsTrained = kmeansCentroids(t, PqCells, nIters = 4)
    val booksTrained = pqCodebooks(t, PqM, PqCells, PqSubDims, nIters = 3)
    // model tables: flat (subspace, cid, pos, v) / (cell, pos, v)
    val booksTable = s"graft_pq_codebooks_$suffix"
    booksTrained.zipWithIndex.flatMap { case (bj, j) =>
      bj.flatMap { case (cid, cv) =>
        cv.zipWithIndex.map { case (v, pos) => (j, cid, pos, v) } }
    }.toDF("subspace", "cid", "pos", "v")
      .repartition(1).write.mode("overwrite")
      .option("path", SourceOps.staging(s"pq_codebooks_$dirTag"))
      .saveAsTable(booksTable)
    val centsTable = s"graft_pq_centroids_$suffix"
    centsTrained.flatMap { case (cell, cv) =>
      cv.zipWithIndex.map { case (v, pos) => (cell, pos, v) }
    }.toDF("cell", "pos", "v")
      .repartition(1).write.mode("overwrite")
      .option("path", SourceOps.staging(s"pq_centroids_$dirTag"))
      .saveAsTable(centsTable)
    // the index proper: encoded corpus, bucketed + sorted by cell so
    // probed-cell reads touch only their buckets (SelectedBucketsCount)
    val codesTable = s"graft_pq_index_$suffix"
    Sources.writeBucketed(pqEncode(corpusEmb(t), centsTrained, booksTrained),
      codesTable, Seq("cell"), nBuckets = 8, sortCols = Seq("cell"),
      path = Some(SourceOps.staging(s"pq_index_$dirTag")))
    // serve from the STORED model rows (parquet doubles round-trip
    // bit-exact, so these equal the trained values)
    val books = sess.table(booksTable).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, cs) =>
          cid -> cs.sortBy(_._3).map(_._4).toSeq }
      }
    val cents = sess.table(centsTable).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, cs) => cell -> cs.sortBy(_._2).map(_._3).toSeq }
    PqIndexHandle(books, cents, codesTable)
  }

  /** Per-query ADC lookup tables (dt0..dt{m−1}) from the stored
    * codebooks: dtⱼ[c+1] = L2²(query sub-vector j, codebook j entry
    * c). Tiny (queries × m × K doubles) and broadcast with the
    * queries. */
  private def adcQueries(t: Tables, books: Seq[Seq[(Int, Seq[Double])]],
      extraCols: Seq[Column] = Nil): DataFrame =
    adcQueriesFrom(withEmb(t).filter(col("vec_id") < NumQueries), books, extraCols)

  /** Same, over ANY (vec_id, emb) frame — including a STREAMING one:
    * the ADC tables are per-row column expressions, so the transform
    * is micro-batch-safe. */
  private[graft] def adcQueriesFrom(df: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]],
      extraCols: Seq[Column] = Nil): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    df.select(col("vec_id").as("q_id") +: (extraCols ++
      (0 until PqM).map(j => array(books(j).map { case (_, cv) =>
        l2SqDistance(slice(col("emb"), j * PqSubDims + 1, PqSubDims), typedlit(cv))
      }: _*).as(s"dt$j"))): _*)
  }

  /** Sum of the m ADC lookups — the approximate distance. */
  private[graft] def adcDist: Column =
    (0 until PqM).map(j => element_at(col(s"dt$j"), col(s"c$j") + 1)).reduce(_ + _)

  /** The PQ ADC score frame (q_id, vec_id, approx_dist), served from
    * the STORED index: code-table scan + broadcast ADC lookup join —
    * no training, no encode, no cache. Shared by [[annPqTopK]]
    * (direct ADC ranking) and [[annPqRefineTopK]] (shortlist + exact
    * rerank). */
  private def pqScored(t: Tables): DataFrame = {
    val idx = pqIndex(t)
    t.spark.table(idx.codesTable)
      .select(col("vec_id") +: (0 until PqM).map(j => col(s"c$j")): _*)
      .join(broadcast(adcQueries(t, idx.books)))
      .select(col("q_id"), col("vec_id"),
        round(adcDist + lit(1e-9), 4).as("approx_dist"))
  }

  def annPqTopK(t: Tables): DataFrame =
    pqScored(t)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(asc("approx_dist"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)

  /** S16 — `ann_pq_refine_topk`: the PRODUCTION PQ serving path —
    * the 4-byte ADC scores are a SHORTLIST stage, not a final ranker
    * (4-bit codes can't split rank-5 boundaries on concentrated
    * 64-d data: direct ADC recall@5 ≈ 0.16 here, while the true
    * top-5 lands inside the ADC top-`shortlist` 84% of the time), so
    * only the shortlist pays an exact full-precision rerank — the
    * same two-stage shape as [[annRefineTopK]], with the 32×-smaller
    * index doing the heavy scan. The rerank joins the tiny
    * (queries × shortlist) id set back against the corpus by
    * broadcast; exact-rerank cost is independent of corpus size.
    */
  def annPqRefineTopK(t: Tables, shortlist: Int = 100): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    val short = pqScored(t)
      .withColumn("qrnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(asc("approx_dist"), asc("vec_id"))))
      .filter(col("qrnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    e.filter(col("vec_id") >= NumQueries)
      .join(broadcast(short), "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(l2SqDistance(col("q_emb"), col("emb")) + lit(1e-9), 4).as("l2_sq"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(asc("l2_sq"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** S17 — `ann_ivf_pq_topk`: the flagship production ANN index —
    * IVF-PQ + rerank, the three-stage FAISS-style serving path, run
    * entirely off the STORED index ([[pqIndex]]):
    *
    *  1. COARSE prune: queries probe their `nProbe` nearest (L2²) of
    *     the K converged-k-means centroids; the probed-cell set is a
    *     bounded driver collect (≤ queries × nProbe ints) whose
    *     `isin` filter on the BUCKET column prunes unprobed buckets
    *     at scan time (`SelectedBucketsCount`) — the inverted-list
    *     read of an on-disk IVF index.
    *  2. FINE score: candidates score by PQ ADC lookups over the
    *     stored codebooks — the 32×-compressed code table (+ cell id)
    *     is the whole index; no float math against corpus vectors.
    *  3. RERANK: the ADC top-`shortlist` per query pays the exact
    *     full-precision L2² — cost independent of corpus size.
    *
    * Everything is deterministic (exact-integer k-means + codebook
    * training, fixed fold orders, (d, id) tie-breaks), so all three
    * stages replay in one DuckDB oracle.
    */
  def annIvfPqTopK(t: Tables, nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    val idx = pqIndex(t)
    ivfPqServe(t, t.spark.table(idx.codesTable), idx, nProbe, shortlist)
  }

  /** S18 — `ann_index_incremental`: incremental maintenance of the
    * IVF-PQ index — the [[Dedup.dedupIncrementalTable]] analog for
    * ANN. The corpus splits into a HISTORY slice (vec_id % 5 ≠ 0)
    * whose index — centroids, codebooks, encoded codes — was built
    * offline and STORED (cell-bucketed external table), and an
    * INCREMENT (vec_id % 5 = 0) that arrives later: increment vectors
    * assign cells and encode against the FROZEN history models —
    * map-only, increment-sized cost — and union with the stored code
    * table; the probe path is unchanged. At 100 TB this is the only
    * affordable lifecycle: the corpus is never re-encoded, and the
    * (tiny) model drift is handled by scheduled rebuilds, not by
    * retraining per batch. The serving plan keeps the history side
    * exchange-free: bucket-pruned scan → broadcast-join, pinned in
    * PlanAuditSpec.
    */
  def annIndexIncremental(t: Tables, nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    val h = historyIndex(t)
    // the increment encodes against the FROZEN models: map-only,
    // cost ∝ increment size — the corpus is never re-encoded
    val index = t.spark.table(h.codesTable)
      .unionByName(pqEncode(incrementEmb(t), h.cents, h.books))
    ivfPqServe(t, index, h, nProbe, shortlist)
  }

  /** S19 — `ann_index_compaction`: the maintenance step that closes
    * the incremental lifecycle — the appended increment codes are
    * MERGED into the stored history index and rewritten as ONE
    * cell-bucketed table (the [[graft.sources.SourceOps]] compaction
    * idea applied to the index artifact), so serving goes back to a
    * single bucket-pruned scan with no union in the plan (pinned).
    * Results are identical to the pre-compaction union serve by
    * construction: same frozen models, same codes, different layout —
    * so it shares `ann_index_incremental`'s oracle verbatim.
    */
  def annIndexCompaction(t: Tables, nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    import graft.sources.{SourceOps, Sources}
    val h = historyIndex(t)
    val dirTag = graft.sources.SourceOps.dirTag(t.dir)
    val compacted = s"graft_pq_compacted_${SourceOps.runId}_$dirTag"
    Sources.writeBucketed(
      t.spark.table(h.codesTable)
        .unionByName(pqEncode(incrementEmb(t), h.cents, h.books)),
      compacted, Seq("cell"), nBuckets = 8, sortCols = Seq("cell"),
      path = Some(SourceOps.staging(s"pq_compacted_$dirTag")))
    ivfPqServe(t, t.spark.table(compacted), h, nProbe, shortlist)
  }

  /** The corpus split the incremental-index family shares: history =
    * vec_id % 5 ≠ 0, increment = the rest. */
  private def historyEmb(t: Tables): DataFrame =
    corpusEmb(t).filter(col("vec_id") % 5 =!= 0)
  private[graft] def incrementEmb(t: Tables): DataFrame =
    corpusEmb(t).filter(col("vec_id") % 5 === 0)

  // the history build (frozen models + stored bucketed code table) is
  // one offline job serving every incremental-lifecycle demo query
  private[graft] def historyIndex(t: Tables): PqIndexHandle =
    graft.sources.SourceOps.staged(t, "pq_history_index") {
      import graft.sources.{SourceOps, Sources}
      val hist = historyEmb(t)
      // ONE deterministic first-K seed collect feeds both the
      // coarse k-means init and the codebook init (identical by
      // definition — both are centroidSeqOf over the same slice)
      val seed = centroidSeqOf(hist, PqCells)
      val cents = kmeansCentroidsOf(hist, PqCells, nIters = 4,
        initCents = Some(seed))
      val books = pqCodebooksOf(hist, PqM, PqCells, PqSubDims,
        nIters = 3, initCents = Some(seed))
      val dirTag = graft.sources.SourceOps.dirTag(t.dir)
      val histTable = s"graft_pq_hist_index_${SourceOps.runId}_$dirTag"
      Sources.writeBucketed(pqEncode(hist, cents, books), histTable,
        Seq("cell"), nBuckets = 8, sortCols = Seq("cell"),
        path = Some(SourceOps.staging(s"pq_hist_index_$dirTag")))
      PqIndexHandle(books, cents, histTable)
    }

  /** The shared IVF-PQ serving path: coarse probe (bucket-pruned) →
    * ADC shortlist → exact rerank, over any (vec_id, cell, c0..c7)
    * index frame. `queriesDf` overrides the query source with any
    * bounded (vec_id, emb) frame — e.g. ONE micro-batch of a query
    * stream ([[graft.streaming.Streaming.streamAnnServe]]); the
    * default is the static query slice. Either way the probed-cell
    * set stays a bounded driver collect (≤ queries × nProbe ints)
    * whose `isin` prunes unprobed buckets at scan time. */
  private[graft] def ivfPqServe(t: Tables, index: DataFrame, idx: PqIndexHandle,
      nProbe: Int, shortlist: Int,
      queriesDf: Option[DataFrame] = None): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    def cellDists(emb: Column): Seq[Column] =
      idx.cents.map { case (cid, cv) =>
        struct(l2SqDistance(emb, typedlit(cv)).as("d"), lit(cid).as("c"))
      }
    val probeCol = explode(transform(
      slice(array_sort(array(cellDists(col("emb")): _*)), 1, nProbe),
      s => s.getField("c"))).as("cell")
    val qSrc = queriesDf.getOrElse(withEmb(t).filter(col("vec_id") < NumQueries))
    val queries = adcQueriesFrom(qSrc, idx.books, extraCols = Seq(probeCol))
    // bounded: ≤ NumQueries × nProbe ints — drives bucket pruning
    val probed = queries.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val short = index.filter(col("cell").isin(probed: _*))
      .join(broadcast(queries), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        round(adcDist + lit(1e-9), 4).as("approx_dist"))
      .withColumn("qrnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(asc("approx_dist"), asc("vec_id"))))
      .filter(col("qrnk") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val e = withEmb(t)
    val qVecs = qSrc
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    e.filter(col("vec_id") >= NumQueries)
      .join(broadcast(short), "vec_id")
      .join(broadcast(qVecs), "q_id")
      .select(col("q_id"), col("vec_id"),
        round(l2SqDistance(col("q_emb"), col("emb")) + lit(1e-9), 4).as("l2_sq"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(asc("l2_sq"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
  }

  /** `ann_pq_recall_eval` — recall@k of the PRODUCTION PQ serving
    * path (stored-index ADC shortlist + exact rerank,
    * [[annPqRefineTopK]]) against the exact L2 top-k. The PQ family's
    * member of the measure-don't-guess suite ([[annRecallEval]] /
    * `dedup_minhash_eval`): the number a deployment watches when it
    * tunes m/K/shortlist. Ground truth is collected (queries × k
    * rows) and re-literalized — no persist outlives the call; the
    * serve side reads the stored code table. The DuckDB oracle
    * composes the full serving replay with an exact top-k chain.
    */
  def annPqRecallEval(t: Tables): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    val sess = t.spark
    import sess.implicits._
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val truth = e.filter(col("vec_id") >= NumQueries)
      .join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        l2SqDistance(col("q_emb"), col("emb")).as("d"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(asc("d"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("q_id", "vec_id")
    val served = annPqRefineTopK(t).select(col("q_id"), col("vec_id"))
    val hits = truth.join(served, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("k"), col("n_hits"),
        (col("n_hits") / col("k")).as("recall"))
  }

  /** `ann_pq_tuning` — the nProbe sweep over the STORED IVF-PQ index:
    * for each probe depth, what fraction of the true L2 top-k lands
    * in a probed cell (candidate-generation recall — the ceiling any
    * downstream ADC/rerank can reach) and how many corpus rows the
    * probe admits (the scan cost). The recall/cost frontier a
    * deployment reads before fixing nProbe — `dedup_minhash_tuning`'s
    * ANN counterpart. Everything is exact integer counting off the
    * stored cell assignment; one division per row.
    */
  def annPqTuning(t: Tables, probeLevels: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    val idx = pqIndex(t)
    val index = t.spark.table(idx.codesTable).select(col("vec_id"), col("cell"))
    def cellDists(emb: Column): Seq[Column] =
      idx.cents.map { case (cid, cv) =>
        struct(l2SqDistance(emb, typedlit(cv)).as("d"), lit(cid).as("c"))
      }
    val e = withEmb(t)
    // every cell's probe rank per query (1..K, (d, cid) tie-break)
    val qRanks = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"),
        posexplode(transform(array_sort(array(cellDists(col("emb")): _*)),
          s => s.getField("c"))))
      .select(col("q_id"), (col("pos") + 1).as("cell_rank"), col("col").as("cell"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val truth = e.filter(col("vec_id") >= NumQueries)
      .join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        l2SqDistance(col("q_emb"), col("emb")).as("d"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(asc("d"), asc("vec_id"))))
      .filter(col("rnk") <= TopK)
      .select(col("q_id"), col("vec_id"))
    val levelCol = explode(typedlit(probeLevels)).as("n_probe")
    val hits = truth.join(index, Seq("vec_id")).join(qRanks, Seq("q_id", "cell"))
      .select(col("cell_rank"), levelCol)
      .filter(col("cell_rank") <= col("n_probe"))
      .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
    val cellCounts = index.groupBy(col("cell")).agg(count(lit(1)).as("n_in_cell"))
    val cand = qRanks.join(cellCounts, Seq("cell"))
      .select(col("n_in_cell"), levelCol, col("cell_rank"))
      .filter(col("cell_rank") <= col("n_probe"))
      .groupBy(col("n_probe")).agg(sum(col("n_in_cell")).as("n_candidates"))
    val sess = t.spark
    import sess.implicits._
    probeLevels.toDF("n_probe")
      .join(hits, Seq("n_probe"), "left")
      .join(cand, Seq("n_probe"), "left")
      .na.fill(0L, Seq("n_hits", "n_candidates"))
      .select(col("n_probe"), col("n_hits"),
        (col("n_hits") / lit((NumQueries * TopK).toDouble)).as("recall"),
        col("n_candidates"))
  }

  /** S22 — `ann_index_drift`: the MONITOR step that closes the
    * incremental-index lifecycle (build → append → compact → serve →
    * monitor). The frozen-model index ([[historyIndex]]) never
    * retrains, so as the increment share grows the stored centroids /
    * codebooks describe the indexed corpus less well and serving
    * recall decays — this query MEASURES that decay and emits the
    * rebuild decision instead of leaving "scheduled rebuilds" to
    * folklore. For each increment share (0%, 50%, 100% of the
    * increment slice, deterministic `vec_id`-arithmetic subsets), it
    * serves the three-stage path over history codes + frozen-encoded
    * subset and scores recall@k against the EXACT top-k over the same
    * indexed corpus (so the number isolates MODEL drift, not missing
    * rows), flagging `rebuild_needed` when the rounded recall falls
    * under `threshold`. All inputs replay exactly in DuckDB, so the
    * whole monitor — serve, truth, recall, flag — is oracle-checked.
    *
    * Scale shape: per share, one bucket-pruned serve (cost bounded by
    * probed cells × shortlist) plus one broadcast-query exact-truth
    * pass over the indexed slice; the per-share reduction reaching the
    * driver is a single hit count. On a 100 TB deployment the truth
    * pass runs over a SAMPLED query set — the eval cost is queries ×
    * corpus dot products, independent of this query's structure.
    */
  def annIndexDrift(t: Tables, threshold: Double = 0.35): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    val sess = t.spark
    import sess.implicits._
    val h = historyIndex(t)
    val histCodes = t.spark.table(h.codesTable)
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    // (share pct, membership condition over the increment slice)
    val shares: Seq[(Int, Column => Column)] = Seq(
      (0, _ => lit(false)),
      (50, v => v % 10 === 0), // the even half of the %5 increment
      (100, _ => lit(true)))
    // all three shares fold into ONE action (a tagged union + one
    // keyed count) instead of one `.count()` job per share: the
    // serve/truth subtrees stay identical per share, but the single
    // job lets identical exchanges (history-code scan, query
    // broadcast) be reused across shares and pays job/scheduling
    // overhead once (§2.4/§1.2 — fewer passes)
    val hitFrames = shares.map { case (pct, subset) =>
      val index = histCodes.unionByName(
        pqEncode(incrementEmb(t).filter(subset(col("vec_id"))), h.cents, h.books))
      val served = ivfPqServe(t, index, h, nProbe = 4, shortlist = 50)
        .select(col("q_id"), col("vec_id"))
      val indexed = (col("vec_id") % 5 =!= 0) || subset(col("vec_id"))
      val truth = e.filter(col("vec_id") >= NumQueries && indexed)
        .join(broadcast(queries))
        .select(col("q_id"), col("vec_id"),
          l2SqDistance(col("q_emb"), col("emb")).as("d"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(asc("d"), asc("vec_id"))))
        .filter(col("rnk") <= TopK)
        .select(col("q_id"), col("vec_id"))
      truth.join(served, Seq("q_id", "vec_id"))
        .select(lit(pct).as("inc_share_pct"))
    }
    val counts = hitFrames.reduce(_ unionAll _)
      .groupBy(col("inc_share_pct")).agg(count(lit(1)).as("n_hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = shares.map { case (pct, _) => (pct, counts.getOrElse(pct, 0L)) }
    rows.toDF("inc_share_pct", "n_hits")
      .select(col("inc_share_pct"), col("n_hits"),
        round(col("n_hits") / lit((NumQueries * TopK).toDouble) + lit(1e-9), 4)
          .as("recall_at_k"))
      .withColumn("rebuild_needed",
        (col("recall_at_k") < lit(threshold)).cast("int"))
  }

  /** S23 — `embed_matryoshka_eval`: prefix-dimension retrieval eval.
    * Recall@k of brute-force L2 search run on only the FIRST d'
    * dimensions (d' ∈ 8/16/32/64) against the full-dimension exact
    * top-k — the measurement behind Matryoshka-style dimension
    * truncation (public MRL literature): before shrinking a 100 TB
    * vector corpus 8× by storing embedding PREFIXES, you measure what
    * truncation costs at YOUR k, on YOUR corpus. The dimension-axis
    * member of the measure-don't-guess suite (`ann_recall_eval` =
    * index axis, `ann_pq_tuning` = probe axis, `ann_index_drift` =
    * time axis).
    *
    * Shape: each prefix scan is the [[annBruteForceTopK]] broadcast
    * shape over a NARROWER slice (the whole point — a d'=8 pass reads
    * 1/8 the floats); the truth frame is collected once (queries × k
    * rows) and re-literalized; each per-prefix reduction reaching the
    * driver is one hit count. All distances are the same codegen'd
    * left-fold the oracle replays term-by-term, ranks tie-break on
    * (d, vec_id) — exact cross-engine.
    */
  def embedMatryoshkaEval(t: Tables,
      prefixes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    import graft.functions.VectorFunctions.l2SqDistance
    val sess = t.spark
    import sess.implicits._
    val e = withEmb(t)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    def topk(dims: Int): DataFrame = {
      val d =
        if (dims >= 64) l2SqDistance(col("q_emb"), col("emb"))
        else l2SqDistance(slice(col("q_emb"), 1, dims), slice(col("emb"), 1, dims))
      e.filter(col("vec_id") >= NumQueries)
        .join(broadcast(queries))
        .select(col("q_id"), col("vec_id"), d.as("d"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(asc("d"), asc("vec_id"))))
        .filter(col("rnk") <= TopK)
        .select(col("q_id"), col("vec_id"))
    }
    val truth = topk(64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("q_id", "vec_id")
    val rows = prefixes.map { p =>
      (p, truth.join(topk(p), Seq("q_id", "vec_id")).count())
    }
    rows.toDF("prefix_dims", "n_hits")
      .select(col("prefix_dims"), col("n_hits"),
        round(col("n_hits") / lit((NumQueries * TopK).toDouble) + lit(1e-9), 4)
          .as("recall_at_k"))
  }

  /** S24 — `ann_filtered_topk`: FILTERED vector search — the
    * production retrieval shape ("nearest neighbors WHERE label
    * matches") that pure-ANN benchmarks skip and every deployment
    * needs. Served off the same stored IVF-PQ index as the flagship:
    * the predicate (a deterministic label here, `vec_id % 7 < 3` —
    * standing in for a metadata column of the index table) filters
    * the CODE TABLE before ADC scoring, so the shortlist is built
    * from passing candidates only (pre-filtering — the strategy that
    * keeps recall when the filter is selective, vs post-filtering a
    * fixed shortlist down to starvation), and the exact rerank pays
    * only passing ids. On a real index the label is a column of the
    * bucketed table and an equality/range predicate additionally
    * prunes at the scan (this modulo stand-in evaluates post-scan —
    * the plan shape is otherwise identical). Fully deterministic, so
    * the whole filtered serve replays in the shared IVF-PQ oracle
    * chain with the same predicate.
    */
  def annFilteredTopK(t: Tables, nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    val idx = pqIndex(t)
    ivfPqServe(t,
      t.spark.table(idx.codesTable).filter(col("vec_id") % 7 < 3),
      idx, nProbe, shortlist)
  }

  /** S33 — `ann_index_delete`: the DELETE operation of the stored
    * index lifecycle — the CRUD leg build → append → compact were
    * still missing: a tombstone set (the `% 9` slice — in production
    * the GDPR/right-to-erasure or content-takedown feed) masks the
    * HISTORY+INCREMENT code table by an anti-join BEFORE ADC
    * scoring, so deleted vectors can never be served, re-ranked, or
    * leak through the shortlist — without re-encoding or re-training
    * anything (frozen models untouched — exactly how Lucene/FAISS
    * deployments tombstone: deletes are a filter at read time until
    * the next [[annIndexCompaction]] rewrite physically drops them).
    * The oracle replays the identical serve with the tombstone
    * predicate on the code table, so "deleted means unservable" is
    * hash-checked, not claimed.
    *
    * Shape: identical to [[annIndexIncremental]] plus ONE keyed
    * anti-join of the code table against the KB-scale tombstone id
    * set — cost independent of corpus size. */
  def annIndexDelete(t: Tables, nProbe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    val h = historyIndex(t)
    val index = t.spark.table(h.codesTable)
      .unionByName(pqEncode(incrementEmb(t), h.cents, h.books))
    val tombstones = index.select(col("vec_id"))
      .filter(col("vec_id") % 9 === 0)
    ivfPqServe(t, index.join(tombstones, Seq("vec_id"), "left_anti"),
      h, nProbe, shortlist)
  }

  def annRecallEval(t: Tables): DataFrame =
    recallVsBruteForce(t, annIvfKmeansTopK(t))

  /** S14 — `ann_hamming_recall`: recall@5 of the binary-sign Hamming
    * shortlist ([[annHammingTopK]]) against the brute-force truth —
    * what 64× compression costs at YOUR k on YOUR corpus, the
    * measure-don't-guess eval the quantization spectrum's cheapest
    * point needs before anyone serves off it. Every stage of both
    * pipelines is deterministic, so the eval composes their two exact
    * oracles. */
  def annHammingRecall(t: Tables): DataFrame =
    recallVsBruteForce(t, annHammingTopK(t))

  /** Shared recall@k harness: per-query hit count of `approx` against
    * the [[annBruteForceTopK]] ground truth. The truth frame is
    * (queries × k) rows — collect it and re-literalize instead of
    * persist(): same single scoring pass, and no cache block outlives
    * the call (a returned-lazy persist can never be unpersisted by
    * the caller). */
  private def recallVsBruteForce(t: Tables, approx: DataFrame): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    val bf = annBruteForceTopK(t).select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("q_id", "vec_id")
    val hits = bf.join(approx.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    bf.groupBy(col("q_id")).agg(count(lit(1)).as("k"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("q_id"), col("k"), col("n_hits"),
        (col("n_hits") / col("k")).as("recall"))
  }

  /** S15 — `embed_knn_graph`: exact k-NN graph over an embedding
    * node set — the structure mutual-kNN clustering, graph-based
    * near-dup mining and UMAP-style layout all start from. Each node's
    * k best cosine neighbors WITHIN the node set become directed
    * edges (src, dst, cos_sim, rnk); ranking uses the rounded score +
    * dst id so the edge set is bit-for-bit reproducible.
    *
    * Here the node set is a deterministic 1/16 corpus slice and the
    * graph is built by one broadcast self-join through the fused
    * codegen cosine kernel — map-only scoring, one window per src for
    * the top-k. At 100 TB the same operator runs BLOCKED: the node
    * set is cut into broadcast-sized blocks and each block scans the
    * partitioned corpus (linear passes, no shuffle growth), or — when
    * exactness can be traded — candidates come from the stored IVF
    * index's cell buckets ([[ivfPqServe]]) and only candidate pairs
    * are scored; per-query recall of exactly that trade is what
    * [[annRecallEval]] measures.
    */
  /** S16 — `embed_mutual_knn_clusters`: the GRAPH consumer of
    * [[embedKnnGraph]] — mutual-kNN clustering: keep only RECIPROCAL
    * edges (src in dst's top-k AND dst in src's top-k — the standard
    * asymmetry filter that kills hub-induced chains), close them
    * transitively with the shared [[Dedup.connectedComponents]]
    * machinery, and label every node with its component minimum plus
    * the component size. This is the embedding-space analogue of
    * `dedup_clusters` (there: MinHash band graph; here: similarity
    * topology), and the composition closure — one operator's output
    * edge set IS the next one's input graph, batch-verified through
    * one composed oracle (knn chain → mutual filter → recursive-CTE
    * closure).
    *
    * Shape: the mutual filter is one self-equi-join on the (src, dst)
    * edge key over a k·|nodes|-bounded frame; CC inherits the
    * adaptive local/distributed split. Singletons (no reciprocal
    * neighbor) keep their own id — every node is labelled. */
  def embedMutualKnnClusters(t: Tables, k: Int = TopK): DataFrame = {
    val g = embedKnnGraph(t, k).select(col("src"), col("dst"))
    val mutual = g.as("a")
      .join(g.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("a.dst").as("dst"))
    val labels = Dedup.connectedComponents(mutual).labels
    val nodes = withEmb(t).filter(col("vec_id") % 16 === 0)
      .select(col("vec_id"))
    val lab = nodes
      .join(labels.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
    lab.join(
        lab.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size")),
        "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
  }

  def embedKnnGraph(t: Tables, k: Int = TopK): DataFrame = {
    val nodes = withEmb(t).filter(col("vec_id") % 16 === 0)
    val edges = nodes.select(col("vec_id").as("src"), col("emb").as("src_emb"))
      .join(broadcast(nodes.select(col("vec_id").as("dst"), col("emb").as("dst_emb"))),
        col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(cosineSimilarity(col("src_emb"), col("dst_emb")), 4).as("cos_sim"))
    edges
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("cos_sim"), asc("dst"))))
      .filter(col("rnk") <= k)
  }

  /** `embed_hubness` — the k-occurrence distribution over the kNN
    * graph (Radovanović et al. 2010): how many nodes list each vector
    * among their k nearest. High-dimensional spaces grow HUBS (a few
    * vectors appear in everyone's neighbor lists) and anti-hubs
    * (vectors nobody retrieves) — the diagnostic that predicts ANN
    * recall trouble and embedding-space pathologies before serving
    * does. One keyed count over the stored graph's edge list + a left
    * join from the node set so anti-hubs (k-occurrence 0) are counted
    * rather than silently absent; output is the metadata-scale
    * histogram. Spec pins the mass identity Σ k_occ·n_nodes = k·|V|. */
  def embedHubness(t: Tables, k: Int = TopK): DataFrame = {
    val nodes = withEmb(t).filter(col("vec_id") % 16 === 0)
      .select(col("vec_id"))
    val occ = embedKnnGraph(t, k)
      .groupBy(col("dst").as("vec_id")).agg(count(lit(1)).as("k_occ"))
    nodes.join(occ, Seq("vec_id"), "left")
      .na.fill(0L, Seq("k_occ"))
      .groupBy(col("k_occ")).agg(count(lit(1)).as("n_nodes"))
  }

  /** `ann_graph_topk` — GRAPH-based ANN serving (the HNSW/NSW family's
    * base-layer walk, public Malkov–Yashunin 2016): queries descend a
    * stored k-nearest-neighbor graph by beam search — score a fixed
    * entry set, keep the best `beam`, expand each survivor to its
    * stored neighbors, re-score, repeat — instead of probing a
    * partition index (IVF) or scanning codes (PQ). Completes the
    * serving-paradigm triad: partition-pruned (IVF), code-scanned
    * (PQ/ADC), and neighborhood-walked (this).
    *
    * The graph is the exact kNN graph over a deterministic corpus
    * sample (vec_id % 4, denser than [[embedKnnGraph]]'s % 16 so the
    * walk has real neighborhoods) — the oracle-checkable TRUTH
    * artifact. The production-scale approximate build and its append
    * path are now implemented and recall-measured beside it:
    * [[annNnDescentBuild]] (S31 — the NN-descent iteration, 19→73%
    * recall over two rounds) and [[annNnDescentIncremental]] (S32 —
    * band-entry append + reverse history update); the SERVE path
    * here is the operator's point: per query it touches entries +
    * beam·k candidates — work independent of corpus size, the
    * property that makes graph ANN the state of the art.
    *
    * Determinism: every stage ranks on the 4-dp-rounded cosine with
    * vec_id tie-breaks (the family discipline), hops are a fixed
    * 2-round unroll, and the candidate union dedups on (q_id,
    * vec_id) — the DuckDB oracle replays the identical chain. All
    * joins are keyed (neighbor expansion is an equi-join on the beam
    * node id); queries broadcast; nothing all-pairs at serve time. */
  /** The stored exact-kNN subgraph — the graph-ANN INDEX ARTIFACT —
    * built ONCE per graphK and staged to parquet: the E129/E86 stored-index discipline applied to graph serving.
    * The beam-sweep recall eval walks the graph at three beam widths;
    * before this memo each walk re-ranked the sample kNN from
    * scratch (the §8h note predicted this split "if it ever
    * matters"). Staged, not cached: Verify/Bench clear the cache
    * between queries, a parquet artifact survives — and it IS what
    * production stores. */
  private[graft] def knnGraphEdges(t: Tables, graphK: Int): DataFrame = {
    val path = graft.sources.SourceOps.staged(t, s"knn_graph_$graphK") {
      val e = withEmb(t)
      val nodes = e
        .filter(col("vec_id") >= NumQueries && col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("emb"))
      val knn = nodes.select(col("vec_id").as("src"), col("emb").as("src_emb"))
        .join(broadcast(nodes.select(col("vec_id").as("dst"),
          col("emb").as("dst_emb"))), col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          round(cosineSimilarity(col("src_emb"), col("dst_emb")), 4).as("g_sim"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("src")).orderBy(desc("g_sim"), asc("dst"))))
        .filter(col("rnk") <= graphK)
        .select(col("src"), col("dst"))
      val p = graft.sources.SourceOps.staging(
        s"knn_graph_${graft.sources.SourceOps.dirTag(t.dir)}_$graphK")
      knn.write.mode("overwrite").parquet(p)
      p
    }
    t.spark.read.parquet(path)
  }

  /** FIXED-CARDINALITY entry set persisted beside the graph artifact:
    * the 64 highest IN-DEGREE graph nodes (hubs — the nodes most
    * reachable paths route through, deterministic by (deg DESC, id
    * ASC)). Seeding scores O(Q·64) candidates REGARDLESS of corpus
    * size; the previous 1/32 stride sample made the seed stage a
    * constant-factor brute force (O(Q·N/128)) that would dominate at
    * 100× and defeat the point of the graph index. Derived from the
    * staged edges (one metadata-scale agg) and staged itself. */
  private[graft] def knnGraphEntries(t: Tables, graphK: Int,
      nEntries: Int = 64): DataFrame = {
    // keyed (and pathed) on nEntries too: a caller asking for a
    // different entry-set size must not silently receive the staged
    // default-64 hub artifact
    val path = graft.sources.SourceOps.staged(t,
        s"knn_entries_${graphK}_$nEntries") {
      val ent = knnGraphEdges(t, graphK)
        .groupBy(col("dst")).agg(count(lit(1)).as("deg"))
        .orderBy(desc("deg"), asc("dst")).limit(nEntries)
        .select(col("dst").as("vec_id"))
      val p = graft.sources.SourceOps.staging(
        s"knn_entries_${graft.sources.SourceOps.dirTag(t.dir)}_" +
          s"${graphK}_$nEntries")
      ent.write.mode("overwrite").parquet(p)
      p
    }
    t.spark.read.parquet(path)
  }

  def annGraphTopK(t: Tables, k: Int = TopK, beam: Int = 8,
      graphK: Int = 8): DataFrame = {
    val e = withEmb(t)
    val nodes = e.filter(col("vec_id") >= NumQueries && col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("emb"))
    // stored exact kNN subgraph (the staged index artifact above)
    val knn = knnGraphEdges(t, graphK)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val byVec = nodes.select(col("vec_id"), col("emb"))
    def score(cand: DataFrame): DataFrame = cand
      .join(byVec, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
    def cut(scored: DataFrame, n: Int): DataFrame = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= n)
    // entry set: the staged fixed-cardinality hub set — seed work is
    // O(Q·64), independent of corpus size (was a 1/32 stride sample,
    // i.e. a shrunken brute force that grew linearly with the corpus)
    val entries = knnGraphEntries(t, graphK).select(col("vec_id"))
    val b0 = cut(score(queries.select(col("q_id"))
        .crossJoin(broadcast(entries))), beam)
      .select(col("q_id"), col("vec_id"))
    def expand(bm: DataFrame): DataFrame = bm
      .join(knn, bm("vec_id") === knn("src"))
      .select(col("q_id"), col("dst").as("vec_id"))
      .unionByName(bm.select(col("q_id"), col("vec_id")))
      .distinct()
    val b1 = cut(score(expand(b0)), beam).select(col("q_id"), col("vec_id"))
    cut(score(expand(b1)), k)
  }

  /** `ann_graph_recall_eval` — recall@k of the beam walk vs the exact
    * answer over the SAME sampled corpus, per beam width: the
    * measure-don't-guess discipline (`ann_recall_eval`,
    * `ann_pq_tuning`) applied to the graph-serving paradigm — the
    * beam is graph ANN's probe knob, and whether 4 beams suffice or
    * 16 are needed is a property of YOUR corpus topology, not a
    * guess. Truth is brute force restricted to the graph's node set
    * (apples to apples: the walk can only ever return graph nodes).
    * Recall = exact-integer hit count / (queries·k), one §6 ratio. */
  def annGraphRecallEval(t: Tables, beams: Seq[Int] = Seq(4, 8, 16),
      k: Int = TopK): DataFrame = {
    val e = withEmb(t)
    val nodes = e.filter(col("vec_id") >= NumQueries && col("vec_id") % 4 === 0)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val truth = nodes.join(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id")).persist()
    val nTruth = truth.count()
    // ONE multi-beam walk replaces the previous one-[[annGraphTopK]]-
    // per-beam-width evaluation (§2.4 — share exchanges): the frame
    // carries a `beam` column and every window partitions by
    // (beam, q_id), so each beam's slice evolves EXACTLY as its
    // standalone walk (restriction to one beam commutes with the
    // joins/unions/distinct, and the per-round cut reads the row's own
    // beam) while the seed scoring, the edge expansions and the
    // per-round rankings each run once instead of |beams| times.
    // The seed ranking is beam-independent (same ordering), so it is
    // computed once and the per-beam seed cut is a rank filter.
    val sess = t.spark
    import sess.implicits._
    val graphK = 8
    val byVec = nodes.select(col("vec_id"), col("emb"))
    val knn = knnGraphEdges(t, graphK)
    val beamsDF = broadcast(beams.toDF("beam"))
    def score(cand: DataFrame): DataFrame = cand
      .join(byVec, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("beam"), col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
    def cut(scored: DataFrame, limit: Column): DataFrame = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("beam"), col("q_id"))
          .orderBy(desc("cos_sim"), asc("vec_id"))))
      .filter(col("rnk") <= limit)
      .select(col("beam"), col("q_id"), col("vec_id"))
    def expand(bm: DataFrame): DataFrame = bm
      .join(knn, bm("vec_id") === knn("src"))
      .select(col("beam"), col("q_id"), col("dst").as("vec_id"))
      .unionByName(bm.select(col("beam"), col("q_id"), col("vec_id")))
      .distinct()
    val entries = knnGraphEntries(t, graphK).select(col("vec_id"))
    val seedRank = queries.select(col("q_id")).crossJoin(broadcast(entries))
      .join(byVec, Seq("vec_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosineSimilarity(col("q_emb"), col("emb")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(desc("cos_sim"), asc("vec_id"))))
    val b0 = seedRank.crossJoin(beamsDF).filter(col("rnk") <= col("beam"))
      .select(col("beam"), col("q_id"), col("vec_id"))
    val b1 = cut(score(expand(b0)), col("beam"))
    val served = cut(score(expand(b1)), lit(k))
    val out = served.join(truth, Seq("q_id", "vec_id"))
      .groupBy(col("beam"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("beam"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(nTruth.toDouble) + lit(1e-9), 4)
          .as("recall"))
    truth.unpersist()
    out
  }

  /** S32 — `ann_nndescent_incremental`: the APPEND path of the graph
    * index — closing the lifecycle the IVF/PQ catalog already has
    * (build → append → compact → serve): new vectors join a stored
    * kNN graph WITHOUT a rebuild. Arrivals (the `% 5` increment
    * slice, the [[annIndexIncremental]] convention) get their lists
    * from band-matched graph nodes (the S31 two-band LSH entries) +
    * ONE hop through those entries' stored neighborhoods + band-
    * matched fellow arrivals; touched history nodes RE-RANK their
    * stored list against the band-matched arrivals (the reverse
    * update real NN-descent appenders do — without it history lists
    * go stale and recall decays as the corpus grows). Output is the
    * measured per-segment recall vs the exact graph over the FULL
    * post-append node set — appended quality and history staleness
    * both read off one table.
    *
    * The history graph here is the exact build over the history slice
    * (the oracle-checkable stand-in, as [[knnGraphEdges]]); at scale
    * it IS the S31 NN-descent artifact. Per-arrival work: band
    * buckets + k·(bands hit) one-hop expansions — independent of
    * corpus size; history updates touch only band-matched nodes.
    * Every stage keyed; nothing all-pairs at append time. */
  def annNnDescentIncremental(t: Tables, graphK: Int = 8,
      initBits: Int = 4): DataFrame = {
    val e = withEmb(t)
    val nodes = e
      .filter(col("vec_id") >= NumQueries && col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("emb"))
    val hist = nodes.filter(col("vec_id") % 5 =!= 0)
    val arrivals = nodes.filter(col("vec_id") % 5 === 0)
    def bandSig(band: Int, emb: Column): Column =
      (0 until initBits).map { p =>
        when(dotProduct(emb,
            typedlit(hyperplane(initBits * band + p, 64))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)
    def withBands(df: DataFrame): DataFrame = df.select(col("vec_id"),
      bandSig(0, col("emb")).as("b0"), bandSig(1, col("emb")).as("b1"))
    def rank(cands: DataFrame): DataFrame = cands
      .join(nodes.select(col("vec_id").as("src"), col("emb").as("src_emb")),
        "src")
      .join(nodes.select(col("vec_id").as("dst"), col("emb").as("dst_emb")),
        "dst")
      .select(col("src"), col("dst"),
        round(cosineSimilarity(col("src_emb"), col("dst_emb")), 4).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("sim"), asc("dst"))))
      .filter(col("rnk") <= graphK)
      .select(col("src"), col("dst"))
    // band-share join: either band family matches (distinct'd — a pair
    // sharing both bands must not double-candidate)
    def bandShare(a: DataFrame, b: DataFrame): DataFrame = {
      val (ab, bb) = (withBands(a).as("a"), withBands(b).as("b"))
      ab.join(bb, (col("a.b0") === col("b.b0") ||
          col("a.b1") === col("b.b1")) &&
        col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
        .distinct()
    }
    // stored history graph: exact over the history slice, persisted
    // for the multi-consumer plan below
    val histGraph = rank(
      hist.as("a").join(hist.as("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst")))
      .persist()
    val entries = bandShare(arrivals, hist)
    val candNew = entries
      .unionByName(entries.join(histGraph
          .select(col("src").as("dst"), col("dst").as("hop")),
        Seq("dst"))
        .select(col("src"), col("hop").as("dst")))
      .unionByName(bandShare(arrivals, arrivals))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val newEdges = rank(candNew)
    val histEdges = rank(
      histGraph.unionByName(bandShare(hist, arrivals)).distinct())
    val truth = knnGraphEdges(t, graphK) // exact over the full node set
    val graph = newEdges.select(lit("new").as("segment"), col("src"), col("dst"))
      .unionByName(histEdges
        .select(lit("history").as("segment"), col("src"), col("dst")))
    val truthSeg = truth.select(
      when(col("src") % 5 === 0, lit("new")).otherwise(lit("history"))
        .as("segment"), col("src"), col("dst"))
    val tTot = truthSeg.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_truth"))
    val hits = graph.join(truthSeg, Seq("segment", "src", "dst"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n_hits"))
    graph.groupBy(col("segment")).agg(count(lit(1)).as("n_edges"))
      .join(hits, Seq("segment"), "left")
      .join(tTot, Seq("segment"))
      .select(col("segment"), col("n_edges"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double") + lit(1e-9), 4).as("recall"))
  }

  /** S31 — `ann_nndescent_build`: the PRODUCTION approximate build of
    * the kNN graph that [[annGraphTopK]] serves from — closing the
    * r11 caveat that the stored graph was exact-only. NN-descent
    * (public Dong–Moses–Li 2011): start from cheap LSH-bucket
    * candidates (the S2 md5-derived hyperplanes — sign-sharing
    * vectors are likelier neighbors than random ones), then iterate
    * the local-join observation that A NEIGHBOR OF MY NEIGHBOR IS
    * PROBABLY MY NEIGHBOR: candidates(r+1) = current edges ∪
    * two-hop paths through the UNDIRECTED current graph (reverse
    * edges matter — half the signal), re-rank by exact cosine, keep
    * top-k per node. The output is the recall CURVE vs the exact
    * build ([[knnGraphEdges]], retained as truth): (round, n_edges,
    * n_hits, recall) per round 0..2 — the measure-don't-guess
    * discipline applied to the index BUILD, as
    * [[annGraphRecallEval]] applies it to the serve path.
    *
    * Why this is the 100 TB build: the exact graph is Σ n² cosines —
    * impossible; NN-descent touches per round only |V|·(2k)²
    * two-hop candidates (k bounded per node by construction), every
    * stage a keyed equi-join (bucket init, mid-node two-hop join,
    * per-src top-k) with no all-pairs anywhere. Rounds are the probe
    * knob: the curve shows what each round buys, and convergence
    * (Δrecall → 0) is the production stop rule.
    *
    * Determinism: LSH signs on stored doubles, every rank on the
    * 4-dp-rounded cosine with dst ties (the family discipline), hop
    * expansion a distinct on (src, dst) — the DuckDB oracle replays
    * the identical chain unrolled. */
  def annNnDescentBuild(t: Tables, graphK: Int = 8,
      rounds: Int = 2, initBits: Int = 4): DataFrame = {
    val e = withEmb(t)
    val nodes = e
      .filter(col("vec_id") >= NumQueries && col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("emb"))
    // init buckets are deliberately COARSER than the S2 serve-time
    // signature (4 bits, 16 buckets): the init must hand every node a
    // non-trivial neighborhood for the descent to improve on — 8 bits
    // over this sample leaves most nodes in singleton buckets and the
    // graph starves (measured: 86 edges, flat 1.4% recall). TWO
    // independent bands (hyperplanes 0–3 and 4–7), not one: a
    // single-band init makes every edge intra-bucket, two-hop closure
    // never leaves a bucket's component, and the descent is TRAPPED
    // at the init's recall (measured: flat 12% across rounds); the
    // second band is the deterministic stand-in for NN-descent's
    // random init — it merges components across bands so the two-hop
    // walk genuinely explores
    def bandSignature(band: Int, emb: Column): Column =
      (0 until initBits).map { p =>
        when(dotProduct(emb,
            typedlit(hyperplane(initBits * band + p, 64))) > 0, lit(1 << p))
          .otherwise(lit(0))
      }.reduce(_ + _)
    // exact re-rank of a candidate pair set: per-src top-k by cosine
    def rank(cands: DataFrame): DataFrame = cands
      .join(nodes.select(col("vec_id").as("src"), col("emb").as("src_emb")),
        "src")
      .join(nodes.select(col("vec_id").as("dst"), col("emb").as("dst_emb")),
        "dst")
      .select(col("src"), col("dst"),
        round(cosineSimilarity(col("src_emb"), col("dst_emb")), 4).as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("sim"), asc("dst"))))
      .filter(col("rnk") <= graphK)
      .select(col("src"), col("dst"))
    val init = (0 until 2).map { band =>
      val bucketed = nodes.withColumn("bucket",
        bandSignature(band, col("emb")))
      bucketed.as("a")
        .join(bucketed.as("b"), col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"))
    }.reduce(_ unionByName _)
      .distinct() // a pair sharing both bands must not occupy 2 rank slots
    // each round's graph is cut (Rounds.cut): round r's plan would
    // otherwise EMBED rounds 0..r−1 — five copies of the previous
    // round per level via undir×undir ∪ g — so plan size grows 5^r.
    // Not Rounds.run: the recall union below reads every round, so
    // no round is superseded and none is released.
    var g = Rounds.cut(rank(init))
    var perRound = g.select(lit(0).as("round"), col("src"), col("dst"))
    for (r <- 1 to rounds) {
      // two-hop candidates via the NN-descent LOCAL JOIN (Dong et al.
      // §2): collect each mid node's undirected neighborhood and emit
      // N(m)×N(m) — ONE keyed exchange (groupBy mid, fed map-side by
      // a 2-struct explode that emits both edge directions) instead
      // of the old self-join's two (undir keyed by dst AND by src are
      // different subplans, so nothing reuses; no distinct was needed
      // on undir — reciprocal duplicates die in the distinct below).
      // A mid's list holds its graphK out-neighbours plus every node
      // that ranks it among ITS graphK: only the out-degree is bounded.
      // A hub's list grows with its in-degree, and its collect+explode
      // row with the square of that (the init buckets, whose size
      // scales with the corpus, keep the streaming join form above).
      val cands = g
        .select(explode(array(
          struct(col("src").as("mid"), col("dst").as("nbr")),
          struct(col("dst").as("mid"), col("src").as("nbr")))).as("e"))
        .groupBy(col("e.mid").as("mid"))
        .agg(collect_list(col("e.nbr")).as("nbrs"))
        .select(explode(expr(
          "flatten(transform(nbrs, a -> transform(nbrs, b -> " +
            "struct(a AS u, b AS v))))")).as("p"))
        .select(col("p.u").as("src"), col("p.v").as("dst"))
        .filter(col("src") =!= col("dst"))
        .unionByName(g)
        .distinct()
      g = Rounds.cut(rank(cands))
      perRound = perRound.unionByName(
        g.select(lit(r).as("round"), col("src"), col("dst")))
    }
    val truth = knnGraphEdges(t, graphK) // the exact build, staged
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    val edges = perRound.groupBy(col("round"))
      .agg(count(lit(1)).as("n_edges"))
    val hits = perRound.join(truth, Seq("src", "dst"))
      .groupBy(col("round")).agg(count(lit(1)).as("n_hits"))
    edges.join(hits, Seq("round"), "left")
      .crossJoin(nTruth)
      .select(col("round"), col("n_edges"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double") + lit(1e-9), 4).as("recall"))
  }
}
