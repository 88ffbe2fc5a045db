package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-governance sweeps: the compliance half of running a corpus at
  * scale — deletion requests must propagate through every table that
  * derives from the deleted entity, with an auditable account of what
  * was removed where.
  */
object Governance {

  /** `q_delete_propagation` — right-to-erasure cascade audit: a
    * deterministic tombstone set of customers (key ≡ 0 mod `modulus`,
    * standing in for an external deletion-request feed) is propagated
    * through the referential chain customer → orders → lineitem, and
    * the audit reports per-table rows before / deleted / after. This
    * is the sweep a GDPR/CCPA deletion job runs before rewriting: the
    * counts are the evidence trail, and a non-zero `rows_deleted` on a
    * table nobody thought referenced users is exactly what the audit
    * exists to catch.
    *
    * Scale shape: the tombstone key set is broadcast into a map-side
    * semi-join on orders (deletion feeds are tiny next to the fact
    * tables); the second hop keys lineitem by `l_orderkey` against the
    * purged-order ids — a keyed shuffle semi-join, since the purged
    * order set scales with the tombstones, not with lineitem. Every
    * audit row is a one-row aggregate; the crossJoins below are
    * one-row broadcasts, never data×data.
    */
  def deletePropagation(t: Tables, modulus: Int = 13): DataFrame = {
    val tomb = t.customer
      .filter(col("c_custkey") % modulus === 0)
      .select(col("c_custkey"))
    val purgedOrders = t.orders
      .join(broadcast(tomb), col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    val purgedLines = t.lineitem
      .join(purgedOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")

    def auditRow(name: String, full: DataFrame, purged: DataFrame): DataFrame =
      full.agg(count(lit(1)).as("rows_before"))
        .crossJoin(purged.agg(count(lit(1)).as("rows_deleted")))
        .select(lit(name).as("table_name"), col("rows_before"),
          col("rows_deleted"),
          (col("rows_before") - col("rows_deleted")).as("rows_after"))

    auditRow("customer", t.customer, tomb)
      .unionAll(auditRow("orders", t.orders, purgedOrders))
      .unionAll(auditRow("lineitem", t.lineitem, purgedLines))
  }

  /** `er_blocked_pairs` — record linkage (entity resolution) over the
    * part master-data: find distinct part rows that describe the same
    * product, WITHOUT comparing all pairs. Classic two-phase shape:
    *
    *  1. BLOCKING — candidates come only from keyed self-joins on
    *     cheap block keys, so work is bounded by block sizes, never
    *     n². Two passes: equal `p_name`, and equal
    *     (`p_type`, `p_brand`).
    *  2. SCORING — each candidate pair scores one point per agreeing
    *     field: name, type, brand equality, size within ±2; pairs
    *     with score ≥ 3 are matches.
    *
    * The two block keys are COMPLETE for this rule: a score ≥ 3 pair
    * agrees on at least 3 of the 4 fields, of which at most one can
    * be `size_close` — so it agrees on ≥ 2 of {name, type, brand},
    * and any such 2-subset contains `name` or {type, brand}, i.e.
    * every match collides in block 1 or block 2. The DuckDB oracle
    * scores ALL pairs, so a blocking hole would fail the hash gate —
    * the blocked plan is verified against ground truth, not trusted.
    * At 100 TB both joins shuffle on low-cardinality-bounded keys
    * (name frequency, type×brand buckets); skewed real-world block
    * keys would be salted exactly like `q_salted_join`.
    */
  def erBlockedPairs(t: Tables): DataFrame = erPairs(t)

  /** The full-corpus blocked+scored MATCH-PAIR set, staged ONCE per
    * (session, dataset) and shared by every consumer —
    * `er_blocked_pairs`, `er_resolve_clusters`, the er-state history
    * build (pairs among history keys = the staged pairs with both
    * keys ≤ split, exact because blocking + scoring are pairwise),
    * and the incremental's increment-vs-increment slice (both keys >
    * split). The same self-join pair generation was being recomputed
    * per consumer (r14 verdict #6); in production this IS the stored
    * candidate table the nightly ER job maintains. */
  private[graft] def erPairs(t: Tables): DataFrame = {
    val path = graft.sources.SourceOps.staged(t, "er_pairs") {
      val p = graft.sources.SourceOps.staging(
        s"er_pairs_${graft.sources.SourceOps.dirTag(t.dir)}")
      erBlockedPairsOf(erProj(t.part)).write.mode("overwrite").parquet(p)
      p
    }
    t.spark.read.parquet(path)
  }

  /** The master-data projection every ER stage works over. */
  private def erProj(part: DataFrame): DataFrame =
    part.select(col("p_partkey"), col("p_name"), col("p_type"),
      col("p_brand"), col("p_size"))

  /** The pairwise field-agreement score + match cut, shared by every
    * candidate generator (within-set and cross-set blocking). */
  private def scorePairs(cands: DataFrame): DataFrame =
    cands
      .select(col("a.p_partkey").as("key_1"), col("b.p_partkey").as("key_2"),
        ((col("a.p_name") === col("b.p_name")).cast("int")
          + (col("a.p_type") === col("b.p_type")).cast("int")
          + (col("a.p_brand") === col("b.p_brand")).cast("int")
          + (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int")).as("score"))
      .filter(col("score") >= 3)
      .distinct() // a pair may surface from both blocks; score is identical

  /** Candidate generation, COMPLETE for the score ≥ 3 rule and
    * SIZE-BANDED on the low-cardinality block (the r17 organic-probe
    * fix). A match agrees on ≥ 2 of {name, type, brand}: either it
    * agrees on `name` (block 1), or on {type, brand} WITHOUT name —
    * in which case the third point must be `size_close`
    * (|Δsize| ≤ 2), so block 2 only ever needs candidates within the
    * size tolerance. Banding it (stride-2 keys: each row lands in
    * bands ⌊size/2⌋ and ⌊size/2⌋+1, so any |Δ| ≤ 2 pair shares a
    * band — the `q_range_join_banded` cover) divides the quadratic
    * (type, brand) block volume by the size spread: (type, brand) is
    * FIXED-cardinality (the classic blocking-selectivity trap — at
    * 10× rows its Σb² grows 100×), while (type, brand, band) adds
    * the one attribute the rule lets us add for free. Completeness
    * stays HASH-VERIFIED, not argued: the DuckDB oracle scores all
    * pairs. Band duplicates dedupe in scorePairs' distinct(). */
  private def erBlockedPairsOf(p: DataFrame): DataFrame = {
    def blocked(cond: org.apache.spark.sql.Column): DataFrame =
      p.as("a").join(p.as("b"), cond && col("a.p_partkey") < col("b.p_partkey"))
    val banded = {
      def withBands(df: DataFrame): DataFrame =
        df.withColumn("__band",
          explode(array(floor(col("p_size") / 2),
            floor(col("p_size") / 2) + 1)))
      withBands(p).as("a").join(withBands(p).as("b"),
        col("a.p_type") === col("b.p_type") &&
          col("a.p_brand") === col("b.p_brand") &&
          col("a.__band") === col("b.__band") &&
          col("a.p_partkey") < col("b.p_partkey"))
    }
    // score each leg against its own join lineage (the banded leg
    // carries window-key columns the union must not see), then dedupe
    // across legs — a pair may surface from both with equal score
    scorePairs(blocked(col("a.p_name") === col("b.p_name")))
      .unionAll(scorePairs(banded))
      .distinct()
  }

  /** `er_review_queue` — the CLERICAL-REVIEW band of the
    * record-linkage decision rule (the Fellegi–Sunter three-way
    * triage every production ER deployment runs): pairs agreeing on
    * EXACTLY 2 of the 4 fields — too similar to auto-reject, too
    * different to auto-match (≥ 3 links, [[erBlockedPairs]]) — with
    * per-field agreement evidence a human reviewer reads.
    *
    * Blocking completeness, proven for the 2-band: a kept pair has
    * EXACTLY 2 agreements, at most one of which is the SIZE band, so
    * its agreement set is one of {name,·}, {type,brand},
    * {brand,size}, {type,size} — and each case is surfaced by its
    * own TWO-CONSTRAINT block: the name block (name is near-unique,
    * any second agreement lands in it), the brand×type block, the
    * brand×size-band block, or the type×size-band block. The ORACLE
    * scores ALL pairs so any hole fails the hash gate (the
    * `er_blocked_pairs` discipline), and the all-pairs spec replay
    * re-proves it per run.
    *
    * Size-band scheme (the overlap-window trick that keeps the
    * |Δsize| ≤ 2 predicate blockable): windows of width 4 at stride
    * 2 — every part lands in exactly two windows, family 0 starting
    * at sizes ≡ 0 (mod 4) (key ⌊size/4⌋) and family 1 starting at
    * sizes ≡ 2 (mod 4) (key ⌊(size−2)/4⌋). Any pair with
    * |Δsize| ≤ 2 spans an interval [m, m+δ], δ ≤ 2, which fits in
    * the width-4 window starting at whichever of {m−1, m} is even —
    * so the pair SHARES that window's (family, key) and the banded
    * equi-join finds it. Exactness is untouched: band membership is
    * only a candidate generator; the exactly-2 score test rides in
    * the join as before.
    *
    * Scale: this replaces r11's bare single-field brand/type blocks
    * (~8 M raw candidates at sf0.1 — block size ∝ corpus/25, i.e.
    * quadratic at 100 TB part masters) with blocks keyed on TWO
    * fields each; the largest cell is now brand×band or type×band
    * (≈ 25×27 / 150×27 cells, each part in exactly 2 band cells), so
    * Σ|cell|² stays subquadratic as the master grows. */
  /** G8 — `er_fuzzy_pairs`: edit-distance-≤1 fuzzy matching over the
    * customer register via SymSpell DELETION-NEIGHBORHOOD blocking
    * (the public symmetric-delete scheme): each name generates itself
    * plus its |name| single-character-deletion variants, and any two
    * names within Levenshtein 1 PROVABLY share a variant — equal
    * names share the name, a substitution shares the both-sides
    * deletion at the differing position, an insertion shares the
    * shorter name itself. Candidates (variant-keyed equi-self-join)
    * are then VERIFIED with the exact Levenshtein predicate, so the
    * output is exact: the oracle scores ALL pairs — a blocking hole
    * fails the hash gate (the `er_blocked_pairs` discipline); shared
    * variants can also pair distance-2 names ("ab"/"ba" both delete
    * to "a"), which the verify filter removes.
    *
    * The typo-matching workhorse next to the field-agreement triage
    * (`er_review_queue` scores structured agreement; this catches the
    * single-keystroke error inside one field). Scale: candidate
    * volume is Σ bucket² over variant buckets (bounded by how many
    * strings share a deletion — never all-pairs); the verify is
    * Spark's THRESHOLD Levenshtein (banded DP that abandons a pair
    * the moment the distance exceeds 1 — O(L) per candidate, not
    * O(L²)), run MAP-SIDE before the dedup exchange so only true
    * matches shuffle; the oracle's plain all-pairs DP is exact on
    * the same ASCII and agrees on every surviving distance. */
  def erFuzzyPairs(t: Tables): DataFrame = {
    // repartition straight off the scan (the dedupSpans small-file
    // rule, §2.5 input skew): the register is one parquet file, so
    // without this the broadcast self-join — and the whole Levenshtein
    // verify fan-out — runs inside a 1-task scan stage, serializing
    // seconds of per-candidate CPU on one core
    val c = t.customer.select(col("c_custkey").cast("long").as("id"),
      col("c_name").as("name"))
      .repartition(t.spark.sparkContext.defaultParallelism)
    // the join key is the 64-bit HASH of the deletion variant, not
    // the variant string (§2.3: shuffle narrow keys — the variants
    // are name-length strings, ~3× the bytes of the hash, and the
    // equi-join only needs "same variant", not its text). A hash
    // collision can only ADD a candidate pair, never drop one, and
    // the exact Levenshtein verify below already removes every
    // false candidate — output provably unchanged.
    val vars = c.withColumn("v", explode(array_union(array(col("name")),
      expr("transform(sequence(1, length(name)), i -> " +
        "concat(substring(name, 1, i-1), substring(name, i+1, length(name))))"))))
      .select(col("id"), col("name"), xxhash64(col("v")).as("vh"))
    vars.as("a")
      .join(vars.as("b"), col("a.vh") === col("b.vh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.name").as("a_name"), col("b.name").as("b_name"))
      // verify FIRST (map-side, banded DP via the threshold form that
      // abandons a row the moment the distance exceeds 1), THEN dedup:
      // the distinct's exchange carries only true matches, not the
      // ~bucket² candidate fan-out
      .withColumn("dist",
        levenshtein(col("a_name"), col("b_name"), 1).cast("int"))
      .filter(col("dist") >= 0)
      .distinct()
  }

  /** The two overlap-2 size-band keys of a part (width-4 windows at
    * stride 2; see [[erReviewQueue]]'s scaladoc for the cover proof).
    * Shared with the spec so the exhaustive band-cover check and the
    * shipped query can never drift apart. */
  private[graft] def sizeBands(size: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    array(
      struct(lit(0).as("fam"), floor(size / 4).cast("long").as("w")),
      struct(lit(1).as("fam"), floor((size - 2) / 4).cast("long").as("w")))

  def erReviewQueue(t: Tables): DataFrame = {
    // repartition off the single-file scan (the erFuzzyPairs rule,
    // §2.5 input skew): all four blocked self-joins broadcast, so
    // without this the whole pair fan-out runs inside the scan's
    // handful of tasks (measured: 10 tasks carrying ~5 s of CPU)
    val p = erProj(t.part)
      .repartition(t.spark.sparkContext.defaultParallelism)
    // the exactly-2 score test rides INSIDE each block join as a
    // residual condition: a kept pair needs one more agreement beyond
    // its block keys, and evaluating the full test at the join cuts
    // the unioned candidate set to the final band BEFORE the distinct
    val score = (col("a.p_name") === col("b.p_name")).cast("int")
      .plus((col("a.p_type") === col("b.p_type")).cast("int"))
      .plus((col("a.p_brand") === col("b.p_brand")).cast("int"))
      .plus((abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int"))
    // project each block to the band's output columns AT the join (the
    // banded sides carry their window key, which must not reach the
    // union)
    def blocked(side: DataFrame,
        cond: org.apache.spark.sql.Column): DataFrame =
      side.as("a").join(side.as("b"),
        cond && col("a.p_partkey") < col("b.p_partkey") && score === 2)
        .select(col("a.p_partkey").as("key_1"), col("b.p_partkey").as("key_2"),
          (col("a.p_name") === col("b.p_name")).cast("int").as("name_agree"),
          (col("a.p_type") === col("b.p_type")).cast("int").as("type_agree"),
          (col("a.p_brand") === col("b.p_brand")).cast("int").as("brand_agree"),
          (abs(col("a.p_size") - col("b.p_size")) <= 2).cast("int").as("size_close"))
    // size-banded projection: each part lands in exactly 2 band cells
    val banded = p.withColumn("band", explode(sizeBands(col("p_size"))))
    val bandEq = col("a.band") === col("b.band")
    val sizeClose = abs(col("a.p_size") - col("b.p_size")) <= 2
    // a fam-1 window match only counts when the pair does NOT already
    // share a fam-0 window — each |Δsize| ≤ 2 pair then emits from
    // exactly ONE window, so the banded blocks never duplicate
    val famOnce = col("a.band.fam") === 0 ||
      floor(col("a.p_size") / 4) =!= floor(col("b.p_size") / 4)
    // The four blocks PARTITION the exactly-2 band by agreement
    // pattern — {name,·} / {brand,type} / {brand,size} / {type,size}
    // — and each emits its pairs exactly once (single-key joins emit
    // once; the banded joins once via famOnce), so the union needs NO
    // distinct: the 2×|band| dedup exchange this query used to pay is
    // gone. Disjointness is forced by the residuals: a size_close
    // residual on the banded blocks pins their pattern to
    // {brand,size} / {type,size} (anything more would score 3), and
    // score === 2 excludes name/type agreement from the brand×type
    // block.
    blocked(p, col("a.p_name") === col("b.p_name"))
      .unionAll(blocked(p, col("a.p_brand") === col("b.p_brand") &&
        col("a.p_type") === col("b.p_type")))
      .unionAll(blocked(banded, col("a.p_brand") === col("b.p_brand") &&
        bandEq && sizeClose && famOnce))
      .unionAll(blocked(banded, col("a.p_type") === col("b.p_type") &&
        bandEq && sizeClose && famOnce))
  }

  /** G10 — `q_data_masking`: the PSEUDONYMIZATION + K-ANONYMITY audit
    * a governed release of the customer register runs (the
    * Sweeney-style generalize-and-audit discipline): direct
    * identifiers are replaced by DETERMINISTIC format-preserving
    * tokens (`Customer#` + 9 md5-derived digits — same input, same
    * token, so referential joins still work downstream, and the
    * token is engine-replayable), quasi-identifiers are GENERALIZED
    * up their hierarchies (nation → region; account balance → $1000
    * bands), and the output is the per-equivalence-class audit:
    * class size k, distinct tokens inside the class (a token
    * collision would show as n_tokens < k — the masking's injectivity
    * is MEASURED in-band, not assumed), and the k < 5 re-identification
    * risk flag a release gate reads.
    *
    * Shape: two broadcast dim joins (nation, region — the
    * generalization hierarchy), map-only token arithmetic (9 hex-nibble
    * conversions per row), ONE keyed rollup over the class key. The
    * masked row stream itself never leaves the job — at 100 TB it is
    * written straight to the release sink while this KB-scale audit is
    * what humans see. */
  def qDataMasking(t: Tables, band: Int = 1000, kMin: Int = 5): DataFrame = {
    val token = concat(lit("Customer#"), concat((1 to 9).map(i =>
      (conv(substring(md5(col("c_name")), i, 1), 16, 10).cast("long") % 10)
        .cast("string")): _*))
    t.customer
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        (floor(col("c_acctbal") / band).cast("long") * band).as("acct_band"),
        col("c_mktsegment"), token.as("name_token"))
      .groupBy(col("region"), col("acct_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("name_token")).as("n_tokens"))
      .withColumn("risky", col("k") < kMin)
  }

  /** `er_blocking_eval` — the measure-don't-guess eval BLOCKING
    * choices need (public Christen 2012 survey metrics): for each
    * candidate scheme — name-only, type×brand-only, and their union
    * (the production pair) — report candidate volume, matches found,
    * recall against the full match set, and the pairs-completeness /
    * reduction-ratio trade every ER deployment tunes. On this rule
    * the single-key schemes are INCOMPLETE by construction (a match
    * can agree on {type, brand} + size while differing in name, and
    * vice versa) and the union is provably complete — the eval makes
    * that visible as measured recall instead of a proof in a comment,
    * which is what a steward tuning NEW block keys actually needs.
    *
    * The ground-truth match set is the union scheme's (completeness
    * proven in [[erBlockedPairs]]; the driver's all-pairs oracle
    * re-checks it at the gate, so the eval's denominator is itself
    * verified). At 100 TB the truth side comes from a labelled
    * sample instead — the shape is identical.
    *
    * Shape: fully declarative — per scheme one keyed self-join
    * bounded by block sizes (never n²), counts as one-row aggregates
    * crossJoined into the report; the n(n−1)/2 denominator folds from
    * the part count, so nothing here scales beyond the blocks. */
  def erBlockingEval(t: Tables): DataFrame = {
    val p = erProj(t.part)
    def blocked(cond: org.apache.spark.sql.Column): DataFrame =
      p.as("a").join(p.as("b"), cond && col("a.p_partkey") < col("b.p_partkey"))
    val byName = blocked(col("a.p_name") === col("b.p_name"))
    val byTb = blocked(col("a.p_type") === col("b.p_type") &&
      col("a.p_brand") === col("b.p_brand"))
    def pairsOf(c: DataFrame): DataFrame =
      c.select(col("a.p_partkey").as("key_1"), col("b.p_partkey").as("key_2"))
    val union = pairsOf(byName).unionAll(pairsOf(byTb)).distinct()
    val truth = scorePairs(byName.unionAll(byTb))
      .select(col("key_1"), col("key_2"))
    val nRow = p.agg(count(lit(1)).as("n_parts"))
    val mRow = truth.agg(count(lit(1)).as("n_matches_total"))
    def row(scheme: String, cands: DataFrame, found: DataFrame): DataFrame =
      cands.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(found.agg(count(lit(1)).as("n_found")))
        .crossJoin(mRow).crossJoin(nRow)
        .select(lit(scheme).as("scheme"),
          col("n_candidates"), col("n_found"), col("n_matches_total"),
          round(col("n_found") / col("n_matches_total") + lit(1e-9), 4)
            .as("recall"),
          round(lit(1.0) - col("n_candidates") /
            (col("n_parts") * (col("n_parts") - 1) / lit(2.0)) + lit(1e-9), 6)
            .as("reduction_ratio"))
    row("name", pairsOf(byName),
        scorePairs(byName).select(col("key_1"), col("key_2")))
      .unionAll(row("type_brand", pairsOf(byTb),
        scorePairs(byTb).select(col("key_1"), col("key_2"))))
      .unionAll(row("union", union, truth))
  }

  /** `er_resolve_clusters` — the step record linkage exists FOR: the
    * pairwise matches ([[erBlockedPairs]]) resolved into ENTITIES via
    * connected components, then each multi-member entity collapsed to
    * one golden record. Pairs alone under-resolve: (a,b) and (b,c)
    * matching without (a,c) is still ONE product seen three ways, and
    * only the transitive closure says so.
    *
    * Survivorship policy (deterministic, the auditable kind a master-
    * data pipeline wants): the minimum-key member is canonical — its
    * name/brand survive — while size and price ranges are kept as the
    * conflict evidence (a wide `price_max − price_min` is exactly the
    * row a data steward reviews). Singleton entities are suppressed:
    * the output is the duplication worklist, not a part re-listing.
    *
    * Scale shape: reuses [[Dedup.connectedComponents]] — min-label
    * propagation with adaptive path halving, one keyed join + partial
    * min per round, shuffles carry (id, label) pairs only, no
    * component ever materializes anywhere. Matches come from the
    * BLOCKED self-joins (bounded by block sizes, never n²); the
    * rollup and the canonical-fields join are keyed equi-joins on the
    * entity id. The DuckDB oracle recomputes the closure from the
    * ALL-PAIRS match set via a recursive CTE, so both the blocking
    * completeness AND the distributed CC are checked against ground
    * truth every round. `localMaxEdges = 0` forces the distributed
    * loop.
    */
  def erResolveClusters(t: Tables,
      localMaxEdges: Long = Dedup.LocalCcMaxEdges): DataFrame = {
    val matches = erPairs(t).select(col("key_1"), col("key_2"))
    val edges = matches
      .select(col("key_1").as("src"), col("key_2").as("dst"))
      .union(matches.select(col("key_2").as("src"), col("key_1").as("dst")))
    val cc = Dedup.connectedComponents(edges, localMaxEdges = localMaxEdges)
    if (cc.local) {
      // adaptive driver-local CC path (small match graph): the labels
      // are a LocalRelation — no checkpoint blocks to release and
      // nothing to gain from a parquet roundtrip; feed the rollup
      // directly (two fewer jobs per call)
      goldenOf(t.part, cc.labels)
    } else {
      // distributed path: the entity assignment is a persisted
      // artifact in production (the master-data crosswalk table);
      // writing it out here doubles as the deterministic release
      // point for the CC rounds' checkpoint blocks, which live
      // outside the CacheManager and would otherwise linger until
      // ContextCleaner GC (see Rounds.release). Each call writes its
      // own dir: the returned frame reads it, so a later call must not
      // overwrite it
      val labelPath = graft.sources.SourceOps.staging(
        s"er_labels_${graft.sources.SourceOps.dirTag(t.dir)}_" +
          java.util.UUID.randomUUID)
      cc.labels.write.mode("overwrite").parquet(labelPath)
      Rounds.release(cc.labels)
      goldenOf(t.part, t.spark.read.parquet(labelPath))
    }
  }

  /** Golden-record rollup shared by the batch resolve and the
    * incremental state build: per entity (= CC label = min member),
    * member count + size/price conflict ranges, canonical name/brand
    * from the min-key member, singletons suppressed. */
  private def goldenOf(part: DataFrame, labels: DataFrame): DataFrame = {
    val members = part
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .join(labels.select(col("doc_id").as("p_partkey"),
        col("cluster_id").as("entity_id")), Seq("p_partkey"))
    val entities = members.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("p_size")).as("size_min"),
        max(col("p_size")).as("size_max"),
        round(min(col("p_retailprice")), 2).as("price_min"),
        round(max(col("p_retailprice")), 2).as("price_max"))
      .filter(col("n_members") >= 2)
    // canonical fields come from the min-key member — which IS the
    // entity id (labels are component minima), so one keyed join
    entities.join(part.select(col("p_partkey").as("entity_id"),
        col("p_name").as("canonical_name"), col("p_brand").as("canonical_brand")),
      Seq("entity_id"))
      .select(col("entity_id"), col("n_members"), col("canonical_name"),
        col("canonical_brand"), col("size_min"), col("size_max"),
        col("price_min"), col("price_max"))
  }

  // ---- incremental entity resolution -------------------------------

  /** The stored master-data state: the history CC labels plus the
    * golden records themselves (the production entity table the merge
    * maintains), and the history projection indexed per BLOCK KEY (one
    * bucketed table per blocking pass, so increment-vs-history
    * candidate joins are exchange-free on the big side). The history
    * resolve is yesterday's scheduled job, so `_build_er_state` times
    * it as its own bench entry. */
  private[graft] def erState(t: Tables): (String, String, String, String, Long) =
    graft.sources.SourceOps.staged(t, "er_state") {
      import graft.sources.{SourceOps, Sources}
      // deterministic 80/20 split by key: increment keys all exceed
      // history keys, so contracted minima equal full-graph minima
      val r = t.part.agg(max(col("p_partkey"))).first()
      val splitKey = if (r.isNullAt(0)) 0L else r.getLong(0) * 4 / 5
      val tag = s"${SourceOps.runId}_${SourceOps.dirTag(t.dir)}"
      val hist = erProj(t.part).filter(col("p_partkey") <= splitKey)
      val byName = s"graft_er_byname_$tag"
      Sources.writeBucketed(hist, byName, Seq("p_name"), nBuckets = 8,
        sortCols = Seq("p_name"),
        path = Some(SourceOps.staging(s"er_byname_$tag")))
      val byType = s"graft_er_bytype_$tag"
      Sources.writeBucketed(hist, byType, Seq("p_type", "p_brand"),
        nBuckets = 8, sortCols = Seq("p_type", "p_brand"),
        path = Some(SourceOps.staging(s"er_bytype_$tag")))
      // restriction of the staged full pair set — exact, because
      // pair membership depends only on the two rows, and both
      // keys ≤ split ⇔ key_2 ≤ split (key_1 < key_2)
      val pairs = erPairs(t).filter(col("key_2") <= splitKey)
        .select(col("key_1"), col("key_2"))
      val edges = pairs.select(col("key_1").as("src"), col("key_2").as("dst"))
        .union(pairs.select(col("key_2").as("src"), col("key_1").as("dst")))
      val labels = Dedup.connectedComponents(edges).labels
      val labelTable = s"graft_er_labels_$tag"
      Sources.writeBucketed(labels, labelTable, Seq("doc_id"), nBuckets = 8,
        sortCols = Seq("doc_id"),
        path = Some(SourceOps.staging(s"er_labels_hist_$tag")))
      Rounds.release(labels)
      val entityTable = s"graft_er_entities_$tag"
      Sources.writeBucketed(
        goldenOf(t.part.filter(col("p_partkey") <= splitKey),
          t.spark.table(labelTable)),
        entityTable, Seq("entity_id"), nBuckets = 8,
        sortCols = Seq("entity_id"),
        path = Some(SourceOps.staging(s"er_entities_$tag")))
      (labelTable, entityTable, byName, byType, splitKey)
    }

  /** `er_resolve_incremental` — incremental maintenance of the golden
    * records: yesterday's resolve is STORED STATE (CC labels + entity
    * table + per-block-key history indexes), today only the new parts
    * (key > split) generate candidates, and changed entities are
    * re-rolled from DECOMPOSABLE partial aggregates — history member
    * rows are never re-read, let alone re-paired. The
    * `dedup_clusters_incremental` discipline applied to master data,
    * where a daily full re-resolve is the first job a 100 TB MDM
    * deployment refuses to run.
    *
    *  1. Candidates: increment-vs-history from the stored per-block
    *     bucketed indexes (name; type×brand — index side
    *     exchange-free), increment-vs-increment from the blocked
    *     self-join; old-vs-old never re-runs. Same score-≥-3 cut.
    *  2. Contract: history endpoints enter the merge graph as their
    *     stored entity label (singletons as themselves); the merge
    *     graph is bounded by increment + touched entities, so its CC
    *     takes the adaptive local path at any corpus size.
    *  3. Re-roll: each merge-graph node carries a PARTIAL aggregate —
    *     a history rep contributes its stored golden record (count,
    *     size/price ranges are all decomposable), a singleton or new
    *     part its own row — one keyed rollup per merged entity;
    *     untouched entities pass through via one broadcast anti-join.
    *
    * Merge == recompute by the same contraction argument as the dedup
    * incremental (labels are component minima; increment keys exceed
    * history keys), and the oracle IS the full-recompute recursive-CTE
    * SQL verbatim, so the equivalence is hash-checked at the gate.
    */
  def erResolveIncremental(t: Tables): DataFrame = {
    val (labelTable, entityTable, byName, byType, splitKey) = erState(t)
    val sess = t.spark
    val inc = erProj(t.part).filter(col("p_partkey") > splitKey)
    // cross blocking: history side reads its bucketed block index
    val nhCands =
      sess.table(byName).as("a")
        .join(inc.as("b"), col("a.p_name") === col("b.p_name"))
        .unionAll(sess.table(byType).as("a")
          .join(inc.as("b"), col("a.p_type") === col("b.p_type") &&
            col("a.p_brand") === col("b.p_brand")))
    // history keys < increment keys, so (a, b) is already ordered
    val nhPairs = scorePairs(nhCands).select(col("key_1"), col("key_2"))
    // increment-vs-increment from the staged full pair set (both keys
    // > split ⇔ key_1 > split, exact by the pairwise argument)
    val nnPairs = erPairs(t).filter(col("key_1") > splitKey)
      .select(col("key_1"), col("key_2"))
    val reps = sess.table(labelTable)
      .select(col("doc_id").as("key_1"), col("cluster_id").as("rep"))
    val half = nhPairs.join(reps, Seq("key_1"), "left")
      .select(coalesce(col("rep"), col("key_1")).as("src"), col("key_2").as("dst"))
      .union(nnPairs.select(col("key_1").as("src"), col("key_2").as("dst")))
    val edges = half
      .union(half.select(col("dst").as("src"), col("src").as("dst")))
    val merged = Dedup.connectedComponents(edges).labels
    val nodeLabels = merged
      .select(col("doc_id").as("node"), col("cluster_id").as("label"))
    val stored = sess.table(entityTable)
    // per-node partial aggregates: stored golden record for a history
    // rep, the part row itself for singletons and new parts
    val partRows = t.part
      .select(col("p_partkey").as("node"), col("p_size"),
        round(col("p_retailprice"), 2).as("p_price"))
    val nodeAggs = nodeLabels
      .join(stored.select(col("entity_id").as("node"),
        col("n_members").as("sn"), col("size_min").as("ss1"),
        col("size_max").as("ss2"), col("price_min").as("sp1"),
        col("price_max").as("sp2")), Seq("node"), "left")
      .join(partRows, Seq("node"), "left")
      .select(col("label").as("entity_id"),
        coalesce(col("sn"), lit(1L)).as("pn"),
        coalesce(col("ss1"), col("p_size")).as("ps1"),
        coalesce(col("ss2"), col("p_size")).as("ps2"),
        coalesce(col("sp1"), col("p_price")).as("pp1"),
        coalesce(col("sp2"), col("p_price")).as("pp2"))
    val mergedEntities = nodeAggs.groupBy(col("entity_id"))
      .agg(sum(col("pn")).as("n_members"),
        min(col("ps1")).as("size_min"), max(col("ps2")).as("size_max"),
        min(col("pp1")).as("price_min"), max(col("pp2")).as("price_max"))
      .filter(col("n_members") >= 2)
      .join(t.part.select(col("p_partkey").as("entity_id"),
        col("p_name").as("canonical_name"), col("p_brand").as("canonical_brand")),
        Seq("entity_id"))
      .select(col("entity_id"), col("n_members"), col("canonical_name"),
        col("canonical_brand"), col("size_min"), col("size_max"),
        col("price_min"), col("price_max"))
    val touched = nodeLabels.select(col("node").as("entity_id")).distinct()
    stored.join(broadcast(touched), Seq("entity_id"), "left_anti")
      .unionByName(mergedEntities)
  }

  /** G11 — `corpus_dp_release`: a differentially-private public
    * release of the per-(source, lang) corpus composition — the table
    * a dataset card publishes when the raw per-slice counts are
    * themselves sensitive (tiny slices can identify a contributor).
    *
    * Mechanism: the DISCRETE LAPLACE (two-sided geometric) mechanism
    * of Ghosh–Roughgarden–Sundararajan, which is ε-DP for counting
    * queries (sensitivity 1) at ε = ln 2 here — and, unlike
    * continuous Laplace, needs NO transcendental sampling: the noise
    * is `g₁ − g₂` with g᷈ᵢ iid Geometric(½), and a Geometric(½) draw
    * is simply the number of trailing one-bits of a uniform word. The
    * two 24-bit halves of a 48-bit md5-derived value give two
    * independent uniforms, so the whole release is EXACT integer
    * arithmetic — bit-identical in Spark and the DuckDB oracle, no
    * ln(), no float, no rounding rule. (Seeded = replayable for the
    * gate; a production release derives the digest from a secret
    * release nonce instead of a public tag. Trailing-ones caps at 24;
    * P = 2⁻²⁴ per draw, immaterial.)
    *
    * Shape: one partial-agg count shuffle to the (source, lang)
    * grain, then map-only noise on the metadata-scale release rows —
    * the corpus is read once regardless of scale. Negative noisy
    * counts clamp to 0 (the standard post-processing step; DP is
    * closed under post-processing). */
  def corpusDpRelease(t: Tables): DataFrame =
    dpNoiseOf(t.documents.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n")))

  /** The mechanism itself over a (source, lang, n) count frame —
    * shared by the batch release and the continuous monitor
    * `stream_dp_release` (pair #25): pure post-processing, map-only. */
  private[graft] def dpNoiseOf(counts: DataFrame): DataFrame =
    counts
      .withColumn("h48", expr(
        "CAST(conv(substring(md5(concat('dp:', source, ':', lang)), 1, 12), 16, 10) AS BIGINT)"))
      .withColumn("g1", expr(
        "bit_count((h48 % 16777216) ^ ((h48 % 16777216) + 1)) - 1"))
      .withColumn("g2", expr(
        "bit_count((h48 DIV 16777216) ^ ((h48 DIV 16777216) + 1)) - 1"))
      // release ONLY the noisy count: emitting the noise (or the true
      // count) beside it would undo the privacy the mechanism buys
      .select(col("source"), col("lang"),
        greatest(col("n") + col("g1") - col("g2"), lit(0L)).as("n_released"))
      .orderBy(col("source"), col("lang"))
}
