package graft.ext

import Stages.StageOps
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash-LSH and SimHash.
  *
  * The reference has no dedup surface (SURVEY.md §0); these are the
  * driver-mandated LLM-pipeline operators (SURVEY.md §2.2 B69/B71). The
  * exact twins checked against the DuckDB oracle are q46_exact_dup,
  * x52_fingerprint, x53_dedup_stats and x54_ngram_jaccard; the sketch-based
  * ops here are hash-dependent (murmur3/xxhash64) and therefore
  * property-tested in DedupSpec instead (candidates ⊇ exact duplicates;
  * estimate within ε of exact Jaccard).
  *
  * Scale design: signatures are MAP-ONLY — one codegen'd native expression
  * per doc over its word array ([[graft.functions.MinHashSignature]] /
  * [[graft.functions.SimHash64]]), zero shuffle; the only shuffle in each
  * pipeline is the band/chunk-bucket self-join, whose key spreads
  * uniformly, so the pair space is bounded by bucket occupancy — the
  * standard MinHash-LSH contract at 100 TB. No collect(), no cross join.
  */
object Dedup {
  val NumPerms = 64
  // 4 bands × 16 rows: this corpus has a 31-word vocabulary, so *random*
  // pairs sit near Jaccard 0.65 (measured: mean 0.62, median 0.66 at
  // sf0.01) — short bands would admit nearly every pair (0.65^4 ≈ 18% per
  // band), while 16-row bands keep the candidate rate at 0.65^16 ≈ 1e-3
  // per band yet still catch j≈1 duplicates with probability ~1
  // (0.9-similar pairs drop to ~56% recall — acceptable here because the
  // true duplicates are word-order shuffles with j=1).
  // At 100 TB the band shape is the knob that trades shuffle volume vs
  // recall; it must be chosen against the similarity distribution, not
  // defaulted.
  val Bands = 4
  val RowsPerBand: Int = NumPerms / Bands

  /** doc_id + distinct lowercase word set (the shingle universe). */
  private[graft] def docWords(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark, dir)
    spark.table("documents").select(col("doc_id"),
      // array_remove == filter(t <> ''), but codegen'd — the filter-lambda
      // formulation evaluates interpreted and taxed every sketch consumer
      array_distinct(array_remove(split(lower(col("text")), " "), ""))
        .as("words"))
  }

  /** 64-perm MinHash signature: perm i = murmur3 of the word's UTF-8 bytes
    * with seed i (the hash family is the seed index).
    *
    * Computed MAP-ONLY by the codegen'd [[graft.functions.MinHashSignature]]
    * expression — one tight loop over the doc's word array, zero shuffle.
    * (Two earlier formulations both paid real costs: transform/array_min
    * lambdas evaluate interpreted (~10×); explode → groupBy(doc_id) with 64
    * `min(hash(tok, i))` agg columns codegens but shuffles the exploded
    * token stream and carries a 64-field aggregation buffer per doc — at
    * 100 TB that shuffle is pure waste for a per-row-computable value.)
    *
    * Empty word sets are filtered here, preserving the explode
    * formulation's documented contract that sketches drop empty docs. */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(size(col("words")) > 0)
      .select(col("doc_id"), expr("minhash_signature(words)").as("sig"))
  }

  /** Band-bucket candidate pairs over one row per DISTINCT signature
    * (`reps`: rep_id, sig). Returns (rep_a, rep_b, est_j) for representative
    * pairs sharing ≥2 of [[Bands]] bands with MinHash estimate ≥ 0.9.
    *
    * Factored out so a spec can pin the scale contract: candidate volume
    * through this join depends only on the number of DISTINCT signatures,
    * never on duplicate-cluster sizes. */
  private[graft] def repCandidates(reps: DataFrame): DataFrame =
    repCandidatesCarry(reps, Nil)

  /** [[repCandidates]] with extra per-representative columns carried
    * through the est_j verify joins (r16: the pipeline previously joined
    * `groups` back TWICE more just to fetch the member lists the verify
    * joins already had in hand — two whole broadcast-join stages for
    * columns sitting in the same cached frame; guide §2.4). Each carried
    * column `c` surfaces as `c_a` / `c_b`. */
  private def repCandidatesCarry(reps: DataFrame,
                                 carry: Seq[String]): DataFrame = {
    // The band join shuffles ONLY (rep_id, band_id, bh) — 20 bytes/row.
    val bands = reps.select(col("rep_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(b.as("band_id"),
            hash(slice(col("sig"), b * lit(RowsPerBand) + lit(1),
              lit(RowsPerBand))).as("bh")))).as("band"))
      .select(col("rep_id"),
        col("band.band_id").as("band_id"), col("band.bh").as("bh"))
    // Candidate = representative pairs sharing ≥2 of 4 bands. RANDOM pairs
    // on this corpus sit near Jaccard 0.65 (see the band-shape note on
    // Bands), so single-band matches still admit ~10% of all pairs;
    // requiring a second independent band match cuts that ~20× while
    // keeping j≈1 pairs at probability ~1.
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
          col("a.rep_id") < col("b.rep_id"))
      .groupBy(col("a.rep_id").as("rep_a"), col("b.rep_id").as("rep_b"))
      .agg(count(lit(1)).as("shared_bands"))
      .filter(col("shared_bands") >= 2)
    // est_j as 64 codegen'd element comparisons — the zip_with lambda
    // formulation evaluates interpreted and dominated the runtime.
    val estCol = (0 until NumPerms).map(i =>
      when(element_at(col("sa"), i + 1) === element_at(col("sb"), i + 1), 1)
        .otherwise(0)).reduce(_ + _).cast("double") / lit(NumPerms.toDouble)
    val aSide = reps.select(col("rep_id").as("rep_a") +: col("sig").as("sa") +:
      carry.map(c => col(c).as(s"${c}_a")): _*)
    val bSide = reps.select(col("rep_id").as("rep_b") +: col("sig").as("sb") +:
      carry.map(c => col(c).as(s"${c}_b")): _*)
    cand
      .join(aSide, "rep_a")
      .join(bSide, "rep_b")
      .withColumn("est_j", estCol)
      .filter(col("est_j") >= 0.9)  // filter on the sketch BEFORE exact work
      .select(col("rep_a") +: col("rep_b") +: col("est_j") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** MinHash-LSH candidate pairs ([[Bands]] × [[RowsPerBand]], see the
    * band-shape note on [[Bands]]) with the MinHash Jaccard estimate and
    * the exact word-set Jaccard for verification.
    *
    * Identical signatures collapse to ONE representative before the band
    * join (same pattern as [[simhashPairs]]): exact duplicates — the
    * dominant case in crawl data — share all bands, so a g-sized duplicate
    * cluster would otherwise push O(g²) pairs through the band shuffle,
    * per band. Representatives go through banding; within-group pairs
    * (est_j = 1 by construction: every one of the 64 minima is equal) are
    * emitted combinatorially from group membership, in output rows only,
    * never through the shuffle. Because bands are a pure function of the
    * signature, the final pair set is value-identical to banding every doc.
    * The word arrays join back only for pairs that survive the sketch
    * filter — the band shuffle carries (rep_id, band_id, band_hash) alone. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsRawFor(spark, dir).orderBy("doc_a", "doc_b")

  /** [[minhashPairs]] without the final global sort (r15): the recall
    * check re-joins and re-sorts the pairs anyway, so the public API's
    * ordering exchange (plus its range-partitioner sampling job) is pure
    * waste on that path. The frame is stage-materialized either way. */
  private[graft] def minhashPairsRawFor(spark: SparkSession,
                                        dir: String): DataFrame = {
    // hwords: the word set as a sorted xxhash64 array, computed once per
    // doc — the exact-verify join then intersects LONG arrays (codegen
    // OpenHashSet over primitives) instead of string arrays, with identical
    // Jaccard values (a 64-bit collision between two of the corpus's
    // distinct tokens has probability ~V²/2^65 — negligible; this op is
    // sketch-verified by DedupSpec, not a DuckDB oracle).
    graft.functions.GraftFunctions.register(spark)
    val words = docWords(spark, dir)
      .withColumn("hwords", expr("xxhash64_sorted(words)"))
      .cache()
    minhashPairsRaw(words)
  }

  /** [[minhashPairs]] over an explicit (doc_id, words, hwords) frame —
    * separated so specs can drive synthetic corpora with planted
    * duplicate clusters. */
  private[graft] def minhashPairsOf(words: DataFrame): DataFrame =
    minhashPairsRaw(words).orderBy("doc_a", "doc_b")

  private def minhashPairsRaw(words: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(words.sparkSession)
    // groups is tiny (one row per DISTINCT signature) but feeds four
    // branches — caching stops the 64-column signature aggregation from
    // being recomputed per branch. At cluster scale these would be
    // checkpointed/bucketed instead.
    val groups = signatures(words).groupBy("sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .cache()
    // Within-group pairs: identical signature ⇒ est_j = 1 exactly. Emitted
    // from membership lists — O(g²) only in OUTPUT rows (they ARE the
    // answer), zero band-shuffle cost.
    val within = groups
      .select(col("docs"), explode(col("docs")).as("doc_a"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("est_j", lit(1.0))
    val reps = groups.select(element_at(col("docs"), 1).as("rep_id"),
      col("sig"), col("docs"))
    // Cross-group pairs: band the representatives, then expand each
    // qualifying representative pair to the full member cross product
    // (est_j is constant across members — they share the reps' signatures).
    // The member lists ride the est_j verify joins (repCandidatesCarry) —
    // no second pair of groups join-backs (r16, guide §2.4).
    val cross = repCandidatesCarry(reps, Seq("docs"))
      .select(col("est_j"), col("docs_b").as("db"),
        explode(col("docs_a")).as("x"))
      .select(col("est_j"), col("x"), explode(col("db")).as("y"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("est_j"))
    within.unionByName(cross)
      .join(words.select(col("doc_id").as("doc_a"), col("hwords").as("wa")), "doc_a")
      .join(words.select(col("doc_id").as("doc_b"), col("hwords").as("wb")), "doc_b")
      // |A∩B| via the codegen'd two-pointer merge over the sorted hash
      // arrays (array_intersect/array_union built hash sets AND
      // materialized both result arrays per pair just for their sizes);
      // |A∪B| = |A| + |B| − |A∩B|
      .withColumn("inter", expr("sorted_intersect_count(wa, wb)"))
      .select(col("doc_a"), col("doc_b"), col("est_j"),
        (col("inter").cast("double") /
          (size(col("wa")) + size(col("wb")) - col("inter")).cast("double"))
          .as("jaccard"))
      // materialize before any downstream sort/join: the range
      // partitioner's sampling pass would otherwise re-execute the whole
      // pair-expansion + verify pipeline (measured: the sort cost 14.5 s
      // unmaterialized vs ~1 s over checkpointed rows at sf0.1)
      .stageMaterialize
  }

  /** Word-SET-equal doc pairs — the deterministic exact-duplicate floor the
    * sketch recall checks assert against. Same fingerprint construction as
    * the oracle-green x52 (sorted distinct token list), reduced to an md5
    * so the self-join shuffles a 16-byte key instead of the token list.
    * Set-equality is engine-independent, so a DuckDB twin enumerates the
    * identical pair list from the raw text.
    *
    * Empty word sets are excluded: empty/whitespace-only docs all share
    * fp = md5(''), but the sketch pipelines drop them (exploding an empty
    * array yields no signature row), so including them here would assert a
    * recall the sketches by construction can't deliver. The DuckDB twin
    * filters symmetrically (len(ws) > 0). */
  private[ext] def setEqualPairs(spark: SparkSession, dir: String): DataFrame = {
    // register the dir BEFORE the shared lookup: the registry scopes its
    // entries to the session's registered dir, and an ensure inside the
    // build thunk would key the stage under the PREVIOUS dir
    Tables.ensure(spark, dir)
    // r15: shared across x57/x58/x65 (each recall check asserts against
    // this same floor), so one session derives the fingerprint self-join
    // once — the unigramPairs/x104-fingerprint shared-stage pattern.
    Stages.shared(spark, "setEqualPairs") {
      val fp = docWords(spark, dir)
        .filter(size(col("words")) > 0)
        .select(col("doc_id"),
          md5(concat_ws(" ", sort_array(col("words"))).cast("binary")).as("fp"))
      Stages.materialize(
        fp.as("a").join(fp.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    }
  }

  /** x57 driver query — the oracle-checkable recall assertion over the REAL
    * MinHash-LSH pipeline (closes r4's `no_oracle` gap the same way x59/x62
    * did for ANN). The full [[minhashPairs]] output is hash-dependent, so
    * the driver row instead claims what IS deterministic by construction:
    * every word-set-equal pair (identical sets ⇒ identical 64-perm
    * signature ⇒ same collapse group) must be emitted with est_j = 1.0 and
    * exact jaccard = 1.0. A DuckDB twin enumerates the set-equal pairs from
    * the raw text and asserts the three booleans TRUE; any collapse/banding
    * /verify regression flips one and fails the hash compare. The non-exact
    * estimate band stays property-tested in DedupSpec (no twin possible). */
  def minhashRecallCheck(spark: SparkSession, dir: String): DataFrame =
    setEqualPairs(spark, dir)
      .join(minhashPairsRawFor(spark, dir), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        col("est_j").isNotNull.as("found"),
        coalesce(col("est_j") === 1.0, lit(false)).as("est_ok"),
        coalesce(col("jaccard") === 1.0, lit(false)).as("j_ok"))
      .orderBy("doc_a", "doc_b")

  /** x58 driver query — same pattern as [[minhashRecallCheck]] for SimHash:
    * word-set-equal pairs have identical 64-bit signatures by construction
    * (every bit is a sign over the same word set), so each must surface
    * from the REAL [[simhashPairs]] pipeline with hamming = 0. Only the
    * Hamming-0 contract is oracle-expressible (the bit_count(xor) values of
    * near-pairs depend on xxhash64, which DuckDB lacks); the ≤maxHamming
    * band stays property-tested in DedupSpec. */
  def simhashRecallCheck(spark: SparkSession, dir: String): DataFrame =
    setEqualPairs(spark, dir)
      .join(simhashPairsRaw(spark, dir), Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        col("hamming").isNotNull.as("found"),
        coalesce(col("hamming") === 0, lit(false)).as("ham_ok"))
      .orderBy("doc_a", "doc_b")

  /** x65 driver query — oracle-checked recall for the OPT-IN
    * [[graft.plans.JaccardJoinRewrite]] optimizer rule, same assertion
    * pattern as [[minhashRecallCheck]]: the naive O(n²) jaccard-threshold
    * join a user would write in plain SQL, executed THROUGH the rewrite
    * (rule injected + flag enabled), must surface every word-set-equal pair
    * (identical sets ⇒ jaccard 1 ≥ t, identical MinHash band keys ⇒ the
    * banded equi-join meets them ⇒ the kept exact-verify conjunct passes).
    * The booleans are deterministic by construction, so the DuckDB twin
    * enumerates the set-equal pairs from raw text and asserts TRUE; the
    * banding plan itself is pinned BNLJ-free in JaccardJoinRewriteSpec.
    *
    * The rule registration and flag stay enabled on the session afterwards
    * (Spark optimizes lazily at action time, so they cannot be scoped to
    * this call) — safe: the rewrite is a no-op for every plan without a
    * jaccard_sim join predicate.
    *
    * The demo corpus is capped at doc_id < 2000 (both join sides AND the
    * asserted floor, symmetrically in the DuckDB twin): the synthetic
    * 31-word corpus is the banding scheme's degenerate worst case (most
    * pairs collide per band), and at sf0.1 the uncapped demo spent ~9% of
    * suite wall-clock re-proving what JaccardJoinRewriteSpec already pins
    * on the worst case. sf0.01 doc_ids top out at 499, so the capped row
    * is value-identical to the uncapped one there; at sf0.1 it still
    * asserts recall over ~5k set-equal pairs through the REAL rewrite. */
  def jaccardRewriteRecallCheck(spark: SparkSession, dir: String): DataFrame = {
    val cap = 2000
    graft.functions.GraftFunctions.register(spark)
    Tables.ensure(spark, dir)
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.JaccardJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.JaccardJoinRewrite
    spark.conf.set(graft.plans.JaccardJoinRewrite.EnabledKey, "true")
    val naive = spark.sql(
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, TRUE AS hit
         |FROM (SELECT * FROM documents WHERE doc_id < $cap) a
         |JOIN (SELECT * FROM documents WHERE doc_id < $cap) b
         |  ON a.doc_id < b.doc_id
         | AND jaccard_sim(a.text, b.text) >= 0.9""".stripMargin)
    setEqualPairs(spark, dir)
      .filter(col("doc_a") < cap && col("doc_b") < cap)
      .join(naive, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("hit"), lit(false)).as("found"))
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard near-dup pairs (the driver query behind
    * x54_ngram_jaccard), via PPJoin-style prefix filtering — an EXACT
    * set-similarity join (recall 1 at the threshold, so the output is
    * value-identical to the all-pairs oracle) with no all-pairs stage.
    *
    * Plan, all codegen'd builtins:
    *  1. dictionary-encode each (lang, token) to an integer rank ordered by
    *     ascending document frequency (rarest first), and pack each doc's
    *     rank set into data-adaptive BIGINT bitset masks (width from one
    *     tiny scalar aggregate over per-lang vocabulary sizes);
    *  2. a doc's PREFIX is its ⌊(1−t)·n⌋+1 rarest ranks (PPJoin theorem:
    *     two sets with Jaccard ≥ t must collide on ≥1 prefix token), so the
    *     candidate join is an equi-join on (lang, rank) over prefix rows
    *     only — shuffle keyed by the rarest tokens, never an all-pairs
    *     block. A length filter (min ≥ t·max) prunes inside the join;
    *  3. verify is inline in the join stage: j1 = popcount(A∩B)/|A∪B| via
    *     `bit_count(ma & mb)` sums over the masks — integer codegen, no
    *     array materialization, no join-back for the unigram side. Each
    *     qualifying pair is emitted exactly ONCE with zero dedup shuffle:
    *     a pair is kept only at its lowest shared prefix rank
    *     (`rank-1 = trailing_zeros(prefix_mask_a & prefix_mask_b)`, where
    *     trailing zeros = `bit_count((s & -s) - 1)`);
    *  4. j3 (word-trigram Jaccard, vocabulary too wide for masks — 26k+
    *     trigrams/lang at sf0.1 and growing) joins SORTED xxhash64 trigram
    *     arrays back for SURVIVING pairs only and counts the intersection
    *     with the allocation-free codegen'd two-pointer merge
    *     [[graft.functions.SortedIntersectCount]] (`size(array_intersect)`
    *     built a hash set AND materialized the intersection array per pair
    *     just to take its length — measured 4 s of the query at sf0.1) —
    *     the previous global trigram co-occurrence join priced every
    *     co-occurring pair in the corpus for values only needed on the
    *     j1 ≥ 0.8 output rows.
    *
    * At 100 TB: stages shuffle on (lang, rank) / doc_id only; candidate
    * volume is data-dependent (tiny on a real Zipfian vocabulary; this
    * 31-word test corpus is the degenerate worst case where most pairs
    * collide — yet each candidate costs only a few bit_count words). The
    * per-lang dictionary window partitions by lang; mask width is derived
    * from the data, not assumed.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.ensure(spark, dir)
    // r3: distinct word-trigram set per doc as SORTED xxhash64 arrays for
    // the j3 verify, computed MAP-ONLY by the codegen'd ngram_hashes_sorted
    // kernel (r15; one tight loop over the token array the doc already
    // carries). The previous posexplode → two lead() windows → collect_list
    // re-aggregate detour paid one exchange + a per-doc sort just to pair
    // tokens that sit adjacent in the array (guide §2.4); value parity
    // with that formulation — same concat_ws(' ') grams, same DISTINCT on
    // the gram STRING, same xxhash64 seed — is pinned in
    // NGramsEditDistanceSpec. Hashing (vs a per-lang dictionary) is the
    // r13 trade: only intersection COUNTS are consumed; a count changes
    // only if two distinct trigrams of one compared pair collide in 64
    // bits (P ≈ d²/2⁶⁵ per pair, d ≈ 50 — negligible, deterministic for a
    // fixed corpus so the oracle hash pins it). Docs with < 3 tokens get
    // no row (the old GROUP BY over zero trigram rows), preserving the
    // LEFT-JOIN null extension below. q is the unigram candidate+verify
    // stage (shared with x75; see below).
    Stages.sql(spark,
      """WITH r3 AS (
         |  SELECT doc_id, ranks3, CAST(size(ranks3) AS BIGINT) AS n3
         |  FROM (SELECT doc_id,
         |          ngram_hashes_sorted(
         |            array_remove(split(LOWER(text), ' '), ''), 3) AS ranks3
         |        FROM documents)
         |  WHERE size(ranks3) > 0)
         |SELECT doc_a, doc_b,
         |  CAST(CAST(FLOOR(j1 * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j1,
         |  CAST(CAST(FLOOR((CASE WHEN n3a + n3b - i3 > 0 THEN
         |           CAST(i3 AS DOUBLE) / CAST(n3a + n3b - i3 AS DOUBLE)
         |         ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j3
         |FROM (SELECT q.doc_a, q.doc_b, q.j1,
         |        sorted_intersect_count(
         |          COALESCE(fa.ranks3, CAST(array() AS ARRAY<BIGINT>)),
         |          COALESCE(fb.ranks3, CAST(array() AS ARRAY<BIGINT>))) AS i3,
         |        COALESCE(fa.n3, 0) AS n3a, COALESCE(fb.n3, 0) AS n3b
         |      FROM q
         |      LEFT JOIN r3 fa ON fa.doc_id = q.doc_a
         |      LEFT JOIN r3 fb ON fb.doc_id = q.doc_b)""".stripMargin,
      materialize = Seq("r3"),
      bind = Map("q" -> unigramPairs(spark, threshold)))
      // materialize BEFORE the global sort: a range-partitioned ORDER BY
      // first runs a sampling pass over its child to pick partition
      // boundaries, and an unmaterialized child means the whole verify
      // pipeline executes twice. The (much smaller) verified-pair result
      // makes the sampling pass a cheap block-manager re-read.
      .stageMaterialize
      .orderBy("doc_a", "doc_b")
  }

  // tp: DISTINCT tokens per doc, deduped MAP-SIDE via array_distinct before
  // the explode (r15): the PPJoin stage only consumes per-doc token SETS,
  // so deduping inside the row removes the `SELECT DISTINCT doc_id, lang,
  // tok` exchange+aggregate the exploded stream previously paid twice
  // (dictionary build AND rank join-back) — guide §2.3 "aggregate before
  // you shuffle". (The trigram stages that needed positions derive their
  // grams map-only via ngram_hashes_sorted now, so positions are gone.)
  // Not materialized: each text that references it re-derives it inline.
  private val tokenSets =
    """tp AS (
      |  SELECT doc_id, lang, tok
      |  FROM (SELECT doc_id, lang,
      |          array_distinct(array_remove(split(LOWER(text), ' '), '')) AS toks
      |        FROM documents)
      |  LATERAL VIEW explode(toks) AS tok)""".stripMargin

  /** Bitset-mask width (64-bit words, i.e. 1024 ranks) past which the
    * PPJoin build switches to the rank-array verify. */
  private val MaskWords = 16

  /** The PPJoin unigram candidate+verify stage of [[ngramJaccard]]: all
    * pairs with word-set Jaccard >= threshold, each emitted exactly once,
    * with the raw (un-rounded) j1. Shared by x54 (which joins the trigram
    * arrays back for j3) and x75 (which feeds the pairs to [[Components]]
    * as the near-dup graph edge set). Returns a stage-materialized frame
    * (doc_a, doc_b, j1) — callers pay no recomputation when they branch.
    * Caller must have run Tables.ensure + GraftFunctions.register.
    *
    * Each multiply-referenced intermediate is a `materialize` CTE of
    * [[Stages.sql]]: (a) the lineage truncation keeps Spark's
    * DeduplicateRelations from flakily throwing UnresolvedException when a
    * windowed+joined subtree is referenced multiple times through CTE
    * inlining, and (b) each stage is computed exactly once (the
    * monolithic-CTE formulation recomputed the interpreted-lambda
    * tokenization per referencing branch — 3× cost).
    * On a cluster run with `-Dgraft.stageMaterialize=reliable|table` these
    * become fault-tolerant checkpoints / parquet intermediate tables.
    */
  private[ext] def unigramPairs(spark: SparkSession,
                                threshold: Double): DataFrame =
    // shared across x54 (trigram join-back), x75 (component edges) and
    // x108 (keep-best on x75) — one PPJoin per (session, dir, threshold);
    // the returned frame is fully materialized, so the cached value is
    // self-contained
    Stages.shared(spark, "unigramPairs", s"t=$threshold") {
      unigramPairsBuild(spark, threshold)
    }

  /** `maskWords` is the bitset-mask cutover ([[MaskWords]]); a spec passes
    * 0 or Int.MaxValue to force one verify branch. */
  private[ext] def unigramPairsBuild(spark: SparkSession, threshold: Double,
                                     maskWords: Int = MaskWords): DataFrame = {
    // per-lang df-ascending dictionary: token → rank (rarest first);
    // the stream is already distinct per doc, so COUNT(*) IS the doc
    // frequency — no DISTINCT pre-aggregate. The widest-vocabulary scalar
    // (mask width) rides the dictionary's materialization job via observe
    // (r16) instead of a separate MAX job over the checkpointed rows.
    val vObs = org.apache.spark.sql.Observation("graft-x54-maxvocab")
    val dict = spark.sql(
      s"""WITH $tokenSets
         |SELECT lang, tok,
         |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*), tok) AS rank
         |FROM tp
         |GROUP BY lang, tok""".stripMargin)
      .observe(vObs, max(col("rank")).as("maxRank"))
      .stageMaterialize
    val maxVocab = vObs.get("maxRank") match {
      case null => 0 // empty corpus: no ranks at all
      case n: Number => n.intValue()
    }
    val nMask = ((maxVocab + 63) / 64).max(1)
    // VOCABULARY-ADAPTIVE verify. The bitset-mask formulation carries
    // vocab/64 longs PER ROW through the candidate join — unbeatable
    // constant factors while the corpus vocabulary is small (the sf
    // ladder's 31 words: one long), but row width grows LINEARLY with
    // vocabulary, which at web-corpus vocab (millions of distinct
    // tokens) turns the prefix join into a vocabulary-sized shuffle.
    // Past the cutover ([[MaskWords]]) the build switches to the
    // classical PPJoin shape: carry the sorted rank array (O(|doc|),
    // vocabulary-INDEPENDENT), verify with the codegen'd two-pointer
    // sorted_intersect_count, and take the lowest shared prefix rank via
    // array_intersect on the (short) prefix slices. Same candidate set,
    // same exact j1 — DedupSpec pins value identity of the two paths; the
    // 8×/64× scale smokes run the array path end-to-end (their vocab
    // crosses the cutover).
    if (nMask <= maskWords) maskPairs(spark, threshold, nMask, dict)
    else arrayPairs(spark, threshold, dict)
  }

  /** Bitset-mask PPJoin verify (small-vocabulary branch) over the rank
    * dictionary `dict` (lang, tok, rank). */
  private def maskPairs(spark: SparkSession, threshold: Double,
                        nMask: Int, dict: DataFrame): DataFrame = {
    // r1: per-doc unigram features in ONE aggregation (no per-doc windows,
    // no join-back): sorted rank array + set size + full bitset masks. The
    // PREFIX masks derive afterwards in pure codegen: the prefix is the
    // L = ⌊(1−t)·n⌋+1 smallest ranks, i.e. every rank ≤ ranks1[L], so
    // p_k = m_k & low-bits(prefixMax) per 64-bit word.
    val maskCols = (0 until nMask).map { k =>
      s"SUM(CASE WHEN CAST((rank - 1) / 64 AS INT) = $k THEN " +
        s"shiftleft(CAST(1 AS BIGINT), CAST((rank - 1) % 64 AS INT)) " +
        s"ELSE CAST(0 AS BIGINT) END) AS m$k"
    }.mkString(", ")
    // low-bits(j) via shiftrightunsigned(-1, 64 - j), NOT
    // shiftleft(1, j) - 1: when the prefix boundary lands on bit 63 of a
    // mask word (pm - lo = 63) the latter computes Long.MinValue - 1 — an
    // ANSI overflow a 31-word vocabulary never reaches but any ≥64-rank
    // one does (found by an 8× vocabulary scale run; pinned in
    // DedupWideVocabSpec).
    val prefixCols = (0 until nMask).map { k =>
      val lo = 64 * k
      val hi = 64 * (k + 1)
      s"""m$k & (CASE WHEN pm >= $hi THEN CAST(-1 AS BIGINT)
         |           WHEN pm <= $lo THEN CAST(0 AS BIGINT)
         |           ELSE shiftrightunsigned(CAST(-1 AS BIGINT),
         |                CAST($hi - pm AS INT)) END) AS p$k""".stripMargin
    }.mkString(", ")
    val interSum = (0 until nMask)
      .map(k => s"bit_count(a.m$k & b.m$k)").mkString(" + ")
    // keep this pair only at the LOWEST shared prefix rank → exactly one
    // emission per pair, no DISTINCT/groupBy shuffle. trailing_zeros(s) =
    // bit_count((s & -s) - 1), with the s = Long.MinValue corner guarded:
    // when the only shared prefix bit in a word is bit 63, BOTH -s and
    // (s & -s) - 1 overflow under ANSI mode (same ≥64-rank-vocabulary
    // exposure as the prefix-mask fix above; CASE branches evaluate
    // lazily, the documented ANSI-safe idiom).
    val lowBitIdx = {
      val minLong = "CAST(-9223372036854775808 AS BIGINT)"
      val whens = (0 until nMask).map { k =>
        val s = s"(a.p$k & b.p$k)"
        s"""WHEN $s <> 0 THEN ${k * 64} +
           | (CASE WHEN $s = $minLong THEN 63
           |       ELSE bit_count(($s & -$s) - 1) END)""".stripMargin
      }.mkString(" ")
      s"CASE $whens ELSE -1 END"
    }
    val masks = (0 until nMask).map(k => s"m$k").mkString(", ")
    val maskList = (0 until nMask).map(k => s"m$k, p$k").mkString(", ")
    // pf: one probe row per prefix rank. The final select computes
    // inter/j1 ONCE in an inner projection (repeating the popcount sum per
    // reference defeats codegen subexpression reuse), dedup + j1 filters
    // applied in the same codegen stage — no extra shuffle. The caller's
    // checkpoint materializes the (small) verified pair set so both
    // callers' downstream branches re-read blocks instead of re-running
    // the candidate join.
    Stages.sql(spark,
      s"""WITH $tokenSets,
         |r1 AS (
         |  SELECT doc_id, lang, n1, ranks1, $prefixCols, $masks
         |  FROM (SELECT doc_id, lang, n1, ranks1,
         |          element_at(ranks1,
         |            CAST(n1 - CEIL($threshold * n1) + 1 AS INT)) AS pm,
         |          $masks
         |        FROM (SELECT doc_id, lang, COUNT(*) AS n1,
         |                sort_array(collect_list(rank)) AS ranks1, $maskCols
         |              FROM (SELECT tp.doc_id, tp.lang, v.rank
         |                    FROM tp JOIN v1 v ON tp.lang = v.lang AND tp.tok = v.tok)
         |              GROUP BY doc_id, lang))),
         |pf AS (
         |  SELECT lang, doc_id, n1, $maskList, prank
         |  FROM r1 LATERAL VIEW explode(
         |    slice(ranks1, 1, CAST(n1 - CEIL($threshold * n1) + 1 AS INT)))
         |    AS prank)
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS j1
         |FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        a.n1 AS na, b.n1 AS nb, $interSum AS inter,
         |        a.prank AS prank, $lowBitIdx AS lowbit
         |      FROM pf a JOIN pf b
         |        ON a.lang = b.lang AND a.prank = b.prank
         |       AND a.doc_id < b.doc_id
         |       AND LEAST(a.n1, b.n1) >= $threshold * GREATEST(a.n1, b.n1))
         |WHERE prank - 1 = lowbit
         |  AND CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
         |        >= $threshold""".stripMargin,
      materialize = Seq("r1"), bind = Map("v1" -> dict))
      .stageMaterialize
  }

  /** Classical PPJoin verify (wide-vocabulary branch) over the rank
    * dictionary `dict`: per-doc payload is the sorted rank array —
    * O(|doc|) regardless of vocabulary width — with the exact intersection
    * count from the codegen'd two-pointer merge and single emission at the
    * lowest shared prefix rank. */
  private def arrayPairs(spark: SparkSession, threshold: Double,
                         dict: DataFrame): DataFrame =
    // pfa: probe rows carry ONLY (lang, doc_id, n1, pref, prank) — the
    // short prefix slice (~(1−t)·|doc|), never the full ranks1 array. The
    // r13-measured /tmp scratch of the pair-stage sort (~40–50 GB at
    // 128×, the single-VM boundary) was dominated by every exploded
    // probe row dragging its O(|doc|) ranks1 through the shuffle; with
    // the narrow payload the shuffle volume drops ~6× (0.2|d| vs 1.2|d|
    // longs per probe row) and the verify arrays join back AFTER the
    // candidate pairs are deduped — two cheap doc_id equi-joins over the
    // (small) candidate set instead of a corpus×prefix-wide payload.
    // cand: candidate pairs, each emitted exactly once at the LOWEST
    // shared prefix rank (the pref slices are short — array_intersect
    // stays cheap); the length filter prunes before the dedup test.
    Stages.sql(spark,
      s"""WITH $tokenSets,
         |r1a AS (
         |  SELECT doc_id, lang, n1, ranks1,
         |    slice(ranks1, 1, CAST(n1 - CEIL($threshold * n1) + 1 AS INT))
         |      AS pref
         |  FROM (SELECT doc_id, lang, COUNT(*) AS n1,
         |          sort_array(collect_list(rank)) AS ranks1
         |        FROM (SELECT tp.doc_id, tp.lang, v.rank
         |              FROM tp JOIN v1 v ON tp.lang = v.lang AND tp.tok = v.tok)
         |        GROUP BY doc_id, lang)),
         |pfa AS (
         |  SELECT lang, doc_id, n1, pref, prank
         |  FROM r1a LATERAL VIEW explode(pref) AS prank),
         |cand AS (
         |  SELECT doc_a, doc_b
         |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |          a.prank AS prank,
         |          array_min(array_intersect(a.pref, b.pref)) AS lowpr
         |        FROM pfa a JOIN pfa b
         |          ON a.lang = b.lang AND a.prank = b.prank
         |         AND a.doc_id < b.doc_id
         |         AND LEAST(a.n1, b.n1) >= $threshold * GREATEST(a.n1, b.n1))
         |  WHERE prank = lowpr)
         |SELECT doc_a, doc_b,
         |       CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS j1
         |FROM (SELECT c.doc_a, c.doc_b, fa.n1 AS na, fb.n1 AS nb,
         |        sorted_intersect_count(fa.ranks1, fb.ranks1) AS inter
         |      FROM cand c
         |      JOIN r1a fa ON fa.doc_id = c.doc_a
         |      JOIN r1a fb ON fb.doc_id = c.doc_b)
         |WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
         |        >= $threshold""".stripMargin,
      materialize = Seq("r1a", "cand"), bind = Map("v1" -> dict))
      .stageMaterialize

  /** 64-bit SimHash over the word bag: bit b is the sign of the sum of
    * (±1 by bit b of xxhash64(word)).
    *
    * Computed MAP-ONLY by the codegen'd [[graft.functions.SimHash64]]
    * expression (values identical to the explode → 64-conditional-sum
    * aggregation it replaces — same xxhash64 seed 42 — but with zero
    * shuffle; see the [[signatures]] note). Empty word sets filtered for
    * the same sketches-drop-empty-docs contract. */
  private[ext] def simhashes(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(size(col("words")) > 0)
      .select(col("doc_id"), expr("simhash64(words)").as("simhash"))
  }

  /** SimHash near-dup pairs: block on the four 16-bit chunks (a pair within
    * Hamming distance 3 must agree on at least one chunk), then verify with
    * bit_count(xor) ≤ maxHamming. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsRaw(spark, dir, maxHamming).orderBy("doc_a", "doc_b")

  /** [[simhashPairs]] without the final global sort (see
    * [[minhashPairsRawFor]]). */
  private[graft] def simhashPairsRaw(spark: SparkSession, dir: String,
                                     maxHamming: Int = 3): DataFrame = {
    // Dedup identical signatures FIRST: exact duplicates (the dominant
    // case) collapse to one representative per distinct simhash, so the
    // pairwise chunk join runs over representatives — the giant
    // identical-signature buckets that would otherwise go quadratic
    // through the shuffle never reach it. Hamming-0 pairs are generated
    // combinatorially from the group membership lists instead.
    val sigs = simhashes(docWords(spark, dir))
    val groups = sigs.groupBy("simhash")
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .cache()
    val zero = groups
      .select(col("docs"), explode(col("docs")).as("doc_a"))
      .select(col("doc_a"), explode(col("docs")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", lit(0))
    val pairs =
      if (maxHamming == 0) zero
      else {
        val chunks = groups.select(col("simhash"), col("docs"),
            explode(expr(
              """transform(sequence(0, 3), j ->
                |  struct(j AS chunk_id,
                |         (shiftright(simhash, j * 16) & 65535) AS cv))""".stripMargin))
              .as("c"))
          .select(col("simhash"), col("docs"),
            col("c.chunk_id").as("chunk_id"), col("c.cv").as("cv"))
        // Hamming bound INSIDE the join condition so candidates die during
        // the join, not in a post-join shuffle; simhash < simhash dedups
        // the 4 chunk matches down to unordered group pairs.
        val repPairs = chunks.as("a").join(chunks.as("b"),
            col("a.chunk_id") === col("b.chunk_id") &&
              col("a.cv") === col("b.cv") &&
              col("a.simhash") < col("b.simhash") &&
              expr("bit_count(a.simhash ^ b.simhash)") <= maxHamming)
          .select(col("a.docs").as("da"), col("b.docs").as("db"),
            expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
          .dropDuplicates("da", "db", "hamming")
        val cross = repPairs
          .select(col("db"), col("hamming"), explode(col("da")).as("x"))
          .select(col("x"), col("hamming"), explode(col("db")).as("y"))
          .select(least(col("x"), col("y")).as("doc_a"),
            greatest(col("x"), col("y")).as("doc_b"), col("hamming"))
        zero.unionByName(cross)
      }
    // materialize before any downstream sort/join — the range sampling
    // pass would re-execute the chunk join + pair expansion otherwise
    pairs.stageMaterialize
  }

  /** x75: near-duplicate GROUPS from near-duplicate PAIRS — the retention
    * step of a dedup pipeline (keep one representative per transitive
    * cluster). Edges = within-lang unigram Jaccard >= 0.8 (x54's verified
    * j1 formulation); components via [[Components.minLabelPropagation]].
    * Jaccard similarity is not transitive, so unlike the x52 fingerprint
    * groups this closure is a genuine graph computation — the DuckDB twin
    * re-derives it with a recursive transitive-closure CTE over the same
    * edge set. Output: every doc with its component id (= min reachable
    * doc_id) — singletons map to themselves. */
  /** x81: incremental batch dedup — the daily-ingest pattern: an incoming
    * batch (doc_id % 10 = 0 plays the new crawl) checks against the
    * EXISTING corpus without re-clustering it. Candidates come from the
    * exact PPJoin unigram stage at a lower bound, then the incremental
    * contract keeps only (new × corpus) pairs at the real threshold and
    * reports, per new doc, the smallest matching corpus doc (or a null
    * extension — every new doc gets a verdict row). At scale the corpus
    * side's prefix index is the persisted artifact; the new batch is the
    * only data that moves.
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       mod: Int = 10, threshold: Double = 0.9): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.ensure(spark, dir)
    val pairs = unigramPairs(spark, 0.8)
      .filter(col("j1") >= threshold)
    // orient every pair as (new, corpus); drop new×new and corpus×corpus
    val oriented = pairs
      .select(when(col("doc_a") % mod === 0, col("doc_a"))
          .otherwise(col("doc_b")).as("new_doc"),
        when(col("doc_a") % mod === 0, col("doc_b"))
          .otherwise(col("doc_a")).as("old_doc"),
        col("j1"))
      .filter(col("new_doc") % mod === 0 && col("old_doc") % mod =!= 0)
    val best = oriented.groupBy("new_doc")
      .agg(min("old_doc").as("dup_of"),
        expr("min_by(j1, old_doc)").as("bj"))
    spark.sql(s"SELECT doc_id FROM documents WHERE doc_id % $mod = 0")
      .join(best, col("doc_id") === col("new_doc"), "left")
      .select(col("doc_id"), col("dup_of").cast("long").as("dup_of"),
        expr("CAST(CAST(FLOOR(bj * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE)").as("j"))
      .orderBy("doc_id")
  }

  /** x82: asymmetric containment search ("quote / subset detection") —
    * for each probe doc (doc_id % mod = 0), find every corpus doc whose
    * word-trigram set covers ≥ `threshold` of the PROBE's trigram set
    * (|A∩B| / |A| ≥ t). Containment is the right measure when a small doc
    * is embedded inside a much larger one: the Jaccard of a quote and its
    * source is tiny, so the symmetric dedup ops (x54/x57/x58) cannot see
    * it.
    *
    * Distributed shape (prefix filter + inverted index, no all-pairs):
    *  1. distinct trigram sets per doc as SORTED xxhash64 arrays (the x54
    *     encoding — only intersection counts are consumed, collision odds
    *     ≈ d²/2⁶⁵ per pair and deterministic for a fixed corpus);
    *  2. containment prefix: if |A∩B| ≥ t·|A| then B holds one of A's
    *     p = ⌊(1−t)·|A|⌋+1 smallest hashes (at most n−⌈t·n⌉ elements of A
    *     are missing from B), so candidates come from probe-PREFIX rows
    *     joined against the full corpus posting list on (lang, hash) —
    *     the shuffle is keyed by trigram hash; only the probe side
    *     explodes a prefix, the corpus side is the inverted index a real
    *     deployment persists;
    *  3. verify joins the sorted arrays back for DISTINCT candidate pairs
    *     only and prices each at one allocation-free
    *     [[graft.functions.SortedIntersectCount]] merge.
    *
    * Output: one verdict row per probe doc (null-extended like x81):
    * trigram-set size, number of covering docs, smallest coverer, best
    * containment (floor-rounded to 4dp in the shared cross-engine form).
    *
    * Probes are the `doc_id % mod = 0` natural docs (the raw corpus has no
    * containment pairs at 0.8 — those rows pin the null-extension path)
    * PLUS ten PLANTED quotes (x63's planted-duplicate pattern): doc k < 10
    * re-enters at doc_id k+1,000,000 carrying words 4..15 of k's text. A
    * contiguous word slice's trigrams are a subset of the source's, so
    * each planted probe is found at containment 1.0 by construction and
    * the op is non-vacuous on any corpus.
    */
  def containmentQuery(spark: SparkSession, dir: String,
                       mod: Int = 20, threshold: Double = 0.8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.ensure(spark, dir)
    // t3: distinct trigram hashes MAP-ONLY via ngram_hashes_sorted (r15) —
    // same replacement as the x54 trigram stage: no posexplode, no window
    // exchange, value parity pinned in NGramsEditDistanceSpec. Docs with
    // < 3 tokens keep getting no row (null extension below).
    Stages.sql(spark,
      s"""WITH docs AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, lang,
         |    array_join(slice(array_remove(split(LOWER(text), ' '), ''), 4, 12),
         |               ' ') AS text
         |  FROM documents WHERE doc_id < 10),
         |t3 AS (
         |  SELECT doc_id, lang, h3, CAST(size(h3) AS BIGINT) AS n3
         |  FROM (SELECT doc_id, lang,
         |          ngram_hashes_sorted(
         |            array_remove(split(LOWER(text), ' '), ''), 3) AS h3
         |        FROM docs)
         |  WHERE size(h3) > 0),
         |probe_pf AS (
         |  SELECT doc_id, lang, n3, h FROM t3
         |  LATERAL VIEW explode(
         |    slice(h3, 1, CAST(n3 - CEIL($threshold * n3) + 1 AS INT))) AS h
         |  WHERE doc_id % $mod = 0 OR doc_id >= 1000000),
         |postings AS (
         |  SELECT doc_id, lang, h FROM t3 LATERAL VIEW explode(h3) AS h),
         |cand AS (
         |  SELECT p.doc_id AS probe, c.doc_id AS cand
         |  FROM probe_pf p JOIN postings c
         |    ON p.lang = c.lang AND p.h = c.h AND p.doc_id <> c.doc_id
         |  GROUP BY p.doc_id, c.doc_id),
         |v AS (
         |  SELECT probe, cand,
         |    CAST(sorted_intersect_count(a.h3, b.h3) AS DOUBLE)
         |      / CAST(a.n3 AS DOUBLE) AS c
         |  FROM cand
         |  JOIN t3 a ON a.doc_id = cand.probe
         |  JOIN t3 b ON b.doc_id = cand.cand),
         |m AS (
         |  SELECT probe, COUNT(*) AS containers, MIN(cand) AS first_container,
         |         MAX(c) AS cmax
         |  FROM v WHERE c >= $threshold GROUP BY probe)
         |SELECT d.doc_id, CAST(COALESCE(t.n3, 0) AS INT) AS n3,
         |  CAST(COALESCE(m.containers, 0) AS INT) AS containers,
         |  CAST(m.first_container AS BIGINT) AS first_container,
         |  CAST(CAST(FLOOR(m.cmax * 10000.0 + 0.5) / 10000.0
         |       AS DECIMAL(18,4)) AS DOUBLE) AS cmax
         |FROM (SELECT doc_id FROM docs
         |      WHERE doc_id % $mod = 0 OR doc_id >= 1000000) d
         |LEFT JOIN t3 t ON t.doc_id = d.doc_id
         |LEFT JOIN m ON m.probe = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
      materialize = Seq("t3"))
      .stageMaterialize
  }

  /** x84 driver query: fingerprint-blocked edit-distance verify, skew-proof.
    *
    * The naive SQL formulation (the x84 oracle text) computes levenshtein
    * inside the fp-keyed join stage — but blocking keys are EXACTLY where
    * duplicate clusters concentrate (one 248-doc word-set cluster at sf0.1
    * holds 86% of all 35k pairs), so one task owns almost all the DP work:
    * measured 140 s at sf0.1 vs DuckDB's 29 s. The pair ROWS are tiny
    * (ids + two ~300-char texts); the COST is the per-pair DP. So:
    * generate pairs in the blocked join, round-robin REBALANCE them (one
    * ~20 MB shuffle), run levenshtein on the balanced partitions, and
    * checkpoint before the global sort so the sort's sampling pass reads
    * blocks instead of re-running the DP. Same 35k output rows, ~30× less
    * wall-clock: the verify cost now scales with pairs/cores, not with the
    * largest cluster. At 100 TB this rebalance-before-verify is mandatory
    * for any blocked pairwise op whose block sizes follow duplication.
    */
  def editDistanceQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.ensure(spark, dir)
    val f = spark.sql(
      """SELECT doc_id, text,
        |  md5(array_join(sort_array(array_distinct(
        |    array_remove(split(LOWER(text), ' '), ''))), ' ')) AS fp
        |FROM documents
        |WHERE size(array_remove(split(LOWER(text), ' '), '')) > 0""".stripMargin)
    val a = f.select(col("fp"), col("doc_id").as("doc_a"), col("text").as("ta"))
    val b = f.select(col("fp").as("fpb"), col("doc_id").as("doc_b"),
      col("text").as("tb"))
    val scored = a.join(b, col("fp") === col("fpb") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "ta", "tb")
      .repartition(spark.sparkContext.defaultParallelism)
      // graft_levenshtein = the levenshtein builtin's exact value via the
      // bit-parallel Myers kernel (r15: the builtin's per-cell DP was ~4 s
      // of this query at sf0.1 — 8.2e9 cells at ~15 ns; the kernel prices
      // 64 cells per word op, value parity pinned in
      // NGramsEditDistanceSpec and by the unchanged DuckDB twin)
      .selectExpr("doc_a", "doc_b",
        "CAST(graft_levenshtein(ta, tb) AS INT) AS lev",
        "CAST((length(ta) = length(tb)) AS INT) AS same_len")
      .stageMaterialize
    scored.orderBy("doc_a", "doc_b")
  }

  def componentsQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.ensure(spark, dir)
    // Edge set = the PPJoin prefix-filter stage shared with x54: exact
    // (recall 1) at the threshold, one emission per pair, no all-pairs
    // stage — the naive within-lang token co-occurrence join formulation
    // is value-identical (the x54 oracle pins that) but quadratic in each
    // token's posting list. The label frame is itself a shared stage (the
    // propagation is deterministic), so x108's keep-best resolution costs
    // its join + window, not a second propagation.
    // resolve the edge stage before entering the components thunk (builds
    // compose safely either way — Stages.shared runs thunks outside its
    // lock — but the hoist keeps each stage's cost attributed to its own
    // registry entry)
    val edges = unigramPairs(spark, 0.8)
    val labels = Stages.shared(spark, "components", "t=0.8") {
      val nodes = spark.table("documents").select(col("doc_id").as("id"))
      Stages.materialize(
        Components.minLabelPropagation(nodes, edges, "doc_a", "doc_b")
          .select(col("id").as("doc_id"),
            col("label").cast("long").as("comp")))
    }
    labels.orderBy("doc_id")
  }

  /** x108: keep-BEST dedup — x75's transitive dup groups resolved by a
    * quality argmax instead of keep-first: within each component the
    * longest doc survives (token count, doc_id tiebreak), the practice
    * real pipelines prefer over keep-lowest-id (the canonical copy is
    * usually the most complete one). One join of the component labels to
    * per-doc token counts + one keyed window (WindowGroupLimit-prunable);
    * everything upstream is x75's scale story. */
  def keepBestQuery(spark: SparkSession, dir: String): DataFrame =
    Stages.sql(spark,
      """WITH q AS (SELECT doc_id,
        |             size(array_remove(split(LOWER(text), ' '), '')) AS ntoks
        |           FROM documents)
        |SELECT c.doc_id, c.comp, CAST(q.ntoks AS INT) AS ntoks,
        |  ROW_NUMBER() OVER (PARTITION BY c.comp
        |                     ORDER BY q.ntoks DESC, c.doc_id) = 1 AS keep
        |FROM comp c JOIN q ON c.doc_id = q.doc_id
        |ORDER BY c.doc_id""".stripMargin,
      bind = Map("comp" -> componentsQuery(spark, dir)))
}
