package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single-import user surface of the library.
  *
  * The OLTP/engine side (the reference's own API shape) lives on
  * [[graft.engine.GraftDb]] — `open`/`openInMemory` → `execute`/`query` →
  * `close`, plus the HTTP surface in [[graft.server.HttpApi]]. This object
  * fronts the ANALYTICS side: the training-data-pipeline operators that
  * have no single entry point because they span `ext`, `operators` and
  * `functions`. Each forwards verbatim to the implementing module — no
  * logic here.
  *
  * Registration: `Graft.install(spark)` adds the native functions and the
  * opt-in rewrite rules to a running session (the cluster-wide equivalent
  * is `spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object Graft {

  /** Native functions + opt-in rewrite rules into an existing session. */
  def install(spark: SparkSession): Unit = {
    functions.GraftFunctions.register(spark)
    Seq(plans.CosineJoinRewrite, plans.JaccardJoinRewrite).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
  }

  /** Materialize an intermediate under the session's stage strategy
    * (`-Dgraft.stageMaterialize=local|reliable|table`; `reliable` is the
    * cluster default — see [[ext.Stages]]). */
  def materializeStage(df: DataFrame): DataFrame = ext.Stages.materialize(df)

  /** Session shared-stage registry: derive `stage(params)` once per
    * (session, registered data dir) and reuse it — the corpus-scale
    * intermediates behind the dedup/graph operators go through this
    * (see [[ext.Stages.shared]]). `build` must return a materialized,
    * self-contained frame; builds compose (a build may call
    * [[sharedStage]] for its own inputs — thunks run outside the
    * registry lock). */
  def sharedStage(spark: SparkSession, stage: String, params: String = "")
                 (build: => DataFrame): DataFrame =
    ext.Stages.shared(spark, stage, params)(build)

  // ---- joins the built-in operator set lacks ----------------------------

  /** Distributed LEFT as-of join (latest right row at-or-before each left
    * ts per key); see [[operators.AsOfJoin.asOf]] for the contract. */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightPayload: Seq[String], tieBreak: String,
               tolerance: Option[String] = None): DataFrame =
    operators.AsOfJoin.asOf(left, right, key, ts, rightPayload, tieBreak,
      tolerance)

  /** Scale-safe `a.x < b.y` theta join via fixed-width value bands. */
  def bandedLessThanJoin(left: DataFrame, leftCol: String,
                         right: DataFrame, rightCol: String): DataFrame =
    operators.RangeJoin.lessThanJoin(left, leftCol, right, rightCol)

  /** Salted equi-join for skewed fact keys; row-identical to the plain
    * join with the hot keys spread over `salt` partitions. */
  def saltedJoin(fact: DataFrame, factKey: String, dim: DataFrame,
                 dimKey: String, saltBy: org.apache.spark.sql.Column,
                 salt: Int): DataFrame =
    operators.SkewJoin.saltedJoin(fact, factKey, dim, dimKey, saltBy, salt)

  // ---- dedup ------------------------------------------------------------

  /** MinHash-LSH near-duplicate pairs over the documents table. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    ext.Dedup.minhashPairs(spark, dir)

  /** SimHash near-duplicate pairs (Hamming-chunk blocked). */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame =
    ext.Dedup.simhashPairs(spark, dir, maxHamming)

  /** Exact n-gram-Jaccard pairs via PPJoin prefix filtering. */
  def jaccardPairs(spark: SparkSession, dir: String,
                   threshold: Double = 0.8): DataFrame =
    ext.Dedup.ngramJaccard(spark, dir, threshold)

  /** Near-dup pairs → transitive dedup groups (connected components). */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    ext.Dedup.componentsQuery(spark, dir)

  /** Min-label-propagation connected components over any pair graph.
    * Output is one `id, label` row per distinct vertex: duplicate `nodes`
    * ids are deduplicated, and a vertex found only in `edges` appears once
    * its component holds a vertex of `nodes`, labelled with that
    * component's smallest `nodes` id (see
    * [[ext.Components.minLabelPropagation]]). */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame =
    ext.Components.minLabelPropagation(nodes, edges, srcCol, dstCol,
      maxIters)

  // ---- clustering -------------------------------------------------------

  /** Deterministic nearest-centroid assignment over the embeddings table
    * (the SemDeDup partitioning step; centroids = vec_id < k). */
  def kmeansAssign(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    ext.Clustering.assignQuery(spark, dir, k)

  /** Spherical k-means (Lloyd), deterministic init; see
    * [[ext.Clustering.kmeans]] for the scale contract. */
  def kmeans(spark: SparkSession, dir: String, k: Int = 8,
             iters: Int = 4): DataFrame =
    ext.Clustering.kmeans(spark, dir, k, iters)

  // ---- end-to-end curation ---------------------------------------------

  /** One-call corpus curation: [optional boilerplate strip →] rule filter
    * → per-lang quality quantile → exact dedup → word-set near-dup →
    * temperature sampling → greedy packing; returns the curated frame and
    * per-stage counts (see [[ext.Pipeline.curate]] for the scale
    * contract). */
  def curate(spark: SparkSession, dir: String, sampleTarget: Int = 200,
             tokenBudget: Int = 256, stripBoilerplate: Boolean = false,
             boilerplateMinDf: Long = 10)
      : (DataFrame, ext.Pipeline.CurationStats) =
    ext.Pipeline.curate(spark, dir, sampleTarget, tokenBudget,
      stripBoilerplate, boilerplateMinDf)

  /** Per-source frequent-5-gram boilerplate strip in DataFrame form (the
    * x114 operator; see [[ext.Extensions.stripBoilerplate]]). */
  def stripBoilerplate(docs: DataFrame, minDf: Long = 10): DataFrame =
    ext.Extensions.stripBoilerplate(docs, minDf)

  // ---- tokenizer training ----------------------------------------------

  /** BPE merge-table training over a word-occurrence column (one
    * distributed pair-count job per merge, map-only merge pass; see
    * [[ext.Bpe.train]] for the scale contract). */
  def bpeTrain(words: DataFrame, numMerges: Int): Seq[(String, String, Long)] =
    ext.Bpe.train(words, numMerges)

  /** Apply a learned BPE merge table to a single word (driver-local
    * encode; the distributed encode maps the same fold over a column). */
  def bpeEncode(word: String, merges: Seq[(String, String, Long)]): Seq[String] =
    ext.Bpe.encode(word, merges)

  // ---- round-9 additions ------------------------------------------------

  /** Bloom-prefiltered benchmark decontamination: benchmark-gram sketch
    * broadcast via scalar subquery, map-side might_contain pruning, exact
    * verify join (result identical to the exact join — see
    * [[ext.Decontam.bloomDecontamQuery]]). */
  def bloomDecontam(spark: SparkSession, dir: String): DataFrame =
    ext.Decontam.bloomDecontamQuery(spark, dir)

  /** Distributed BPE encode of the corpus vocabulary with corpus-derived
    * merges (x100; see [[ext.Bpe.encodeQuery]]). */
  def bpeEncodeCorpus(spark: SparkSession, dir: String): DataFrame =
    ext.Bpe.encodeQuery(spark, dir)

  /** Streaming MinHash near-duplicate suppression with watermark-bounded
    * per-band representative state (see
    * [[streaming.NearDupStream.nearDupSuppress]]). */
  def nearDupSuppress(docs: DataFrame, threshold: Double = 0.9,
                      perBandCap: Int = 16, delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[streaming.NearDupStream.NearDupHit] =
    streaming.NearDupStream.nearDupSuppress(docs, threshold, perBandCap,
      delay)

  /** Streaming funnel progression with three-scalar per-user state and
    * watermark eviction (see [[streaming.FunnelStream.funnel]]; batch
    * twin q88). */
  def funnelStream(events: DataFrame,
                   steps: Seq[String] = Seq("view", "click", "purchase"),
                   horizonMs: Long = 12L * 3600 * 1000,
                   delay: String = "10 minutes")
      : org.apache.spark.sql.Dataset[streaming.FunnelStream.FunnelEvent] =
    streaming.FunnelStream.funnel(events, steps, horizonMs, delay)

  /** Streaming Space-Saving heavy hitters with buckets×capacity bounded
    * state (see [[streaming.FrequencyStream.topkSummary]]; batch twin
    * x80). */
  def heavyHittersStream(tokens: DataFrame, buckets: Int = 16,
                         capacity: Int = 32)
      : org.apache.spark.sql.Dataset[streaming.FrequencyStream.HeavyHit] =
    streaming.FrequencyStream.topkSummary(tokens, buckets, capacity)
}
