package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.command.Parameter
import graft.engine.SqlText
import graft.operators.Queries
import graft.ext.{CorpusGraph, Dedup, Extensions, Multimodal, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2
  * (q01–q55 declared relational set + x49+ LLM-pipeline extensions);
  * `oracleSql` the DuckDB twin for every one. The hash-dependent sketch ops
  * (MinHash-LSH, SimHash, LSH/IVF-ANN) expose derived assertion rows that
  * ARE deterministic (exact-duplicate recall, brute-force recall floors) so
  * the driver can hash-check them; their hash-dependent interiors stay
  * property-tested in src/test.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1-style aggregation) on sf=0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Tables.ensure(spark, dir)
    spark.sql(Queries.all.find(_.name == "q18_tpch_q1").get.spark)
  }

  private val sqlBacked = Queries.all ++ Extensions.all

  /** x61: same ANN contract as x55 but scored by the native codegen'd
    * CosineSim expression instead of higher-order functions — so it shares
    * x55's DuckDB oracle. */
  private val annExprSql =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT q.vec_id AS qid, n.vec_id AS nid,
      |        cosine_sim(q.embedding, n.embedding) AS cosim
      |      FROM embeddings n JOIN q ON q.vec_id <> n.vec_id)
      |SELECT qid, nid, CAST(CAST(ROUND(cosim, 4) AS DECIMAL(18,4)) AS DOUBLE) AS cosim, rn FROM (
      |  SELECT qid, nid, cosim,
      |         ROW_NUMBER() OVER (PARTITION BY qid
      |                            ORDER BY ROUND(cosim, 6) DESC, nid) AS rn
      |  FROM s) t
      |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** x104/x105/x109: the declared CTE that re-derives a corpus-graph
    * stage is bound to the session-shared one ([[CorpusGraph]]), so the
    * three rows in one session derive each stage once. */
  private val sharedStages =
    Map[String, (SparkSession, String) => Map[String, DataFrame]](
      "x104_overlap_matrix" -> ((s, d) => Map("f" -> CorpusGraph.docFp(s, d))),
      "x105_pagerank" ->
        ((s, d) => Map("pairs" -> CorpusGraph.mirrorPairs(s, d))),
      "x109_triangles" ->
        ((s, d) => Map("e" -> CorpusGraph.mirrorPairs(s, d).toDF("u", "v")))
    ).withDefaultValue(
      (_: SparkSession, _: String) => Map.empty[String, DataFrame])

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sqlBacked.map(q => q.name ->
      Tables.sql(q.spark, q.materialize, sharedStages(q.name))).toMap ++ Map(
      // overrides the SQL-text variant in Extensions: same oracle, but the
      // unigram side runs on dictionary-encoded bitset masks (see Scaladoc)
      "x54_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
      // x57/x58: exact-duplicate recall assertions derived from the REAL
      // sketch pipelines (same pattern as x59/x62) — the raw pair lists are
      // hash-dependent, but full recall of word-set-equal pairs at
      // est_j/jaccard = 1.0 (MinHash) and hamming = 0 (SimHash) is
      // deterministic by construction, so a DuckDB twin can enumerate the
      // expected pairs from raw text and pin the booleans
      "x57_minhash_lsh" -> ((s: SparkSession, d: String) => Dedup.minhashRecallCheck(s, d)),
      "x58_simhash"     -> ((s: SparkSession, d: String) => Dedup.simhashRecallCheck(s, d)),
      // x80: count-min heavy hitters — exact top-20 tokens checked
      // against the sketch's never-underestimates guarantee (the sketch
      // path shuffles a fixed 4×1024 grid, never the vocabulary)
      "x80_heavy_hitters" -> ((s: SparkSession, d: String) =>
        graft.ext.Frequency.heavyHitters(s, d)),
      // x81: incremental batch dedup — new batch (doc_id%10=0) checked
      // against the corpus via the exact PPJoin stage; per new doc the
      // smallest matching corpus partner at j>=0.9 (or null extension)
      "x81_incr_dedup" -> ((s: SparkSession, d: String) =>
        Dedup.incrementalDedup(s, d)),
      // x84: overrides the SQL-text variant in Extensions — same pairs and
      // oracle, but the levenshtein verify runs AFTER a round-robin
      // rebalance of the pair set (blocking keys concentrate duplicate
      // clusters, so the fp-keyed join stage is maximally skewed exactly
      // where the DP work is)
      "x84_edit_distance" -> ((s: SparkSession, d: String) =>
        Dedup.editDistanceQuery(s, d)),
      // x82: asymmetric containment search (quote/subset detection) — the
      // prefix-filter + inverted-index join in Dedup.containmentQuery;
      // oracle is the quadratic probe×corpus trigram-containment twin
      "x82_containment" -> ((s: SparkSession, d: String) =>
        Dedup.containmentQuery(s, d)),
      // x83: Z-order (Morton) interleave — the codegen'd layout expression
      // behind Layout.zorderBy, value-pinned against DuckDB's bit-shift
      // reconstruction of the same 42-bit code
      "x83_zorder" -> ((s: SparkSession, d: String) => {
        graft.functions.GraftFunctions.register(s)
        Tables.ensure(s, d)
        s.sql(
          """SELECT l_orderkey, l_linenumber,
            |  zorder2(CAST(l_partkey AS INT), CAST(l_suppkey AS INT)) AS z
            |FROM lineitem WHERE l_orderkey <= 200
            |ORDER BY l_orderkey, l_linenumber""".stripMargin)
      }),
      // x75: near-dup pairs -> transitive dedup groups via distributed
      // min-label propagation (ext/Components); oracle is a recursive
      // transitive-closure CTE over the identical edge set
      "x75_components" -> ((s: SparkSession, d: String) =>
        Dedup.componentsQuery(s, d)),
      // x108: x75's dup groups resolved by quality argmax (keep the
      // longest doc per component) — see Dedup.keepBestQuery
      "x108_keep_best" -> ((s: SparkSession, d: String) =>
        Dedup.keepBestQuery(s, d)),
      // x90: deterministic k-means assignment (the SemDeDup partitioning
      // step) — centroids = embeddings of vec_id < 8, broadcast; argmax by
      // rounded cosine with lowest-cid tiebreak, so the DuckDB twin can
      // replay the assignment exactly (see ext/Clustering)
      "x90_kmeans" -> ((s: SparkSession, d: String) =>
        graft.ext.Clustering.assignQuery(s, d)),
      // x91: SemDeDup end-to-end — cluster (x90's argmax over the x63
      // planted-dup view), then within-cluster keep-first pruning at
      // cosine >= 0.9; the quadratic join runs per cluster, never across
      // the corpus (see ext/Clustering.semDedupQuery)
      "x91_semdedup" -> ((s: SparkSession, d: String) =>
        graft.ext.Clustering.semDedupQuery(s, d)),
      // x65: the JaccardJoinRewrite optimizer rule run end-to-end through
      // the oracle gate — a naive jaccard-threshold SQL join, rewritten to
      // the banded equi-join, must find every word-set-equal pair
      "x65_jaccard_rule" -> ((s: SparkSession, d: String) =>
        Dedup.jaccardRewriteRecallCheck(s, d)),
      // q55: the B12 positional-binding path (SqlText.bind) run end-to-end
      // through the driver's oracle gate — the template carries a string
      // with an embedded quote to exercise the escaping rules
      "q55_param" -> ((s: SparkSession, d: String) => {
        Tables.ensure(s, d)
        s.sql(SqlText.bind(Queries.q55ParamTemplate, Seq(
          Parameter.Text("BUILDING"), Parameter.Real(1000.0),
          Parameter.Text("o'brien"))))
      }),
      // x59/x62: recall@5-vs-brute-force assertion rows — the approximate
      // path runs for real, but the driver-visible output is a
      // deterministic per-query boolean + exact floor cosine that the
      // DuckDB brute-force twin CAN check (closes the r2 verdict's
      // "no_oracle by design" gap for the ANN sketches)
      "x59_ann_lsh"     -> ((s: SparkSession, d: String) => Similarity.lshRecallCheck(s, d)),
      "x60_mm_decode"   -> (Multimodal.decodeQuery _),
      // x77: encode → frame-sample → per-frame byte stats; closed-form
      // DuckDB twin over documents.text (see Multimodal.frameQuery)
      "x77_framesample" -> (Multimodal.frameQuery _),
      "x62_ann_ivf"     -> ((s: SparkSession, d: String) => Similarity.ivfRecallCheck(s, d)),
      "x61_ann_expr"    -> ((s: SparkSession, d: String) => {
        graft.functions.GraftFunctions.register(s)
        Tables.ensure(s, d)
        s.sql(annExprSql)
      }),
      // embedding-cosine near-dup pairs: LSH-bucketed candidates + exact
      // codegen'd verify, over the planted-duplicate view (raw corpus max
      // cosine ≈0.45 → the un-planted query is vacuously empty at 0.9);
      // oracle is the brute-force threshold twin over the same view
      "x63_embed_dup" -> ((s: SparkSession, d: String) =>
        Similarity.cosineDupPairsPlanted(s, d)),
      // q56: q12's theta join re-planned as the scale-safe bucketed
      // equi-join (RangeJoin.lessThanJoin) — value-identical output, plan
      // pinned BNLJ-free in QueriesSpec; shares q12's DuckDB oracle
      "q56_theta_banded" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        Tables.ensure(s, d)
        val sup = s.table("supplier")
        val a = sup.select(col("s_suppkey").as("s1"),
          col("s_acctbal").as("__xa"))
        val b = sup.select(col("s_suppkey").as("s2"),
          col("s_acctbal").as("__xb"))
        graft.operators.RangeJoin.lessThanJoin(a, "__xa", b, "__xb")
          .select("s1", "s2").orderBy("s1", "s2")
      }),
      // q57: distributed LEFT as-of join (operators/AsOfJoin) — each click
      // event picks up the latest preceding view by the same user; one
      // hash shuffle per side + a window pass, no range join. Oracle is
      // DuckDB's LATERAL top-1 formulation with the same tie-break.
      "q57_asof" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        Tables.ensure(s, d)
        val ev = s.table("events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"),
            col("event_id").as("view_id"), col("value").as("view_value"))
        graft.operators.AsOfJoin
          .asOf(clicks, views, "user_id", "ts",
            Seq("view_id", "view_value"), "view_id")
          .select("event_id", "user_id", "view_id", "view_value")
          .orderBy("event_id")
      }),
      // q61: the salted skew join (operators/SkewJoin) run end-to-end —
      // events (fact side, hot user_ids) join customer (dim side) with the
      // hot keys spread over 16 deterministic salts; the rewrite is
      // row-identical to the plain equi-join, which is exactly what the
      // DuckDB oracle checks.
      "q61_skew_join" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        Tables.ensure(s, d)
        val fact = s.table("events")
          .select(col("event_id"), col("user_id"))
        val dim = s.table("customer")
          .select(col("c_custkey"), col("c_name"))
        graft.operators.SkewJoin
          .saltedJoin(fact, "user_id", dim, "c_custkey",
            saltBy = col("event_id"), salt = 16)
          .select("event_id", "user_id", "c_name")
          .orderBy("event_id")
      }),
      // x72: greedy sequence packing (ext/Packing) — token-budget bins per
      // lang in doc_id order, streamed via flatMapSortedGroups (no group
      // materialization). The assignment is sequential by definition, so
      // the oracle IS the sequential semantics: DuckDB re-derives every
      // pack id with a recursive CTE and the hash compare pins the whole
      // assignment, not just summary stats.
      // x95: x76's decontamination join with the training-side gram stream
      // pruned map-side by a broadcast Bloom sketch of the benchmark grams
      // (Spark's own runtime-filter expressions, driven explicitly). The
      // exact verify join removes Bloom false positives, so the output is
      // value-identical to x76 and shares its DuckDB twin. See ext/Decontam.
      "x95_bloom_decontam" -> ((s: SparkSession, d: String) =>
        graft.ext.Decontam.bloomDecontamQuery(s, d)),
      // q86: interval overlap self-join — every pair of same-user events
      // whose 5-minute windows overlap, via the time-banded equi-join in
      // operators/IntervalJoin (the q56 banding idea on the time axis);
      // oracle is DuckDB's plain theta formulation of the same pairs
      "q86_interval_join" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        Tables.ensure(s, d)
        graft.operators.IntervalJoin
          .overlapSelfJoin(s.table("events"), "user_id", "ts", "event_id",
            durationSec = 300L)
          .orderBy(col("user_id"), col("id_a"), col("id_b"))
      }),
      // x100: distributed BPE encode with corpus-derived merges — the
      // tokenizer-APPLICATION side of x93/the Bpe trainer, oracle-checked
      // end-to-end (the DuckDB twin replays the same selection + merge
      // chain on a delimited-string form; see ext/Bpe.encodeQuery)
      "x100_bpe_encode" -> ((s: SparkSession, d: String) =>
        graft.ext.Bpe.encodeQuery(s, d)),
      "x72_pack" -> ((s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        Tables.ensure(s, d)
        val toks = s.sql(
          """SELECT doc_id, lang,
            |  size(array_remove(split(LOWER(text), ' '), '')) AS ntoks
            |FROM documents""".stripMargin)
        graft.ext.Packing.greedyPack(toks, "lang", "doc_id", "ntoks", 256)
          .select(col("doc_id"), col("lang"),
            col("ntoks").cast("int").as("ntoks"),
            col("pack_id").cast("long").as("pack_id"))
          .orderBy("lang", "doc_id")
      })
    )

  /** x63 twin: brute-force all-pairs cosine over the SAME planted view as
    * [[graft.ext.Similarity.plantedVecs]] (ε-perturbed copies of vec 0-2 at
    * +1,000,000, exact copies of vec 3-5 at +2,000,000), in the DOUBLE-sum
    * formulation that x55/x61 proved round-4-identical to the Spark side.
    * Non-vacuous by construction: both sides emit the 6 planted pairs
    * through the full candidate + exact-verify path. */
  private val embedDupDuck =
    """WITH pv AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |         list_transform(embedding,
      |           x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
      |  FROM embeddings WHERE vec_id < 3
      |  UNION ALL
      |  SELECT vec_id + 2000000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id BETWEEN 3 AND 5),
      |s AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |         / (SQRT(list_sum(list_transform(a.embedding,
      |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |          * SQRT(list_sum(list_transform(b.embedding,
      |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosim
      |  FROM pv a JOIN pv b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b,
      |       CAST(CAST(ROUND(cosim, 4) AS DECIMAL(18,4)) AS DOUBLE) AS cosim
      |FROM s WHERE cosim >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** x59/x62 twin: per-query recall assertion derived from x55's exact
    * brute-force top-5 — floor_cos is the 5th-best exact cosine, and the
    * oracle asserts recall_ok = TRUE: if the approximate path on the Spark
    * side returns fewer than minHits neighbors at/above that floor, the
    * boolean flips and the driver's hash compare fails. */
  private val recallDuck = {
    val x55 = Extensions.all.find(_.name == "x55_ann_topk").get.duck
    s"""WITH t5 AS ($x55)
       |SELECT qid, TRUE AS recall_ok, MIN(cosim) AS floor_cos
       |FROM t5 GROUP BY qid ORDER BY qid""".stripMargin
  }

  /** x57/x58 twin fragment: word-SET-equal doc pairs from the raw text —
    * the same sorted-distinct-token fingerprint as the oracle-green x52,
    * which is exactly the pair floor the sketch recall checks claim (see
    * [[graft.ext.Dedup.setEqualPairs]]). Empty word sets are excluded in
    * BOTH dialects — the sketch pipelines drop empty docs (no signature
    * row from an empty explode), so the floor must too. */
  private val setEqualPairsDuck =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |FROM (SELECT doc_id, md5(array_to_string(list_sort(ws), ' ')) AS fp
      |      FROM (SELECT doc_id, list_distinct(
      |              list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS ws
      |            FROM documents)
      |      WHERE len(ws) > 0) a
      |JOIN (SELECT doc_id, md5(array_to_string(list_sort(ws), ' ')) AS fp
      |      FROM (SELECT doc_id, list_distinct(
      |              list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS ws
      |            FROM documents)
      |      WHERE len(ws) > 0) b
      |  ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin

  private val minhashDuck =
    s"""SELECT doc_a, doc_b, TRUE AS found, TRUE AS est_ok, TRUE AS j_ok
       |FROM ($setEqualPairsDuck)
       |ORDER BY doc_a, doc_b""".stripMargin

  private val simhashDuck =
    s"""SELECT doc_a, doc_b, TRUE AS found, TRUE AS ham_ok
       |FROM ($setEqualPairsDuck)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** x65 twin — the doc_id < 2000 cap mirrors the Spark side's demo-corpus
    * slice (see [[graft.ext.Dedup.jaccardRewriteRecallCheck]]). */
  private val jaccardRuleDuck =
    s"""SELECT doc_a, doc_b, TRUE AS found
       |FROM ($setEqualPairsDuck)
       |WHERE doc_a < 2000 AND doc_b < 2000
       |ORDER BY doc_a, doc_b""".stripMargin

  /** x60 twin: the fake decode is a closed-form function of documents.text
    * (header magic + big-endian dims from doc_id + UTF-8 payload), so the
    * oracle recomputes every field including the modular polynomial
    * checksum (the corpus is ASCII — unicode(ch) == UTF-8 byte; the Spark
    * side reduces over payload bytes, DuckDB over code points). */
  private val mmDecodeDuck =
    """SELECT doc_id, 'img1' AS format,
      |       CAST(64 + (doc_id % 16) * 32 AS INT) AS width,
      |       CAST(64 + (doc_id % 9) * 32 AS INT) AS height,
      |       CAST(strlen(text) + 12 AS BIGINT) AS n_bytes,
      |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |         list_transform(range(1, CAST(strlen(text) AS INT) + 1),
      |           i -> CAST(unicode(text[i]) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS checksum
      |FROM documents ORDER BY doc_id""".stripMargin

  /** x75 twin: recursive transitive closure over the SAME within-lang
    * unigram-Jaccard>=0.8 edge set the Spark side feeds to
    * [[graft.ext.Components.minLabelPropagation]]; component id = min
    * reachable doc_id (the `reach.r < e.t` guard prunes non-improving
    * expansions so the fixpoint terminates). */
  /** DuckDB twin of [[graft.ext.Clustering.assignQuery]]: the same
    * broadcast-argmax replayed as a cross join + ROW_NUMBER — identical
    * rounded-6 cosines (x55's list formulation) and the identical
    * lowest-cid tiebreak. */
  private val kmeansDuck =
    """WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cemb
      |           FROM embeddings WHERE vec_id < 8),
      |s AS (SELECT e.vec_id, c.cid,
      |        FLOOR(list_sum(list_transform(list_zip(e.embedding, c.cemb),
      |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |        / (SQRT(list_sum(list_transform(e.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(c.cemb,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1e6 + 0.5)
      |          / 1e6 AS cos
      |      FROM embeddings e, c),
      |r AS (SELECT vec_id, cid, cos,
      |        ROW_NUMBER() OVER (PARTITION BY vec_id
      |                           ORDER BY cos DESC, cid) AS rn
      |      FROM s)
      |SELECT vec_id, cid,
      |  CAST(CAST(FLOOR(cos * 1e4 + 0.5) / 1e4 AS DECIMAL(18,4)) AS DOUBLE) AS cos
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** DuckDB twin of [[graft.ext.Clustering.semDedupQuery]]: the planted
    * view (x63's), [[kmeansDuck]]'s assignment argmax, then the identical
    * within-cluster keep-first pruning — every cosine floor-rounded at 6
    * decimals on both engines. */
  private val semDedupDuck =
    """WITH pv AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000 AS vec_id,
      |         list_transform(embedding,
      |           x -> CAST(CAST(x AS DOUBLE) + 0.02 AS FLOAT)) AS embedding
      |  FROM embeddings WHERE vec_id < 3
      |  UNION ALL
      |  SELECT vec_id + 2000000 AS vec_id, embedding
      |  FROM embeddings WHERE vec_id BETWEEN 3 AND 5),
      |c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cemb
      |      FROM embeddings WHERE vec_id < 8),
      |s AS (SELECT p.vec_id, c.cid,
      |        FLOOR(list_sum(list_transform(list_zip(p.embedding, c.cemb),
      |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |        / (SQRT(list_sum(list_transform(p.embedding,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(c.cemb,
      |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1e6 + 0.5)
      |          / 1e6 AS cos
      |      FROM pv p, c),
      |a AS (SELECT vec_id, cid FROM (
      |        SELECT vec_id, cid,
      |               ROW_NUMBER() OVER (PARTITION BY vec_id
      |                                  ORDER BY cos DESC, cid) AS rn
      |        FROM s) t WHERE rn = 1),
      |a2 AS (SELECT a.vec_id, a.cid, pv.embedding
      |       FROM a JOIN pv ON a.vec_id = pv.vec_id),
      |d AS (SELECT DISTINCT y.vec_id
      |      FROM a2 x JOIN a2 y
      |        ON x.cid = y.cid AND x.vec_id < y.vec_id
      |      WHERE FLOOR(list_sum(list_transform(list_zip(x.embedding, y.embedding),
      |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
      |        / (SQRT(list_sum(list_transform(x.embedding,
      |             e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(y.embedding,
      |             e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) * 1e6 + 0.5)
      |          / 1e6 >= 0.9)
      |SELECT a2.vec_id, a2.cid, d.vec_id IS NULL AS kept
      |FROM a2 LEFT JOIN d ON a2.vec_id = d.vec_id
      |ORDER BY a2.vec_id""".stripMargin

  private val componentsDuck =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, lang,
      |        list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
      |      FROM documents),
      |n AS (SELECT doc_id, lang, list_distinct(toks) AS w1,
      |        len(list_distinct(toks)) AS n1 FROM d),
      |t1 AS (SELECT lang, doc_id, n1, unnest(w1) AS tok FROM n),
      |c1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |              a.n1 AS na, b.n1 AS nb, COUNT(*) AS c
      |       FROM t1 a JOIN t1 b
      |         ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2, 3, 4),
      |p AS (SELECT doc_a, doc_b FROM c1
      |      WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.8),
      |e AS (SELECT doc_a AS s, doc_b AS t FROM p
      |      UNION ALL SELECT doc_b AS s, doc_a AS t FROM p),
      |reach AS (
      |  SELECT doc_id AS n, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.t AS n, reach.r FROM reach JOIN e ON e.s = reach.n
      |  WHERE reach.r < e.t)
      |SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS comp
      |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  /** x108 twin: x75's component derivation with the final keep decision
    * replaced by the quality argmax (longest doc per component, doc_id
    * tiebreak) — built by rewriting componentsDuck's output stage so the
    * two twins can never drift on the edge/closure definition. */
  private val keepBestDuck = componentsDuck.replace(
    "SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS comp\nFROM reach GROUP BY n ORDER BY doc_id",
    """comp AS (SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS comp
      |         FROM reach GROUP BY n),
      |q AS (SELECT doc_id,
      |        len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS ntoks
      |      FROM documents)
      |SELECT c.doc_id, c.comp, CAST(q.ntoks AS INT) AS ntoks,
      |  ROW_NUMBER() OVER (PARTITION BY c.comp
      |                     ORDER BY q.ntoks DESC, c.doc_id) = 1 AS keep
      |FROM comp c JOIN q ON c.doc_id = q.doc_id ORDER BY c.doc_id""".stripMargin)
    .replace("WHERE reach.r < e.t)\ncomp AS", "WHERE reach.r < e.t),\ncomp AS")

  /** x77 twin: the fake payload is header(12) ++ UTF-8 text (ASCII corpus
    * ⇒ unicode(ch) == byte), so the frame grid, stride filter and byte
    * sums all recompute closed-form. 'IMG1' = 73,77,71,49; width/height
    * are < 2¹⁶ so their big-endian high bytes are 0. */
  private val frameSampleDuck =
    """WITH b AS (SELECT doc_id,
      |  list_concat(
      |    [CAST(73 AS BIGINT), 77, 71, 49,
      |     0, 0, (64 + (doc_id % 16) * 32) // 256, (64 + (doc_id % 16) * 32) % 256,
      |     0, 0, (64 + (doc_id % 9) * 32) // 256, (64 + (doc_id % 9) * 32) % 256],
      |    list_transform(range(1, CAST(strlen(text) AS INT) + 1),
      |      i -> CAST(unicode(text[i]) AS BIGINT))) AS bytes
      |  FROM documents),
      |f AS (SELECT doc_id, bytes,
      |        unnest(range(0, CAST(len(bytes) // 32 AS INT))) AS fno
      |      FROM b)
      |SELECT doc_id, CAST(fno AS INT) AS frame_no, CAST(32 AS INT) AS frame_len,
      |  CAST(list_sum(list_slice(bytes, CAST(fno * 32 + 1 AS INT),
      |    CAST(fno * 32 + 32 AS INT))) AS BIGINT) AS byte_sum
      |FROM f WHERE fno % 4 = 0
      |ORDER BY doc_id, frame_no""".stripMargin

  /** x81 twin: quadratic new-batch × corpus within-lang word-set Jaccard
    * (the same exact j1 the PPJoin stage computes), per new doc the
    * smallest corpus partner at the threshold, null-extended so every new
    * doc gets a verdict row. */
  private val incrDedupDuck =
    """WITH d AS (SELECT doc_id, lang,
      |        list_distinct(list_filter(string_split(LOWER(text), ' '),
      |          t -> t <> '')) AS w1
      |      FROM documents),
      |n AS (SELECT doc_id, lang, w1, len(w1) AS n1 FROM d),
      |p AS (SELECT a.doc_id AS new_doc, b.doc_id AS old_doc,
      |        CAST(len(list_intersect(a.w1, b.w1)) AS DOUBLE)
      |          / CAST(a.n1 + b.n1 - len(list_intersect(a.w1, b.w1)) AS DOUBLE) AS j1
      |      FROM n a JOIN n b
      |        ON a.lang = b.lang AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      |       AND a.n1 > 0 AND b.n1 > 0),
      |m AS (SELECT new_doc, MIN(old_doc) AS dup_of, MIN_BY(j1, old_doc) AS bj
      |      FROM p WHERE j1 >= 0.9 GROUP BY new_doc)
      |SELECT doc_id, CAST(dup_of AS BIGINT) AS dup_of,
      |  CAST(CAST(FLOOR(bj * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
      |LEFT JOIN m ON doc_id = new_doc
      |ORDER BY doc_id""".stripMargin

  /** x82 twin: quadratic probe×corpus within-lang trigram containment —
    * the same |A∩B|/|A| the prefix-filtered Spark path computes (exact
    * trigram strings here vs xxhash64-encoded sets there; a count diverges
    * only on a 64-bit collision inside one compared pair). */
  private val containmentDuck =
    """WITH pv AS (SELECT doc_id, lang, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, lang,
      |    array_to_string(list_slice(
      |      list_filter(string_split(LOWER(text), ' '), t -> t <> ''),
      |      4, 15), ' ') AS text
      |  FROM documents WHERE doc_id < 10),
      |d AS (SELECT doc_id, lang,
      |        list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
      |      FROM pv),
      |g AS (SELECT doc_id, lang,
      |        CASE WHEN len(toks) >= 3 THEN
      |          list_distinct([array_to_string(toks[i:i+2], ' ')
      |                         for i in range(1, len(toks)-1)])
      |        ELSE [] END AS w3
      |      FROM d),
      |n AS (SELECT doc_id, lang, w3, len(w3) AS n3 FROM g),
      |p AS (SELECT a.doc_id AS probe, b.doc_id AS cand,
      |        CAST(len(list_intersect(a.w3, b.w3)) AS DOUBLE)
      |          / CAST(a.n3 AS DOUBLE) AS c
      |      FROM n a JOIN n b ON a.lang = b.lang
      |        AND (a.doc_id % 20 = 0 OR a.doc_id >= 1000000)
      |        AND b.doc_id <> a.doc_id AND a.n3 > 0 AND b.n3 > 0),
      |m AS (SELECT probe, COUNT(*) AS containers, MIN(cand) AS first_container,
      |             MAX(c) AS cmax
      |      FROM p WHERE c >= 0.8 GROUP BY probe)
      |SELECT d.doc_id, CAST(COALESCE(n.n3, 0) AS INT) AS n3,
      |  CAST(COALESCE(m.containers, 0) AS INT) AS containers,
      |  CAST(m.first_container AS BIGINT) AS first_container,
      |  CAST(CAST(FLOOR(m.cmax * 10000.0 + 0.5) / 10000.0
      |       AS DECIMAL(18,4)) AS DOUBLE) AS cmax
      |FROM (SELECT doc_id FROM pv
      |      WHERE doc_id % 20 = 0 OR doc_id >= 1000000) d
      |LEFT JOIN n ON n.doc_id = d.doc_id
      |LEFT JOIN m ON m.probe = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** x83 twin: the Morton code rebuilt from plain bit arithmetic — bit i
    * of each key lands at output bits 2i / 2i+1 (21 bits per key). */
  private val zorderDuck =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(list_sum(list_transform(range(0, 21),
      |    i -> (CAST((l_partkey >> i) & 1 AS BIGINT) << (2 * i))
      |       + (CAST((l_suppkey >> i) & 1 AS BIGINT) << (2 * i + 1))))
      |    AS BIGINT) AS z
      |FROM lineitem WHERE l_orderkey <= 200
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  def oracleSql: Map[String, String] =
    sqlBacked.map(q => q.name -> q.duck).toMap +
      ("x75_components" -> componentsDuck) +
      ("x108_keep_best" -> keepBestDuck) +
      ("x90_kmeans" -> kmeansDuck) +
      ("x91_semdedup" -> semDedupDuck) +
      ("x82_containment" -> containmentDuck) +
      ("x83_zorder" -> zorderDuck) +
      ("x77_framesample" -> frameSampleDuck) +
      ("x80_heavy_hitters" -> graft.ext.Frequency.heavyHittersDuck) +
      ("x81_incr_dedup" -> incrDedupDuck) +
      ("x61_ann_expr" ->
        Extensions.all.find(_.name == "x55_ann_topk").get.duck) +
      ("x63_embed_dup" -> embedDupDuck) +
      ("x95_bloom_decontam" ->
        Extensions.all.find(_.name == "x76_decontam").get.duck) +
      ("x100_bpe_encode" -> graft.ext.Bpe.encodeDuck) +
      ("q86_interval_join" ->
        """SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b
          |FROM events a JOIN events b
          |  ON a.user_id = b.user_id AND a.event_id < b.event_id
          | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) < 300000000
          |ORDER BY a.user_id, id_a, id_b""".stripMargin) +
      ("x59_ann_lsh" -> recallDuck) +
      ("x62_ann_ivf" -> recallDuck) +
      ("x57_minhash_lsh" -> minhashDuck) +
      ("x58_simhash" -> simhashDuck) +
      ("x65_jaccard_rule" -> jaccardRuleDuck) +
      ("x60_mm_decode" -> mmDecodeDuck) +
      ("q55_param" -> Queries.q55ParamBound) +
      ("q56_theta_banded" ->
        Queries.all.find(_.name == "q12_theta").get.duck) +
      ("q61_skew_join" ->
        """SELECT e.event_id, e.user_id, c.c_name
          |FROM events e JOIN customer c ON e.user_id = c.c_custkey
          |ORDER BY event_id""".stripMargin) +
      ("x72_pack" ->
        """WITH RECURSIVE
          |d AS (SELECT doc_id, lang,
          |        len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS ntoks
          |      FROM documents),
          |o AS (SELECT doc_id, lang, ntoks,
          |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
          |      FROM d),
          |r AS (
          |  SELECT lang, rn, doc_id, ntoks,
          |         CAST(ntoks AS BIGINT) AS acc, CAST(0 AS BIGINT) AS pack
          |  FROM o WHERE rn = 1
          |  UNION ALL
          |  SELECT o.lang, o.rn, o.doc_id, o.ntoks,
          |    CASE WHEN r.acc + o.ntoks > 256 THEN CAST(o.ntoks AS BIGINT)
          |         ELSE r.acc + o.ntoks END,
          |    CASE WHEN r.acc + o.ntoks > 256 THEN r.pack + 1 ELSE r.pack END
          |  FROM r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1)
          |SELECT doc_id, lang, CAST(ntoks AS INT) AS ntoks,
          |       CAST(pack AS BIGINT) AS pack_id
          |FROM r ORDER BY lang, doc_id""".stripMargin) +
      ("q57_asof" ->
        """SELECT l.event_id, l.user_id, r.view_id, r.view_value
          |FROM (SELECT * FROM events WHERE event_type = 'click') l
          |LEFT JOIN LATERAL (
          |  SELECT e.event_id AS view_id, e.value AS view_value
          |  FROM events e
          |  WHERE e.event_type = 'view' AND e.user_id = l.user_id
          |    AND e.ts <= l.ts
          |  ORDER BY e.ts DESC, e.event_id DESC
          |  LIMIT 1) r ON TRUE
          |ORDER BY event_id""".stripMargin)
}
