package graft.ext

import graft.operators.Queries.Q

/** LLM-data-pipeline operators that are SQL-expressible in both dialects and
  * therefore DuckDB-oracle-checkable (driver mandate; the reference has no
  * analytics surface of its own — see SURVEY.md §0, §2.2 B68-B73).
  *
  * Scale notes (100 TB posture):
  *  - every op is a single scan + hash shuffle on a grouping key, or a
  *    blocked pairwise join (lang blocks for near-dup, label blocks / a
  *    broadcast query side for similarity) — never an unblocked cross join;
  *  - all lambdas use builtin higher-order functions (codegen'd, no UDFs);
  *  - the non-SQL-expressible scale paths (MinHash-LSH, SimHash, LSH-ANN)
  *    live in [[Dedup]] / [[Similarity]] and are property-tested instead.
  */
object Extensions {

  private val enStops = "'the','and','of','to','in','is','it','that'"
  private val esStops = "'el','la','de','que','y','en','los','se'"
  private val deStops = "'der','die','und','den','von','zu','das','mit'"
  private val frStops = "'le','les','des','et','une','du','au','dans'"

  private def langIdSql(sizeFn: String, filterFn: String, splitFn: String) =
    s"""WITH t AS (SELECT doc_id, lang,
       |             $filterFn($splitFn(LOWER(text), ' '), x -> x <> '') AS toks
       |           FROM documents),
       |h AS (SELECT doc_id, lang,
       |        CAST($sizeFn($filterFn(toks, x -> x IN ($enStops))) AS INT) AS en_hits,
       |        CAST($sizeFn($filterFn(toks, x -> x IN ($esStops))) AS INT) AS es_hits,
       |        CAST($sizeFn($filterFn(toks, x -> x IN ($deStops))) AS INT) AS de_hits,
       |        CAST($sizeFn($filterFn(toks, x -> x IN ($frStops))) AS INT) AS fr_hits
       |      FROM t)
       |SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       |       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits
       |                 AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
       |            WHEN es_hits >= de_hits AND es_hits >= fr_hits
       |                 AND es_hits > 0 THEN 'es'
       |            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
       |            WHEN fr_hits > 0 THEN 'fr'
       |            ELSE 'und' END AS lang_pred
       |FROM h ORDER BY doc_id""".stripMargin

  private def langIdSparkSql =
    s"""WITH t AS (SELECT doc_id, lang,
       |             array_remove(split(LOWER(text), ' '), '') AS toks
       |           FROM documents),
       |h AS (SELECT doc_id, lang,
       |        count_in(toks, array($enStops)) AS en_hits,
       |        count_in(toks, array($esStops)) AS es_hits,
       |        count_in(toks, array($deStops)) AS de_hits,
       |        count_in(toks, array($frStops)) AS fr_hits
       |      FROM t)
       |SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       |       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits
       |                 AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
       |            WHEN es_hits >= de_hits AND es_hits >= fr_hits
       |                 AND es_hits > 0 THEN 'es'
       |            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
       |            WHEN fr_hits > 0 THEN 'fr'
       |            ELSE 'und' END AS lang_pred
       |FROM h ORDER BY doc_id""".stripMargin

  private def qualitySql(sizeFn: String, filterFn: String, splitFn: String,
                         reReplace: String) =
    s"""WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
       |             $filterFn($splitFn(text, ' '), x -> x <> '') AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, nchars, CAST($sizeFn(toks) AS INT) AS ntoks,
       |        CAST($sizeFn($filterFn(toks,
       |          x -> x IN ($enStops,'a','for'))) AS INT) AS stop_hits,
       |        CAST(LENGTH($reReplace) AS INT) AS punct
       |      FROM t)
       |SELECT doc_id, nchars, ntoks,
       |  CAST(CAST(FLOOR(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS stop_ratio,
       |  CAST(CAST(FLOOR(CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS punct_ratio,
       |  CAST(CAST(FLOOR((0.4*(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE))
       |      + 0.3*LEAST(CAST(ntoks AS DOUBLE)/50.0, 1.0)
       |      + 0.3*(1.0 - CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  private def qualitySparkSql(reReplace: String) =
    s"""WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
       |             array_remove(split(text, ' '), '') AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, nchars, CAST(size(toks) AS INT) AS ntoks,
       |        count_in(toks, array($enStops,'a','for')) AS stop_hits,
       |        CAST(LENGTH($reReplace) AS INT) AS punct
       |      FROM t)
       |SELECT doc_id, nchars, ntoks,
       |  CAST(CAST(FLOOR(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS stop_ratio,
       |  CAST(CAST(FLOOR(CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS punct_ratio,
       |  CAST(CAST(FLOOR((0.4*(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE))
       |      + 0.3*LEAST(CAST(ntoks AS DOUBLE)/50.0, 1.0)
       |      + 0.3*(1.0 - CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
       |       AS DECIMAL(18,4)) AS DOUBLE) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(
    // x109 triangle counting on the x105 mirror graph — the graph-quality
    // metric (clustering structure of the host graph) next to PageRank.
    // The SQL is the standard distributed algorithm: orient every edge
    // low→high (u < v kills duplicate emission AND bounds the two-path
    // fan-out by forward-degree), build oriented two-paths (a<b<c) with
    // one edge⋈edge join, close each with a semi-join back onto the edge
    // set. Corpus-scale cost is the x104 fingerprint edge derivation; the
    // triangle stage runs on the |hosts|-sized graph. At 100 TB the
    // two-path join keys on the shared middle vertex and the closing
    // probe on the (a, c) pair — hash-partitionable end-to-end, no
    // all-pairs stage.
    Q("x109_triangles",
      """WITH f AS (SELECT doc_id, source,
        |             md5(CAST(array_join(array_sort(array_distinct(
        |               array_remove(split(LOWER(text), ' '), ''))), ' ')
        |               AS BINARY)) AS fp
        |           FROM documents),
        |e AS (SELECT DISTINCT LEAST(a.source, b.source) AS u,
        |        GREATEST(a.source, b.source) AS v
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT a, b, c FROM t ORDER BY a, b, c""".stripMargin,
      """WITH f AS (SELECT doc_id, source,
        |             md5(array_to_string(list_sort(list_distinct(
        |               list_filter(string_split(LOWER(text), ' '), t -> t <> ''))), ' ')) AS fp
        |           FROM documents),
        |e AS (SELECT DISTINCT LEAST(a.source, b.source) AS u,
        |        GREATEST(a.source, b.source) AS v
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT a, b, c FROM t ORDER BY a, b, c""".stripMargin),

    // x110 association rules (market-basket) — support / confidence /
    // lift for every event-type pair over (user, day) baskets: the
    // co-occurrence mining primitive behind recommendation and
    // sequential-pattern features. Shape: one DISTINCT proportional to
    // |events|, a per-basket self-join whose fan-out is bounded by
    // basket size squared (≤|types|² per basket — skew-free by
    // construction), then aggregates on |types|² keys. All ratios are
    // integer-count divisions FLOOR-half-up-rounded at 6dp (the q77/x94
    // idiom), so both engines render identical values. The basket count
    // rides in as a scalar subquery, not a cross join. The driver
    // materializes the basket stream `b` once for its four references.
    Q.same("x110_assoc_rules",
      """WITH b AS (SELECT DISTINCT user_id,
        |             CAST(date_trunc('day', ts) AS DATE) AS d, event_type
        |           FROM events),
        |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n
        |       FROM (SELECT DISTINCT user_id, d FROM b)),
        |i AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ni
        |      FROM b GROUP BY event_type),
        |p AS (SELECT x.event_type AS ante, y.event_type AS cons,
        |        CAST(COUNT(*) AS BIGINT) AS nab
        |      FROM b x JOIN b y ON x.user_id = y.user_id AND x.d = y.d
        |                       AND x.event_type <> y.event_type
        |      GROUP BY x.event_type, y.event_type)
        |SELECT p.ante, p.cons, p.nab,
        |  CAST(CAST(FLOOR(p.nab / (SELECT n FROM nb) * 1000000.0 + 0.5)
        |       / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS support,
        |  CAST(CAST(FLOOR(CAST(p.nab AS DOUBLE) / ia.ni * 1000000.0 + 0.5)
        |       / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS confidence,
        |  CAST(CAST(FLOOR(CAST(p.nab AS DOUBLE) / ia.ni
        |       / (ic.ni / (SELECT n FROM nb)) * 1000000.0 + 0.5)
        |       / 1000000.0 AS DECIMAL(18,6)) AS DOUBLE) AS lift
        |FROM p JOIN i ia ON p.ante = ia.event_type
        |       JOIN i ic ON p.cons = ic.event_type
        |ORDER BY ante, cons""".stripMargin,
      materialize = Seq("b")),

    // x111 per-document novelty scoring — what fraction of each doc's
    // distinct word 3-grams first appear IN that doc (first = smallest
    // doc_id over the corpus)? The dataset-growth diagnostic curation
    // teams plot before adding a source: near-1 novelty = fresh content,
    // near-0 = the corpus already has it. Shape: one distinct-gram
    // explode, one gram-keyed min-aggregate (map-side partial), one
    // gram-keyed join back, one doc-keyed count — every stage keyed and
    // partial-aggregated, no pairwise anything; ratios FLOOR-rounded
    // from integer counts.
    Q("x111_novelty",
      """WITH toks AS (SELECT doc_id,
        |                array_remove(split(LOWER(text), ' '), '') AS tk
        |              FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |        SELECT doc_id, explode(word_ngrams(tk, 3)) AS gram
        |        FROM toks WHERE size(tk) >= 3)),
        |fst AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
        |  CAST(CAST(FLOOR(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |       / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS novelty
        |FROM g JOIN fst f ON g.gram = f.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
      """WITH toks AS (SELECT doc_id,
        |                list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS tk
        |              FROM documents),
        |g AS (SELECT DISTINCT doc_id, gram FROM (
        |        SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
        |          i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS gram
        |        FROM toks WHERE len(tk) >= 3)),
        |fst AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
        |  CAST(CAST(FLOOR(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |       / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS novelty
        |FROM g JOIN fst f ON g.gram = f.gram
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // x112 Zipf-slope fit — the log-log linear fit over the token
    // frequency-rank curve, the standard corpus-health diagnostic (natural
    // text ≈ -1; synthetic/templated corpora flatten). Composes the x51
    // token-count aggregate with the q94 regression estimator; the LN
    // terms ROUND→DECIMAL(12,9) before the moment sums (the x98/x106
    // idiom), so both engines accumulate exactly and the closed-form
    // slope runs on bit-identical doubles. DECIMAL(12,9), not wider: the
    // x·x moments square the precision (12→25) and a wide input pushes
    // the product past the 38-digit cap, where Spark and DuckDB truncate
    // DIFFERENTLY (observed: slope -0.1825 vs -0.18251 at DECIMAL(28,9)).
    // Top-1000 ranks: the fit input is vocabulary-bounded, never
    // corpus-bounded.
    Q("x112_zipf",
      """WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |              SELECT explode(array_remove(split(LOWER(text), ' '), '')) AS tok
        |              FROM documents) GROUP BY tok),
        |rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM tc),
        |m AS (SELECT CAST(CAST(ROUND(LN(CAST(r AS DOUBLE)), 9) AS DECIMAL(12,9)) AS DECIMAL(12,9)) AS x,
        |             CAST(CAST(ROUND(LN(CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) AS DECIMAL(12,9)) AS y
        |      FROM rk WHERE r <= 1000),
        |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |        CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy
        |      FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100000.0 + 0.5)
        |       / 100000.0 AS DECIMAL(18,5)) AS DOUBLE) AS zipf_slope
        |FROM s""".stripMargin,
      """WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |              SELECT unnest(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS tok
        |              FROM documents) GROUP BY tok),
        |rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM tc),
        |m AS (SELECT CAST(CAST(ROUND(LN(CAST(r AS DOUBLE)), 9) AS DECIMAL(12,9)) AS DECIMAL(12,9)) AS x,
        |             CAST(CAST(ROUND(LN(CAST(c AS DOUBLE)), 9) AS DECIMAL(12,9)) AS DECIMAL(12,9)) AS y
        |      FROM rk WHERE r <= 1000),
        |s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |        CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |        CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy
        |      FROM m)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100000.0 + 0.5)
        |       / 100000.0 AS DECIMAL(18,5)) AS DOUBLE) AS zipf_slope
        |FROM s""".stripMargin),

    // x113 k-anonymity audit — the privacy-risk scan run before releasing
    // or mixing a corpus: any (lang, source, length-bucket) cell with
    // fewer than k members could single out documents, so it is flagged
    // for suppression/generalization. One hash aggregate on the
    // quasi-identifier tuple — cell count is bounded by the attribute
    // product, not the corpus. FLOOR before the INT cast (DuckDB CAST
    // rounds doubles, Spark truncates — FLOOR makes them agree).
    Q.same("x113_k_anon",
      """WITH b AS (SELECT lang, source,
        |             CAST(FLOOR(n_chars / 200) AS INT) AS len_bucket, doc_id
        |           FROM documents),
        |g AS (SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS k
        |      FROM b GROUP BY lang, source, len_bucket)
        |SELECT lang, source, len_bucket, k, k < 5 AS risky
        |FROM g ORDER BY lang, source, len_bucket""".stripMargin),

    // x114 boilerplate removal — the per-source frequent-content strip
    // every web-corpus pipeline runs (navbars/footers/cookie banners
    // repeat across a site's pages): any word 5-gram occurring in ≥10
    // distinct docs of the SAME source is boilerplate; every token
    // position covered by a boilerplate occurrence is removed and the
    // cleaned doc re-emitted (kept-token count + position-tagged
    // fingerprint, so the oracle pins the exact surviving tokens, not
    // just a count). Shape: gram explode → (source, gram) doc-frequency
    // agg → join back to positions → covered-position explode (bounded
    // by gram hits × 5) → one anti-join on (doc, position) → per-doc
    // agg. Every join is keyed; the boilerplate set is df-thresholded so
    // it is tiny and broadcastable at any corpus size.
    // Spark side: grams come from the word_ngrams kernel and the 5-gram
    // stream `pos` materializes once for its two consumers (the df
    // aggregate and the matched-position collect). Everything after the
    // df-threshold decision is a pure function of (doc's tokens, its
    // matched gram starts), so the covered-position explode, the
    // token-position anti-join and the per-doc sort-collect md5 are one
    // map-side boilerplate_strip call per doc (value parity with that
    // shape pinned in BoilerplateSpec; the DuckDB twin keeps it).
    Q("x114_boilerplate",
      """WITH toks AS (SELECT doc_id, source,
        |                array_remove(split(LOWER(text), ' '), '') AS tk
        |              FROM documents),
        |pos AS (SELECT doc_id, source, p + 1 AS i, gram
        |        FROM toks
        |        LATERAL VIEW posexplode(word_ngrams(tk, 5)) AS p, gram),
        |bp AS (SELECT source, gram
        |       FROM (SELECT source, gram, COUNT(DISTINCT doc_id) AS df
        |             FROM pos GROUP BY source, gram)
        |       WHERE df >= 10),
        |mi AS (SELECT p.doc_id, collect_list(p.i) AS mpos
        |       FROM pos p JOIN bp b ON p.source = b.source AND p.gram = b.gram
        |       GROUP BY p.doc_id),
        |s AS (SELECT t.doc_id,
        |        boilerplate_strip(t.tk,
        |          COALESCE(m.mpos, CAST(array() AS ARRAY<INT>))) AS st
        |      FROM toks t LEFT JOIN mi m ON t.doc_id = m.doc_id)
        |SELECT doc_id, st.kept_toks AS kept_toks, st.clean_fp AS clean_fp
        |FROM s WHERE st IS NOT NULL ORDER BY doc_id""".stripMargin,
      """WITH toks AS (SELECT doc_id, source,
        |                list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS tk
        |              FROM documents),
        |pos AS (SELECT doc_id, source, i,
        |          array_to_string(list_slice(tk, i, i + 4), ' ') AS gram
        |        FROM (SELECT doc_id, source, tk, unnest(range(1, len(tk) - 3)) AS i
        |              FROM toks WHERE len(tk) >= 5)),
        |bp AS (SELECT source, gram
        |       FROM (SELECT source, gram, COUNT(DISTINCT doc_id) AS df
        |             FROM pos GROUP BY source, gram)
        |       WHERE df >= 10),
        |cover AS (SELECT DISTINCT p.doc_id, unnest(range(p.i, p.i + 5)) AS j
        |          FROM pos p JOIN bp b ON p.source = b.source AND p.gram = b.gram),
        |tokpos AS (SELECT doc_id, source, j, tok FROM (
        |             SELECT doc_id, source, unnest(tk) AS tok,
        |                    unnest(range(1, len(tk) + 1)) AS j
        |             FROM toks)),
        |kept AS (SELECT t.doc_id, t.j, t.tok
        |         FROM tokpos t LEFT JOIN cover c
        |           ON t.doc_id = c.doc_id AND t.j = c.j
        |         WHERE c.doc_id IS NULL)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_toks,
        |  md5(array_to_string(list_sort(list(tok || ':' || CAST(j AS VARCHAR))), ' ')) AS clean_fp
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      materialize = Seq("pos")),

    // x115 stratified K-fold assignment — the cross-validation split an
    // eval pipeline needs with EXACT per-stratum balance: rank docs
    // within each lang by a content-derived uniform key (md5 — engine
    // portable, reshuffle-proof, and re-running on a grown corpus moves
    // as few docs as a hash split), fold = rank mod K, so every (lang,
    // fold) cell is within 1 doc of every other. Complements x70 (plain
    // shuffle split) and x107 (split + leakage quarantine). One keyed
    // window is the whole plan; shuffle bounded by the largest stratum.
    Q.same("x115_kfold",
      """WITH r AS (SELECT doc_id, lang,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY md5(text), doc_id) AS rn
        |           FROM documents)
        |SELECT doc_id, lang, CAST((rn - 1) % 5 AS INT) AS fold
        |FROM r ORDER BY doc_id""".stripMargin),

    // x116 token-budget apportionment — mix a multi-source corpus to an
    // exact token budget: each source gets ⌊B·toks/total⌋, then the
    // leftover seats go to the largest remainders (the Hamilton/
    // largest-remainder method — the standard exact-integer apportionment;
    // x94's temperature sampler reweights, this one hits the budget
    // EXACTLY: Σalloc = B by construction). All arithmetic is 64-bit
    // integer — multiply-before-divide, integer mod — so both engines
    // agree bit-for-bit with no rounding idiom needed. Plan: one doc-level
    // map + one source agg + a |sources|-row window — corpus-scale cost is
    // the token count, the apportionment is free.
    Q("x116_apportion",
      """WITH d AS (SELECT source,
        |             CAST(size(array_remove(split(LOWER(text), ' '), '')) AS BIGINT) AS ntoks
        |           FROM documents),
        |w AS (SELECT source, CAST(SUM(ntoks) AS BIGINT) AS toks FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS tot FROM w),
        |b AS (SELECT source, toks,
        |        CAST(10000 * toks DIV (SELECT tot FROM t) AS BIGINT) AS base,
        |        CAST(10000 * toks % (SELECT tot FROM t) AS BIGINT) AS rem
        |      FROM w),
        |r AS (SELECT source, toks, base, rem,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
        |        (SELECT CAST(10000 - SUM(base) AS BIGINT) FROM b) AS leftover
        |      FROM b)
        |SELECT source, toks,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin,
      """WITH d AS (SELECT source,
        |             CAST(len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS BIGINT) AS ntoks
        |           FROM documents),
        |w AS (SELECT source, CAST(SUM(ntoks) AS BIGINT) AS toks FROM d GROUP BY source),
        |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS tot FROM w),
        |b AS (SELECT source, toks,
        |        CAST(10000 * toks // (SELECT tot FROM t) AS BIGINT) AS base,
        |        CAST(10000 * toks % (SELECT tot FROM t) AS BIGINT) AS rem
        |      FROM w),
        |r AS (SELECT source, toks, base, rem,
        |        ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
        |        (SELECT CAST(10000 - SUM(base) AS BIGINT) FROM b) AS leftover
        |      FROM b)
        |SELECT source, toks,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY source""".stripMargin),

    // x49 (B73) language identification via per-language stopword hit counts
    // — pure higher-order-function pipeline, one scan, no shuffle.
    // r15 Spark side: stop-list hit counting via the codegen count_in
    // kernel — size(filter(toks, x -> x IN (...))) evaluated its lambda
    // interpreted per token, four lists deep. Same counts (exact string
    // equality), pinned in TokenStatsSpec.
    Q("x49_lang_id",
      langIdSparkSql,
      langIdSql("len", "list_filter", "string_split")),

    // x50 (B73) document quality scoring: length, stopword ratio,
    // punctuation ratio → weighted score.
    Q("x50_quality",
      qualitySparkSql("regexp_replace(text, '[a-zA-Z0-9 ]', '')"),
      qualitySql("len", "list_filter", "string_split",
        "regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')")),

    // x51 (B70,B73) token counting: whitespace tokens + a BPE-ish regex
    // tokenizer (word pieces and single punctuation marks).
    Q("x51_tokens",
      """SELECT doc_id,
        |       CAST(size(array_remove(split(text, ' '), '')) AS INT) AS ws_toks,
        |       CAST(size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)) AS INT) AS re_toks
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS ws_toks,
        |       CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS re_toks
        |FROM documents ORDER BY doc_id""".stripMargin),

    // x52 (B71) bag-of-words fingerprint dedup: md5 over the sorted distinct
    // token set catches word-order-shuffled near-duplicates that exact text
    // grouping (q46) misses. One scan + one hash shuffle on the fingerprint.
    Q("x52_fingerprint",
      """WITH f AS (SELECT doc_id,
        |             md5(CAST(array_join(array_sort(array_distinct(
        |               array_remove(split(LOWER(text), ' '), ''))), ' ')
        |               AS BINARY)) AS fp
        |           FROM documents)
        |SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM f GROUP BY fp HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin,
      """WITH f AS (SELECT doc_id,
        |             md5(array_to_string(list_sort(list_distinct(
        |               list_filter(string_split(LOWER(text), ' '), t -> t <> ''))), ' ')) AS fp
        |           FROM documents)
        |SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keeper
        |FROM f GROUP BY fp HAVING COUNT(*) > 1 ORDER BY keeper""".stripMargin),

    // x53 (B71) exact-dedup cardinality stats over normalized text —
    // the count-distinct-of-hash pattern that scales to 100 TB (the hash
    // shuffles instead of the full document payload).
    Q("x53_dedup_stats",
      """SELECT COUNT(*) AS total_docs,
        |       COUNT(DISTINCT md5(CAST(regexp_replace(TRIM(LOWER(text)), ' +', ' ')
        |         AS BINARY))) AS distinct_norm,
        |       COUNT(DISTINCT text) AS distinct_raw
        |FROM documents""".stripMargin,
      """SELECT COUNT(*) AS total_docs,
        |       COUNT(DISTINCT md5(regexp_replace(TRIM(LOWER(text)), ' +', ' ', 'g')))
        |         AS distinct_norm,
        |       COUNT(DISTINCT text) AS distinct_raw
        |FROM documents""".stripMargin),

    // x54 (B71) n-gram Jaccard near-dup pairs, lang-blocked. j1 = unigram
    // (bag) Jaccard, j3 = word-trigram Jaccard; threshold on j1 catches
    // word-shuffled duplicates. Blocking bounds the pair space; the
    // unblocked scale path is MinHash-LSH in [[Dedup]].
    // Spark side is the *distributed* set-similarity join: explode tokens,
    // equi-join on (lang, token), count co-occurrences, and derive Jaccard
    // as c/(na+nb-c). No pairwise array intersections — the shuffle key is
    // the token, partial aggregation runs map-side, and the pair space never
    // materializes beyond co-occurring pairs. The DuckDB oracle keeps the
    // direct pairwise formulation; both compute identical values.
    Q("x54_ngram_jaccard",
      """WITH d AS (SELECT doc_id, lang,
        |             array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, lang, array_distinct(toks) AS w1,
        |        CASE WHEN size(toks) >= 3 THEN
        |          array_distinct(word_ngrams(toks, 3))
        |        ELSE CAST(array() AS ARRAY<STRING>) END AS w3
        |      FROM d),
        |n AS (SELECT doc_id, lang, w1, w3, size(w1) AS n1, size(w3) AS n3 FROM s),
        |t1 AS (SELECT lang, doc_id, n1, tok FROM n LATERAL VIEW explode(w1) AS tok),
        |c1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |              a.n1 AS na, b.n1 AS nb, COUNT(*) AS c
        |       FROM t1 a JOIN t1 b
        |         ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY a.doc_id, b.doc_id, a.n1, b.n1),
        |p AS (SELECT doc_a, doc_b,
        |             CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) AS j1
        |      FROM c1
        |      WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.8),
        |t3 AS (SELECT lang, doc_id, n3, tok FROM n LATERAL VIEW explode(w3) AS tok),
        |c3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |              a.n3 AS n3a, b.n3 AS n3b, COUNT(*) AS c3
        |       FROM t3 a JOIN t3 b
        |         ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY a.doc_id, b.doc_id, a.n3, b.n3)
        |SELECT p.doc_a, p.doc_b,
        |  CAST(CAST(FLOOR(p.j1 * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j1,
        |  CAST(CAST(FLOOR((CASE WHEN sa.n3 + sb.n3 - COALESCE(c3.c3, 0) > 0 THEN
        |         CAST(COALESCE(c3.c3, 0) AS DOUBLE)
        |         / CAST(sa.n3 + sb.n3 - COALESCE(c3.c3, 0) AS DOUBLE)
        |       ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j3
        |FROM p
        |JOIN n sa ON sa.doc_id = p.doc_a
        |JOIN n sb ON sb.doc_id = p.doc_b
        |LEFT JOIN c3 ON c3.doc_a = p.doc_a AND c3.doc_b = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
      """WITH d AS (SELECT doc_id, lang,
        |             list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, lang, list_distinct(toks) AS w1,
        |        CASE WHEN len(toks) >= 3 THEN
        |          list_distinct([array_to_string(toks[i:i+2], ' ')
        |                         for i in range(1, len(toks)-1)])
        |        ELSE [] END AS w3
        |      FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(CAST(FLOOR(CAST(len(list_intersect(a.w1, b.w1)) AS DOUBLE)
        |       / CAST(len(list_distinct(a.w1 || b.w1)) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j1,
        |  CAST(CAST(FLOOR((CASE WHEN len(list_distinct(a.w3 || b.w3)) > 0 THEN
        |         CAST(len(list_intersect(a.w3, b.w3)) AS DOUBLE)
        |         / CAST(len(list_distinct(a.w3 || b.w3)) AS DOUBLE)
        |       ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS j3
        |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.w1, b.w1)) AS DOUBLE)
        |      / CAST(len(list_distinct(a.w1 || b.w1)) AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin),

    // x55 (B68,B72) brute-force cosine top-k ANN baseline: 10 query vectors
    // joined against the corpus. The tiny query side broadcasts (one scan of
    // the corpus, no shuffle of the big side) — exactly the 100 TB plan; the
    // sub-linear path is LSH bucketing in [[Similarity]].
    Q("x55_ann_topk",
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |         AGGREGATE(ZIP_WITH(q.embedding, n.embedding,
        |            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE), (a, v) -> a + v)
        |         / (SQRT(AGGREGATE(q.embedding, CAST(0.0 AS DOUBLE),
        |              (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |          * SQRT(AGGREGATE(n.embedding, CAST(0.0 AS DOUBLE),
        |              (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cosim
        |  FROM embeddings n JOIN q ON q.vec_id <> n.vec_id)
        |SELECT qid, nid, CAST(CAST(ROUND(cosim, 4) AS DECIMAL(18,4)) AS DOUBLE) AS cosim, rn FROM (
        |  SELECT qid, nid, cosim,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY ROUND(cosim, 6) DESC, nid) AS rn
        |  FROM s) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |         list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |            s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |         / (SQRT(list_sum(list_transform(q.embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |          * SQRT(list_sum(list_transform(n.embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosim
        |  FROM embeddings n JOIN q ON q.vec_id <> n.vec_id)
        |SELECT qid, nid, CAST(CAST(ROUND(cosim, 4) AS DECIMAL(18,4)) AS DOUBLE) AS cosim, rn FROM (
        |  SELECT qid, nid, cosim,
        |         ROW_NUMBER() OVER (PARTITION BY qid
        |                            ORDER BY ROUND(cosim, 6) DESC, nid) AS rn
        |  FROM s) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin),

    // x64 (B73) document fingerprinting via rolling-hash winnowing
    // (Schleimer et al., SIGMOD'03): polynomial token hashes → k-gram
    // (k=3) rolling hashes → the minimum of each w=4 window, distinct =
    // the document's fingerprint set. All arithmetic is modular (1e9+7)
    // so both engines compute identical values (DuckDB checks BIGINT
    // overflow; the JVM wraps — same trick as the x60 checksum). Token
    // hashing iterates CODEPOINTS in both dialects (Spark ascii/substring
    // by char index, DuckDB unicode(tok[i]) with length() = char count);
    // like x60 this assumes the ASCII corpus, where codepoint == UTF-8
    // byte — a multibyte corpus would need a byte-level twin. One scan
    // + per-doc windows; the fingerprint set is the scale currency: two
    // docs share content iff their winnow sets overlap, and the set is
    // ~|doc|/w elements — the standard sublinear copy-detection sketch.
    // Outputs are scalar summaries (count/min/modular sum) per the
    // no-nested-output-columns convention.
    // r15 Spark side: the whole per-doc derivation (char hash -> rolling
    // k-gram hash -> window-4 minima -> distinct -> count/min/modsum) is
    // a pure function of the doc's own token array, so it runs MAP-ONLY
    // in the codegen'd winnow_fp kernel — the previous formulation paid
    // an interpreted lambda per CHARACTER for the token hash plus two
    // token-stream exchanges (the LEAD/MIN windows and the
    // DISTINCT+GROUP BY). Value parity is pinned in WinnowSpec against
    // the old window formulation; the DuckDB twin keeps the explicit
    // window shape.
    Q("x64_winnow",
      """WITH d AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |w AS (SELECT doc_id, winnow_fp(toks) AS w FROM d)
        |SELECT doc_id, CAST(w.n_fp AS INT) AS n_fp,
        |       CAST(w.min_fp AS BIGINT) AS min_fp,
        |       CAST(w.fp_modsum AS BIGINT) AS fp_modsum
        |FROM w WHERE w IS NOT NULL ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |tp AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, unnest(toks) AS tok FROM d),
        |th AS (SELECT doc_id, pos,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(tok) + 1),
        |             i -> CAST(unicode(tok[i]) AS BIGINT))),
        |           (a, b) -> (a * 31 + b) % 1000000007) AS h
        |       FROM tp),
        |kg AS (SELECT doc_id, pos,
        |         (((h * 1000003 + LEAD(h, 1) OVER (PARTITION BY doc_id ORDER BY pos)) % 1000000007) * 1000003
        |           + LEAD(h, 2) OVER (PARTITION BY doc_id ORDER BY pos)) % 1000000007 AS kh,
        |         LEAD(h, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS h2
        |       FROM th),
        |kgv AS (SELECT doc_id, pos, kh FROM kg WHERE h2 IS NOT NULL),
        |win AS (SELECT doc_id,
        |          MIN(kh) OVER (PARTITION BY doc_id ORDER BY pos
        |                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |          COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
        |                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |        FROM kgv),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM win WHERE wn = 4)
        |SELECT doc_id, CAST(COUNT(wmin) AS INT) AS n_fp,
        |       CAST(MIN(wmin) AS BIGINT) AS min_fp,
        |       CAST(SUM(wmin) % 1000000007 AS BIGINT) AS fp_modsum
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x66 deterministic hash-threshold sampling, stratified by language —
    // the reproducible subsampling a training-data pipeline needs (rand()
    // changes across retries/cluster layouts; a content hash never does).
    // A doc survives iff md5(doc_id:text) is lexicographically below the
    // stratum's hex threshold ('8' = keep 1/2, '4' = 1/4, '2' = 1/8), so
    // the sample is a pure per-row predicate: one scan, no shuffle, no
    // state, identical on any engine with md5 — which is what lets DuckDB
    // re-derive the exact same sample for the oracle.
    Q("x66_sample",
      """SELECT doc_id, lang
        |FROM documents
        |WHERE md5(CAST(concat(CAST(doc_id AS STRING), ':', text) AS BINARY))
        |      < CASE lang WHEN 'en' THEN '8' WHEN 'es' THEN '4' ELSE '2' END
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang
        |FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR) || ':' || text)
        |      < CASE lang WHEN 'en' THEN '8' WHEN 'es' THEN '4' ELSE '2' END
        |ORDER BY doc_id""".stripMargin),

    // x67 end-to-end cleaning pipeline composition (the C4-style recipe:
    // quality gate -> fingerprint dedup keep-first -> corpus stats) — the
    // ops exist individually (x50/x52/x51); this row pins that they
    // compose into one plan: scan -> per-row features -> one hash shuffle
    // on the fingerprint -> keeper semi-join -> final aggregate.
    Q("x67_pipeline",
      """WITH m AS (SELECT doc_id, lang,
        |             size(array_remove(split(LOWER(text), ' '), '')) AS ntoks,
        |             md5(CAST(array_join(array_sort(array_distinct(
        |               array_remove(split(LOWER(text), ' '), ''))), ' ')
        |               AS BINARY)) AS fp
        |           FROM documents),
        |q AS (SELECT * FROM m WHERE ntoks >= 5),
        |d AS (SELECT fp, MIN(doc_id) AS keeper FROM q GROUP BY fp),
        |k AS (SELECT q.lang, q.ntoks FROM q JOIN d ON q.doc_id = d.keeper)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ntoks) AS BIGINT) AS n_tokens
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
      """WITH m AS (SELECT doc_id, lang,
        |             len(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS ntoks,
        |             md5(array_to_string(list_sort(list_distinct(
        |               list_filter(string_split(LOWER(text), ' '), x -> x <> ''))), ' ')) AS fp
        |           FROM documents),
        |q AS (SELECT * FROM m WHERE ntoks >= 5),
        |d AS (SELECT fp, MIN(doc_id) AS keeper FROM q GROUP BY fp),
        |k AS (SELECT q.lang, q.ntoks FROM q JOIN d ON q.doc_id = d.keeper)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(ntoks) AS BIGINT) AS n_tokens
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin),

    // x56 multimodal metadata plumbing: opaque payload as a binary column
    // with typed metadata (byte length + content hash). The decode/transform
    // stubs over real binary batches live in [[Multimodal]].
    Q("x56_mm_meta",
      """SELECT doc_id, CAST(octet_length(CAST(text AS BINARY)) AS INT) AS n_bytes,
        |       md5(CAST(text AS BINARY)) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |       md5(text) AS content_hash
        |FROM documents ORDER BY doc_id""".stripMargin),

    // x68 repetition signals (the Gopher/C4-style quality gates x50 does
    // not cover): duplicate-token fraction, top-unigram fraction, and
    // top-bigram fraction per document. The Spark side computes each top
    // count as the longest run in the SORTED token/bigram array via one
    // aggregate() scan — ZERO shuffles before the declared ORDER BY and
    // O(ntoks) interpreted-lambda calls per doc, where the
    // explode + groupBy(doc_id, tok) formulation paid two
    // token-count-sized exchanges (9.7 s at sf0.1) and the
    // distinct×filter HOF nesting paid O(ndist × ntoks) lambda calls
    // (4.5 s); this form runs ~0.6 s. The DuckDB twin keeps the explode
    // shape, where its vectorized hash agg wins. CASE guards sequence():
    // Spark generates a DESCENDING range when start > stop, so ntoks = 1
    // must not build bigram indexes; single-token docs take
    // top_bi_frac = 0 via COALESCE.
    // r15 Spark side: top_uni/top_bi = max_freq (max multiplicity, the
    // codegen kernel) — identical by definition to the longest equal run
    // of the SORTED array the interpreted aggregate() scans computed,
    // without the two array_sort passes or the per-token lambdas; the
    // bigram array comes from the codegen word_ngrams. Old-vs-new parity
    // pinned in TokenStatsSpec; the DuckDB twin keeps the explode shape.
    Q("x68_repetition",
      """WITH d AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, toks, size(toks) AS ntoks, size(array_distinct(toks)) AS ndist
        |      FROM d WHERE size(toks) > 0),
        |f AS (SELECT doc_id, ntoks, ndist,
        |        max_freq(toks) AS top_uni,
        |        CASE WHEN ntoks >= 2 THEN max_freq(word_ngrams(toks, 2)) END AS top_bi
        |      FROM m)
        |SELECT doc_id, CAST(ntoks AS INT) AS ntoks,
        |  CAST(CAST(FLOOR((1.0 - CAST(ndist AS DOUBLE) / CAST(ntoks AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS dup_frac,
        |  CAST(CAST(FLOOR(CAST(top_uni AS DOUBLE) / CAST(ntoks AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS top_uni_frac,
        |  COALESCE(CAST(CAST(FLOOR(CAST(top_bi AS DOUBLE) / CAST(ntoks - 1 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE), 0.0) AS top_bi_frac
        |FROM f ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, len(toks) AS ntoks, len(list_distinct(toks)) AS ndist
        |      FROM d WHERE len(toks) > 0),
        |u AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |uc AS (SELECT doc_id, MAX(c) AS top_uni FROM (
        |         SELECT doc_id, tok, COUNT(*) AS c FROM u GROUP BY doc_id, tok)
        |       GROUP BY doc_id),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |      FROM d WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, MAX(c) AS top_bi FROM (
        |         SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg)
        |       GROUP BY doc_id)
        |SELECT m.doc_id AS doc_id, CAST(m.ntoks AS INT) AS ntoks,
        |  CAST(CAST(FLOOR((1.0 - CAST(ndist AS DOUBLE) / CAST(m.ntoks AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS dup_frac,
        |  CAST(CAST(FLOOR(CAST(top_uni AS DOUBLE) / CAST(m.ntoks AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS top_uni_frac,
        |  COALESCE(CAST(CAST(FLOOR(CAST(top_bi AS DOUBLE) / CAST(m.ntoks - 1 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE), 0.0) AS top_bi_frac
        |FROM m JOIN uc ON m.doc_id = uc.doc_id LEFT JOIN bc ON m.doc_id = bc.doc_id
        |ORDER BY doc_id""".stripMargin),

    // x69 BM25 retrieval scoring (k1=1.2, b=0.75) against a fixed 3-term
    // query. tf per term is a FILTER-count column (not a SUM across rows),
    // so the three idf·saturation terms add in FIXED order per row — FP
    // determinism across engines and partitionings; the corpus stats
    // (N, avgdl, per-term df) are one tiny aggregate broadcast back. Scale:
    // one scan for stats + one scan for scoring; the top-20 comes from
    // ORDER BY + LIMIT (TakeOrderedAndProject — per-partition heaps, no
    // global sort) and ONLY the 20 survivors enter the rank window, so no
    // single-partition window ever sees the corpus.
    Q("x69_bm25",
      """WITH m AS (SELECT doc_id,
        |             size(array_remove(split(LOWER(text), ' '), '')) AS dl,
        |             size(filter(array_remove(split(LOWER(text), ' '), ''), x -> x = 'spark')) AS tf1,
        |             size(filter(array_remove(split(LOWER(text), ' '), ''), x -> x = 'merge')) AS tf2,
        |             size(filter(array_remove(split(LOWER(text), ' '), ''), x -> x = 'window')) AS tf3
        |           FROM documents),
        |mv AS (SELECT * FROM m WHERE dl > 0),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, AVG(CAST(dl AS DOUBLE)) AS avgdl,
        |        CAST(COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
        |        CAST(COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2,
        |        CAST(COUNT(CASE WHEN tf3 > 0 THEN 1 END) AS DOUBLE) AS df3
        |      FROM mv),
        |s AS (SELECT doc_id,
        |        LN((nd - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      + LN((nd - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      + LN((nd - df3 + 0.5) / (df3 + 0.5) + 1.0) * (tf3 * 2.2 / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |      FROM mv CROSS JOIN n WHERE tf1 + tf2 + tf3 > 0),
        |t20 AS (SELECT doc_id, score FROM s
        |        ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20)
        |SELECT doc_id, CAST(CAST(ROUND(score, 4) AS DECIMAL(18,4)) AS DOUBLE) AS score,
        |       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS INT) AS rn
        |FROM t20 ORDER BY rn""".stripMargin,
      """WITH m AS (SELECT doc_id,
        |             len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS dl,
        |             len(list_filter(string_split(LOWER(text), ' '), t -> t = 'spark')) AS tf1,
        |             len(list_filter(string_split(LOWER(text), ' '), t -> t = 'merge')) AS tf2,
        |             len(list_filter(string_split(LOWER(text), ' '), t -> t = 'window')) AS tf3
        |           FROM documents),
        |mv AS (SELECT * FROM m WHERE dl > 0),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd, AVG(CAST(dl AS DOUBLE)) AS avgdl,
        |        CAST(COUNT(CASE WHEN tf1 > 0 THEN 1 END) AS DOUBLE) AS df1,
        |        CAST(COUNT(CASE WHEN tf2 > 0 THEN 1 END) AS DOUBLE) AS df2,
        |        CAST(COUNT(CASE WHEN tf3 > 0 THEN 1 END) AS DOUBLE) AS df3
        |      FROM mv),
        |s AS (SELECT doc_id,
        |        LN((nd - df1 + 0.5) / (df1 + 0.5) + 1.0) * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      + LN((nd - df2 + 0.5) / (df2 + 0.5) + 1.0) * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        |      + LN((nd - df3 + 0.5) / (df3 + 0.5) + 1.0) * (tf3 * 2.2 / (tf3 + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
        |      FROM mv CROSS JOIN n WHERE tf1 + tf2 + tf3 > 0),
        |t20 AS (SELECT doc_id, score FROM s
        |        ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20)
        |SELECT doc_id, CAST(CAST(ROUND(score, 4) AS DECIMAL(18,4)) AS DOUBLE) AS score,
        |       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS INT) AS rn
        |FROM t20 ORDER BY rn""".stripMargin),

    // x70 deterministic global shuffle + train/val/test split — the two
    // epoch-prep primitives a training pipeline runs last. Order and split
    // both derive from md5 of a seed + the doc key (content-independent so
    // re-runs and engine swaps agree; x66's content hash is the sampling
    // variant). The shuffle POSITION is the classic two-pass distributed
    // sequence: rows rank locally within (split, hash-prefix bucket), a
    // 256-bucket count aggregate turns into per-bucket offsets with one
    // tiny window, and pos = offset + local rank — equal to the global
    // (hx, doc_id) rank because the bucket is a prefix of the sort key.
    // No window ever sees more than one bucket of rows, so the sequence
    // assignment stays parallel at any corpus size (a bare
    // ROW_NUMBER() OVER (PARTITION BY split) is a 3-reducer plan).
    Q("x70_shuffle_split",
      """WITH h AS (SELECT doc_id,
        |             md5(CAST(concat('42:', CAST(doc_id AS STRING)) AS BINARY)) AS hx
        |           FROM documents),
        |t AS (SELECT doc_id, hx,
        |        CASE WHEN hx < 'c' THEN 'train' WHEN hx < 'e' THEN 'val' ELSE 'test' END AS split,
        |        substring(hx, 1, 2) AS bkt
        |      FROM h),
        |loc AS (SELECT doc_id, hx, split, bkt,
        |          ROW_NUMBER() OVER (PARTITION BY split, bkt ORDER BY hx, doc_id) AS lpos
        |        FROM t),
        |cnt AS (SELECT split, bkt, COUNT(*) AS c FROM t GROUP BY split, bkt),
        |off AS (SELECT split, bkt,
        |          COALESCE(SUM(c) OVER (PARTITION BY split ORDER BY bkt
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
        |        FROM cnt)
        |SELECT loc.doc_id AS doc_id, loc.hx AS hx, loc.split AS split,
        |  CAST(off.o + loc.lpos AS BIGINT) AS pos
        |FROM loc JOIN off ON loc.split = off.split AND loc.bkt = off.bkt
        |ORDER BY split, pos""".stripMargin,
      """WITH h AS (SELECT doc_id,
        |             md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
        |           FROM documents),
        |t AS (SELECT doc_id, hx,
        |        CASE WHEN hx < 'c' THEN 'train' WHEN hx < 'e' THEN 'val' ELSE 'test' END AS split,
        |        substring(hx, 1, 2) AS bkt
        |      FROM h),
        |loc AS (SELECT doc_id, hx, split, bkt,
        |          ROW_NUMBER() OVER (PARTITION BY split, bkt ORDER BY hx, doc_id) AS lpos
        |        FROM t),
        |cnt AS (SELECT split, bkt, COUNT(*) AS c FROM t GROUP BY split, bkt),
        |off AS (SELECT split, bkt,
        |          COALESCE(SUM(c) OVER (PARTITION BY split ORDER BY bkt
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
        |        FROM cnt)
        |SELECT loc.doc_id AS doc_id, loc.hx AS hx, loc.split AS split,
        |  CAST(off.o + loc.lpos AS BIGINT) AS pos
        |FROM loc JOIN off ON loc.split = off.split AND loc.bkt = off.bkt
        |ORDER BY split, pos""".stripMargin),

    // x71 sliding-window token chunking (size 50, stride 40 — the 10-token
    // overlap is the context-continuity convention): each doc explodes to
    // ceil(ntoks/stride) chunk rows, so output size is linear in corpus
    // tokens and the explode is map-side only (no shuffle until the final
    // declared ORDER BY). Chunk text re-joins the slice — the downstream
    // tokenizer sees exactly the window.
    Q("x71_chunk",
      """WITH d AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, s, toks, size(toks) AS ntoks FROM (
        |        SELECT doc_id, toks FROM d WHERE size(toks) > 0)
        |      LATERAL VIEW explode(sequence(0, size(toks) - 1, 40)) AS s)
        |SELECT doc_id, CAST(s / 40 AS INT) AS chunk_id,
        |  CAST(LEAST(s + 50, ntoks) - s AS INT) AS n_ctoks,
        |  array_join(slice(toks, s + 1, LEAST(50, ntoks - s)), ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      """WITH d AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, len(toks), 40)) AS s, toks, len(toks) AS ntoks
        |      FROM d WHERE len(toks) > 0)
        |SELECT doc_id, CAST(s / 40 AS INT) AS chunk_id,
        |  CAST(LEAST(s + 50, ntoks) - s AS INT) AS n_ctoks,
        |  array_to_string(list_slice(toks, s + 1, LEAST(s + 50, ntoks)), ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // x73 int8 symmetric quantization of the embedding column — the
    // storage/serving compression step of an embedding pipeline. Per-vector
    // scale = max |x|; q_i = floor(x_i * 127 / scale + 0.5) (floor-based
    // half-up, identical in both dialects where ROUND's half-even vs
    // half-away conventions could differ). All math in DOUBLE with the
    // same operation order, so the IEEE results are bit-identical and the
    // derived l1 / saturation-count / max reconstruction error
    // hash-compare. Map-only: one scan, no shuffle before the declared
    // ORDER BY.
    Q("x73_quantize",
      """WITH v AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |m AS (SELECT vec_id, e, array_max(transform(e, x -> abs(x))) AS s FROM v),
        |q AS (SELECT vec_id, s, e,
        |        transform(e, x -> CAST(FLOOR(x * 127.0 / s + 0.5) AS BIGINT)) AS qv
        |      FROM m WHERE s > 0)
        |SELECT vec_id,
        |  CAST(CAST(ROUND(s, 6) AS DECIMAL(18,6)) AS DOUBLE) AS scale,
        |  CAST(aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + abs(x)) AS BIGINT) AS l1,
        |  CAST(size(filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat,
        |  CAST(CAST(ROUND(aggregate(zip_with(qv, e,
        |         (q, x) -> abs(CAST(q AS DOUBLE) * s / 127.0 - x)),
        |       CAST(0 AS DOUBLE), (a, x) -> GREATEST(a, x)), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS s FROM v),
        |q AS (SELECT vec_id, s, e,
        |        list_transform(e, x -> CAST(FLOOR(x * 127.0 / s + 0.5) AS BIGINT)) AS qv
        |      FROM m WHERE s > 0)
        |SELECT vec_id,
        |  CAST(CAST(ROUND(s, 6) AS DECIMAL(18,6)) AS DOUBLE) AS scale,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_sat,
        |  CAST(CAST(ROUND(list_max(list_transform(list_zip(qv, e),
        |         p -> abs(CAST(p[1] AS DOUBLE) * s / 127.0 - CAST(p[2] AS DOUBLE)))), 6)
        |    AS DECIMAL(18,6)) AS DOUBLE) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin),

    // x74 PII redaction — the scrub step of a web-corpus pipeline. The
    // synthetic corpus is digit-free word salad, so (x63's planted-pair
    // pattern) both dialects first build the SAME planted view injecting a
    // deterministic email + numeric id into every 7th doc; the redaction
    // counts and the md5 of the scrubbed text are then non-vacuous and
    // hash-comparable. Patterns are backslash-free (q55's shared-oracle
    // constraint) and use only syntax Java regex and RE2 read identically.
    // DuckDB's regexp_replace is first-match-only without the 'g' flag —
    // the one dialect split.
    Q("x74_redact",
      """WITH pd AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',
        |           CAST(doc_id AS STRING), '@mail.example.com ref 123456',
        |           CAST(doc_id AS STRING))
        |         ELSE text END AS text
        |  FROM documents),
        |r AS (SELECT doc_id, text,
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>'),
        |      '[0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>') AS red
        |  FROM pd)
        |SELECT doc_id,
        |  CAST(size(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', 0)) AS INT) AS n_email,
        |  CAST(size(regexp_extract_all(text,
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', 0)) AS INT) AS n_num,
        |  md5(red) AS red_md5, CAST(LENGTH(red) AS INT) AS red_len
        |FROM r ORDER BY doc_id""".stripMargin,
      """WITH pd AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN concat(text, ' contact user',
        |           CAST(doc_id AS VARCHAR), '@mail.example.com ref 123456',
        |           CAST(doc_id AS VARCHAR))
        |         ELSE text END AS text
        |  FROM documents),
        |r AS (SELECT doc_id, text,
        |    regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      '[0-9][0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g') AS red
        |  FROM pd)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', 0)) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', 0)) AS INT) AS n_num,
        |  md5(red) AS red_md5, CAST(LENGTH(red) AS INT) AS red_len
        |FROM r ORDER BY doc_id""".stripMargin),

    // x76 benchmark decontamination — flag training docs sharing any word
    // 3-gram with a held-out benchmark subset (doc_id % 97 = 0 plays the
    // benchmark role). The canonical n-gram-overlap decontamination shape:
    // explode distinct grams on both sides (map-side, linear in corpus
    // tokens), one equi-join on the gram, aggregate per training doc. The
    // benchmark side of the join is tiny by construction — at real scale
    // it broadcasts, and the explode never shuffles before the join.
    Q("x76_decontam",
      """WITH toks AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS tk
        |              FROM documents),
        |g AS (SELECT doc_id, gram FROM (
        |        SELECT doc_id, explode(array_distinct(word_ngrams(tk, 3))) AS gram
        |        FROM toks WHERE size(tk) >= 3)),
        |bg AS (SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT tg.doc_id,
        |  CAST(COUNT(DISTINCT tg.gram) AS BIGINT) AS n_shared,
        |  CAST(MIN(bg.bench_id) AS BIGINT) AS first_bench
        |FROM tg JOIN bg ON tg.gram = bg.gram
        |GROUP BY tg.doc_id ORDER BY tg.doc_id""".stripMargin,
      """WITH toks AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS tk
        |              FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(tk) - 1),
        |        i -> array_to_string(list_slice(tk, i, i + 2), ' ')))) AS gram
        |      FROM toks WHERE len(tk) >= 3),
        |bg AS (SELECT gram, doc_id AS bench_id FROM g WHERE doc_id % 97 = 0),
        |tg AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT tg.doc_id,
        |  CAST(COUNT(DISTINCT tg.gram) AS BIGINT) AS n_shared,
        |  CAST(MIN(bg.bench_id) AS BIGINT) AS first_bench
        |FROM tg JOIN bg ON tg.gram = bg.gram
        |GROUP BY tg.doc_id ORDER BY tg.doc_id""".stripMargin),

    // x78 unigram-LM log-prob scoring — the perplexity-filter proxy: score
    // each doc by the mean log corpus frequency of its tokens (low = rare/
    // surprising text, the filtering signal). Vocabulary = one groupBy on
    // token (the classic sparse-feature shuffle; the vocab aggregate is
    // broadcast-sized at any corpus scale with a Zipfian vocabulary). The
    // per-token log terms are ROUNDed then summed as DECIMAL so the
    // aggregation is exact and order-independent — the established suite
    // pattern for cross-engine FP aggregation (a double SUM would be
    // shuffle-order-dependent in the last ulp).
    // Spark side: the vocabulary `v` materializes once and the token total
    // n is its SUM (≡ COUNT(*) of the stream, exact), so the corpus explode
    // runs once for `v` and once for the scoring join.
    Q("x78_unigram_lm",
      """WITH t AS (SELECT doc_id,
        |             explode(array_remove(split(LOWER(text), ' '), '')) AS tok
        |           FROM documents),
        |v AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM t GROUP BY tok),
        |n AS (SELECT CAST(SUM(c) AS DOUBLE) AS nn FROM v),
        |s AS (SELECT t.doc_id, COUNT(*) AS ntoks,
        |        SUM(CAST(ROUND(LN(v.c / n.nn), 5) AS DECIMAL(18,5))) AS slp
        |      FROM t JOIN v ON t.tok = v.tok CROSS JOIN n
        |      GROUP BY t.doc_id)
        |SELECT doc_id, CAST(ntoks AS BIGINT) AS ntoks,
        |  CAST(CAST(FLOOR(CAST(slp AS DOUBLE) / ntoks * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS logp
        |FROM s ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id,
        |             unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS tok
        |           FROM documents),
        |v AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM t GROUP BY tok),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM t),
        |s AS (SELECT t.doc_id, COUNT(*) AS ntoks,
        |        SUM(CAST(ROUND(LN(v.c / n.nn), 5) AS DECIMAL(18,5))) AS slp
        |      FROM t JOIN v ON t.tok = v.tok CROSS JOIN n
        |      GROUP BY t.doc_id)
        |SELECT doc_id, CAST(ntoks AS BIGINT) AS ntoks,
        |  CAST(CAST(FLOOR(CAST(slp AS DOUBLE) / ntoks * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS logp
        |FROM s ORDER BY doc_id""".stripMargin,
      materialize = Seq("v")),

    // x79 TF-IDF keyword extraction — top-3 terms per doc (tagging /
    // retrieval-feature step). tf and df are two hash aggregates shuffled
    // on (doc, token) / token; the per-doc top-3 runs through the rank
    // window WindowGroupLimit prunes. Tie-break on the token makes the
    // winners unique, so the rows hash-compare.
    // Spark side: the (doc, token, tf) frame materializes once; df and the
    // doc count derive from it (one tf row per (doc, token), so COUNT(*)
    // per token ≡ COUNT(DISTINCT doc_id) over the stream): one corpus
    // explode instead of three.
    Q("x79_tfidf",
      """WITH t AS (SELECT doc_id,
        |             explode(array_remove(split(LOWER(text), ' '), '')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        |       FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df
        |       FROM tf GROUP BY tok),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
        |s AS (SELECT tf.doc_id, tf.tok,
        |        tf.tf * LN((n.nd + 1.0) / (df.df + 1.0)) AS score
        |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
        |w AS (SELECT doc_id, tok, score,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |                           ORDER BY ROUND(score, 6) DESC, tok) AS rn
        |      FROM s)
        |SELECT doc_id, CAST(rn AS INT) AS rn, tok,
        |  CAST(CAST(ROUND(score, 4) AS DECIMAL(18,4)) AS DOUBLE) AS score
        |FROM w WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
      """WITH t AS (SELECT doc_id,
        |             unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS tok
        |           FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        |       FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        |       FROM t GROUP BY tok),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM t),
        |s AS (SELECT tf.doc_id, tf.tok,
        |        tf.tf * LN((n.nd + 1.0) / (df.df + 1.0)) AS score
        |      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
        |w AS (SELECT doc_id, tok, score,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |                           ORDER BY ROUND(score, 6) DESC, tok) AS rn
        |      FROM s)
        |SELECT doc_id, CAST(rn AS INT) AS rn, tok,
        |  CAST(CAST(ROUND(score, 4) AS DECIMAL(18,4)) AS DOUBLE) AS score
        |FROM w WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
      materialize = Seq("tf")),

    // x84 (B54/B71) edit-distance verify for fuzzy dedup: candidate pairs
    // come from the x52 bag-of-words fingerprint (word-SET-equal docs —
    // the same blocking key the sketch recall floors use), then each pair
    // is priced with ONE levenshtein on the raw texts. Set-equal docs can
    // still differ in word order and multiplicity, so lev > 0 rows carry
    // real signal (reorder distance) while lev = 0 pins exact duplicates.
    // Both engines implement the identical classic DP, and the pair set is
    // tiny after blocking — the quadratic DP runs per PAIR, never per
    // corpus. At 100 TB the fingerprint equi-join shuffles on fp only.
    Q("x84_edit_distance",
      """WITH f AS (SELECT doc_id, text,
        |    md5(array_join(sort_array(array_distinct(
        |      array_remove(split(LOWER(text), ' '), ''))), ' ')) AS fp
        |  FROM documents
        |  WHERE size(array_remove(split(LOWER(text), ' '), '')) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS lev,
        |  CAST((length(a.text) = length(b.text)) AS INT) AS same_len
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
      """WITH f AS (SELECT doc_id, text,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(LOWER(text), ' '), t -> t <> ''))), ' ')) AS fp
        |  FROM documents
        |  WHERE len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS lev,
        |  CAST((length(a.text) = length(b.text)) AS INT) AS same_len
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),

    // x85 (B70/B73) collocation mining — top-20 within-doc word bigrams by
    // LIFT = p(xy) / (p(x)·p(y)) = c2·N² / (M·c1x·c1y), the rational PMI
    // core: every factor is an exact integer count, so the one double
    // expression evaluates bit-identically on both engines (log-PMI would
    // hinge on each engine's ln rounding). Ranking reuses x79's
    // ROUND(·,6)+tie-break idiom, but the global top-20 is selected with
    // ORDER BY + LIMIT (Spark plans a distributed TakeOrderedAndProject —
    // per-partition heaps, no single-partition window over the candidate
    // set, which at a real vocabulary is millions of surviving bigrams);
    // the rn window then runs over the 20 survivors only. Support floor
    // c2 ≥ 5 bounds the ranked set. Bigrams never cross doc boundaries
    // (per-doc word_ngrams kernel / per-doc comprehension). At 100 TB: two
    // count shuffles (bigram, token) + a broadcast of the two scalar
    // totals. Spark side: the two count vocabularies c1 and cb
    // materialize once each, and the totals are their SUMs (≡ the stream
    // COUNT(*)s, exact BIGINT).
    Q("x85_collocations",
      """WITH d AS (SELECT array_remove(split(LOWER(text), ' '), '') AS toks
        |      FROM documents),
        |c1 AS (SELECT tok, COUNT(*) AS c1
        |       FROM (SELECT explode(toks) AS tok FROM d) GROUP BY tok),
        |cb AS (SELECT substring_index(g, ' ', 1) AS w1,
        |              substring_index(g, ' ', -1) AS w2, COUNT(*) AS c2
        |       FROM (SELECT explode(word_ngrams(toks, 2)) AS g FROM d)
        |       GROUP BY w1, w2),
        |tot AS (SELECT (SELECT SUM(c1) FROM c1) AS n,
        |               (SELECT SUM(c2) FROM cb) AS m),
        |s AS (SELECT concat_ws(' ', cb.w1, cb.w2) AS bigram, cb.c2,
        |        (CAST(cb.c2 AS DOUBLE) * CAST(tot.n AS DOUBLE)
        |           * CAST(tot.n AS DOUBLE))
        |        / (CAST(tot.m AS DOUBLE) * CAST(a.c1 AS DOUBLE)
        |           * CAST(b.c1 AS DOUBLE)) AS lift
        |      FROM cb JOIN c1 a ON cb.w1 = a.tok JOIN c1 b ON cb.w2 = b.tok
        |      CROSS JOIN tot WHERE cb.c2 >= 5),
        |t20 AS (SELECT bigram, c2, lift FROM s
        |        ORDER BY ROUND(lift, 6) DESC, bigram LIMIT 20),
        |w AS (SELECT bigram, c2, lift,
        |        ROW_NUMBER() OVER (ORDER BY ROUND(lift, 6) DESC, bigram) AS rn
        |      FROM t20)
        |SELECT CAST(rn AS INT) AS rn, bigram, CAST(c2 AS BIGINT) AS c2,
        |  CAST(CAST(FLOOR(lift * 10000.0 + 0.5) / 10000.0
        |       AS DECIMAL(18,4)) AS DOUBLE) AS lift
        |FROM w ORDER BY rn""".stripMargin,
      """WITH d AS (SELECT doc_id,
        |        list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |      FROM documents),
        |tp AS (SELECT doc_id, unnest(toks) AS tok FROM d),
        |b2 AS (SELECT unnest([toks[i] for i in range(1, len(toks))]) AS w1,
        |              unnest([toks[i+1] for i in range(1, len(toks))]) AS w2
        |       FROM d),
        |cb AS (SELECT w1, w2, COUNT(*) AS c2 FROM b2 GROUP BY w1, w2),
        |c1 AS (SELECT tok, COUNT(*) AS c1 FROM tp GROUP BY tok),
        |tot AS (SELECT (SELECT COUNT(*) FROM tp) AS n,
        |               (SELECT COUNT(*) FROM b2) AS m),
        |s AS (SELECT cb.w1 || ' ' || cb.w2 AS bigram, cb.c2,
        |        (CAST(cb.c2 AS DOUBLE) * CAST(tot.n AS DOUBLE)
        |           * CAST(tot.n AS DOUBLE))
        |        / (CAST(tot.m AS DOUBLE) * CAST(a.c1 AS DOUBLE)
        |           * CAST(b.c1 AS DOUBLE)) AS lift
        |      FROM cb JOIN c1 a ON cb.w1 = a.tok JOIN c1 b ON cb.w2 = b.tok
        |      CROSS JOIN tot WHERE cb.c2 >= 5),
        |t20 AS (SELECT bigram, c2, lift FROM s
        |        ORDER BY ROUND(lift, 6) DESC, bigram LIMIT 20),
        |w AS (SELECT bigram, c2, lift,
        |        ROW_NUMBER() OVER (ORDER BY ROUND(lift, 6) DESC, bigram) AS rn
        |      FROM t20)
        |SELECT CAST(rn AS INT) AS rn, bigram, CAST(c2 AS BIGINT) AS c2,
        |  CAST(CAST(FLOOR(lift * 10000.0 + 0.5) / 10000.0
        |       AS DECIMAL(18,4)) AS DOUBLE) AS lift
        |FROM w ORDER BY rn""".stripMargin,
      materialize = Seq("c1", "cb")),

    // x86 (B54/B73) URL parsing + domain blocklist — the web-corpus
    // curation step that drops blocklisted domains before the per-domain
    // rollup. URLs are synthesized deterministically from (source, lang,
    // doc_id); the Spark side parses them with the codegen'd parse_url
    // (HOST / PATH / per-key QUERY), the DuckDB twin with anchored
    // regexes over the same strings. At 100 TB: map-only parse + one
    // hash aggregation on domain — no shuffle before the blocklist
    // filter prunes.
    Q("x86_url_domains",
      """WITH u AS (SELECT doc_id, lang,
        |    concat('https://', source, '.example.org/', lang, '/',
        |           CAST(doc_id AS STRING), '?ref=', source) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, parse_url(url, 'HOST') AS domain,
        |        parse_url(url, 'PATH') AS path,
        |        parse_url(url, 'QUERY', 'ref') AS ref
        |      FROM u)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(count_if(path LIKE '/en/%') AS BIGINT) AS n_en,
        |  MIN(ref) AS ref
        |FROM p
        |WHERE domain NOT IN ('src3.example.org', 'src7.example.org',
        |                     'src13.example.org')
        |GROUP BY domain ORDER BY domain""".stripMargin,
      """WITH u AS (SELECT doc_id, lang,
        |    concat('https://', source, '.example.org/', lang, '/',
        |           CAST(doc_id AS STRING), '?ref=', source) AS url
        |  FROM documents),
        |p AS (SELECT doc_id,
        |        regexp_extract(url, 'https?://([^/?#]+)', 1) AS domain,
        |        regexp_extract(url, 'https?://[^/?#]+([^?#]*)', 1) AS path,
        |        regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
        |      FROM u)
        |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(count_if(path LIKE '/en/%') AS BIGINT) AS n_en,
        |  MIN(ref) AS ref
        |FROM p
        |WHERE domain NOT IN ('src3.example.org', 'src7.example.org',
        |                     'src13.example.org')
        |GROUP BY domain ORDER BY domain""".stripMargin),

    // x87 (B73) token-distribution entropy — the diversity/boilerplate
    // quality signal (low-entropy docs are repetitive templates). Exact
    // per-(doc, token) counts; the Shannon sum uses x78's determinism
    // idiom — each c·ln(c) term is ROUNDed to 5 decimals and summed as
    // DECIMAL, so the aggregate is shuffle-order- and engine-independent;
    // ln 2 enters as a shared literal so no engine evaluates LN(2.0).
    // H_bits = (ln n − Σ c·ln c / n) / ln 2. Two keyed hash aggregations,
    // no window, no join.
    Q("x87_entropy",
      """WITH t AS (SELECT doc_id,
        |             explode(array_remove(split(LOWER(text), ' '), '')) AS tok
        |           FROM documents),
        |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
        |      FROM t GROUP BY doc_id, tok),
        |s AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n,
        |        COUNT(*) AS nd,
        |        SUM(CAST(ROUND(c * LN(c), 5) AS DECIMAL(18,5))) AS sclc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS ntoks, CAST(nd AS BIGINT) AS n_distinct,
        |  CAST(CAST(FLOOR(
        |    (CAST(CAST(ROUND(LN(n), 5) AS DECIMAL(18,5)) AS DOUBLE)
        |       - CAST(sclc AS DOUBLE) / n) / 0.6931471805599453
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS h_bits
        |FROM s ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id,
        |             unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS tok
        |           FROM documents),
        |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
        |      FROM t GROUP BY doc_id, tok),
        |s AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n,
        |        COUNT(*) AS nd,
        |        SUM(CAST(ROUND(c * LN(c), 5) AS DECIMAL(18,5))) AS sclc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS BIGINT) AS ntoks, CAST(nd AS BIGINT) AS n_distinct,
        |  CAST(CAST(FLOOR(
        |    (CAST(CAST(ROUND(LN(n), 5) AS DECIMAL(18,5)) AS DOUBLE)
        |       - CAST(sclc AS DOUBLE) / n) / 0.6931471805599453
        |    * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS h_bits
        |FROM s ORDER BY doc_id""".stripMargin),

    // x88 (B34/B73) per-domain cap sampling — keep at most K docs per
    // source, selected by a deterministic md5 order (the per-domain cap
    // step of web-corpus curation; hash order ≈ uniform sample but
    // reproducible across engines and runs — doc_id in the hash input
    // makes ties impossible). The window is keyed on source, so at
    // 100 TB this is one hash shuffle on the cap key and
    // WindowGroupLimit prunes below the sort; no global window.
    Q.same("x88_domain_cap",
      """WITH w AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(concat(CAST(doc_id AS STRING), text)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, CAST(rn AS INT) AS rn
        |FROM w WHERE rn <= 15
        |ORDER BY source, rn""".stripMargin),

    // x89 (B71/B73) paragraph-level exact dedup (boilerplate removal, the
    // CCNet/RefinedWeb line-dedup step): split each doc into fixed 3-token
    // "paragraphs", keep only the globally FIRST occurrence of each
    // distinct paragraph (order = (doc_id, position)), and reassemble the
    // cleaned text per doc. The corpus vocabulary is ~31 words, so 3-token
    // chunks genuinely collide across docs — the removal is non-vacuous.
    // At 100 TB: one hash shuffle keyed on the paragraph text for the
    // keep-first window, one shuffle keyed on doc_id for reassembly; no
    // global ordering, no driver state. WindowGroupLimit prunes the
    // rn-per-paragraph sort below the shuffle.
    Q("x89_para_dedup",
      """WITH d AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, s, toks FROM (
        |        SELECT doc_id, toks FROM d WHERE size(toks) > 0)
        |      LATERAL VIEW explode(sequence(0, size(toks) - 1, 3)) AS s),
        |p AS (SELECT doc_id, CAST(s / 3 AS INT) AS pidx,
        |        array_join(slice(toks, s + 1, LEAST(3, size(toks) - s)), ' ') AS para
        |      FROM c),
        |r AS (SELECT doc_id, pidx, para,
        |        ROW_NUMBER() OVER (PARTITION BY para
        |                           ORDER BY doc_id, pidx) AS rn
        |      FROM p)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_paras,
        |  CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS INT) AS n_dropped,
        |  CONCAT_WS(' ', TRANSFORM(ARRAY_SORT(
        |    FILTER(COLLECT_LIST(STRUCT(pidx, para, rn)), s -> s.rn = 1)),
        |    s -> s.para)) AS cleaned
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, unnest(range(0, len(toks), 3)) AS s, toks
        |      FROM d WHERE len(toks) > 0),
        |p AS (SELECT doc_id, CAST(s / 3 AS INT) AS pidx,
        |        array_to_string(list_slice(toks, s + 1, LEAST(s + 3, len(toks))), ' ') AS para
        |      FROM c),
        |r AS (SELECT doc_id, pidx, para,
        |        ROW_NUMBER() OVER (PARTITION BY para
        |                           ORDER BY doc_id, pidx) AS rn
        |      FROM p)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_paras,
        |  CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS INT) AS n_dropped,
        |  COALESCE(string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE rn = 1), '') AS cleaned
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x92 (B71/B73) exact substring-window dedup (the fixed-width variant of
    // suffix-array substring dedup from "Deduplicating Training Data Makes
    // Language Models Better", Lee et al. 2022): every 8-token sliding
    // window is fingerprinted, and a window instance is "duplicated" if its
    // text occurs anywhere else in the corpus (same doc or another). Unlike
    // x89 (disjoint 3-token paragraphs, keep-first) this measures OVERLAPPING
    // window duplication — the signal that catches partially-copied spans
    // crossing paragraph boundaries. At 100 TB: the explode is map-side (8×
    // amplification), the occurrence count shuffles the md5 fingerprint (one
    // COUNT window, never the window text as the join payload — no w×g
    // re-join), and the per-doc rollup shuffles doc_id. Docs under 8 tokens
    // carry no window on either engine, so the per-doc frame stays aligned.
    Q("x92_substring_dup",
      """WITH d AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |w AS (SELECT doc_id,
        |        md5(array_join(slice(toks, pos, 8), ' ')) AS wh
        |      FROM (SELECT doc_id, toks FROM d WHERE size(toks) >= 8)
        |      LATERAL VIEW explode(sequence(1, size(toks) - 7)) AS pos),
        |r AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS occ FROM w)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_windows,
        |  CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS INT) AS dup_windows,
        |  CAST(CAST(FLOOR(CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS DECIMAL(18,4)) AS DOUBLE) AS dup_ratio
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS toks
        |           FROM documents),
        |w AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, CAST(pos AS INT),
        |          CAST(pos + 7 AS INT)), ' ')) AS wh
        |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS pos
        |            FROM d WHERE len(toks) >= 8)),
        |r AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS occ FROM w)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_windows,
        |  CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS INT) AS dup_windows,
        |  CAST(CAST(FLOOR(CAST(COUNT(CASE WHEN occ > 1 THEN 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    AS DECIMAL(18,4)) AS DOUBLE) AS dup_ratio
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // x93 (B73) BPE pair statistics — the merge-selection table of byte-pair
    // encoding tokenizer training: count adjacent character pairs across all
    // word occurrences, emit the top-20 (the first BPE merge is the argmax
    // row; the full iterative trainer is a driver loop over exactly this
    // aggregate). Distinct from x85 (word-level collocation lift): this is
    // the char-level frequency table. Exact integer counts only. At 100 TB:
    // map-side explode (≈ word length × corpus), one hash aggregation on a
    // ≤ 26² key space (partial aggregation collapses almost everything
    // map-side), and the top-20 is TakeOrderedAndProject — a distributed
    // top-k, not a global window sort.
    Q("x93_bpe_pairs",
      """WITH t AS (SELECT explode(array_remove(split(LOWER(text), ' '), '')) AS w
        |           FROM documents),
        |p AS (SELECT substr(w, i, 2) AS pair
        |      FROM (SELECT w FROM t WHERE length(w) >= 2)
        |      LATERAL VIEW explode(sequence(1, length(w) - 1)) AS i),
        |c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair)
        |SELECT pair, CAST(n AS BIGINT) AS n FROM c
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
      """WITH t AS (SELECT unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS w
        |           FROM documents),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
        |      FROM (SELECT w, unnest(range(1, length(w))) AS i FROM t
        |            WHERE length(w) >= 2)),
        |c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair)
        |SELECT pair, CAST(n AS BIGINT) AS n FROM c
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    // x94 (B34/B73) temperature-based mixture sampling — the multilingual /
    // multi-source rebalancing step of LLM corpus assembly: per-language
    // sampling weight ∝ (token mass)^α with α = 0.5, so low-resource
    // languages are upsampled relative to their share (en holds 44% of the
    // sf0.01 docs but 30% of the sample). Weights are integerized
    // (⌊√tokens·1000⌋ summed as BIGINT — exact, order-independent) and
    // quotas use integer division, so no cross-engine float summation;
    // within a language the quota is filled in deterministic md5 order
    // (x88's reproducible-uniform idiom). At 100 TB: one hash aggregation
    // for the weights (5 rows, broadcast back), one keyed window —
    // WindowGroupLimit prunes below the per-lang sort; no global ordering.
    Q("x94_temp_sample",
      """WITH d AS (SELECT doc_id, lang,
        |             size(array_remove(split(LOWER(text), ' '), '')) AS ntoks
        |           FROM documents),
        |s AS (SELECT lang, CAST(FLOOR(SQRT(CAST(SUM(ntoks) AS DOUBLE)) * 1000.0) AS BIGINT) AS w
        |      FROM d GROUP BY lang),
        |qt AS (SELECT lang, CAST((200 * w) DIV (SELECT SUM(w) FROM s) AS INT) AS quota
        |       FROM s),
        |r AS (SELECT d.doc_id, d.lang, qt.quota,
        |        ROW_NUMBER() OVER (PARTITION BY d.lang
        |          ORDER BY md5(concat(d.lang, '|', CAST(d.doc_id AS STRING))), d.doc_id) AS rn
        |      FROM d JOIN qt ON d.lang = qt.lang)
        |SELECT doc_id, lang, CAST(quota AS INT) AS quota, CAST(rn AS INT) AS rn
        |FROM r WHERE rn <= quota ORDER BY lang, rn""".stripMargin,
      """WITH d AS (SELECT doc_id, lang,
        |             len(list_filter(string_split(LOWER(text), ' '), t -> t <> '')) AS ntoks
        |           FROM documents),
        |s AS (SELECT lang, CAST(FLOOR(SQRT(CAST(SUM(ntoks) AS DOUBLE)) * 1000.0) AS BIGINT) AS w
        |      FROM d GROUP BY lang),
        |qt AS (SELECT lang, CAST((200 * w) // (SELECT SUM(w) FROM s) AS INT) AS quota
        |       FROM s),
        |r AS (SELECT d.doc_id, d.lang, qt.quota,
        |        ROW_NUMBER() OVER (PARTITION BY d.lang
        |          ORDER BY md5(concat(d.lang, '|', CAST(d.doc_id AS STRING))), d.doc_id) AS rn
        |      FROM d JOIN qt ON d.lang = qt.lang)
        |SELECT doc_id, lang, CAST(quota AS INT) AS quota, CAST(rn AS INT) AS rn
        |FROM r WHERE rn <= quota ORDER BY lang, rn""".stripMargin),

    // x96 (B34/B73) per-language quality-quantile filtering — the "keep the
    // top 75% by quality score within each language" curation step. The
    // score is x50's weighted quality (floor-rounded to 4 decimals BEFORE
    // the comparison, so the rank order is cross-engine-deterministic with
    // the doc_id tiebreak); the quantile cut is pure integer arithmetic
    // (rn·4 ≤ cnt·3 ⇔ rn ≤ ⌊3n/4⌋ — no interpolated percentile, whose
    // engine-specific formula would be a determinism trap). At 100 TB: one
    // scan + one keyed window shuffle on lang; no global sort.
    Q("x96_quality_filter",
      """WITH t AS (SELECT doc_id, lang, text, CAST(LENGTH(text) AS INT) AS nchars,
        |             array_remove(split(text, ' '), '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, lang, nchars, CAST(size(toks) AS INT) AS ntoks,
        |        count_in(toks, array('the','and','of','to','in','is','it','that','a','for')) AS stop_hits,
        |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '')) AS INT) AS punct
        |      FROM t),
        |s AS (SELECT doc_id, lang,
        |        CAST(CAST(FLOOR((0.4*(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE))
        |            + 0.3*LEAST(CAST(ntoks AS DOUBLE)/50.0, 1.0)
        |            + 0.3*(1.0 - CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
        |          AS DECIMAL(18,4)) AS DOUBLE) AS q
        |      FROM m),
        |r AS (SELECT doc_id, lang, q,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY lang) AS cnt
        |      FROM s)
        |SELECT doc_id, lang, q, CAST(rn AS INT) AS rn
        |FROM r WHERE rn * 4 <= cnt * 3 ORDER BY lang, rn""".stripMargin,
      """WITH t AS (SELECT doc_id, lang, text, CAST(LENGTH(text) AS INT) AS nchars,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, lang, nchars, CAST(len(toks) AS INT) AS ntoks,
        |        CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','it','that','a','for'))) AS INT) AS stop_hits,
        |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS INT) AS punct
        |      FROM t),
        |s AS (SELECT doc_id, lang,
        |        CAST(CAST(FLOOR((0.4*(CAST(stop_hits AS DOUBLE)/CAST(GREATEST(ntoks,1) AS DOUBLE))
        |            + 0.3*LEAST(CAST(ntoks AS DOUBLE)/50.0, 1.0)
        |            + 0.3*(1.0 - CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE))) * 10000.0 + 0.5) / 10000.0
        |          AS DECIMAL(18,4)) AS DOUBLE) AS q
        |      FROM m),
        |r AS (SELECT doc_id, lang, q,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY lang) AS cnt
        |      FROM s)
        |SELECT doc_id, lang, q, CAST(rn AS INT) AS rn
        |FROM r WHERE rn * 4 <= cnt * 3 ORDER BY lang, rn""".stripMargin),

    // x97 (B73) Gopher/RedPajama-style rule filtering — the per-document
    // hard-rule battery (word count bounds, mean word length, alphabetic
    // word fraction, symbol ratio, minimum stopword hits) with the combined
    // keep verdict. Every ratio is floor-rounded before comparison so the
    // booleans are engine-independent; all counting is exact integers.
    // Non-degenerate on the corpus: 224 of 500 docs pass at sf0.01 (the
    // stopword rule is English-centric by design — as in Gopher). One scan,
    // map-only; the only shuffle is the output ORDER BY.
    Q("x97_rule_filter",
      """WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
        |             array_remove(split(LOWER(text), ' '), '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, nchars, CAST(size(toks) AS INT) AS n_words,
        |        sum_lengths(toks) AS wchars,
        |        count_rlike(toks, '[a-z]') AS alpha_words,
        |        count_in(toks, array('the','and','of','to','in','is','it','that')) AS stop_hits,
        |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '')) AS INT) AS punct
        |      FROM t),
        |r AS (SELECT doc_id, n_words,
        |        CAST(CAST(FLOOR(CAST(wchars AS DOUBLE)/CAST(GREATEST(n_words,1) AS DOUBLE) * 100.0 + 0.5)/100.0 AS DECIMAL(18,2)) AS DOUBLE) AS mean_wlen,
        |        CAST(CAST(FLOOR(CAST(alpha_words AS DOUBLE)/CAST(GREATEST(n_words,1) AS DOUBLE) * 10000.0 + 0.5)/10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS alpha_frac,
        |        CAST(CAST(FLOOR(CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE) * 10000.0 + 0.5)/10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS sym_ratio,
        |        stop_hits
        |      FROM m)
        |SELECT doc_id, n_words, mean_wlen, alpha_frac, sym_ratio,
        |  CAST(stop_hits AS INT) AS stop_hits,
        |  (n_words BETWEEN 10 AND 100000) AND (mean_wlen BETWEEN 2.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND sym_ratio <= 0.1 AND stop_hits >= 2 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
        |             list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id, nchars, CAST(len(toks) AS INT) AS n_words,
        |        CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS wchars,
        |        CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS INT) AS alpha_words,
        |        CAST(len(list_filter(toks, w -> w IN ('the','and','of','to','in','is','it','that'))) AS INT) AS stop_hits,
        |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS INT) AS punct
        |      FROM t),
        |r AS (SELECT doc_id, n_words,
        |        CAST(CAST(FLOOR(CAST(wchars AS DOUBLE)/CAST(GREATEST(n_words,1) AS DOUBLE) * 100.0 + 0.5)/100.0 AS DECIMAL(18,2)) AS DOUBLE) AS mean_wlen,
        |        CAST(CAST(FLOOR(CAST(alpha_words AS DOUBLE)/CAST(GREATEST(n_words,1) AS DOUBLE) * 10000.0 + 0.5)/10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS alpha_frac,
        |        CAST(CAST(FLOOR(CAST(punct AS DOUBLE)/CAST(GREATEST(nchars,1) AS DOUBLE) * 10000.0 + 0.5)/10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS sym_ratio,
        |        stop_hits
        |      FROM m)
        |SELECT doc_id, n_words, mean_wlen, alpha_frac, sym_ratio,
        |  CAST(stop_hits AS INT) AS stop_hits,
        |  (n_words BETWEEN 10 AND 100000) AND (mean_wlen BETWEEN 2.0 AND 10.0)
        |    AND alpha_frac >= 0.8 AND sym_ratio <= 0.1 AND stop_hits >= 2 AS keep
        |FROM r ORDER BY doc_id""".stripMargin),

    // x98 DSIR-style importance resampling (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"): weight
    // each doc by the log-likelihood ratio of a target unigram LM (the
    // lang='en' slice plays the target distribution) vs the raw-corpus
    // source LM, both add-1 smoothed over the shared vocabulary, then
    // accept docs whose deterministic per-doc uniform (md5(text) hex →
    // 16-bit integer, bit-identical in any engine) falls under the
    // sigmoid-squashed mean ratio. Every stage is a hash aggregate or a
    // map: vocab aggregates shuffle on token (broadcast-sized under a
    // Zipfian vocab at any corpus scale), the per-doc sum shuffles on
    // doc_id once, and the accept decision is pure integer arithmetic
    // (u16 * 10000 < p_bps * 65536) so the sampled booleans hash-compare
    // exactly. Per-token log terms ROUND→DECIMAL before SUM — the suite's
    // order-independent FP-aggregation pattern (see x78).
    // r16 Spark side: src and tgt fused into ONE token aggregate (tgt's
    // per-token count rides as a conditional COUNT column — guide §2.3
    // "aggregate before you shuffle"), removing the second corpus
    // scan+explode+aggregate AND the src⟕tgt join; COALESCE(g.c, 0) ≡ the
    // conditional count (0 when the token never appears with lang='en'),
    // nt ≡ SUM of that column, so every lr double is bit-identical — the
    // unchanged DuckDB twin (still the two-aggregate shape) pins it. The
    // driver materializes the fused vocabulary `src` once for its three
    // consumers.
    Q("x98_dsir_sample",
      """WITH t AS (SELECT doc_id, lang,
        |             explode(array_remove(split(LOWER(text), ' '), '')) AS tok
        |           FROM documents),
        |src AS (SELECT tok, COUNT(*) AS c,
        |          COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ct
        |        FROM t GROUP BY tok),
        |ns AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM src),
        |nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE) AS n FROM src),
        |r AS (SELECT s.tok,
        |        CAST(ROUND(LN(((s.ct + 1.0) / (nt.n + ns.v))
        |                    / ((s.c + 1.0) / (ns.n + ns.v))), 5) AS DECIMAL(18,5)) AS lr
        |      FROM src s
        |      CROSS JOIN nt CROSS JOIN ns),
        |d AS (SELECT t.doc_id, COUNT(*) AS ntoks, SUM(r.lr) AS slr
        |      FROM t JOIN r ON t.tok = r.tok GROUP BY t.doc_id),
        |u AS (SELECT doc_id,
        |        CAST((((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS INT) AS u16
        |      FROM documents),
        |f AS (SELECT d.doc_id, d.ntoks,
        |        CAST(d.slr AS DOUBLE) / d.ntoks AS score, u.u16
        |      FROM d JOIN u ON d.doc_id = u.doc_id)
        |SELECT doc_id, CAST(ntoks AS BIGINT) AS ntoks,
        |  CAST(CAST(FLOOR(score * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS lr_score,
        |  CAST(FLOOR(10000.0 / (1.0 + EXP(-score)) + 0.5) AS INT) AS p_bps,
        |  u16,
        |  CAST(u16 AS BIGINT) * 10000
        |    < CAST(FLOOR(10000.0 / (1.0 + EXP(-score)) + 0.5) AS BIGINT) * 65536 AS sampled
        |FROM f ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> '')) AS tok
        |           FROM documents),
        |src AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
        |tgt AS (SELECT tok, COUNT(*) AS c FROM t WHERE lang = 'en' GROUP BY tok),
        |ns AS (SELECT CAST(SUM(c) AS DOUBLE) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM src),
        |nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS DOUBLE) AS n FROM tgt),
        |r AS (SELECT s.tok,
        |        CAST(ROUND(LN(((COALESCE(g.c, 0) + 1.0) / (nt.n + ns.v))
        |                    / ((s.c + 1.0) / (ns.n + ns.v))), 5) AS DECIMAL(18,5)) AS lr
        |      FROM src s LEFT JOIN tgt g ON s.tok = g.tok
        |      CROSS JOIN nt CROSS JOIN ns),
        |d AS (SELECT t.doc_id, COUNT(*) AS ntoks, SUM(r.lr) AS slr
        |      FROM t JOIN r ON t.tok = r.tok GROUP BY t.doc_id),
        |u AS (SELECT doc_id,
        |        CAST((((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) * 16
        |              + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS INT) AS u16
        |      FROM documents),
        |f AS (SELECT d.doc_id, d.ntoks,
        |        CAST(d.slr AS DOUBLE) / d.ntoks AS score, u.u16
        |      FROM d JOIN u ON d.doc_id = u.doc_id)
        |SELECT doc_id, CAST(ntoks AS BIGINT) AS ntoks,
        |  CAST(CAST(FLOOR(score * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS lr_score,
        |  CAST(FLOOR(10000.0 / (1.0 + EXP(-score)) + 0.5) AS INT) AS p_bps,
        |  u16,
        |  CAST(u16 AS BIGINT) * 10000
        |    < CAST(FLOOR(10000.0 / (1.0 + EXP(-score)) + 0.5) AS BIGINT) * 65536 AS sampled
        |FROM f ORDER BY doc_id""".stripMargin,
      materialize = Seq("src")),

    // x99 text normalization — the canonical pre-dedup canonicalization
    // pass (lowercase, strip non-alphanumerics, collapse whitespace) every
    // curation pipeline runs before fingerprinting. Pure map stage: no
    // shuffle at any scale; the normalized text is pinned by md5 + prefix
    // so the oracle hash-checks the full string without shipping it.
    Q("x99_normalize",
      """WITH n AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' '), ' +', ' ')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LENGTH(text) AS INT) AS raw_len,
        |  CAST(LENGTH(norm) AS INT) AS norm_len,
        |  CAST(size(array_remove(split(norm, ' '), '')) AS INT) AS norm_toks,
        |  md5(norm) AS norm_md5,
        |  substr(norm, 1, 40) AS norm_head
        |FROM n ORDER BY doc_id""".stripMargin,
      """WITH n AS (SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LENGTH(text) AS INT) AS raw_len,
        |  CAST(LENGTH(norm) AS INT) AS norm_len,
        |  CAST(len(list_filter(string_split(norm, ' '), x -> x <> '')) AS INT) AS norm_toks,
        |  md5(norm) AS norm_md5,
        |  substr(norm, 1, 40) AS norm_head
        |FROM n ORDER BY doc_id""".stripMargin),

    // x101 feature hashing (the "hashing trick", Weinberger et al. 2009) —
    // the classifier-featurization step: each doc becomes a fixed 16-bucket
    // hashed bag-of-words. The bucket is the first md5 hex nibble of the
    // token — md5 is bit-identical in every engine, so the whole feature
    // matrix is oracle-checkable (Spark's own hashing would be
    // xxhash-based and engine-private). Map + ONE hash aggregate keyed by
    // doc_id; the output width is fixed at any corpus scale, which is the
    // point of the trick — no vocabulary state, no second pass.
    Q("x101_feature_hash",
      featureHashSql("explode(array_remove(split(LOWER(text), ' '), ''))"),
      featureHashSql(
        "unnest(list_filter(string_split(LOWER(text), ' '), x -> x <> ''))")),

    // x102 quality-classifier inference — distributed scoring of a linear
    // model (fixed interpretable weights over the x97 feature family:
    // stopword fraction, alphabetic fraction, symbol ratio, mean word
    // length, log length) with a sigmoid output and a keep cut at the
    // corpus's median operating point (0.85 — the synthetic corpus is all
    // reasonably clean text, so a 0.5 cut would be vacuously true) —
    // the FineWeb-style "educational quality classifier" step, reduced to
    // its Spark shape: pure map over the corpus, no shuffle, no UDF. The
    // logit is assembled from integer-derived ratios FLOOR-rounded at 4dp
    // before the sigmoid so both engines see identical inputs; p lands in
    // basis points (integer) and the keep decision compares integers.
    // r15 Spark side: wchars/alpha_words/stop_hits via the codegen
    // sum_lengths/count_rlike/count_in kernels (the HOF lambdas evaluated
    // interpreted per token; parity pinned in TokenStatsSpec).
    Q("x102_quality_score",
      qualityScoreSparkSql,
      qualityScoreSql(
        toksExpr = "list_filter(string_split(LOWER(text), ' '), x -> x <> '')",
        sizeFn = "len", filterFn = "list_filter",
        wcharsExpr =
          "CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT)",
        alphaPred = "regexp_matches(w, '[a-z]')", reFlag = ", 'g'")),

    // x106 interpolated bigram LM scoring — the second-order LM the
    // perplexity-filter family actually uses (x78 is the unigram floor):
    // p(w_i | w_{i-1}) = λ·c(w_{i-1}w_i)/c(w_{i-1}) + (1−λ)·c(w_i)/N with
    // λ = 0.7, doc score = mean log p over positions ≥ 2. Two vocabulary
    // aggregates (unigram + bigram — the bigram key space is Zipfian, so
    // partial aggregation collapses almost everything map-side), two
    // equi-joins back to the position stream, one per-doc sum. The log
    // terms ROUND→DECIMAL before summing (the x78 order-independence
    // idiom). The driver materializes the vocabulary `u` and the bigram
    // position stream `bp` once each; inlined, each is re-derived per
    // reference (22 exchanges / 3 corpus scans,
    // plans/r16/x106_bigram_lm_before.txt).
    Q("x106_bigram_lm",
      """WITH t AS (SELECT doc_id, array_remove(split(LOWER(text), ' '), '') AS tk
        |           FROM documents),
        |u AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c1
        |      FROM (SELECT explode(tk) AS tok FROM t) GROUP BY tok),
        |n AS (SELECT CAST(SUM(c1) AS DOUBLE) AS nn FROM u),
        |bp AS (SELECT doc_id, substring_index(g, ' ', 1) AS prev,
        |              substring_index(g, ' ', -1) AS cur FROM (
        |         SELECT doc_id, explode(word_ngrams(tk, 2)) AS g
        |         FROM t WHERE size(tk) >= 2)),
        |b2 AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c2
        |       FROM bp GROUP BY prev, cur),
        |s AS (SELECT bp.doc_id, COUNT(*) AS npairs,
        |        SUM(CAST(ROUND(LN(0.7 * b2.c2 / up.c1 + 0.3 * uc.c1 / n.nn), 5)
        |            AS DECIMAL(18,5))) AS slp
        |      FROM bp JOIN b2 ON bp.prev = b2.prev AND bp.cur = b2.cur
        |      JOIN u up ON bp.prev = up.tok
        |      JOIN u uc ON bp.cur = uc.tok
        |      CROSS JOIN n
        |      GROUP BY bp.doc_id)
        |SELECT doc_id, CAST(npairs AS BIGINT) AS npairs,
        |  CAST(CAST(FLOOR(CAST(slp AS DOUBLE) / npairs * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS logp
        |FROM s ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, list_filter(string_split(LOWER(text), ' '), x -> x <> '') AS tk
        |           FROM documents),
        |u AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c1
        |      FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY tok),
        |n AS (SELECT CAST(SUM(c1) AS DOUBLE) AS nn FROM u),
        |bp AS (SELECT doc_id, tk[CAST(i AS INT) - 1] AS prev,
        |         tk[CAST(i AS INT)] AS cur
        |       FROM (SELECT doc_id, tk, unnest(range(2, len(tk) + 1)) AS i
        |             FROM t WHERE len(tk) >= 2)),
        |b2 AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS c2
        |       FROM bp GROUP BY prev, cur),
        |s AS (SELECT bp.doc_id, COUNT(*) AS npairs,
        |        SUM(CAST(ROUND(LN(0.7 * b2.c2 / up.c1 + 0.3 * uc.c1 / n.nn), 5)
        |            AS DECIMAL(18,5))) AS slp
        |      FROM bp JOIN b2 ON bp.prev = b2.prev AND bp.cur = b2.cur
        |      JOIN u up ON bp.prev = up.tok
        |      JOIN u uc ON bp.cur = uc.tok
        |      CROSS JOIN n
        |      GROUP BY bp.doc_id)
        |SELECT doc_id, CAST(npairs AS BIGINT) AS npairs,
        |  CAST(CAST(FLOOR(CAST(slp AS DOUBLE) / npairs * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS logp
        |FROM s ORDER BY doc_id""".stripMargin,
      materialize = Seq("u", "bp")),

    // x107 leakage-free train/test split — the composition every eval
    // pipeline needs done ATOMICALLY: a deterministic 90/10 doc split
    // (x70's md5-uniform idiom), then every TRAIN doc sharing a word
    // 5-gram with any TEST doc is quarantined to 'drop' (x76's leak
    // check) so the train side cannot contaminate the held-out side.
    // Shape: map for the split bit, one distinct-gram explode, one
    // gram-keyed equi-join whose test side is 10% of the corpus (and
    // broadcastable at any scale if the test fraction is fixed-size),
    // one semi-join back. Emitting the decision as one atomic op removes
    // the classic pipeline bug of splitting and decontaminating against
    // different corpus snapshots.
    Q("x107_clean_split",
      """WITH d AS (SELECT doc_id, text,
        |    (((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS u16
        |  FROM documents),
        |s AS (SELECT doc_id, text, u16 < 6554 AS is_test FROM d),
        |toks AS (SELECT doc_id, is_test,
        |           array_remove(split(LOWER(text), ' '), '') AS tk
        |         FROM s),
        |g AS (SELECT doc_id, is_test, gram FROM (
        |        SELECT doc_id, is_test, explode(array_distinct(word_ngrams(tk, 5))) AS gram
        |        FROM toks WHERE size(tk) >= 5)),
        |leak AS (SELECT DISTINCT tg.doc_id
        |         FROM g tg JOIN g bg ON tg.gram = bg.gram
        |         WHERE NOT tg.is_test AND bg.is_test)
        |SELECT s.doc_id,
        |  CASE WHEN s.is_test THEN 'test'
        |       WHEN l.doc_id IS NOT NULL THEN 'drop'
        |       ELSE 'train' END AS split
        |FROM s LEFT JOIN leak l ON s.doc_id = l.doc_id
        |ORDER BY s.doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, text,
        |    (((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)) * 16
        |      + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) AS u16
        |  FROM documents),
        |s AS (SELECT doc_id, text, u16 < 6554 AS is_test FROM d),
        |toks AS (SELECT doc_id, is_test,
        |           list_filter(string_split(LOWER(text), ' '), t -> t <> '') AS tk
        |         FROM s),
        |g AS (SELECT doc_id, is_test, unnest(list_distinct(list_transform(
        |        range(1, len(tk) - 3),
        |        i -> array_to_string(list_slice(tk, i, i + 4), ' ')))) AS gram
        |      FROM toks WHERE len(tk) >= 5),
        |leak AS (SELECT DISTINCT tg.doc_id
        |         FROM g tg JOIN g bg ON tg.gram = bg.gram
        |         WHERE NOT tg.is_test AND bg.is_test)
        |SELECT s.doc_id,
        |  CASE WHEN s.is_test THEN 'test'
        |       WHEN l.doc_id IS NOT NULL THEN 'drop'
        |       ELSE 'train' END AS split
        |FROM s LEFT JOIN leak l ON s.doc_id = l.doc_id
        |ORDER BY s.doc_id""".stripMargin),

    // x104 corpus overlap matrix — the cross-source contamination report
    // curation teams compute before mixing corpora: for every (lang, lang)
    // pair, how many doc pairs share the x52 word-set fingerprint and how
    // many distinct duplicate groups span the pair. One fingerprint map
    // (no shuffle), one equi-join keyed on the fingerprint, one aggregate
    // on ≤|langs|² keys. Pair expansion is bounded by duplicate-group
    // sizes, the same blocking-key contract as x52/x84.
    Q("x104_overlap_matrix",
      """WITH f AS (SELECT doc_id, lang,
        |             md5(CAST(array_join(array_sort(array_distinct(
        |               array_remove(split(LOWER(text), ' '), ''))), ' ')
        |               AS BINARY)) AS fp
        |           FROM documents),
        |p AS (SELECT LEAST(a.lang, b.lang) AS lang_a,
        |        GREATEST(a.lang, b.lang) AS lang_b, a.fp
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS dup_pairs,
        |       CAST(COUNT(DISTINCT fp) AS BIGINT) AS dup_groups
        |FROM p GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b""".stripMargin,
      """WITH f AS (SELECT doc_id, lang,
        |             md5(array_to_string(list_sort(list_distinct(
        |               list_filter(string_split(LOWER(text), ' '), t -> t <> ''))), ' ')) AS fp
        |           FROM documents),
        |p AS (SELECT LEAST(a.lang, b.lang) AS lang_a,
        |        GREATEST(a.lang, b.lang) AS lang_b, a.fp
        |      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT lang_a, lang_b, CAST(COUNT(*) AS BIGINT) AS dup_pairs,
        |       CAST(COUNT(DISTINCT fp) AS BIGINT) AS dup_groups
        |FROM p GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b""".stripMargin),

    // x105 host-graph PageRank over the mirror graph (texts and plan notes
    // in ext/Rank): `edges` and `nodes` materialize once, so each level
    // CTE is referenced once by the next and the inlined chain stays
    // linear in the iteration count.
    Q("x105_pagerank", Rank.sparkSql, Rank.duckSql,
      materialize = Seq("edges", "nodes")),

    // x103 table profiling — the ANALYZE/stats-collection pass every
    // engine (and every data-quality pipeline) runs before planning or
    // ingesting: per-column row count, null count, exact distinct, min /
    // max, plus an HLL approx-distinct sanity bound (rsd 0.02, asserted
    // within 10%). One PRUNED columnar scan per column (parquet reads
    // exactly that column — how real profilers shard the work), each with
    // a single COUNT(DISTINCT): packing all five distincts into one
    // aggregate triggers Spark's Expand-based multi-distinct rewrite (6×
    // row blowup through a sort aggregate — measured 96 s vs 2 s at
    // sf0.1). At 100 TB the exact distincts would switch to the HLL
    // column alone (the ±10% boolean pins that sketch against the exact
    // value the way q84 pins the quantile sketch).
    Q("x103_profile", profileSparkSql, profileDuckSql)
  )

  // def, not val: referenced by profileSparkSql during `all`'s own
  // initialization, which runs before any later val would be assigned
  private def profileCols = Seq(
    ("l_quantity", true), ("l_extendedprice", true), ("l_discount", true),
    ("l_returnflag", false), ("l_linestatus", false))

  /** x103 Spark side: one single-column aggregate per profiled column
    * (each scan prunes to that column; single COUNT(DISTINCT) per
    * aggregate avoids the Expand multi-distinct rewrite), UNION ALL back
    * to per-column rows. Numeric min/max surface as DOUBLE, strings
    * as-is.
    *
    * The HLL sanity bound (approx within 10% of exact) is pinned on ONE
    * anchor column only: approx_count_distinct is a TypedImperativeAggregate
    * — its update path is interpreted AND it forces the whole branch out
    * of whole-stage codegen into ObjectHashAggregate with per-partial
    * sketch serialization. With the sketch on all 5 branches the row cost
    * 12.7 s first-run / 4.5 s steady at sf0.1; on the anchor alone it is
    * 2.3 s / 0.8 s (measured, bench-mimic fresh JVM) with the identical
    * stats payload. At 100 TB the roles invert — the profiler keeps ONLY
    * the sketch column and drops the exact distincts (the aggregation
    * buffer for exact DISTINCT grows with cardinality; HLL stays 4 KB) —
    * and the anchor's ±10% boolean is exactly what certifies that swap.
    *
    * r16 re-examination (VERDICT item 6) — the single-pass unpivot
    * REFUTED with numbers: `stack` the 5 columns into (col, vnum, vstr),
    * pre-aggregate to distinct (col, value, cnt), one 5-group rollup.
    * Oracle-green (HLL over distinct values is register-identical), scans
    * 5 → 1, exchanges 20 → 3 — but measured SLOWER on this box in both
    * variants (DevProbe bench-mimic, same session ordering): HLL-in-rollup
    * 3.38 s first-run / ~1.6 s steady; HLL-as-scalar-subquery + integer
    * col key 3.59 s / ~2.0-2.5 s; the 5-scan form 1.6-1.8 s bench /
    * ~1.0 s steady. The unpivot's (col, value)-keyed pre-aggregate pushes
    * the full 600 k near-unique price values through a WIDER shuffle row
    * and a second aggregate, while the 5 pruned scans read the same total
    * bytes (each decodes only its column) with narrow single-column
    * distinct keys. Kept the 5-scan form. */
  private def profileSparkSql: String = {
    val rows = profileCols.map { case (c, num) =>
      val (mnN, mxN, mnS, mxS) =
        if (num) (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
          "CAST(NULL AS STRING)", "CAST(NULL AS STRING)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"MIN($c)", s"MAX($c)")
      val approx =
        if (c == "l_quantity")
          s"""abs(CAST(approx_count_distinct($c, 0.02) AS DOUBLE)
             |      / COUNT(DISTINCT $c) - 1.0) <= 0.10""".stripMargin
        else "CAST(NULL AS BOOLEAN)"
      s"""SELECT '$c' AS col_name, COUNT(*) AS n,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  $mnN AS min_num, $mxN AS max_num, $mnS AS min_str, $mxS AS max_str,
         |  $approx AS approx_ok
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$rows\nORDER BY col_name"
  }

  /** x103 DuckDB twin: same stats as UNION ALL over the one aggregate CTE
    * (result shape is what the driver hashes; the one-scan property is the
    * Spark side's plan concern). approx_ok pins TRUE — the oracle leg of
    * the HLL bound. */
  private def profileDuckSql: String = {
    val aggs = profileCols.map { case (c, _) =>
      s"COUNT($c) AS nn_$c, COUNT(DISTINCT $c) AS nd_$c, " +
        s"MIN($c) AS mn_$c, MAX($c) AS mx_$c"
    }.mkString(",\n  ")
    val rows = profileCols.map { case (c, num) =>
      val (mnN, mxN, mnS, mxS) =
        if (num) (s"CAST(mn_$c AS DOUBLE)", s"CAST(mx_$c AS DOUBLE)",
          "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
          s"mn_$c", s"mx_$c")
      val approx =
        if (c == "l_quantity") "TRUE" else "CAST(NULL AS BOOLEAN)"
      s"""SELECT '$c' AS col_name, n, n - nn_$c AS n_null,
         |  nd_$c AS n_distinct, $mnN AS min_num, $mxN AS max_num,
         |  $mnS AS min_str, $mxS AS max_str, $approx AS approx_ok FROM a"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  $aggs
       |FROM lineitem)
       |$rows
       |ORDER BY col_name""".stripMargin
  }

  /** x101 SQL (dialect differs only in the explode/unnest clause): 16
    * SUM(CASE) columns over the md5-nibble bucket. */
  private def featureHashSql(explodeClause: String): String = {
    val cols = (0 until 16).map(i =>
      s"  CAST(SUM(CASE WHEN bkt = $i THEN 1 ELSE 0 END) AS INT) AS f$i")
      .mkString(",\n")
    s"""WITH t AS (SELECT doc_id, $explodeClause AS tok FROM documents),
       |b AS (SELECT doc_id,
       |        instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS bkt
       |      FROM t)
       |SELECT doc_id,
       |$cols
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** x102 SQL: shared feature extraction + linear logit + sigmoid; the
    * dialect plugs in its list/size/filter spellings and regexp flag.
    * Every ratio feature FLOOR-rounds at fixed scale BEFORE entering the
    * logit so both engines feed the sigmoid identical doubles; p lands in
    * basis points and the keep decision compares integers. */
  private def qualityScoreSparkSql: String =
    s"""WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
       |             array_remove(split(LOWER(text), ' '), '') AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, nchars, CAST(size(toks) AS INT) AS n_words,
       |        sum_lengths(toks) AS wchars,
       |        count_rlike(toks, '[a-z]') AS alpha_words,
       |        count_in(toks, array($enStops)) AS stop_hits,
       |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', '')) AS INT) AS punct
       |      FROM t),
       |r AS (SELECT doc_id, n_words,
       |        FLOOR(CAST(stop_hits AS DOUBLE) / GREATEST(n_words, 1) * 10000.0 + 0.5) / 10000.0 AS stop_frac,
       |        FLOOR(CAST(alpha_words AS DOUBLE) / GREATEST(n_words, 1) * 10000.0 + 0.5) / 10000.0 AS alpha_frac,
       |        FLOOR(CAST(punct AS DOUBLE) / GREATEST(nchars, 1) * 10000.0 + 0.5) / 10000.0 AS sym_ratio,
       |        FLOOR(CAST(wchars AS DOUBLE) / GREATEST(n_words, 1) * 100.0 + 0.5) / 100.0 AS mean_wlen,
       |        FLOOR(LN(nchars + 1.0) * 10000.0 + 0.5) / 10000.0 AS log_len
       |      FROM m),
       |s AS (SELECT doc_id, n_words, stop_frac, alpha_frac, sym_ratio,
       |        mean_wlen, log_len,
       |        -2.0 + 6.0 * stop_frac + 2.0 * alpha_frac - 12.0 * sym_ratio
       |          + 0.1 * mean_wlen + 0.2 * log_len AS logit
       |      FROM r)
       |SELECT doc_id, n_words,
       |  CAST(CAST(stop_frac AS DECIMAL(18,4)) AS DOUBLE) AS stop_frac,
       |  CAST(CAST(alpha_frac AS DECIMAL(18,4)) AS DOUBLE) AS alpha_frac,
       |  CAST(CAST(sym_ratio AS DECIMAL(18,4)) AS DOUBLE) AS sym_ratio,
       |  CAST(CAST(mean_wlen AS DECIMAL(18,2)) AS DOUBLE) AS mean_wlen,
       |  CAST(FLOOR(10000.0 / (1.0 + EXP(-logit)) + 0.5) AS INT) AS p_bps,
       |  CAST(FLOOR(10000.0 / (1.0 + EXP(-logit)) + 0.5) AS INT) >= 8500 AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  private def qualityScoreSql(toksExpr: String, sizeFn: String,
                              filterFn: String, wcharsExpr: String,
                              alphaPred: String, reFlag: String): String =
    s"""WITH t AS (SELECT doc_id, text, CAST(LENGTH(text) AS INT) AS nchars,
       |             $toksExpr AS toks
       |           FROM documents),
       |m AS (SELECT doc_id, nchars, CAST($sizeFn(toks) AS INT) AS n_words,
       |        $wcharsExpr AS wchars,
       |        CAST($sizeFn($filterFn(toks, w -> $alphaPred)) AS INT) AS alpha_words,
       |        CAST($sizeFn($filterFn(toks, w -> w IN ($enStops))) AS INT) AS stop_hits,
       |        CAST(LENGTH(regexp_replace(text, '[a-zA-Z0-9 ]', ''$reFlag)) AS INT) AS punct
       |      FROM t),
       |r AS (SELECT doc_id, n_words,
       |        FLOOR(CAST(stop_hits AS DOUBLE) / GREATEST(n_words, 1) * 10000.0 + 0.5) / 10000.0 AS stop_frac,
       |        FLOOR(CAST(alpha_words AS DOUBLE) / GREATEST(n_words, 1) * 10000.0 + 0.5) / 10000.0 AS alpha_frac,
       |        FLOOR(CAST(punct AS DOUBLE) / GREATEST(nchars, 1) * 10000.0 + 0.5) / 10000.0 AS sym_ratio,
       |        FLOOR(CAST(wchars AS DOUBLE) / GREATEST(n_words, 1) * 100.0 + 0.5) / 100.0 AS mean_wlen,
       |        FLOOR(LN(nchars + 1.0) * 10000.0 + 0.5) / 10000.0 AS log_len
       |      FROM m),
       |s AS (SELECT doc_id, n_words, stop_frac, alpha_frac, sym_ratio,
       |        mean_wlen, log_len,
       |        -2.0 + 6.0 * stop_frac + 2.0 * alpha_frac - 12.0 * sym_ratio
       |          + 0.1 * mean_wlen + 0.2 * log_len AS logit
       |      FROM r)
       |SELECT doc_id, n_words,
       |  CAST(CAST(stop_frac AS DECIMAL(18,4)) AS DOUBLE) AS stop_frac,
       |  CAST(CAST(alpha_frac AS DECIMAL(18,4)) AS DOUBLE) AS alpha_frac,
       |  CAST(CAST(sym_ratio AS DECIMAL(18,4)) AS DOUBLE) AS sym_ratio,
       |  CAST(CAST(mean_wlen AS DECIMAL(18,2)) AS DOUBLE) AS mean_wlen,
       |  CAST(FLOOR(10000.0 / (1.0 + EXP(-logit)) + 0.5) AS INT) AS p_bps,
       |  CAST(FLOOR(10000.0 / (1.0 + EXP(-logit)) + 0.5) AS INT) >= 8500 AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** DataFrame form of x114 for pipeline composition ([[Pipeline.curate]]'s
    * opt-in pre-stage): strip per-source frequent-5-gram boilerplate and
    * rebuild `text` from the surviving tokens in original order (n_chars
    * recomputed; other columns pass through). Same boilerplate definition
    * as the x114 row — keyed joins only, df-thresholded boilerplate set.
    * Documents whose tokens are ALL boilerplate drop (empty docs are of no
    * use to any downstream stage, and the q46-family sketches skip
    * empties anyway).
    */
  def stripBoilerplate(docs: org.apache.spark.sql.DataFrame,
                       minDf: Long = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val toks = docs.withColumn("tk",
      array_remove(split(lower(col("text")), " "), ""))
    val pos = toks.filter(size(col("tk")) >= 5)
      .select(col("doc_id"), col("source"),
        posexplode(expr("word_ngrams(tk, 5)")).as(Seq("p", "gram")))
      .withColumn("i", col("p") + 1).drop("p")
    val bp = pos.groupBy("source", "gram")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDf)
      .select("source", "gram")
    val cover = pos.join(bp, Seq("source", "gram"))
      .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("j"))
      .distinct()
    val tokpos = toks
      .select(toks.columns.map(col) :+
        posexplode(col("tk")).as(Seq("p", "tok")): _*)
      .withColumn("j", col("p") + 1).drop("p", "tk", "text")
    val passThrough = docs.columns.filterNot(c => c == "text" || c == "n_chars")
    tokpos.join(cover, Seq("doc_id", "j"), "left_anti")
      .groupBy(passThrough.map(col): _*)
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(j, tok))), s -> s.tok)"))
        .as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
}
