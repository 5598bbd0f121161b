package graft.ext

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared corpus-graph stages behind x104 (overlap matrix), x105 (host
  * PageRank) and x109 (triangle count) — the three rows that each derive
  * the same word-set-fingerprint frame and (for x105/x109) the same
  * mirror-edge set from it.
  *
  * Both stages go through [[Stages.shared]], so a session running several
  * of these operators over one corpus pays the corpus-scale derivation
  * once. Each row runs its declared SQL with the CTE that re-derives a
  * stage bound to the shared one (`SparkEntry`, [[Stages.sql]]); its
  * VALUE is unchanged (its DuckDB twin still re-derives everything from
  * raw text — the hash compare pins the equivalence).
  *
  * Scale shape (unchanged from the inlined forms): the fingerprint frame
  * is one map-only pass over `documents`; the mirror-pair stage is one
  * fp-keyed equi-join whose expansion is bounded by duplicate-group
  * sizes, collapsing to the ≤|sources|² distinct pair set. Everything
  * downstream (PageRank iterations, two-path triangle join, per-lang
  * aggregate) runs on |hosts|- or |langs|-sized data.
  *
  * Reference: dust has no graph/analytics surface of its own (SURVEY.md
  * §0; SQL is delegated, `/root/reference/db/src/db.rs:77-101`); these
  * extend the LLM-pipeline layer (SURVEY.md §2.2 B71–B73 cluster).
  */
object CorpusGraph {

  /** The x52 word-set fingerprint per document: (doc_id, lang, source,
    * fp) — fp = md5 of the sorted distinct word set, the blocking key the
    * whole x104/x105/x109 family and x52/x84 agree on. */
  def docFp(spark: SparkSession, dir: String): DataFrame = {
    Tables.ensure(spark, dir)
    Stages.shared(spark, "docFp") {
      Stages.materialize(spark.sql(
        """SELECT doc_id, lang, source,
          |  md5(CAST(array_join(array_sort(array_distinct(
          |    array_remove(split(LOWER(text), ' '), ''))), ' ')
          |    AS BINARY)) AS fp
          |FROM documents""".stripMargin))
    }
  }

  /** Undirected distinct mirror edges between sources: (s1, s2), s1 < s2,
    * present iff the two sources serve at least one word-set-identical
    * document pair. Equal by construction to both prior inline forms —
    * x105's (doc_id-ordered join, LEAST/GREATEST, DISTINCT) and x109's
    * (source-ordered join, DISTINCT): each emits exactly the distinct
    * cross-source fp-collision pairs. */
  def mirrorPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = docFp(spark, dir)
    Stages.shared(spark, "mirrorPairs") {
      Stages.materialize(Stages.sql(spark,
        """SELECT DISTINCT LEAST(a.source, b.source) AS s1,
          |       GREATEST(a.source, b.source) AS s2
          |FROM f a JOIN f b
          |  ON a.fp = b.fp AND a.doc_id < b.doc_id
          | AND a.source <> b.source""".stripMargin, bind = Map("f" -> fp)))
    }
  }
}
