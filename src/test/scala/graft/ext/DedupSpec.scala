package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Property tests for the hash-based dedup sketches (no DuckDB twin exists
  * for murmur3/xxhash64, so correctness is pinned by invariants against the
  * exact computations on the same data).
  */
class DedupSpec extends SparkSpec {

  /** Ground truth: pairs of docs with IDENTICAL distinct-word bags. */
  private lazy val bagDupPairs: Set[(Long, Long)] = {
    val w = Dedup.docWords(spark, sfDir)
      .select(col("doc_id"), array_join(array_sort(col("words")), " ").as("bag"))
    w.as("a").join(w.as("b"),
        col("a.bag") === col("b.bag") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("testdata actually contains word-bag duplicates (fixture sanity)") {
    assert(bagDupPairs.nonEmpty)
  }

  test("PPJoin ngramJaccard matches the co-occurrence-join formulation") {
    // two structurally independent exact algorithms over the same data:
    // prefix-filter + bitset verify vs token co-occurrence counting
    // (register the kernel functions: the raw spark.sql below bypasses the
    // query entry points that normally install them — running this suite
    // in ISOLATION failed analysis before r16)
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.ensure(spark, sfDir)
    val ref = spark.sql(Extensions.all
        .find(_.name == "x54_ngram_jaccard").get.spark)
      .collect().map(_.toString).sorted.toSeq
    val got = Dedup.ngramJaccard(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(got == ref,
      s"PPJoin=${got.length} rows, co-occurrence=${ref.length} rows")
  }

  test("ngramJaccard is invariant to shuffle parallelism (cluster-reconfig safety)") {
    val conf = "spark.sql.shuffle.partitions"
    val orig = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "4")
      val a = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toString).toSeq
      spark.conf.set(conf, "13")
      val b = Dedup.ngramJaccard(spark, sfDir).collect().map(_.toString).toSeq
      assert(a == b)
    } finally spark.conf.set(conf, orig)
  }

  test("ngramJaccard plan has no unblocked all-pairs stage") {
    val plan = Dedup.ngramJaccard(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("minhash candidates include every identical-bag pair (j=1 recall)") {
    val found = Dedup.minhashPairs(spark, sfDir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = bagDupPairs -- found
    assert(missed.isEmpty, s"minhash missed exact-bag dups: $missed")
  }

  test("minhash estimate tracks exact jaccard within 0.2 on candidates") {
    val rows = Dedup.minhashPairs(spark, sfDir)
      .select("est_j", "jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.2,
        s"est=${r.getDouble(0)} exact=${r.getDouble(1)}")
    }
  }

  test("identical-bag pairs have simhash hamming distance 0") {
    val sig = Dedup.simhashPairs(spark, sfDir, maxHamming = 0)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = bagDupPairs -- sig
    assert(missed.isEmpty, s"simhash separated exact-bag dups: $missed")
  }

  test("simhash pairs report symmetric-difference-sensitive hamming") {
    val rows = Dedup.simhashPairs(spark, sfDir, maxHamming = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("signatures are deterministic across runs") {
    val a = Dedup.signatures(Dedup.docWords(spark, sfDir))
      .orderBy("doc_id").limit(5).collect().map(_.toString).toSeq
    val b = Dedup.signatures(Dedup.docWords(spark, sfDir))
      .orderBy("doc_id").limit(5).collect().map(_.toString).toSeq
    assert(a == b)
  }

  /** Synthetic corpus: `nDistinct` docs with pseudo-random word subsets of
    * a 60-word vocabulary, plus a planted duplicate cluster of `g` docs
    * (ids 1000+i) sharing one word bag. Returns the (doc_id, words,
    * hwords) frame [[Dedup.minhashPairsOf]] consumes. */
  private def plantedCorpus(nDistinct: Int, g: Int) = {
    val vocab = (0 until 60).map(i => s"w$i")
    val rnd = new scala.util.Random(42)
    val base = (0 until nDistinct).map { i =>
      (i.toLong, rnd.shuffle(vocab).take(8 + rnd.nextInt(8)))
    }
    val clusterBag = rnd.shuffle(vocab).take(12)
    val cluster = (0 until g).map(i => ((1000 + i).toLong, clusterBag))
    import spark.implicits._
    (base ++ cluster).toDF("doc_id", "words")
      .withColumn("words", array_distinct(col("words")))
      .withColumn("hwords", expr("array_sort(transform(words, w -> xxhash64(w)))"))
  }

  test("candidate volume through the band join is independent of duplicate-cluster size") {
    // the scale contract the x57 collapse exists for: a g-sized exact
    // duplicate cluster contributes ONE representative to the band join,
    // so neither the rep count nor the candidate count may grow with g
    val stats = Seq(4, 40).map { g =>
      val groups = Dedup.signatures(plantedCorpus(30, g)).groupBy("sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      val reps = groups.select(
        element_at(col("docs"), 1).as("rep_id"), col("sig"))
      (g, reps.count(), Dedup.repCandidates(reps).count())
    }
    assert(stats(0)._2 == stats(1)._2,
      s"rep count grew with cluster size: $stats")
    assert(stats(0)._3 == stats(1)._3,
      s"band-join candidate count grew with cluster size: $stats")
    // and the collapsed pipeline still reports every within-cluster pair
    val g = 40
    val pairs = Dedup.minhashPairsOf(plantedCorpus(30, g))
      .filter(col("doc_a") >= 1000 && col("doc_b") >= 1000).collect()
    assert(pairs.length == g * (g - 1) / 2,
      s"expected ${g * (g - 1) / 2} within-cluster pairs, got ${pairs.length}")
    pairs.foreach { r =>
      assert(r.getAs[Double]("est_j") == 1.0)
      assert(r.getAs[Double]("jaccard") == 1.0)
    }
  }

  test("x57/x58 recall-check rows are all-true and cover every set-equal pair") {
    // the driver-facing assertion form: word-set-equal pairs (= the DuckDB
    // twin's enumeration) found by BOTH sketch pipelines with the exact
    // expected scores; any false boolean here would be a red driver row
    val expected = Dedup.setEqualPairs(spark, sfDir).count()
    assert(expected > 0, "no set-equal pairs in testdata — fixture sanity")
    val mh = Dedup.minhashRecallCheck(spark, sfDir).collect()
    assert(mh.length == expected)
    mh.foreach { r =>
      assert(r.getAs[Boolean]("found") && r.getAs[Boolean]("est_ok") &&
        r.getAs[Boolean]("j_ok"), r.toString)
    }
    val sh = Dedup.simhashRecallCheck(spark, sfDir).collect()
    assert(sh.length == expected)
    sh.foreach { r =>
      assert(r.getAs[Boolean]("found") && r.getAs[Boolean]("ham_ok"),
        r.toString)
    }
  }

  test("minhash pairs plan has no unblocked all-pairs stage") {
    val plan = Dedup.minhashPairs(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("containment finds every planted quote at 1.0; no all-pairs stage") {
    val out = Dedup.containmentQuery(spark, sfDir)
    val rows = out.collect()
    // one verdict row per probe: the %20 naturals plus the 10 planted quotes
    val planted = rows.filter(_.getLong(0) >= 1000000L)
    assert(planted.length == 10)
    planted.foreach { r =>
      assert(r.getAs[Int]("containers") >= 1, r.toString)
      assert(r.getAs[Double]("cmax") == 1.0, r.toString)
      // the source doc (quote id - 1,000,000) must be among the coverers:
      // first_container is the SMALLEST coverer, and the source is a
      // natural doc, so first_container <= source id
      assert(r.getAs[Long]("first_container") <= r.getLong(0) - 1000000L,
        r.toString)
    }
    // every probe gets exactly one null-extended verdict row
    val naturalProbes = spark.table("documents")
      .filter("doc_id % 20 = 0").count()
    assert(rows.length == naturalProbes + 10)
  }

  test("collapsed minhash pipeline is value-identical to banding every doc") {
    // uncollapsed formulation = repCandidates with EVERY doc as its own
    // representative (no signature grouping at all); bands are a pure
    // function of the signature, so both must emit the same pair set
    val words = plantedCorpus(25, 6).cache()
    val uncollapsed = Dedup.repCandidates(
        Dedup.signatures(words).withColumnRenamed("doc_id", "rep_id"))
      .select(col("rep_a").as("doc_a"), col("rep_b").as("doc_b"), col("est_j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val collapsed = Dedup.minhashPairsOf(words)
      .select("doc_a", "doc_b", "est_j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(collapsed == uncollapsed,
      s"only-in-collapsed=${collapsed -- uncollapsed} " +
        s"only-in-uncollapsed=${uncollapsed -- collapsed}")
  }

  test("mask and array PPJoin verify paths are value-identical (x54)") {
    // the vocabulary-adaptive cutover (Dedup.MaskWords) must be invisible
    // in values: same candidates, same exact j1, one emission per pair —
    // only the carried payload (vocab-wide bitset vs vocab-independent
    // sorted rank array) differs
    graft.functions.GraftFunctions.register(spark)
    graft.Tables.ensure(spark, sfDir)
    def run(maskWords: Int): Seq[String] =
      Dedup.unigramPairsBuild(spark, 0.8, maskWords)
        .collect().map(_.toString).sorted.toSeq
    val mask = run(Int.MaxValue) // force bitset branch
    val arr = run(0) // force rank-array branch
    assert(mask.nonEmpty)
    assert(arr == mask, s"paths diverged: ${arr.diff(mask).take(3)} vs " +
      s"${mask.diff(arr).take(3)}")
  }
}
