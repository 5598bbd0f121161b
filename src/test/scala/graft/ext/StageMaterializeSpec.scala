package graft.ext

import graft.{SparkEntry, SparkSpec}

/** The `graft.stageMaterialize` knob (VERDICT r9 next-round #3): the three
  * materialization strategies — `local` (localCheckpoint, the local[N]
  * default), `reliable` (fault-tolerant `checkpoint()`, the cluster
  * default), `table` (parquet intermediate tables) — must be
  * value-identical on the pipelines that use staging the hardest: the
  * PPJoin candidate stage (x54), min-label propagation over its pairs
  * (x75), the keep-best resolution on top of both (x108), and the
  * declared-SQL rows whose CTEs [[Stages.sql]] materializes (x106, x110). */
class StageMaterializeSpec extends SparkSpec {

  private def withMode[A](m: String)(f: => A): A = {
    val old = sys.props.get("graft.stageMaterialize")
    sys.props("graft.stageMaterialize") = m
    try f finally old match {
      case Some(v) => sys.props("graft.stageMaterialize") = v
      case None    => sys.props -= "graft.stageMaterialize"
    }
  }

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).sorted.toSeq

  for (q <- Seq("x54_ngram_jaccard", "x75_components", "x108_keep_best",
                 "x106_bigram_lm", "x110_assoc_rules")) {
    test(s"$q is value-identical under local / reliable / table modes") {
      val local = withMode("local")(rows(q))
      assert(local.nonEmpty, s"$q returned no rows at $sfDir")
      assert(withMode("reliable")(rows(q)) == local, "reliable != local")
      assert(withMode("table")(rows(q)) == local, "table != local")
    }
  }

  test("default mode is local; unknown mode is rejected loudly") {
    assert(Stages.mode == "local" ||
      sys.props.contains("graft.stageMaterialize"))
    val e = intercept[IllegalArgumentException] {
      withMode("bogus")(Stages.materialize(spark.range(1).toDF()))
    }
    assert(e.getMessage.contains("stageMaterialize"))
  }

  test("table mode honors graft.stageDir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stagedir-")
    val old = sys.props.get("graft.stageDir")
    sys.props("graft.stageDir") = dir.toString
    try withMode("table") {
      val out = Stages.materialize(spark.range(5).toDF("n"))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
      val kids = java.nio.file.Files.list(dir)
      try assert(kids.iterator().hasNext, "no stage dir written under graft.stageDir")
      finally kids.close()
    } finally {
      old match {
        case Some(v) => sys.props("graft.stageDir") = v
        case None    => sys.props -= "graft.stageDir"
      }
    }
  }

  test("stage timings are numbered without stageExplainDir") {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    sys.props("graft.stageTimeLog") = "1"
    System.setErr(new java.io.PrintStream(buf, true))
    try (1 to 2).foreach(_ => Stages.materialize(spark.range(3).toDF()))
    finally { System.setErr(err); sys.props -= "graft.stageTimeLog" }
    val ns = """\[stage (\d+)\]""".r.findAllMatchIn(buf.toString)
      .map(_.group(1).toInt).toSeq
    assert(ns.size == 2 && ns.head > 0 && ns(1) == ns.head + 1, buf.toString)
  }
}
