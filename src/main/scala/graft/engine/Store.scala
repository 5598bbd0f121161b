package graft.engine

import org.apache.spark.sql.SparkSession

/** Read-consistency level for queries (rqlite's none/weak/strong vocabulary;
  * SURVEY §3.2 maps them onto snapshot-version selection — see the
  * level-taking overload of GraftDb.query). */
sealed trait ReadLevel
object ReadLevel {
  case object None extends ReadLevel
  case object Weak extends ReadLevel
  case object Strong extends ReadLevel
  def parse(s: String): Option[ReadLevel] = s.trim.toLowerCase match {
    case "none" => Some(None)
    case "weak" => Some(Weak)
    case "strong" => Some(Strong)
    case _ => scala.None
  }
}

/** The cluster surface `/status` reports — the analog of the reference's
  * `store::RaftControl` (`store/src/lib.rs:7-28`). Membership itself
  * (the reference's join/remove, Raft conf-change) is owned by Spark's
  * resource manager (dynamic executor membership — SURVEY.md §2.1 A16),
  * so only the read side exists here. */
trait ClusterControl {
  def leaderId: String
  def members: Seq[String]
}

final class SparkClusterControl(spark: SparkSession) extends ClusterControl {
  /** The Spark driver plays the leader role (single writer, owns the plan). */
  override def leaderId: String = spark.sparkContext.applicationId
  override def members: Seq[String] = {
    val sc = spark.sparkContext
    sc.statusTracker.getExecutorInfos.map(_.host()).toSeq
  }
}
