package org.apache.spark.sql.graft

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.Utils

/** Seams into Spark internals: parse-then-rewrite for the engine's OLTP
  * SQL path, and running work on another thread as the caller's.
  *
  * Why this package: the engine gives its read path SQLite expression
  * semantics (reference behavior: every user statement executes inside
  * SQLite itself, `db/src/db.rs:278`) by rewriting the PARSED logical
  * plan before analysis — `session.sql` parses and executes in one step,
  * with no public hook between the two. The parser and `Dataset.ofRows`
  * are `private[sql]`, hence this one deliberate shim next to
  * [[SessionFunctions]]. Everything else (the rewrite itself, the custom
  * expressions) is ordinary Catalyst extension material.
  */
object GraftSql {

  private def cs(session: SparkSession) =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Parse SQL text to an UNANALYZED logical plan (what `session.sql`
    * does first, without running it). */
  def parsePlan(session: SparkSession, sqlText: String): LogicalPlan =
    cs(session).sessionState.sqlParser.parsePlan(sqlText)

  /** Execute a (possibly rewritten) logical plan — the second half of
    * `session.sql`. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(cs(session), plan)

  /** Run `body` on `ec` as the calling thread would run it: with `session`
    * active, so `SQLConf.get` on the pool thread resolves to its conf, and
    * with a copy of the caller's SparkContext local properties (job group,
    * description, scheduler pool, job tags), so any job `body` starts is
    * attributed as the caller's would be. A pool thread otherwise keeps
    * whatever it inherited from the thread that created it.
    * `getLocalProperties`/`setLocalProperties` are `private[spark]`.
    *
    * Afterwards the thread gets its own properties back and NO active
    * session: restoring the session it inherited would keep that session
    * reachable for the pool's lifetime, even after it is stopped. */
  def onPool[T](session: SparkSession)(body: => T)(
      implicit ec: ExecutionContext): Future[T] = {
    val sc = session.sparkContext
    // one copy per task: Spark sets per-thread keys (the SQL execution id)
    // on these properties, and tasks must not share them
    val props = Utils.cloneProperties(sc.getLocalProperties)
    val active = org.apache.spark.sql.classic.SparkSession
    Future {
      val priorProps = sc.getLocalProperties
      active.setActiveSession(cs(session))
      sc.setLocalProperties(props)
      try body
      finally {
        sc.setLocalProperties(priorProps)
        active.clearActiveSession()
      }
    }
  }
}
