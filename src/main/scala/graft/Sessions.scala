package graft

import org.apache.spark.sql.SparkSession

/** Shared session wiring for the driver-contract mains (Verify/Bench) and
  * the dev mains (DevProbe/PlanDump/CodegenDump), all of which honour
  * SPARK_GRAFT_MASTER.
  *
  * `local-cluster[...]` masters launch executors as SEPARATE JVMs from
  * SPARK_HOME, which know nothing about this application's classes: any
  * query using a graft Catalyst expression, typed Aggregator or closure
  * then dies on executor-side deserialization (SerializedLambda /
  * ClassNotFoundException) while pure-SQL queries — whose generated code
  * ships as Janino source — keep working, a silently PARTIAL failure
  * mode. Ship the app classpath to executors whenever the master is a
  * local-cluster, plus an executor-memory knob (SPARK_GRAFT_EXEC_MEM). */
private[graft] object Sessions {
  /** Sets BOTH `.master(master)` and the cluster wiring from one string,
    * so a call site can never wire the classpath against a different
    * master than the one the session runs (the drift that caused the
    * original silently-partial bench). */
  def withMaster(b: SparkSession.Builder, master: String): SparkSession.Builder = {
    val m = b.master(master)
    if (master.startsWith("local-cluster"))
      m.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
    else m
  }
}
