package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built by the engine's
  * own [[graft.engine.Graft.session]] so specs run with its settings (the
  * codegen cache size among them).
  *
  * `spark.sql.codegen.fallback=false` makes Janino/codegen defects in custom
  * Expressions hard failures in tests instead of silent interpreted-eval
  * slowdowns (the production default tolerates fallback).
  */
object SparkT {
  lazy val spark: SparkSession = {
    val s = graft.engine.Graft.session("graft-test", "local[4]", 4,
      Map("spark.sql.codegen.fallback" -> "false"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
