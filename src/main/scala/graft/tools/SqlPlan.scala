package graft.tools

/** Dialect EXPLAIN from the command line: runs each `;`-separated
  * statement of args(0) through a fresh [[graft.sql.SqlEnv]] (testdata
  * registered from args(1), default sf0.001) and prints every result —
  * so plan audits of DIALECT paths (INSERT sources, views, EXPLAIN
  * details) are reproducible without writing a throwaway main.
  *
  * Example:
  * {{{
  * sbt 'runMain graft.tools.SqlPlan "CREATE TABLE t (...) WITH (...);
  *   EXPLAIN INSERT INTO t SELECT ..."'
  * }}}
  */
object SqlPlan {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SqlPlan \"<stmt>[; <stmt>...]\" [sfDir]")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(8)
    val env = graft.sql.SqlEnv(spark).registerTestdata(sfDir)
    graft.sql.Ddl.splitTopLevelSemi(args(0)).foreach { stmt =>
      println(s"\n===== $stmt =====")
      env.executeSql(stmt).collect().foreach(r => println(r.mkString("\n")))
    }
    spark.stop()
  }
}
