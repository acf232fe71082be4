package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: print a declared query's formatted physical plan (the
  * ".explain and iterate" loop). Usage:
  * `runMain graft.tools.ExplainQuery <sfDir> <query> [query...]`. */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    require(new java.io.File(sfDir).isDirectory,
      s"first arg must be an sf data dir, got '$sfDir'")
    val names = args.drop(1)
    require(names.nonEmpty, "usage: ExplainQuery <sfDir> <query> [query...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.EngineConf.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (n <- names) {
      println(s"===== $n =====")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
