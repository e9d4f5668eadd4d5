package graft

import org.apache.spark.sql.SparkSession

/** Plan inspection helper: prints `explain("formatted")` for the named
  * queries (or all). Usage: runMain graft.Explain <sfDir> [name ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.all.map(_.name)
    // the CANONICAL session config and core count (r14): captured plans
    // must reflect the bench/production session — scale-adaptive
    // operators (Spread.across) plan differently at different session
    // widths by design, and a privately-configured session here silently
    // diverged from GraftSession when r14 added an optimizer-rule
    // exclusion
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
