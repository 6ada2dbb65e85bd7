package graft.tools

import graft.{LocalSpark, SparkEntry}

/** Plan inspection: prints the formatted physical plan for one or more
  * registry queries. Usage:
  *   sbt "runMain graft.tools.Explain <sfDir> <query> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
