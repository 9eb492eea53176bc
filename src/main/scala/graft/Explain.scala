package graft

/** Plan-inspection utility: prints the formatted physical plan for one or
  * all catalog queries. Usage: runMain graft.Explain <sfDir> [queryName] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).headOption
    val spark = GraftSession.local("graft-explain").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = only.map(Seq(_)).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
