package graft

/** Plan auditor: prints `explain("formatted")` for the named queries (or
  * all). Usage: `sbt "runMain graft.Explain <sfDir> [name ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = Catalog.localSession("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registry
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try q.run(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
