package graft

import org.apache.spark.sql.SparkSession

/** One local session shared by every suite in the JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        TempDirs.create("graft-wh"))
      .config(Catalog.sessionConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `f` with the savepoint scan's split target
    * (`spark.sql.files.maxPartitionBytes`) at `bytes`, then restores it.
    */
  def withMaxPartitionBytes[A](bytes: Long)(f: => A): A =
    Catalog.withConfs(spark, "spark.sql.files.maxPartitionBytes" -> bytes.toString)(f)
}
