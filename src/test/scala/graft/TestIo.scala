package graft

import org.apache.spark.sql.DataFrame

import scala.jdk.CollectionConverters._

/** Shared fixture IO for the specs: driver-layout tables are ONE
  * parquet FILE named `<table>.parquet` (the streaming readers glob on
  * that exact name, so a directory-shaped write silently yields an
  * empty stream). One definition instead of a per-spec copy that could
  * drift on the naming contract.
  */
object TestIo {
  def writeSingleFile(df: DataFrame, dir: String, table: String): Unit =
    TempDirs.scoped("graft-single-part") { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no part file written for $table"))
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(dir, s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
}
