package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = Catalog.localSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    import Json.{quote => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // write the oracle map FIRST: a hung/killed query run must not cost
    // the driver every already-dumped result
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // dumpNormalize: tz-naive timestamps at the dump boundary, engine-
      // wide — see Catalog.dumpNormalize scaladoc (round-9 i11/st01/st03).
      try Catalog.dumpNormalize(fn(spark, sfDir)).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Completeness guard: a query that throws must NOT vanish silently
    // from the correctness gate (round 7 lost 16 queries this way — the
    // driver's CORRECTNESS file simply omitted them). Every failure is
    // recorded in errors.json next to the dumps so the gap between
    // "registry declares" and "dump produced" is a visible artifact, and
    // the run ends with a loud stderr summary. RegistryCompletenessSpec
    // is the red CI gate for the same condition; Verify itself still
    // exits 0 so one bad query cannot cost the driver the other dumps.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] INCOMPLETE: ${failed.size} of " +
        s"${SparkEntry.queries.size} queries FAILED to dump: " +
        failed.keys.mkString(", "))
    else
      System.err.println(s"[verify] complete: all dumps written")
    spark.stop()
  }
}
