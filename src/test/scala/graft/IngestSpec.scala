package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Ingest-format surface (sources/IngestQueries): the format contracts
  * the oracle gate can't see — partition pruning in the physical plan,
  * quote-escaping on hostile field values, and the gzip single-task
  * caveat documented on i01.
  */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("i03 lake read prunes non-matching lang partitions from the scan") {
    val p = SparkEntry.queries("i03_partitioned_lake")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"partition filter must bind lang: $pf")
  }

  test("CSV roundtrip survives hostile field values (quotes, delimiters, unicode)") {
    import spark.implicits._
    val hostile = Seq(
      (1L, """comma, inside"""),
      (2L, """says "hi" loudly"""),
      (3L, """quoted "then, comma""""),
      (4L, "tab\tand trailing space "),
      (5L, "中文 und ümlaut"),
      (6L, "")).toDF("id", "v")
    val dir = TempDirs.create("graft-ingest-csv")
    // whitespace preservation is opt-in: the univocity writer/parser trim
    // trailing whitespace by default (same flags set in i02's path)
    hostile.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(dir)
    val back = spark.read
      .schema(StructType(Seq(StructField("id", LongType), StructField("v", StringType))))
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(dir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    val want = hostile.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back === want)
  }

  test("avro and xml roundtrips survive hostile field values " +
    "(entities, markup, unicode, empties)") {
    import spark.implicits._
    // XML's hazard set: entity chars and markup-looking text; avro's:
    // raw binary-ish unicode. One hostile corpus exercises both.
    val hostile = Seq(
      (1L, "a & b < c > d"),
      (2L, "<doc>not a row</doc>"),
      (3L, "]]> cdata terminator"),
      (4L, "quote \" apos ' backslash \\"),
      (5L, "中文 und ümlaut émoji"),
      (6L, "")).toDF("id", "v")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val want = hostile.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val avroDir = TempDirs.create("graft-ingest-avro")
    val avro = "org.apache.spark.sql.avro.AvroFileFormat"
    hostile.write.mode("overwrite").format(avro).save(avroDir)
    val backAvro = spark.read.schema(schema).format(avro).load(avroDir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    assert(backAvro === want)

    val xmlDir = TempDirs.create("graft-ingest-xml")
    hostile.write.mode("overwrite").option("rowTag", "doc")
      .format("xml").save(xmlDir)
    val backXml = spark.read.schema(schema).option("rowTag", "doc")
      .format("xml").load(xmlDir)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    assert(backXml === want)
  }

  test("gzip JSONL reads back identically (per-file tasks, documented non-splittable)") {
    val docs = Catalog.t(spark, sf, "documents")
    val dir = TempDirs.create("graft-ingest-gz")
    docs.write.mode("overwrite").option("compression", "gzip").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() === docs.count())
    val a = back.agg(sum(length(col("text")))).head.getLong(0)
    val b = docs.agg(sum(length(col("text")))).head.getLong(0)
    assert(a === b)
  }

  test("compaction rewrites a sliver layout to ceil(bytes/target) files " +
    "with identical content") {
    import graft.sources.IngestQueries
    val sliver = TempDirs.create("graft-compact")
    val docs = Catalog.t(spark, sf, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(sliver)
    import scala.jdk.CollectionConverters._
    def parts(dir: String) = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
    assert(parts(sliver) === 64)
    val n = IngestQueries.compactionTargetParts(spark, sliver, 4L << 20)
    val compact = TempDirs.create("graft-compact2")
    spark.read.parquet(sliver).repartition(n)
      .write.mode("overwrite").parquet(compact)
    assert(parts(compact) === n)
    assert(n < 64, s"sf0.001 documents must compact below 64 parts, got $n")
    val a = spark.read.parquet(compact).agg(sum(col("doc_id"))).head.getLong(0)
    val b = docs.agg(sum(col("doc_id"))).head.getLong(0)
    assert(a === b)
  }

  test("i01 JSONL read uses the explicit schema (no inference pass)") {
    // A malformed extra file in the dir must not break the typed read of
    // well-formed parts when the schema is explicit and mode=PERMISSIVE:
    // corrupt lines become nulls, not a failed inference scan.
    val dir = TempDirs.create("graft-ingest-schema")
    Catalog.t(spark, sf, "documents").limit(10).write.mode("overwrite").json(dir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-bad.json"), "{not json at all\n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val back = spark.read.schema(schema).json(dir)
    assert(back.filter(col("doc_id").isNotNull).count() === 10)
  }

  test("i09 zone-map manifest comes from footers, prunes files, and the " +
    "pruned read equals the full-scan filter") {
    val out = TempDirs.create("graft-zm")
    val li = Catalog.t(spark, sf, "lineitem")
      .select(expr("unix_millis(cast(l_shipdate as timestamp))").as("ms"),
        col("l_orderkey"))
    li.repartitionByRange(8, col("ms")).sortWithinPartitions(col("ms"))
      .write.mode("overwrite").parquet(out)
    val manifest = graft.sources.IngestQueries.zoneMapManifest(spark, out, "ms")
    assert(manifest.size === 8)
    // range layout: per-file spans are disjoint once sorted
    val spans = manifest.map(m => (m._2, m._3)).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ =>
    }
    // a one-year window must actually skip files on 7 years of data
    val lo = java.time.LocalDate.of(1996, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val hi = java.time.LocalDate.of(1997, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val kept = manifest.collect {
      case (p, mn, mx) if mx >= lo && mn < hi => p
    }
    assert(kept.nonEmpty && kept.size < manifest.size,
      s"expected real pruning, kept ${kept.size}/${manifest.size}")
    val schema = StructType(Seq(
      StructField("ms", LongType), StructField("l_orderkey", LongType)))
    val pruned = spark.read.schema(schema).parquet(kept: _*)
      .filter(col("ms") >= lo && col("ms") < hi)
      .agg(count(lit(1)), sum("l_orderkey")).head
    val full = li.filter(col("ms") >= lo && col("ms") < hi)
      .agg(count(lit(1)), sum("l_orderkey")).head
    assert(pruned === full)
  }

  test("rescalePlan spans partition every key-group exactly once and " +
    "agree with the closed-form owner function") {
    import graft.core.codec.KeyGroups
    val plan = graft.state.StateMaintenance
      .rescalePlan(spark, 128, 4, 6).collect()
    assert(plan.map(_.getLong(4)).sum === 128)
    // each kg appears in exactly one span, owned by the right new subtask
    val owned = plan.flatMap { r =>
      (r.getLong(2) to r.getLong(3)).map { kg =>
        assert(KeyGroups.operatorIndexForKeyGroup(128, 6, kg.toInt)
          === r.getLong(1).toInt, s"kg $kg owner")
        assert(KeyGroups.operatorIndexForKeyGroup(128, 4, kg.toInt)
          === r.getLong(0).toInt, s"kg $kg old owner")
        kg
      }
    }
    assert(owned.sorted.toSeq === (0L until 128L))
    // identity rescale moves nothing
    val same = graft.state.StateMaintenance
      .rescalePlan(spark, 128, 4, 4).collect()
    assert(same.length === 4 && same.forall(!_.getBoolean(5)))
  }
}
