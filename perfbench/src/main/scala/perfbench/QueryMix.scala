package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.nio.file.{Files, Path}

/** `query_mix`: registry queries through the `noop` sink, the path the
  * repository's `graft.Bench` times, on copies of the repository's parquet
  * test tables kept in `perfbench/data` (see [[QueryMix.Queries]]).
  * The savepoint layers do almost nothing here; Spark planning and
  * scheduling, single-split inputs and cache/checkpoint materialization
  * dominate. One iteration runs every query once in a seed-permuted
  * order, with the cache cleared and a GC between queries outside the
  * timed region. The warm-up pass checks each query's row count and
  * content fingerprint against the values recorded for these tables;
  * the timed passes check the row count, observed on the way into the
  * sink.
  */
final class QueryMix(spark: SparkSession, seed: Long, data: Path) extends Workload {
  import QueryMix._

  private var dir: String = _
  private var rows: Map[String, Long] = Map.empty
  private var warm = true
  private val order = new scala.util.Random(seed).shuffle(Queries)
  private val retained = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var shuffleBytes = Seq.empty[Double]

  // shuffle bytes written by each pass, for bytes_per_record
  private val counter = new org.apache.spark.scheduler.SparkListener {
    @volatile var bytes = 0L
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) bytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
  }
  spark.sparkContext.addSparkListener(counter)

  def build(d: Path): Unit = {
    copyTables(data, d)
    dir = d.toString
    rows = Tables.map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
  }

  private def records(q: Query): Long = q.tables.map(t => rows(s"${q.sf}/$t")).sum

  def iteration(s: Steps): Unit = {
    val b0 = counter.bytes
    order.foreach { case Query(name, sf, _) =>
      val q = graft.SparkEntry.queries(name)
      val in = s"$dir/$sf"
      val want = Expected(name)
      if (warm) s.step(s"q.$name") {
        val (n, fp) = fingerprint(q(spark, in))
        s.checkEq(n, want._1, s"$name rows")
        s.checkEq(fp, want._2, s"$name fingerprint")
      } else s.step(s"q.$name") {
        val seen = new Observation(s"rows_$name")
        q(spark, in).observe(seen, count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
        s.checkEq(seen.get("n"), want._1, s"$name rows")
      }
      retained(name) = Main.storageMb(spark)
      Main.settle(spark)
    }
    if (!warm) shuffleBytes = shuffleBytes :+ (counter.bytes - b0).toDouble
    warm = false
  }

  override def retainedMb(spark: SparkSession): Double = retained.values.sum

  def recordsPerIteration: Double = Queries.map(records).sum.toDouble

  /** Shuffle bytes written per input record. */
  def bytesPerRecord: Double = Main.median(shuffleBytes) / recordsPerIteration

  def layers(t: Tracer, iter: Span, cores: Int): Map[String, Double] = {
    val mine = t.spans.filter(s => s.iter == iter.iter && s.parent == iter.id)
    val perQuery = mine.flatMap { s =>
      val name = s.name.stripPrefix("q.")
      val tot = t.totals(s)
      Seq(s"q.$name.wall_s" -> s.wallS,
        s"q.$name.single_task_share" -> tot.maxTaskMs / 1000.0 / s.wallS,
        s"q.$name.retained_mb" -> retained.getOrElse(name, 0.0))
    }
    val fams = mine.groupBy(s => family(s.name.stripPrefix("q.")))
      .map { case (f, ss) => s"fam.${f}_s" -> ss.map(_.wallS).sum }
    (perQuery ++ fams).toMap
  }
}

object QueryMix {
  /** A registry query, the scale factor of the test tables it runs on
    * and the tables it reads (for records_per_s).
    */
  final case class Query(name: String, sf: String, tables: Seq[String])

  /** The mix, grouped by the layer each query stresses, at least one per
    * group, trimmed to fit the run length: single-split and per-row
    * kernels (t12, d22), iterative operators and materialization (g01),
    * micro-batch machinery (st15), relational control (q01). t12 and d22
    * run on the 5,000 documents of scale factor 0.1, where one task holds
    * most of their wall time; the others run at scale factor 0.01.
    */
  val Queries: Seq[Query] = Seq(
    Query("t12_char_ngrams", "sf0.1", Seq("documents")),
    Query("d22_lsh_tuning", "sf0.1", Seq("documents")),
    Query("g01_pagerank", "sf0.01", Seq("documents")),
    Query("st15_stream_jsonl_ingest", "sf0.01", Seq("documents")),
    Query("q01_pricing_summary", "sf0.01", Seq("lineitem")))

  /** Every table the mix reads, as `<sf>/<name>`: one parquet file each,
    * copied unchanged from the repository's test tables.
    */
  val Tables: Seq[String] = Queries.flatMap(q => q.tables.map(t => s"${q.sf}/$t")).distinct.sorted

  /** Copies the tables into `dir` in the layout the queries expect:
    * `<dir>/<sf>/<name>.parquet`.
    */
  def copyTables(data: Path, dir: Path): Unit =
    Tables.foreach { t =>
      val to = dir.resolve(s"$t.parquet")
      Files.createDirectories(to.getParent)
      Files.copy(data.resolve(s"$t.parquet"), to)
    }

  def family(q: String): String = q.takeWhile(_.isLetter)

  val Families: Seq[String] = Queries.map(q => family(q.name)).distinct

  /** Row count and an order-insensitive content hash. Floating-point
    * columns are rounded to 10 significant digits first, so a change
    * in summation order does not read as a different result.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** Rows and fingerprint per query, recorded on these tables at a tree
    * where every query matched its DuckDB oracle.
    */
  lazy val Expected: Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream("/query_mix_expected.tsv")
    require(in != null, "query_mix_expected.tsv is missing from the classpath")
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
    lines.filter(_.nonEmpty).map { l =>
      val Array(name, rows, fp) = l.split("\t")
      name -> (rows.toLong, fp)
    }.toMap
  }

  /** Prints the rows and fingerprint of every query, run twice on two
    * fresh copies of the tables, and flags any query whose fingerprint
    * differs. Usage: `Record <datadir> <workdir>`; the output is the
    * expected-values file.
    */
  def record(spark: SparkSession, data: Path, work: Path): Seq[String] = {
    val runs = (1 to 2).map { i =>
      val d = work.resolve(s"record-$i")
      copyTables(data, d)
      Queries.map { case Query(name, sf, _) =>
        val r = fingerprint(graft.SparkEntry.queries(name)(spark, d.resolve(sf).toString))
        Main.settle(spark)
        name -> r
      }.toMap
    }
    Queries.map(_.name).map { name =>
      val (a, b) = (runs(0)(name), runs(1)(name))
      if (a != b) System.err.println(s"[perfbench] $name fingerprint differs between runs: $a vs $b")
      s"$name\t${a._1}\t${a._2}"
    }
  }
}

/** Records the expected query_mix values (see [[QueryMix.record]]). */
object Record {
  def main(args: Array[String]): Unit = {
    val data = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val work = java.nio.file.Paths.get(args(1)).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), work)
    QueryMix.record(spark, data, work).foreach(println)
    spark.stop()
  }
}
