package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query plus (optionally) the equivalent ANSI SQL the
  * driver runs in DuckDB over the same parquet tables. Column names and
  * value determinism must match exactly between the two (see
  * [[graft.relational.RelationalQueries]] notes on decimal-exact sums).
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

/** Loaders for the driver-provided test tables (TESTDATA.md).
  *
  * Tables are one parquet file per scale-factor directory. All reads go
  * through `spark.read.parquet` so Catalyst gets predicate pushdown and
  * column pruning for free on every query built on top.
  */
object Catalog {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings every entry point (Verify/Bench/tests) applies.
    * `nanosAsLong`: older driver testdata carried `events.ts` as
    * TIMESTAMP(NANOS), which Spark's reader otherwise rejects; with the
    * flag it reads as long and [[normalizeTs]] converts it back. Current
    * testdata writes `timestamp[us]` without timezone (TIMESTAMP_NTZ);
    * [[normalizeTs]] handles that too. The UTC session timezone makes
    * both conversions instant-preserving against the DuckDB oracle.
    */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // Write parquet timestamps as INT64 microseconds, never INT96
    // (deprecated) nanos: the SCD2 "open" sentinel 9999-12-31 overflows
    // int64 NANOSECONDS and wraps to 1816-03-29 on the INT96 path, so
    // any engine-written dimension that roundtrips through parquet
    // (i11) silently corrupts far-future event-horizon timestamps.
    // Micros hold every representable Spark timestamp exactly.
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** The local session every main builds: `local[n]` with n from
    * `SPARK_GRAFT_CPUS` (default: the machine's cores), as many shuffle
    * partitions as cores, the UI off, [[sessionConfs]], and WARN logs.
    * `extra` is applied last, so it overrides any of these.
    */
  def localSession(appName: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(sessionConfs)
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with session confs borrowed: each key is set to its
    * value, and when `body` returns or throws each is given back its
    * previous value, or unset if it had none. Nested scopes restore in
    * reverse order.
    */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Normalize a `ts` event-time column to TimestampType regardless of
    * how the driver's parquet encoded it. Schema-aware, so batch reads
    * (through [[t]]) and streaming reads (which must pin the schema up
    * front) share ONE conversion rule:
    *   - LongType           → int64 nanos (legacy `nanosAsLong` read):
    *                          floor to micros, `timestamp_micros`.
    *   - TimestampNTZType   → `timestamp[us]` without timezone: cast to
    *                          TimestampType (UTC session ⇒ same instant).
    *   - TimestampType      → already normalized, untouched.
    * Tables without a `ts` column pass through unchanged.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("cast(ts as timestamp)"))
      case _ => df
    }

  /** Rewrite TimestampType to TimestampNTZType recursively (through
    * struct/array/map). Spark's TimestampType writes parquet with
    * `isAdjustedToUTC=true`, so the driver's pandas read yields
    * `datetime64[us, UTC]` while the DuckDB oracle is tz-naive —
    * schema+hash mismatch on any query that dumps a raw timestamp
    * (this cost i11/st01/st03 in round 9). Under the UTC session the
    * NTZ cast is value-identical and parquet writes unadjusted INT64
    * micros, matching the oracle's `datetime64[us]` exactly.
    */
  private def ntzType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => TimestampNTZType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = ntzType(f.dataType))))
      case a: ArrayType  => a.copy(elementType = ntzType(a.elementType))
      case m: MapType    =>
        m.copy(keyType = ntzType(m.keyType), valueType = ntzType(m.valueType))
      case other => other
    }
  }

  /** Normalization every engine dump passes through (Verify wraps EVERY
    * registry query with this, so the tz law is structural — a future
    * operator emitting a raw TimestampType cannot reach the driver's
    * compare tz-adjusted). No-op on the (vast) majority of queries that
    * carry no timestamp columns: the plan is untouched unless a cast is
    * actually needed.
    */
  def dumpNormalize(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    if (fields.forall(f => ntzType(f.dataType) == f.dataType)) df
    else df.select(fields.map { f =>
      val t = ntzType(f.dataType)
      if (t == f.dataType) df(f.name)
      else df(f.name).cast(t).as(f.name)
    }.toIndexedSeq: _*)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }
}
