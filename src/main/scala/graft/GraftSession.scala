package graft

import org.apache.spark.sql.SparkSession

/** Session factory + runtime tuning for the graft engine.
  *
  * Reference semantics pinned here (see SURVEY.md §7.4):
  *   - `spark.sql.ansi.enabled=false`: the reference relies on silent
  *     null-on-bad-cast (`spark_airports_final.py:56,59` in the reference)
  *     and PERMISSIVE `from_json`; Spark 4 defaults ANSI on, which would
  *     throw instead.
  *   - UTC session timezone: DuckDB-oracle parity for timestamp math.
  *   - AQE on: runtime shuffle coalescing / skew-join handling — the
  *     scale-out path for the 100 TB target.
  *   - 32 shuffle partitions: matches local[32]; on a real cluster this is
  *     overridden by AQE + `spark.sql.shuffle.partitions` at submit time.
  */
object GraftSession {

  /** Runtime confs every graft query assumes. Safe to call on a session
    * [[local]] did not build; only session confs that are settable at
    * runtime go here.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    c.set("spark.sql.ansi.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // 10 MB default is conservative; dims (region/nation/supplier/part at
    // test SFs) are tiny and must broadcast. At 100 TB the dims are still
    // small relative to facts — this threshold scales.
    c.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    // events.parquet stores TIMESTAMP(NANOS); Spark reads it as long under
    // this flag (Tables.events then truncates ns→µs like DuckDB does). Set
    // here — not in the loader — so loaders never mutate session state.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Union.rewriteConstraints crashes ("key not found: <attr>") when a
    // filter constraint over a custom deterministic expression is
    // alias-chased through a self-union of the same scan (q57 shape; the
    // old HOF formulation dodged it only because lambda-bearing constraints
    // are excluded from inference). The inferred-IsNotNull/transitive
    // predicates this disables are marginal for these plans — every join
    // key here is explicitly filtered or dimension-broadcast.
    c.set("spark.sql.constraintPropagation.enabled", "false")
    // Whole-stage classes are cached by source text; with the stage id in
    // the class name, an identical stage body that AQE renumbers compiles
    // again. Without it the body hits the codegen cache.
    c.set("spark.sql.codegen.useIdInClassName", "false")
    spark
  }

  /** Cores for a local session: `$SPARK_GRAFT_CPUS`, else this host's
    * processors capped at 32. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors.min(32))

  /** The one session builder: every graft main, the tests and the
    * benchmark harness get their session here, so they all run under the
    * same confs. */
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // managed tables (bucketed-write tests) land in a scratch dir, never
      // the working tree
      .config("spark.sql.warehouse.dir", Stage.scratch("graft-warehouse-").toString)
      // static conf, default 100: a many-query session with multi-stage
      // plans evicts its own generated classes and re-compiles mid-run
      // (measured: q30 3.9 s in the Bench fleet vs 0.6-1.0 s warm alone)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // creation-time only: with isolation on, every session clone binds its
      // own executor classloader, which re-keys the codegen cache per clone
      .config("spark.sql.artifact.isolation.enabled", "false")
      // file: metadata through java.nio, not a forked chmod/readlink/ls per
      // call (NioLocal.scala); spark.hadoop.* reaches every Hadoop conf the
      // session, its clones and its tasks build
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
