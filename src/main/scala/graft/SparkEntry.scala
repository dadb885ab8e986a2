package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by the packs under `graft.queries`; each is a
  * [[QueryDef]] pairing the Spark implementation with a DuckDB oracle SQL
  * over the same parquet tables.
  */
object SparkEntry {

  def packs: Seq[QueryDef] =
    _root_.graft.queries.RelationalPack.all ++
      _root_.graft.queries.TextDedupPack.all ++
      _root_.graft.queries.GraphPack.all ++
      _root_.graft.queries.CrawlPack.all ++
      _root_.graft.queries.AssemblyPack.all ++
      _root_.graft.queries.LinkagePack.all ++
      _root_.graft.queries.TokenizerPack.all ++
      _root_.graft.queries.SafetyPack.all ++
      _root_.graft.queries.CurationPack.all ++
      _root_.graft.queries.EtlPack.all ++
      _root_.graft.queries.StreamingPack.all ++
      _root_.graft.queries.VectorPack.all ++
      _root_.graft.queries.MultimodalPack.all ++
      _root_.graft.queries.TemporalPack.all ++
      _root_.graft.queries.TrainingPack.all ++
      _root_.graft.queries.ChangeDataPack.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 6-way broadcast-heavy revenue-by-nation join (TPC-H Q5-style).
    */
  def entry(spark: SparkSession): DataFrame =
    byName("q07_revenue_by_nation").run(spark, "/root/testdata/sf0.001")

  private lazy val index: Map[String, QueryDef] =
    packs.map(q => q.name -> q).toMap

  def byName(name: String): QueryDef = index(name)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    index.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    packs.map(q => q.name -> q.oracle).toMap
}
