package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.query.Relational
import graft.registry._

/** Driver contract — see SURVEY.md §7.
  *
  * Every query is declared once, as a [[graft.registry.QueryDef]] in its
  * family's file under `graft.registry`. The three maps below are views
  * derived once from those defs:
  *   - `queries`: every name → its program (481);
  *   - `oracleSql`: every oracle-backed name → its DuckDB SQL (477),
  *     hash-compared by the driver at sf0.01;
  *   - `noOracleByDesign`: the names without an oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** Duplicate-detecting Map constructor for the views below. A Scala
    * `Map("k" -> a, "k" -> b)` silently keeps the LAST pair — which once
    * shadowed an entire query behind another implementation (the
    * `sample_weighted` incident, BASELINE.md). `reg` makes that class of
    * bug impossible: a name declared twice, in one family file or in
    * two, fails loudly at first use, i.e. in every test, Verify and
    * Bench run. */
  private[graft] def reg[V](pairs: (String, V)*): Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate registry keys (later pair would shadow the earlier): ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  private lazy val defs: Seq[QueryDef] = Seq(
    RelationalDefs.defs, MlDefs.defs, GraphDefs.defs, TextDefs.defs,
    DedupDefs.defs, AnnDefs.defs, StreamDefs.defs, WarehouseDefs.defs,
    StatsDefs.defs, MultimodalDefs.defs).flatten

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    reg(defs.map(d => d.name -> d.run): _*)

  /** For each oracle-backed query, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. Its iteration order (a hash map
    * over these keys) is the byte order of Verify's `oracle_sql.json`. */
  lazy val oracleSql: Map[String, String] =
    reg(defs.flatMap(d => d.oracle.map(d.name -> _)): _*)

  /** The queries with no DuckDB oracle (rows-only check by the driver):
    * the RandomForest-backed programs, since DuckDB cannot replay Spark
    * MLlib's trained forest. RegistrySpec pins this set to a literal, so
    * a fifth member cannot land silently. */
  private[graft] lazy val noOracleByDesign: Set[String] =
    queries.keySet -- oracleSql.keySet
}
