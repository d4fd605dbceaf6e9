package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryDef, Sessions, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or the
  * north-star extensions); [[oracleSql]] carries the DuckDB-equivalent SQL for
  * every query whose semantics are SQL-expressible. Query definitions live in
  * graft.queries.* next to the operators they exercise.
  */
object SparkEntry {

  private def modules: Seq[Map[String, QueryDef]] = Seq(
    graft.queries.Relational.defs,
    graft.queries.Quality.defs,
    graft.queries.Text.defs,
    graft.queries.Vector.defs,
    graft.queries.Stream.defs,
    graft.queries.Medallion.defs,
    graft.queries.Storage.defs,
    graft.queries.Extra.defs,
    graft.queries.Analytics.defs,
    graft.queries.Cleaning.defs)

  private lazy val all: Map[String, QueryDef] =
    modules.foldLeft(Map.empty[String, QueryDef]) { (acc, m) =>
      require(acc.keySet.intersect(m.keySet).isEmpty,
        s"duplicate query names: ${acc.keySet.intersect(m.keySet)}")
      acc ++ m
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Sessions.tune(spark)
    all("q1_agg").build(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. A driver may
    * pass a session it built itself: `Sessions.tune` installs the engine on
    * it once, and is a no-op on a `Sessions.local` session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) =>
      name -> ((s: SparkSession, dir: String) => { Sessions.tune(s); qd.build(s, dir) })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops (sketches,
    * approximate algorithms) → driver records a weaker rows-only check.
    * Static per-query SQL is unioned with [[graft.core.DynamicOracle]]
    * registrations (gates whose replay embeds literals computed during the
    * run — trained models, session-tagged paths); queries run before the
    * dump, so dynamic entries are present exactly when their gate ran.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, QueryDef(_, Some(sql))) => name -> sql } ++
      graft.core.DynamicOracle.all.filter { case (name, _) => all.contains(name) }
}
