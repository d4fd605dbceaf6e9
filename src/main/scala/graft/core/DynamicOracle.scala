package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Oracle SQL computed DURING a gate's build — for gates whose DuckDB replay
  * needs literals that only exist once the gate has run: a trained PCA basis,
  * k-means centroids, or a session-tagged artifact path. The driver contract
  * runs every query BEFORE dumping `SparkEntry.oracleSql` (see
  * [[graft.Verify]]), so SQL registered here from inside a gate's build
  * function is present at dump time; a gate that never ran contributes no
  * entry and the driver falls back to the rows-only check — exactly the
  * behavior of a static `None` oracle.
  *
  * What this verifies (and what it doesn't): the embedded literals are the
  * DRIVER-computed model, taken on faith by the gate and pinned by ScalaTest
  * invariants (orthonormality, variance capture, own-centroid-nearest); what
  * the oracle then hash-verifies end to end is the DISTRIBUTED application of
  * that model over the corpus — the projection kernels, assignment argmax,
  * joins, and fold orders, replayed independently by DuckDB.
  */
object DynamicOracle {
  private val sqls = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Register (or replace) the oracle SQL for `name`. Last write wins — a
    * re-run gate re-registers with its freshly trained literals.
    */
  def put(name: String, sql: String): Unit = sqls.put(name, sql)

  def all: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    sqls.asScala.toMap
  }

  /** A correctly-rounded DOUBLE literal: quoted-string cast, because a bare
    * SQL decimal literal parses as DECIMAL and double-rounds (one ulp off
    * Java's strtod on some values).
    */
  def dbl(d: Double): String = s"CAST('${d.toString}' AS DOUBLE)"

  /** A gate's result as the `rows` it collected from `out` to embed as
    * oracle literals: the oracle then checks exactly the rows the gate
    * returns, and the query does not run a second time.
    */
  def collected(out: DataFrame, rows: Array[Row]): DataFrame =
    out.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
}
