package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Count-min sketch over the md5-parity hash family — the frequency
  * member of the oracle-exact sketch trio (HLL [[HllMd5]] for
  * cardinality, KMV [[KmvSketch]] for set overlap, CMS for per-key
  * counts; Cormode & Muthukrishnan, J. Algorithms 2005). Where
  * [[graft.expressions.CountMinAgg]] runs the engine-internal FNV family
  * (fine when a second exact pass removes overestimates, q104), this
  * family is DuckDB-REPRODUCIBLE: base hash = first 15 hex chars of
  * md5 (60 bits), row functions = fixed affine maps
  * `((aᵢ·(h mod P) + bᵢ) mod P) mod width`, P = 2³¹−1 — every counter
  * and every estimate replays in SQL from the raw keys, so a gate can
  * hash-check the sketch itself, not just trust its error bound.
  *
  * Overflow exactness: h mod P < 2³¹ and aᵢ < 2¹⁷, so every product
  * stays far under 2⁶², and counters are plain BIGINT sums — both
  * engines do the identical integer arithmetic.
  *
  * Scale shape: the sketch is `depth × width` longs per group (16 KB at
  * the 4×512 default) regardless of key cardinality — the same
  * fixed-state contract as the HLL registers; partial sketches merge by
  * element-wise addition (sums commute, so neither partition order nor
  * the micro-batch order of a stream
  * ([[graft.streaming.EventStreams.freqSketchCms]]) can change a
  * counter).
  */
object CmsMd5 {

  val P: Long = 2147483647L // 2^31 - 1

  /** Fixed affine row functions (depth 4). These literals are embedded
    * verbatim in oracle SQL — changing them breaks every CMS gate.
    */
  val A: Array[Long] = Array(1103L, 12289L, 52379L, 94321L)
  val B: Array[Long] = Array(7919L, 104729L, 130363L, 55987L)

  val Depth: Int = A.length

  def bucketOfHash(h: Long, di: Int, width: Int): Int =
    (((A(di) * (h % P) + B(di)) % P) % width).toInt

  /** Scalar add, the aggregation buffer update of `cms_md5_agg`. Counter
    * layout is row-major: row di occupies `[di*width, (di+1)*width)`.
    */
  def addHash(counts: Array[Long], width: Int, h: Long): Unit = {
    var di = 0
    while (di < Depth) {
      counts(di * width + bucketOfHash(h, di, width)) += 1L
      di += 1
    }
  }

  /** Scalar estimate: the row-wise minimum counter — never an
    * underestimate, over by at most the collision mass.
    */
  def estimateHash(counts: Array[Long], width: Int, h: Long): Long = {
    var min = Long.MaxValue
    var di = 0
    while (di < Depth) {
      val c = counts(di * width + bucketOfHash(h, di, width))
      if (c < min) min = c
      di += 1
    }
    min
  }

  def addKey(counts: Array[Long], width: Int, key: String): Unit =
    addHash(counts, width, graft.expressions.MinHashSigMd5.h60(key))

  def estimateKey(counts: Array[Long], width: Int, key: String): Long =
    estimateHash(counts, width, graft.expressions.MinHashSigMd5.h60(key))

  /** Column-side probe: the estimate for `keyCol` against a sketch
    * array column (as produced by `cms_md5_agg`) — the same affine
    * arithmetic as Column expressions, so probing is a codegen
    * projection, no UDF.
    */
  def estimateCol(sketch: Column, keyCol: Column, width: Int): Column = {
    val h = HllMd5.h60(keyCol)
    val terms = (0 until Depth).map { di =>
      val bucket = (lit(A(di)) * (h % lit(P)) + lit(B(di))) % lit(P) % lit(width)
      element_at(sketch, (lit(di * width) + bucket + lit(1)).cast("int"))
    }
    least(terms: _*)
  }
}
