package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.{Codecs, PerceptualHash}

/** Dev probe for the q252 claim "incremental perceptual dedup costs
  * follow the BATCH, not the corpus": for each corpus multiplier M it
  * synthesizes 50·M images (the q252 generator over M disjoint seed
  * shards), ingests ONCE per scale (hashes + band_key-sorted index,
  * untimed — production amortizes ingest across every later batch), then
  * times two things against a FIXED 34-image batch:
  *
  *   - `incremental`: [[PerceptualHash.incrementalNearDupPairs]] — the
  *     q252 path (batch hashes + pushed-key index probe + verify);
  *   - `batch-all-pairs`: re-hashing nothing but running
  *     [[PerceptualHash.nearDupPairs]] over corpus ∪ batch hashes — the
  *     non-incremental alternative a naive pipeline would run per shard.
  *
  * The claim holds when the incremental column stays flat as M grows
  * while the all-pairs column grows with the corpus. Min of 2 cold
  * passes (cache cleared) per cell, one warmed JVM.
  *
  * Dev tool — not part of the shipped library surface.
  */
object IncrementalPerceptualProbe {

  private val W = 36; private val H = 32

  private def stdPx(k: Int, pert: Int): Array[Byte] = {
    val gray = new Array[Byte](W * H)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        var v = 16 + ((x * y + k * (x + 2 * y) + k * k * 7) * 37) % 224
        if (pert == 1 && (x + y + k) % 7 == 0) v += 3
        if (pert == 2 && (x + 2 * y + k) % 9 == 0) v += 2
        gray(y * W + x) = v.toByte
        x += 1
      }
      y += 1
    }
    Codecs.pgmBytes(W, H, gray)
  }

  private def novelPx(k: Int): Array[Byte] = {
    val gray = new Array[Byte](W * H)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        gray(y * W + x) =
          (16 + ((x * x + 3 * y + k * (x + y) + 11 * k) * 53) % 224).toByte
        x += 1
      }
      y += 1
    }
    Codecs.pgmBytes(W, H, gray)
  }

  def main(args: Array[String]): Unit = {
    val mults = args.lift(0)
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 100, 1000))
    val outPath = args.lift(1).getOrElse("/tmp/incremental_perceptual_probe.md")
    val spark = graft.core.Sessions.local()
    import spark.implicits._

    def hash(media: org.apache.spark.sql.Dataset[(Long, Array[Byte])]): DataFrame =
      media.map { case (id, bytes) =>
        val (w, h, px) = Codecs.decodePgm(bytes)
        val b = PerceptualHash.dHashBands(px, w, h)
        (id, b(0), b(1), b(2), b(3))
      }.toDF("id", "b0", "b1", "b2", "b3")

    // the FIXED batch: near-dups of the first shard's bases + novels
    val batch = spark.range(25).select(col("id").cast("int")).as[Int]
      .flatMap { k =>
        (if (k % 3 == 0) Seq((20000000L + k, stdPx(k, 2))) else Seq.empty) :+
          ((30000000L + k, novelPx(k)))
      }

    def cold[T](f: => T): T = { spark.catalog.clearCache(); f }
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val md = new StringBuilder
    md ++= "| M | corpus imgs | incremental (s) | batch-all-pairs (s) | pairs |\n"
    md ++= "|---|---|---|---|---|\n"
    mults.foreach { m =>
      val n = 25 * m
      val corpus = spark.range(n).select(col("id").cast("int")).as[Int]
        .flatMap(k => Seq((k.toLong, stdPx(k, 0)), (10000000L + k, stdPx(k, 1))))
      val dir = s"/root/repo/tmp/ipd_probe/m$m"
      val cH = hash(corpus)
      cH.write.mode("overwrite").parquet(s"$dir/hashes")
      PerceptualHash.bandKeys(cH, "id")
        .repartitionByRange(col("band_key"))
        .sortWithinPartitions("band_key")
        .write.mode("overwrite").parquet(s"$dir/index")
      def incOnce(): Long = PerceptualHash.incrementalNearDupPairs(
        spark.read.parquet(s"$dir/index"), spark.read.parquet(s"$dir/hashes"),
        hash(batch), "id", maxHamming = 10).count()
      def allPairsOnce(): Long = PerceptualHash.nearDupPairs(
        spark.read.parquet(s"$dir/hashes").unionByName(hash(batch)),
        "id", maxHamming = 10).count()
      var pairs = 0L
      val inc = Seq.fill(2)(cold(time { pairs = incOnce() })).min
      val all = Seq.fill(2)(cold(time { allPairsOnce(): Unit })).min
      val row = f"| $m | ${2 * n} | $inc%.2f | $all%.2f | $pairs |"
      println(s"[probe] $row")
      md ++= row + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      md.toString.getBytes("UTF-8"))
    println(md.toString)
    spark.stop()
  }
}
