package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cleansing
import graft.operators.{AsOfJoin, Scd2}
import graft.quality._

/** Property-based laws over generated data (the ScalaCheck generalization of
  * the dirty-data space, SURVEY §5): quarantine partitions the input, SCD2
  * intervals tile the timeline, the as-of join equals a brute-force
  * reference, cleansing round-trips. Generators are driven with fixed seeds
  * (scalatestplus bridge not on the classpath) — deterministic and
  * replayable by seed.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Evaluate `f` over `n` deterministic samples of `gen`. */
  private def forAll[A](gen: Gen[A], n: Int = 10)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)) match {
        case Some(a) =>
          try f(a)
          catch {
            case e: Throwable =>
              throw new AssertionError(s"failed for seed ${42L + i}: $a", e)
          }
        case None => ()
      }
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val genAmount: Gen[Option[Double]] =
    Gen.option(Gen.chooseNum(-1000.0, 200000.0).map(d => math.round(d * 100) / 100.0))
  private val genRow: Gen[(Option[Double], Option[String])] = for {
    amt <- genAmount
    status <- Gen.option(Gen.oneOf("ACTIVE", "EXPIRED", "BOGUS", ""))
  } yield (amt, status)

  test("quarantine partitions the input and flags agree with predicates") {
    forAll(Gen.listOfN(60, genRow)) { rows =>
      val df = rows.toDF("premium", "status")
      val rs = RuleSet("t", Seq(
        NotNull("premium"),
        InRange("premium", 100, 100000),
        AcceptedValues("status", Seq("ACTIVE", "EXPIRED"))))
      val (clean, bad) = rs.quarantine(df)
      assert(clean.count() + bad.count() == rows.length)
      // driver-side reference check of the clean set
      val expectedClean = rows.count { case (amt, st) =>
        amt.exists(a => a >= 100 && a <= 100000) &&
          st.exists(Seq("ACTIVE", "EXPIRED").contains)
      }
      assert(clean.count() == expectedClean)
    }
  }

  private val genHistory: Gen[List[(Long, Long)]] = for {
    n <- Gen.chooseNum(1, 30)
    rows <- Gen.listOfN(n, for {
      key <- Gen.chooseNum(1L, 4L)
      ts <- Gen.chooseNum(0L, 1000000L)
    } yield (key, ts))
  } yield rows.distinct

  test("SCD2 intervals tile each key's timeline with one current version") {
    forAll(genHistory) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "ts")
          .withColumn("ts", timestamp_micros(col("ts")))
        val snap = Scd2.buildSnapshot(df, Seq("k"), "ts").cache()
        val perKey = snap.groupBy("k").agg(
          count(lit(1)).as("n"),
          sum(when(col("is_current"), 1).otherwise(0)).as("n_current"))
          .collect()
        perKey.foreach(r => assert(r.getAs[Long]("n_current") == 1))
        // valid_to of version v equals valid_from of version v+1 (tiling)
        val gaps = snap.as("a").join(snap.as("b"),
          col("a.k") === col("b.k") && col("a.version") + 1 === col("b.version"))
          .filter(col("a.valid_to") =!= col("b.valid_from"))
        assert(gaps.count() == 0)
      }
    }
  }

  test("SCD2 incremental merge equals a full rebuild and is redelivery-idempotent") {
    forAll(genHistory) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((k, ts), i) => (k, ts, i.toLong) }
          .toDF("k", "ts", "rid")
          .withColumn("ts", timestamp_micros(col("ts")))
        val late = df.filter(col("rid") % 2 === 1)
        val full = Scd2.buildSnapshot(df, Seq("k"), "ts", Seq("rid"))
        val snap0 = Scd2.buildSnapshot(
          df.filter(col("rid") % 2 === 0), Seq("k"), "ts", Seq("rid"))
        // merge the batch TWICE: redelivery must be a no-op
        val merged = Scd2.applyUpdates(
          Scd2.applyUpdates(snap0, late, Seq("k"), "ts", Seq("rid")),
          late, Seq("k"), "ts", Seq("rid"))
        assert(merged.exceptAll(full).isEmpty && full.exceptAll(merged).isEmpty)
      }
    }
  }

  private val genEvents: Gen[(List[(Long, Long)], List[(Long, Long, Double)])] = for {
    nl <- Gen.chooseNum(1, 20)
    nr <- Gen.chooseNum(0, 20)
    left <- Gen.listOfN(nl, for {
      k <- Gen.chooseNum(1L, 3L); ts <- Gen.chooseNum(0L, 10000L)
    } yield (k, ts))
    right <- Gen.listOfN(nr, for {
      k <- Gen.chooseNum(1L, 3L); ts <- Gen.chooseNum(0L, 10000L)
    } yield (k, ts))
  } yield (left.distinct,
    // unique (k, ts) on the right so the match is well-defined
    right.distinct.map { case (k, ts) => (k, ts, (k * 100000 + ts).toDouble) })

  test("NATIVE as-of join equals the brute-force reference in every mode") {
    // the execution-layer merge (backward/forward × tolerance) against a
    // driver-side model over random keyed event sets — the property form
    // of AsOfJoinSpec's hand-picked cases
    forAll(genEvents) { case (left, right) =>
      whenever(left.nonEmpty) {
        val l = left.zipWithIndex
          .map { case ((k, ts), i) => (i.toLong, k, ts) }
          .toDF("id", "k", "ts")
          .withColumn("ts", timestamp_micros(col("ts")))
        val r = right.toDF("rk", "rts", "v")
          .withColumn("rts", timestamp_micros(col("rts")))
        for {
          forward <- Seq(false, true)
          tolUs <- Seq(None, Some(1000L))
        } {
          val dir =
            if (forward) graft.plans.AsOfForward else graft.plans.AsOfBackward
          val got = AsOfJoin.joinAsOf(l, r, keys = Seq("k"),
              leftTs = "ts", rightKeys = Seq("rk"), rightTs = "rts",
              direction = dir, toleranceUs = tolUs)
            .select(col("id"), col("v")).as[(Long, Option[Double])]
            .collect().toMap
          val expected = left.zipWithIndex.map { case ((k, ts), i) =>
            val inWindow = right.filter { x =>
              x._1 == k &&
                (if (forward) x._2 >= ts && tolUs.forall(x._2 - ts <= _)
                 else x._2 <= ts && tolUs.forall(ts - x._2 <= _))
            }
            i.toLong -> (if (inWindow.isEmpty) None
              else Some((if (forward) inWindow.minBy(_._2)
                else inWindow.maxBy(_._2))._3))
          }.toMap
          assert(got == expected, s"forward=$forward tol=$tolUs")
        }
      }
    }
  }

  test("parseAmount accepts generated comma formats, parseDate the 3 formats") {
    val genMoney = for {
      whole <- Gen.chooseNum(0L, 99999999L)
      cents <- Gen.chooseNum(0, 99)
    } yield (whole, cents)
    forAll(genMoney) { case (whole, cents) =>
      val formatted = "%,d".format(whole) + f".$cents%02d"
      val parsed = Seq(formatted).toDF("a")
        .select(Cleansing.parseAmount(col("a"))).head.getDecimal(0)
      assert(parsed.doubleValue() == whole + cents / 100.0)
    }
    val genDate = for {
      y <- Gen.chooseNum(2000, 2030)
      m <- Gen.chooseNum(1, 12)
      d <- Gen.chooseNum(1, 28)
    } yield (y, m, d)
    forAll(genDate) { case (y, m, d) =>
      val iso = f"$y%04d-$m%02d-$d%02d"
      val variants = Seq(iso, f"$m%02d/$d%02d/$y%04d", f"$y%04d/$m%02d/$d%02d")
      val got = variants.toDF("s")
        .select(Cleansing.parseDate(col("s")).as("d"))
        .collect().map(_.getDate(0).toString).toSeq
      assert(got.forall(_ == iso))
    }
  }

  test("NgramFreqStats equals a naive Scala recount on generated token arrays") {
    val genTokens = Gen.listOf(Gen.oneOf("a", "b", "c", "ab", "xyz"))
    val genCase = for { toks <- genTokens; n <- Gen.chooseNum(1, 4) } yield (toks, n)
    forAll(genCase, n = 25) { case (toks, n) =>
      val naive: Map[String, Int] = toks.sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
      val expected =
        if (toks.size < n) Seq(0L, 0L, 0L, 0L)
        else Seq(naive.values.sum.toLong, naive.size.toLong,
          naive.values.max.toLong,
          naive.values.filter(_ > 1).sum.toLong)
      val got = Seq(Tuple1(toks)).toDF("t")
        .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.expressions.NgramFreqStats(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("t")), n)))
        .head.getStruct(0).toSeq
      assert(got == expected, s"toks=$toks n=$n")
    }
  }

  test("Bloom law on generated sets: membership ⇒ contains (never a false negative)") {
    import graft.expressions.BloomUtil
    val genSets = for {
      ins <- Gen.listOfN(300, Gen.long)
      probes <- Gen.listOfN(300, Gen.long)
    } yield (ins, probes)
    forAll(genSets, n = 15) { case (ins, probes) =>
      val bits = new Array[Long](BloomUtil.bitsFor(ins.size.toLong, 16) >>> 6)
      ins.foreach(h => BloomUtil.set(bits, h, 6))
      assert(ins.forall(h => BloomUtil.contains(bits, h, 6)))
      // false positives are allowed but must be rare at 16 bits/item
      val inSet = ins.toSet
      val fp = probes.filterNot(inSet).count(h => BloomUtil.contains(bits, h, 6))
      assert(fp <= 3, s"$fp false positives in ${probes.size} probes")
    }
  }

  test("count-min law on generated streams: estimate >= truth, merge = whole") {
    import graft.expressions.CountMinUtil
    val genStream = Gen.listOfN(500, Gen.chooseNum(-50L, 50L))
    forAll(genStream, n = 15) { stream =>
      val (w, d) = (256, 4)
      val whole = new Array[Long](w * d)
      stream.foreach(k => CountMinUtil.add(whole, w, d, k))
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong)
      truth.foreach { case (k, n0) =>
        assert(CountMinUtil.estimate(whole, w, d, k) >= n0)
      }
      val merged = stream.grouped(97).map { shard =>
        val c = new Array[Long](w * d)
        shard.foreach(k => CountMinUtil.add(c, w, d, k))
        c
      }.reduce { (a, b) => a.indices.foreach(i => a(i) += b(i)); a }
      assert(merged.sameElements(whole))
    }
  }

  test("set-Jaccard kernel equals the set-arithmetic reference on generated arrays") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val genPair = for {
      a <- Gen.listOfN(40, Gen.chooseNum(0L, 30L))
      b <- Gen.listOfN(40, Gen.chooseNum(0L, 30L))
    } yield (a.distinct, b.distinct)
    forAll(genPair, n = 15) { case (a, b) =>
      val want =
        if (a.isEmpty && b.isEmpty) 0.0
        else {
          val inter = a.toSet.intersect(b.toSet).size
          inter.toDouble / (a.size + b.size - inter)
        }
      val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(ColumnBridge.column(graft.expressions.LongSetJaccard(
          ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b")))))
        .head.getDouble(0)
      assert(got == want, s"a=$a b=$b")
    }
  }

  test("winnowing guarantee on generated docs: shared run ⇒ shared fingerprint") {
    import graft.functions.TextFunctions
    val word = Gen.oneOf((1 to 30).map(i => s"w$i"))
    val genDocs = for {
      shared <- Gen.listOfN(7, word) // >= w + n - 1 = 6 tokens
      pre <- Gen.listOfN(4, word)
      post <- Gen.listOfN(4, word)
    } yield (s"${pre.mkString(" ")} ${shared.mkString(" ")}",
      s"${shared.mkString(" ")} ${post.mkString(" ")}")
    forAll(genDocs, n = 15) { case (a, b) =>
      val fps = Seq(a, b).toDF("t")
        .select(TextFunctions.winnowFingerprints(col("t"), n = 3, w = 4))
        .collect().map(_.getSeq[Long](0).toSet)
      assert(fps(0).intersect(fps(1)).nonEmpty, s"a=$a b=$b")
    }
  }

  test("property: global running max equals the sequential exclusive scan") {
    val genVals = Gen.listOfN(60, Gen.chooseNum(-1000L, 1000L))
    forAll(genVals, n = 8) { vals =>
      whenever(vals.nonEmpty) {
        val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "v").repartition(5)
        val got = graft.operators.Packing
          .withGlobalRunningMax(df, Seq("id"), "v")
          .select("id", "running_max").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        var acc = Option.empty[Long]
        vals.zipWithIndex.foreach { case (v, i) =>
          assert(got(i.toLong) === acc, s"at $i of $vals")
          acc = Some(acc.fold(v)(math.max(_, v)))
        }
      }
    }
  }

  test("property: CDC apply equals a driver-side fold of the change log") {
    val genOps = Gen.listOfN(40, for {
      k <- Gen.chooseNum(0L, 9L)
      op <- Gen.oneOf("I", "U", "D")
      v <- Gen.chooseNum(0, 999)
    } yield (k, op, v))
    forAll(genOps, n = 8) { ops =>
      val base = (0L to 4L).map(k => (k, s"base$k")).toDF("k", "v")
      val changes = ops.zipWithIndex
        .map { case ((k, op, v), i) => (k, i.toLong, op, s"c$v") }
        .toDF("k", "seq", "op", "v")
      val got = graft.operators.Cdc.applyChanges(base, changes, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // reference: replay the log in seq order over a mutable map
      val ref = scala.collection.mutable.Map((0L to 4L).map(k => k -> s"base$k"): _*)
      ops.zipWithIndex.foreach { case ((k, op, v), _) =>
        if (op == "D") ref.remove(k) else ref(k) = s"c$v"
      }
      assert(got === ref.toMap, s"ops=$ops")
    }
  }

  test("property: histogram quantile estimate within one bin width of exact") {
    val genVals = Gen.listOfN(300, Gen.chooseNum(0.0, 100.0))
    forAll(genVals, n = 6) { vals =>
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong % 3, v) }
        .toDF("shard", "x")
      val merged = graft.operators.HistogramSketch.merge(
        graft.operators.HistogramSketch.sketch(df, "shard", "x", 0.0, 100.0, 20))
      val est = graft.operators.HistogramSketch
        .quantiles(merged, Seq(0.5, 0.95), 0.0, 100.0, 20)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val sorted = vals.sorted
      def exact(q: Double) = sorted(math.min(
        math.ceil(q * vals.size).toInt - 1, vals.size - 1))
      assert(math.abs(est(0.5) - exact(0.5)) <= 5.0 + 1e-9)
      assert(math.abs(est(0.95) - exact(0.95)) <= 5.0 + 1e-9)
    }
  }

  test("property: RRF fused output equals the brute-force formula") {
    val genRun = Gen.listOfN(12, Gen.chooseNum(1L, 20L)).map(_.distinct)
    val genPair = for { a <- genRun; b <- genRun } yield (a, b)
    forAll(genPair, n = 6) { case (a, b) =>
      whenever(a.nonEmpty && b.nonEmpty) {
        def run(items: List[Long]) = items.zipWithIndex
          .map { case (it, i) => ("q", it, i + 1) }
          .toDF("query_id", "item_id", "rank")
        val got = graft.operators.RankFusion.rrf(Seq(run(a), run(b)),
          k = 60, topK = 100)
          .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
        val want = (a ++ b).distinct.map { it =>
          val ta = a.indexOf(it) match { case -1 => 0.0; case i => 1.0 / (60.0 + (i + 1)) }
          val tb = b.indexOf(it) match { case -1 => 0.0; case i => 1.0 / (60.0 + (i + 1)) }
          it -> (ta + tb)
        }.toMap
        assert(got === want, s"a=$a b=$b")
      }
    }
  }

  test("RBO laws on generated rankings: bounds, identity, weight shape") {
    val w10 = graft.operators.RetrievalEval.rboWeights(10, 0.9)
    // weights strictly decrease with worst-rank depth and stay positive
    assert(w10.sliding(2).forall(p => p(0) > p(1)) && w10.last > 0.0)
    val genPerm: Gen[Seq[Long]] =
      Gen.chooseNum(1, 6).flatMap(k =>
        Gen.pick(k, 10L to 30L).map(_.toSeq))
    forAll(Gen.zip(genPerm, genPerm), n = 8) { case (ta, ab) =>
      val t = ta.zipWithIndex.map { case (id, i) => (1L, id, i + 1) }
        .toDF("query_id", "neighbor_id", "rank")
      val a = ab.zipWithIndex.map { case (id, i) => (1L, id, i + 1) }
        .toDF("query_id", "neighbor_id", "rank")
      val r = graft.operators.RetrievalEval.rbo(t, a, k = 6)
        .collect().head.getDouble(1)
      assert(r >= 0.0 && r <= 1.0 + 1e-12, s"rbo $r out of bounds")
      val self = graft.operators.RetrievalEval.rbo(t, t, k = 6)
        .collect().head.getDouble(1)
      // self-agreement dominates agreement with anything else
      assert(self >= r - 1e-12, s"self $self < cross $r")
    }
  }

  test("tile grid covers generated image dims exactly (area law)") {
    forAll(Gen.zip(Gen.chooseNum(1, 700), Gen.chooseNum(1, 700),
      Gen.chooseNum(1, 300)), n = 12) { case (w, h, tile) =>
      val one = Seq((1L, "image", 0, w, h, 1, Array.empty[Float]))
        .toDF("media_id", "kind", "byte_len", "width", "height",
          "n_frames", "features")
      val tiles = graft.multimodal.MultimodalOps.tileGrid(one, tile)
        .collect()
      assert(tiles.map(r => r.getAs[Int]("w").toLong * r.getAs[Int]("h")).sum
        === w.toLong * h, s"w=$w h=$h tile=$tile")
      assert(tiles.forall(r => r.getAs[Int]("w") <= tile &&
        r.getAs[Int]("h") <= tile))
    }
  }

  test("attrition law on generated frames: monotone kept chain, exact totals") {
    val genVals: Gen[List[(Option[Int], Boolean)]] =
      Gen.listOfN(40, Gen.zip(Gen.option(Gen.chooseNum(0, 100)), Gen.oneOf(true, false)))
    forAll(genVals, n = 8) { rows =>
      val df = rows.toDF("v", "flag")
      val got = FilterCascade.attrition(df, Seq(
        "v_mid" -> (col("v") >= 25 && col("v") <= 75),
        "flagged" -> col("flag")))
        .orderBy("stage").collect()
      val k0 = rows.count(r => r._1.exists(v => v >= 25 && v <= 75))
      val k1 = rows.count(r => r._1.exists(v => v >= 25 && v <= 75) && r._2)
      assert(got.map(r => (r.getAs[Long]("entering"), r.getAs[Long]("kept")))
        .toSeq === Seq((rows.size.toLong, k0.toLong), (k0.toLong, k1.toLong)))
    }
  }

  test("HLL register algebra: merge is the sketch of the union (scalar laws)") {
    import graft.operators.HllMd5
    val genKeys: Gen[(List[String], List[String])] = Gen.zip(
      Gen.listOfN(300, Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.listOfN(300, Gen.alphaNumStr.suchThat(_.nonEmpty)))
    def regs(keys: Seq[String]): Array[Byte] = {
      val a = new Array[Byte](HllMd5.M)
      keys.foreach { k =>
        val (i, r) = HllMd5.registerOfHash(graft.expressions.MinHashSigMd5.h60(k))
        if (r > a(i)) a(i) = r.toByte
      }
      a
    }
    def maxMerge(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      x.zip(y).map { case (a, b) => if (a > b) a else b }
    forAll(genKeys, n = 8) { case (ka, kb) =>
      val (ra, rb) = (regs(ka), regs(kb))
      // merge(sketch(A), sketch(B)) == sketch(A ∪ B) — the mergeability law
      assert(maxMerge(ra, rb).toSeq === regs(ka ++ kb).toSeq)
      // commutative, idempotent
      assert(maxMerge(ra, rb).toSeq === maxMerge(rb, ra).toSeq)
      assert(maxMerge(ra, ra).toSeq === ra.toSeq)
      // estimate is permutation- and duplication-invariant
      val shuffled = new scala.util.Random(1).shuffle(ka ++ ka)
      assert(HllMd5.estimateScalar(regs(shuffled)) === HllMd5.estimateScalar(ra))
    }
  }

  test("KMV minima algebra: bottom-k of merged sketches equals the union's (scalar laws)") {
    import graft.expressions.MinHashSigMd5
    val k = 16
    def sk(keys: Seq[String]): Seq[Long] =
      keys.map(MinHashSigMd5.h60).distinct.sorted.take(k)
    val genKeys: Gen[(List[String], List[String])] = Gen.zip(
      Gen.listOfN(100, Gen.alphaNumStr.suchThat(_.nonEmpty)),
      Gen.listOfN(100, Gen.alphaNumStr.suchThat(_.nonEmpty)))
    forAll(genKeys, n = 8) { case (ka, kb) =>
      // bottom-k(K(A) ∪ K(B)) == K(A ∪ B): sketches suffice for unions —
      // the property pairwiseOverlap's union estimate rests on
      val mergedSk = (sk(ka) ++ sk(kb)).distinct.sorted.take(k)
      assert(mergedSk === sk(ka ++ kb))
      // a union minimum in both sketches iff the KEY sets both contain it
      val inBoth = mergedSk.toSet.intersect(sk(ka).toSet).intersect(sk(kb).toSet)
      val trueBoth = mergedSk.filter(h =>
        ka.map(MinHashSigMd5.h60).contains(h) && kb.map(MinHashSigMd5.h60).contains(h))
      assert(inBoth === trueBoth.toSet)
    }
  }

  test("join-view IVM law: refresh from ANY random two-sided delta equals recompute") {
    import graft.operators.{IncrementalAgg, IncrementalJoin}
    import graft.streaming.IvmStream

    val genR: Gen[List[(Long, String)]] = Gen.listOfN(10,
      Gen.zip(Gen.choose(1L, 5L), Gen.oneOf("A", "B", "C")))
    val genS: Gen[List[(Long, String, Double)]] = Gen.listOfN(14, Gen.zip(
      Gen.choose(1L, 5L), Gen.oneOf("O", "F"),
      Gen.choose(1, 80).map(_ * 0.25)))
    val gen = Gen.zip(genR, genR, genS, genS) // (old, new) per side

    // a well-formed CDC delta from old→new: deletes = old∖new,
    // inserts = new∖old (multiset difference)
    def diff[A](old: Seq[A], neu: Seq[A]): (Seq[A], Seq[A]) = {
      val oldCounts = old.groupBy(identity).view.mapValues(_.size)
      val newCounts = neu.groupBy(identity).view.mapValues(_.size)
      def expand(m: Iterable[(A, Int)]): Seq[A] =
        m.flatMap { case (a, n) => Seq.fill(n)(a) }.toSeq
      (expand(oldCounts.map { case (a, n) =>
        a -> (n - newCounts.getOrElse(a, 0)) }.filter(_._2 > 0)),
        expand(newCounts.map { case (a, n) =>
          a -> (n - oldCounts.getOrElse(a, 0)) }.filter(_._2 > 0)))
    }

    val groups = Seq("seg", "status")
    val sums = Seq("total" -> "price")
    def view(r: org.apache.spark.sql.DataFrame,
        s: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.state(r.join(s, Seq("k")), groups, sums)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, String)] =
      df.collect().map(x => (x.getString(0), x.getString(1), x.getLong(2),
        x.getDecimal(3).stripTrailingZeros.toPlainString)).toSet

    forAll(gen, n = 6) { case (rOldL, rNewL, sOldL, sNewL) =>
      val rOld = rOldL.toDF("k", "seg"); val rNew = rNewL.toDF("k", "seg")
      val sOld = sOldL.toDF("k", "status", "price")
      val sNew = sNewL.toDF("k", "status", "price")
      val (rDel, rIns) = diff(rOldL, rNewL)
      val (sDel, sIns) = diff(sOldL, sNewL)
      val rD = (rDel.map(("delete", _)) ++ rIns.map(("insert", _)))
        .map { case (op, (k, g)) => (op, k, g) }.toDF("op", "k", "seg")
      val sD = (sDel.map(("delete", _)) ++ sIns.map(("insert", _)))
        .map { case (op, (k, st, p)) => (op, k, st, p) }
        .toDF("op", "k", "status", "price")
      val refreshed = IncrementalAgg.refresh(view(rOld, sOld),
        IncrementalJoin.deltaJoinState(IncrementalJoin.positive(rOld), rD,
          IncrementalJoin.positive(sOld), sD, "op", Seq("k"), groups, sums),
        groups, Seq("total"))
      assert(rows(refreshed) == rows(view(rNew, sNew)))
      // compaction law: base ∪ signed delta collapses to exactly the
      // new relation (as a multiset)
      val signedR = IncrementalJoin.positive(rOld)
        .unionByName(IncrementalJoin.signed(rD, "op"))
      val compacted = IvmStream.compactSigned(signedR)
        .collect().map(x => (x.getLong(0), x.getString(1))).toSeq
      assert(compacted.groupBy(identity).view.mapValues(_.size).toMap ==
        rNewL.groupBy(identity).view.mapValues(_.size).toMap)
    }
  }
}
