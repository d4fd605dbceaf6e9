package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._

/** Unit semantics of the text Column functions not already pinned by the
  * oracle gate (subword counting, punctuation ratio, language-ID edges,
  * shingles on short inputs).
  */
class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, text: String): T =
    Seq(text).toDF("t").select(c.as("r")).head.getAs[T]("r")

  test("aligned token count: one-pass expression == filtered-split formulation") {
    // the codegen kernel must agree with the Column form it replaced on
    // every delimiter edge the two tokenizer families disagree about
    val cases = Seq(
      "a b c", "  a  b  ", "\ta b", "\na\rb", "a\fb c", "", " ", "\t \n",
      "one", "ab", "trailing \t")
    val df = cases.toDF("t")
    val got = df.select(
      hashAlignedTokenCount(col("t")).as("fast"),
      size(filter(split(col("t"), "[ \t\n\r]+"), x => x =!= "")).as("ref"))
      .collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getInt(0) === r.getInt(1), s"mismatch on ${c.replace("\n", "\\n")}")
    }
    // null in → null out, matching size(null-array)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(hashAlignedTokenCount(col("t")).as("r")).head
    assert(n.isNullAt(0))
    // and the SQL registration exposes the same kernel
    assert(spark.sql("SELECT aligned_token_count('\ta b')").head.getInt(0) === 2)
  }

  test("subwordCount splits alphanumeric runs and punctuation") {
    // "don't stop" → don / ' / t / stop
    assert(one[Int](subwordCount(col("t")), "don't stop") == 4)
    assert(one[Int](subwordCount(col("t")), "abc123") == 1)
    assert(one[Int](subwordCount(col("t")), "a-b.c") == 5)
  }

  test("punctRatio counts sentence punctuation over length") {
    assert(one[Double](punctRatio(col("t")), "ab.,") == 0.5)
    assert(one[Double](punctRatio(col("t")), "abcd") == 0.0)
  }

  test("languageId falls back to 'und' and breaks ties by profile order") {
    val profiles = Seq("en" -> Seq("the"), "de" -> Seq("der"))
    assert(one[String](languageId(col("t"), profiles), "xyz qqq") == "und")
    assert(one[String](languageId(col("t"), profiles), "the der") == "en")
    assert(one[String](languageId(col("t"), profiles), "der der the") == "de")
  }

  test("shingles of short texts are empty, not errors") {
    assert(one[scala.collection.Seq[String]](shingles(col("t"), 3), "a b").isEmpty)
    assert(one[scala.collection.Seq[String]](shingles(col("t"), 3), "a b c")
      .toSeq == Seq("a b c"))
  }

  test("fingerprint is case/punctuation/whitespace insensitive") {
    val a = one[String](fingerprint(col("t")), "Hello,  World!")
    val b = one[String](fingerprint(col("t")), "hello world")
    assert(a == b)
    assert(a != one[String](fingerprint(col("t")), "hello there"))
  }

  test("winnow fingerprints: shared-run guarantee and short-doc behavior") {
    def fps(text: String): Set[Long] =
      one[scala.collection.Seq[Long]](
        winnowFingerprints(col("t"), n = 3, w = 4), text).toSet
    // winnowing guarantee: a shared run of >= w + n - 1 = 6 tokens implies
    // at least one shared fingerprint
    val shared = "alpha bravo charlie delta echo foxtrot"
    val a = fps(s"one two $shared nine ten")
    val b = fps(s"$shared completely different tail words here")
    assert(a.intersect(b).nonEmpty)
    // unrelated text overwhelmingly yields disjoint sketches
    assert(fps("zz yy xx ww vv uu tt ss").intersect(a).isEmpty)
    // sketch is a subset of ~1/w of positions: strictly smaller than the
    // shingle count for long docs
    val longDoc = (1 to 200).map(i => s"tok$i").mkString(" ")
    assert(fps(longDoc).size < 198 && fps(longDoc).nonEmpty)
    // fewer than w + n - 1 tokens → empty sketch, not an error
    assert(fps("a b c d e").isEmpty)
    assert(fps("").isEmpty)
  }

  test("Winnow expression matches the transform+slice+array_min formulation") {
    // the Column form it replaced (kept here as executable ground truth):
    // distinct window minima in first-occurrence order, empty when short
    def oldForm(ph: org.apache.spark.sql.Column, w: Int) =
      when(size(ph) >= w,
        array_distinct(transform(
          sequence(lit(1), size(ph) - (w - 1)),
          j => array_min(slice(ph, j, lit(w))))))
        .otherwise(array().cast("array<bigint>"))
    val rnd = new scala.util.Random(42)
    val cases = Seq.tabulate(60)(i =>
      Seq.fill(rnd.nextInt(12))(rnd.nextLong(50) - 10)) :+
      Seq.empty[Long] :+ Seq(7L, 7L, 7L, 7L, 7L)
    val df = cases.map(Tuple1(_)).toDF("ph")
    val got = df.select(winnow(col("ph"), 4).as("a"), oldForm(col("ph"), 4).as("b"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("bpeTokenCount splits contractions, letter/digit runs, and punctuation") {
    // don / 't / stop → 3 (contraction suffix is its own pretoken)
    assert(one[Int](bpeTokenCount(col("t")), "don't stop") == 3)
    // abc / 123 / !! → letter, digit, punctuation runs split apart
    assert(one[Int](bpeTokenCount(col("t")), "abc123!!") == 3)
    // space-prefixed runs: "a b2" → a / b / 2
    assert(one[Int](bpeTokenCount(col("t")), "a b2") == 3)
    // multiple spaces between words don't create tokens
    assert(one[Int](bpeTokenCount(col("t")), "a   b") == 2)
    assert(one[Int](bpeTokenCount(col("t")), "") == 0)
    // BPE-ish count ≥ whitespace count on mixed text (finer granularity)
    assert(one[Int](bpeTokenCount(col("t")), "the price is $12.50 today") >=
      one[Int](tokenCount(col("t")), "the price is $12.50 today"))
  }

  test("positional shingle hashes preserve duplicates and order") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val pos = ColumnBridge.column(graft.expressions.ShingleHashes(
      ColumnBridge.expression(col("t")), 2, distinct = false))
    val got = one[scala.collection.Seq[Long]](pos, "a b a b a")
    // shingles: "a b","b a","a b","b a" → positional keeps all 4, with
    // repeats at positions 0/2 and 1/3
    assert(got.length == 4)
    assert(got(0) == got(2) && got(1) == got(3) && got(0) != got(1))
  }

  test("normalizeUnicode: NFC composes, NFKC folds compatibility forms") {
    import graft.functions.TextFunctions.{fingerprint, normalizeUnicode}
    val decomposed = "cafe\u0301"
    val precomposed = "caf\u00e9"
    assert(one[String](normalizeUnicode(col("t")), decomposed) === precomposed)
    // already-NFC text passes through untouched (fast path)
    assert(one[String](normalizeUnicode(col("t")), precomposed) === precomposed)
    // NFC preserves compatibility chars; NFKC folds them (fi-ligature)
    assert(one[String](normalizeUnicode(col("t")), "\ufb01n") === "\ufb01n")
    assert(one[String](normalizeUnicode(col("t"), "NFKC"), "\ufb01n") === "fin")
    // idempotent
    assert(one[String](normalizeUnicode(lit(precomposed)), "x") === precomposed)
    // fingerprint equality across forms is the downstream point
    assert(one[String](fingerprint(normalizeUnicode(col("t"))), decomposed) ===
      one[String](fingerprint(normalizeUnicode(col("t"))), precomposed))
  }

  test("stripMarkup removes tags, decodes entities, collapses whitespace") {
    val cases = Seq(
      "<div class=\"x\"><p>hello <b>world</b></p></div>" -> "hello world",
      "a &amp; b &lt;tag&gt; &quot;q&quot;&nbsp;end" -> "a & b <tag> \"q\" end",
      // decoded entities are content: &lt;b&gt; must NOT be re-stripped
      "&lt;b&gt;bold&lt;/b&gt;" -> "<b>bold</b>",
      "line1\n\tline2  \r\n line3" -> "line1 line2 line3",
      "<br/><hr>" -> "",
      "plain text" -> "plain text")
    for ((in, want) <- cases) {
      val got = one[String](graft.functions.TextFunctions.stripMarkup(col("t")), in)
      assert(got === want, s"input: $in")
    }
  }

  test("fixMojibake restores double-encoded text byte-exactly") {
    def corrupt(s: String) = graft.functions.TextFunctions.mojibakeOf(s)
    // every table target round-trips, alone and in context
    for ((bad, good) <- graft.functions.TextFunctions.mojibakeTable) {
      val got = one[String](
        graft.functions.TextFunctions.fixMojibake(col("t")), s"x${bad}y")
      assert(got === s"x${good}y", s"artifact for '$good'")
    }
    // a full sentence with mixed artifacts, derived from the encoding
    val clean = "café — “quoted”… naïve? no: señor"
      .replace("ï", "i") // ï not in the table; keep the test honest
    val got = one[String](
      graft.functions.TextFunctions.fixMojibake(col("t")), corrupt(clean))
    assert(got === clean)
  }

  test("fixMojibake leaves clean text untouched") {
    for (s <- Seq("plain ascii", "café déjà?", "", "a—b")) {
      // NOTE déjà: à is NOT a table target, must survive
      val got = one[String](graft.functions.TextFunctions.fixMojibake(col("t")), s)
      assert(got === s, s"input: $s")
    }
  }

  test("canonicalForDedup folds homoglyphs and strips invisibles") {
    import graft.functions.TextFunctions
    def canon(s: String): String =
      one[String](TextFunctions.canonicalForDedup(col("t")), s)
    // Cyrillic-substituted copy collapses onto the Latin original
    assert(canon("сору of secret dосument") == canon("copy of secret document"))
    // zero-width insertions disappear (ZWSP, ZWNJ, ZWJ, BOM)
    assert(canon("pass​word‌‍﻿") == "password")
    // both evasions together
    assert(canon("р​ауload") == "payload")
    // visibly DIFFERENT text must stay distinct — the fold is not a
    // blunt lowercasing or letter collapse
    assert(canon("document") != canon("documents"))
    assert(canon("Document") != canon("document"))
    // the confusable map is bijective within the class: already-Latin
    // text is untouched
    for (s <- Seq("plain ascii", "MIXED Case 123", ""))
      assert(canon(s) == s, s"input: $s")
  }
}
